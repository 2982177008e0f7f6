package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Multimodal plumbing: binary content column + typed metadata, real
  * demux → frames, frame sampling, nibble feature extraction. Values are
  * pinned against a JVM-side md5 reimplementation so the synthetic
  * corpus is provably deterministic. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Frame sampling: keep every k-th frame. */
  private def sampleFrames(frames: org.apache.spark.sql.DataFrame, everyK: Int) =
    frames.filter(col("frame_no") % everyK === 0)

  /** Average-pool the content bytes into `bins` equal-width bins (exact
    * integer sums divided once); `bins` must divide the byte length. */
  private def avgPool(df: org.apache.spark.sql.DataFrame, bins: Int) = {
    val h = lower(hex(col("content")))
    val binW = (length(col("content")) / bins).cast("int")
    val pooled = transform(sequence(lit(0), lit(bins - 1)), b => {
      val byteVals = transform(sequence(b * binW, (b + 1) * binW - 1), i =>
        conv(substring(h, i * 2 + 1, lit(2)), 16, 10).cast("long"))
      aggregate(byteVals, lit(0L), (a, x) => a + x).cast("double") / binW
    })
    df.select(col("asset_id"), col("kind"), pooled.as("pooled"))
  }

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("assets: BinaryType content + typed metadata struct, one row per document") {
    val a = Multimodal.assets(spark, sfDir)
    assert(a.schema("content").dataType === BinaryType)
    assert(a.schema("meta").dataType.isInstanceOf[StructType])
    assert(a.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("width", "height", "sample_rate", "src_bytes"))
    val docs = graft.Tables.t(spark, sfDir, "documents")
    assert(a.count() === docs.count())
    assert(a.select("kind").distinct().collect().map(_.getString(0)).sorted
      === Array("audio", "image"))
    // deterministic content: recompute one asset's bytes on the JVM side
    val doc = docs.select("doc_id", "text").orderBy("doc_id").head()
    val expected = md5Hex("f0:" + doc.getString(1)) + md5Hex("f1:" + doc.getString(1))
    val got = a.filter(col("asset_id") === doc.getLong(0))
      .select(lower(hex(col("content")))).head().getString(0)
    assert(got === expected)
    assert(got.length === 64) // 32 bytes
  }

  test("videoFrames: real demuxed binary frames, indexed, content pruned downstream") {
    val frames = Multimodal.videoFrames(Multimodal.assets(spark, sfDir))
    assert(frames.columns.toSeq === Seq("asset_id", "frame_no", "frame"))
    assert(frames.schema("frame").dataType === BinaryType)
    val perAsset = frames.groupBy("asset_id").count().select("count").distinct().collect()
    assert(perAsset.map(_.getLong(0)).toSeq === Seq(2L)) // 2 chunks × 16 bytes
    assert(frames.select(length(col("frame"))).distinct().head().getInt(0) === 16)
    // frame 0 is the first 16 bytes of the content
    val a0 = Multimodal.assets(spark, sfDir).filter(col("asset_id") === 0)
      .select(hex(col("content"))).head().getString(0)
    val f0 = frames.filter(col("asset_id") === 0 && col("frame_no") === 0)
      .select(hex(col("frame"))).head().getString(0)
    assert(a0.startsWith(f0))
  }

  test("sampleFrames keeps every k-th frame") {
    val frames = Multimodal.videoFrames(Multimodal.assets(spark, sfDir))
    val sampled = sampleFrames(frames, 2)
    assert(sampled.count() === frames.count() / 2)
    assert(sampled.select("frame_no").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq === Seq(0))
  }

  test("decodeFrames: JDK-decoded luma equals a JVM-side DIB reference") {
    val decoded = Multimodal.decodeFrames(Multimodal.assets(spark, sfDir))
    val row = decoded.filter(col("asset_id") === 0 && col("frame_no") === 1)
      .select(col("img.width"), col("img.height"), lower(hex(col("img.gray"))))
      .head()
    assert(row.getInt(0) === 2 && row.getInt(1) === 2)
    // reference: frame 1 = content bytes 16..31, bottom-up BGR, stride 8
    val doc = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    val bytes = MessageDigest.getInstance("MD5").digest(("f1:" + doc).getBytes("UTF-8"))
      .map(b => b & 0xff)
    def lum(x: Int, y: Int): Int = {
      val o = (1 - y) * 8 + x * 3
      (bytes(o + 2) * 299 + bytes(o + 1) * 587 + bytes(o) * 114) / 1000
    }
    val expected = Seq(lum(0, 0), lum(1, 0), lum(0, 1), lum(1, 1))
      .map("%02x".format(_)).mkString
    assert(row.getString(2) === expected)
  }

  test("avgPool resize: fixed-length thumbnail, pinned against JVM bytes") {
    val pooled = avgPool(Multimodal.assets(spark, sfDir), bins = 8)
    val row = pooled.filter(col("asset_id") === 0).head()
    val vec = row.getSeq[Double](pooled.columns.indexOf("pooled"))
    assert(vec.length === 8)
    val doc = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    val bytes = (MessageDigest.getInstance("MD5").digest(("f0:" + doc).getBytes("UTF-8")) ++
      MessageDigest.getInstance("MD5").digest(("f1:" + doc).getBytes("UTF-8")))
      .map(b => (b & 0xff).toLong)
    val expected = bytes.grouped(4).map(g => g.sum.toDouble / 4).toSeq
    assert(vec === expected)
  }

  test("nibbleFeatures: 16-bin histogram sums to nibble count, pinned example") {
    val feats = Multimodal.nibbleFeatures(Multimodal.assets(spark, sfDir))
    val row = feats.filter(col("asset_id") === 0).head()
    assert(row.getLong(feats.columns.indexOf("n_bytes")) === 32L)
    val counts = (0 until 16).map(i => row.getLong(feats.columns.indexOf(s"n_$i")))
    assert(counts.sum === 64L) // 64 hex chars
    // pin against the JVM-side digest
    val doc = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    val hx = md5Hex("f0:" + doc) + md5Hex("f1:" + doc)
    val expected = (0 until 16).map(i => hx.count(_ == "0123456789abcdef"(i)).toLong)
    assert(counts === expected)
  }
}
