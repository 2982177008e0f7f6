package graft.sinks

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.SparkTestSession
import graft.functions.Utf8Prefix64

/** Footer-derived commit stats ([[TxnTable]]'s `fileMeta`) equal what
  * the per-file aggregate computes from the rows: `min`/`max` of the
  * long cast for byte, short, int and long columns, of the
  * [[Utf8Prefix64]] lower/upper bounds for strings, no entry for a
  * column that is null throughout a file. The reference here is that
  * aggregate, run over the committed files; the commit itself launches
  * only its write job, so the manifest's stats really came from the
  * footers. Files hold several row groups (`parquet.block.size` 1 byte:
  * parquet closes a row group at its first size check, 100 rows in),
  * values reach `Long.MinValue`/`Long.MaxValue`, and strings include
  * multibyte UTF-8 and values that tie on their first 8 bytes. A string
  * past 4 KB leaves its chunk without a footer min/max; that column
  * must record the same entry through the aggregate. */
object TxnFooterStatsProps extends Properties("graft.txn.footerstats.laws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  // own SQL conf: the write's Hadoop conf picks up the row-group size
  private lazy val spark = {
    val s = SparkTestSession.isolated()
    s.conf.set("parquet.block.size", "1")
    s
  }

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("b", ByteType),
    StructField("s", StringType)))
  private val cols = schema.fieldNames.toSeq

  private val strings: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("", "a", "abcdefgh", "abcdefghi", "abcdefghz", "abcdefgh\u0000",
      "abcdefghÿ", "日本語のテキスト", "日本語のテキストA", "日本語", "日本",
      "née", "nöe", "🎉🎉🎉", "🎉 mixed", "￿￿￿", "zzzzzzzzzz"),
    2 -> Gen.listOf(Gen.frequency(
      4 -> Gen.alphaChar,
      1 -> Gen.choose(' ', '퟿'),
      1 -> Gen.oneOf('\u0000', '￿'))).map(_.mkString.take(24)))

  private def value(f: StructField): Gen[Any] = f.dataType match {
    case LongType => Gen.frequency(1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L),
      3 -> Gen.choose(Long.MinValue, Long.MaxValue), 3 -> Gen.choose(-1000L, 1000L))
    case IntegerType => Gen.frequency(1 -> Gen.oneOf(Int.MinValue, Int.MaxValue),
      3 -> Gen.choose(Int.MinValue, Int.MaxValue))
    case ShortType => Gen.choose(Short.MinValue, Short.MaxValue)
    case ByteType => Gen.choose(Byte.MinValue, Byte.MaxValue)
    case StringType => strings
  }

  /** One file's rows: nulls sprinkled in, and each column null
    * throughout the file with probability 1/6. */
  private def fileOf(size: Gen[Int]): Gen[Seq[Row]] = for {
    n <- size
    allNull <- Gen.listOfN(cols.size, Gen.choose(0, 5).map(_ == 0))
    rows <- Gen.listOfN(n, Gen.sequence[Seq[Any], Any](schema.fields.toSeq.zip(allNull).map {
      case (_, true) => Gen.const(null)
      case (f, false) => Gen.frequency(1 -> Gen.const(null), 5 -> value(f))
    }))
  } yield rows.map(Row.fromSeq)

  private val fileGen = fileOf(Gen.frequency(1 -> Gen.choose(1, 5), 3 -> Gen.choose(150, 320)))

  private def freshRoot(): String =
    Files.createTempDirectory("txn_footer_stats").toString + "/tbl"

  /** One partition per file, so the commit stages one file each. */
  private def frame(files: Seq[Seq[Row]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(files, files.size).flatMap(identity), schema)

  /** The per-file aggregate over the committed files, keyed by
    * root-relative path. */
  private def aggregated(root: String, files: Seq[String]): Map[String, Map[String, (Long, Long)]] = {
    def lo(c: String) = if (c == "s") Utf8Prefix64.lowerCol(col(c)) else col(c).cast("long")
    def hi(c: String) = if (c == "s") Utf8Prefix64.upperCol(col(c)) else col(c).cast("long")
    val aggs = cols.flatMap(c => Seq(min(lo(c)), max(hi(c))))
    spark.read.parquet(files.map(f => s"$root/$f"): _*)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect().map { r =>
        files.find(r.getString(0).endsWith).get -> cols.zipWithIndex.collect {
          case (c, i) if !r.isNullAt(1 + 2 * i) => c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
        }.toMap
      }.toMap.filter(_._2.nonEmpty)
  }

  private def rowGroups(path: String): Int = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    try r.getRowGroups.size finally r.close()
  }

  /** Commit `files` with every column recorded; (stats, aggregate, jobs). */
  private def commit(files: Seq[Seq[Row]]) = {
    val root = freshRoot()
    val (snap, jobs) = SparkTestSession.jobsIn(
      TxnTable.append(spark, root, frame(files), statsCols = cols))
    (snap, aggregated(root, snap.files), jobs, root)
  }

  property("footer stats equal the aggregate's, with no job but the write") =
    Prop.forAllNoShrink(Gen.choose(1, 3).flatMap(Gen.listOfN(_, fileGen))) { files =>
      val (snap, want, jobs, _) = commit(files)
      (snap.files.size == files.size) :| s"${snap.files.size} files for ${files.size}" &&
        (snap.stats == want) :| s"manifest ${snap.stats} vs aggregate $want" &&
        (jobs == 1) :| s"the commit launched $jobs jobs"
    }

  property("the generated files span several row groups") = {
    val rows = fileOf(Gen.const(300)).sample.get
    val (snap, _, _, root) = commit(Seq(rows))
    (rowGroups(s"$root/${snap.files.head}") > 1) :| "a single row group"
  }

  property("a string past 4 KB has no footer min/max; the aggregate records it") =
    Prop.forAllNoShrink(strings, Gen.choose(4097, 6000)) { (short, n) =>
      val long = ("x" * n) + short
      val rows = Seq(Row(1L, 1, 1.toShort, 1.toByte, long), Row(2L, 2, 2.toShort, 2.toByte, short))
      val (snap, want, jobs, root) = commit(Seq(rows))
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/${snap.files.head}"),
          spark.sparkContext.hadoopConfiguration))
      val hasMinMax = try footer.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "s").exists(_.getStatistics.hasNonNullValue)
      finally footer.close()
      (!hasMinMax) :| "the footer kept a min/max past 4 KB" &&
        (snap.stats == want) :| s"manifest ${snap.stats} vs aggregate $want" &&
        (snap.stats.values.head.contains("s")) :| "no string entry" &&
        (jobs > 1) :| "no fallback aggregate ran"
    }
}
