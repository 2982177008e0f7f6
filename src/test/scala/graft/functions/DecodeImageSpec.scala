package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Golden-pixel test of the REAL image decode path: PNG bytes generated
  * from known pixels round-trip through DecodeImage to the exact
  * BT.601 integer luma plane. PNG is lossless, so the expectation is
  * bit-exact, not approximate. */
class DecodeImageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** One row per decodable asset with its dimensions and luma plane;
    * undecodable content drops out via the NULL filter. */
  private def decodeImages(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    df.select(col("asset_id"), col("kind"), DecodeImage.decodeImage(col("content")).as("img"))
      .filter(col("img").isNotNull)
      .select(col("asset_id"), col("kind"), col("img.width").as("width"),
        col("img.height").as("height"), col("img.gray").as("gray"))
  }

  /** 2x2 PNG with fixed sRGB pixels (row-major). */
  private def png(pixels: Seq[Int], w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, pixels.toArray, 0, w)
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", out), "JDK must ship a PNG writer")
    out.toByteArray
  }

  // (R,G,B) -> floor((299R + 587G + 114B) / 1000)
  private def luma(r: Int, g: Int, b: Int): Byte =
    ((r * 299 + g * 587 + b * 114) / 1000).toByte

  test("decodes a known 2x2 PNG to the exact BT.601 luma plane") {
    val s = spark
    import s.implicits._
    val pixels = Seq(0xff0000, 0x00ff00, 0x0000ff, 0x808080) // R G B gray
    val df = Seq((1L, png(pixels, 2, 2))).toDF("asset_id", "content")
    val row = df.select(DecodeImage.decodeImage($"content").as("img"))
      .selectExpr("img.width", "img.height", "img.gray")
      .head()
    assert(row.getInt(0) === 2 && row.getInt(1) === 2)
    val expected = Array[Byte](
      luma(255, 0, 0), luma(0, 255, 0), luma(0, 0, 255), luma(128, 128, 128))
    assert(row.getAs[Array[Byte]](2).toSeq === expected.toSeq)
  }

  test("white and black decode to 255 and 0; plane is row-major") {
    val s = spark
    import s.implicits._
    // 3x1: white, black, white -> unambiguous row-major order
    val df = Seq((1L, png(Seq(0xffffff, 0x000000, 0xffffff), 3, 1)))
      .toDF("asset_id", "content")
    val g = df.select(DecodeImage.decodeImage($"content").getField("gray"))
      .as[Array[Byte]].head()
    assert(g.toSeq === Seq[Byte](-1, 0, -1)) // 255 unsigned == -1 signed
  }

  test("undecodable bytes yield NULL, not an error") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array[Byte](1, 2, 3, 4)),            // garbage
      (2L, png(Seq(0x123456), 1, 1)),           // valid
      (3L, png(Seq(0x123456), 1, 1).take(12)))  // truncated PNG header
      .toDF("asset_id", "content")
    val decoded = df.select($"asset_id",
      DecodeImage.decodeImage($"content").as("img"))
    assert(decoded.filter($"img".isNotNull).select("asset_id")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("Multimodal.decodeImages end-to-end over a binary asset table") {
    val s = spark
    import s.implicits._
    val assets = Seq(
      (10L, "image", png(Seq(0xffffff, 0x000000), 2, 1)),
      (11L, "image", Array[Byte](9, 9, 9)), // corrupt: filtered, not fatal
      (12L, "image", png(Seq(0x404040), 1, 1)))
      .toDF("asset_id", "kind", "content")
    val out = decodeImages(assets)
      .orderBy("asset_id")
      .select($"asset_id", $"width", $"height", $"gray")
      .as[(Long, Int, Int, Array[Byte])].collect()
    assert(out.map(_._1).toSeq === Seq(10L, 12L))
    assert(out(0)._2 === 2 && out(0)._3 === 1)
    assert(out(0)._4.toSeq === Seq[Byte](-1, 0))
    assert(out(1)._4.toSeq === Seq(luma(0x40, 0x40, 0x40)))
  }
}
