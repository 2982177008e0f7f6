package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.WeatherStream
import graft.weather.Weather

/** §2.12 Structured Streaming analog: the AvailableNow drain over the
  * 27 weather fixtures must land exactly the batch pipeline's table in
  * the date-partitioned layout, and a rerun must be a no-op (checkpoint
  * + dynamic partition overwrite = idempotent daily ticks). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val dataDir = getClass.getResource("/weather").getPath

  /** Copies the fixture day `from` into `feed/<to>/`, keeping `n` docs. */
  private def land(feed: Path, from: String, to: String, n: Int = 9): Unit = {
    val dst = Files.createDirectories(feed.resolve(to))
    new java.io.File(s"$dataDir/$from").listFiles().sortBy(_.getName).take(n)
      .foreach(f => Files.copy(f.toPath, dst.resolve(f.getName)))
  }

  /** Rows per date of the published table. */
  private def rowsPerDate(out: String): Map[String, Long] =
    spark.read.parquet(out).groupBy(col("date").cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("AvailableNow stream publishes the same table as the batch path, idempotently") {
    val out = Files.createTempDirectory("weather_stream_").toString
    WeatherStream.runOnce(spark, dataDir, out)

    // partition-column inference would read date as DATE; compare as string
    val streamed = spark.read.parquet(out)
      .withColumn("date", col("date").cast("string"))
    assert(streamed.count() === 27)
    assert(streamed.select("date").distinct().count() === 3)

    val batch = Weather.flatten(Weather.readRaw(spark, dataDir))
    val key = Seq("city", "date", "localtime_epoch", "temp_c")
    assert(streamed.select(key.map(col): _*).except(batch.select(key.map(col): _*)).isEmpty)
    assert(batch.select(key.map(col): _*).except(streamed.select(key.map(col): _*)).isEmpty)
    // full column surface survives the stream (31 data cols + date)
    assert(streamed.columns.sorted.toSeq === batch.columns.sorted.toSeq)

    // second tick: checkpoint says everything is processed -> no-op
    WeatherStream.runOnce(spark, dataDir, out)
    assert(spark.read.parquet(out).count() === 27)
  }

  test("a day spread over several micro-batches, and a late doc for an old day, keep every row") {
    val feed = Files.createTempDirectory("weather_feed_")
    Seq("2023-08-09", "2023-08-10", "2023-08-11").foreach(d => land(feed, d, d))
    val out = Files.createTempDirectory("weather_stream_").toString
    // 27 docs, 4 per micro-batch: every date spans two or more batches
    WeatherStream.runOnce(spark, feed.toString, out, filesPerBatch = 4)
    assert(rowsPerDate(out) ===
      Map("2023-08-09" -> 9L, "2023-08-10" -> 9L, "2023-08-11" -> 9L))

    // a late doc lands in an old date directory
    Files.writeString(feed.resolve("2023-08-09/Oslo.txt"),
      Files.readString(Paths.get(s"$dataDir/2023-08-09/London.txt"))
        .replace("\"name\": \"London\"", "\"name\": \"Oslo\""))
    WeatherStream.runOnce(spark, feed.toString, out, filesPerBatch = 4)
    assert(rowsPerDate(out) ===
      Map("2023-08-09" -> 10L, "2023-08-10" -> 9L, "2023-08-11" -> 9L))
    assert(spark.read.parquet(out).filter(col("date").cast("string") === "2023-08-09")
      .select("city").distinct().count() === 10)
  }

  test("a tick over one new day launches as many jobs with 40 landed days as with 1") {
    /** Jobs of a tick over one new 9-doc day, `landed` days already in. */
    def newDayTickJobs(landed: Int): Int = {
      val feed = Files.createTempDirectory("weather_feed_")
      val out = Files.createTempDirectory("weather_stream_").toString
      val days = (0 until landed).map(i => java.time.LocalDate.of(2023, 6, 1).plusDays(i).toString)
      days.foreach(d => land(feed, "2023-08-09", d, n = 1))
      WeatherStream.runOnce(spark, feed.toString, out, filesPerBatch = 1000)
      land(feed, "2023-08-10", "2023-08-10")
      val (_, jobs) = SparkTestSession.jobsIn(WeatherStream.runOnce(spark, feed.toString, out))
      assert(rowsPerDate(out) === (days.map(_ -> 1L) :+ ("2023-08-10" -> 9L)).toMap)
      jobs
    }
    val one = newDayTickJobs(1)
    val forty = newDayTickJobs(40)
    assert(one > 0)
    assert(forty === one, s"tick jobs: $one with 1 landed day, $forty with 40")
  }
}
