package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.weather.Weather

/** §2.12: the reference's incremental semantics — Airflow `@daily` over
  * `data/{date}/` directories (reference airflow/dags/weather_data_dag.py:
  * 24-25) — as a Structured Streaming file source.
  *
  * The reference has no streaming engine; its "stream" is a calendar of
  * directory-partitioned daily batches with overwrite-idempotent reruns.
  * The faithful Spark mapping is therefore NOT a long-running stateful
  * stream but `Trigger.AvailableNow`: drain every file visible now in
  * bounded micro-batches, exactly-once via the checkpoint, then stop —
  * i.e. each scheduler tick IS one run of this stream. Late files landing
  * in an old `data/{date}/` dir are picked up by the next tick and
  * rewrite just that date's partition from all of that date's documents,
  * matching the reference's rerun-a-day semantics.
  *
  * What a tick lists: the file source walks the whole feed from its one
  * root directory (`Weather.streamRaw`) on the driver, with no Spark job
  * — Spark would otherwise list a level holding more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) date
  * directories in a job with one task per directory, so a tick's job
  * count would grow with the number of landed days. The walk still
  * visits every landed file; the checkpoint's seen-file log then leaves
  * only the new files to the micro-batches. Each micro-batch costs two
  * jobs: one over its new files, collecting the dates they fall in, and
  * one `partitionBy(date)` write of all those dates' documents — no
  * global state, no shuffle.
  */
object WeatherStream {

  private val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** One scheduler tick: stream all currently-available raw weather docs
    * into the date-partitioned parquet layout at `outPath`. Blocks until
    * the AvailableNow drain completes. The feed listing runs on the
    * driver for the length of the tick (the listing threshold is raised
    * on `spark` and restored afterwards). */
  def runOnce(spark: SparkSession, dataDir: String, outPath: String,
              filesPerBatch: Int = 9): Unit = {
    val conf = spark.conf
    val prior = conf.getOption(ListingThreshold)
    conf.set(ListingThreshold, Int.MaxValue.toLong)
    try {
      // the stream only tells which dates received files; publishBatch
      // reads those dates' documents itself
      val dates = Weather.streamRaw(spark, dataDir, filesPerBatch).select("date")
      dates.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$outPath/_checkpoint")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          publishBatch(batch, dataDir, outPath)
        }
        .start()
        .awaitTermination()
    } finally prior.fold(conf.unset(ListingThreshold))(conf.set(ListingThreshold, _))
  }

  /** Idempotent per-batch publish: every date this batch touches is
    * rewritten from ALL documents under its `dataDir/<date>/` directory
    * (dynamic partition overwrite), leaving every other date untouched.
    * So a day spread over several micro-batches, or a late file for an
    * old date, never drops the rows earlier batches wrote, and a replayed
    * batch rewrites the same bytes. */
  private[streaming] def publishBatch(batch: DataFrame, dataDir: String,
                                      outPath: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // one job, no shuffle: dedup within each partition, then on the driver
    val dates = batch.as[String].mapPartitions(_.distinct).collect().distinct
    if (dates.nonEmpty) {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      Weather.flatten(Weather.readRaw(spark, dataDir, dates.toSeq))
        .write.mode("overwrite").partitionBy("date").parquet(outPath)
    }
  }
}
