package graft.sinks

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Compaction: fewer files, identical rows, shuffle-free plan,
  * idempotent second pass. */
class CompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("compact merges a splintered directory without a shuffle, idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/events"
    val src = graft.Tables.t(spark, sfDir, "events")
    src.repartition(64).write.mode("overwrite").parquet(dir) // splintered
    val before = src.collect().map(_.getAs[Long]("event_id")).sorted.toSeq

    // the coalesce rewrite must be a narrow plan — no exchange
    val plan = spark.read.parquet(dir).coalesce(1)
      .queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"coalesce rewrite must not shuffle:\n$plan")

    val stats = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(stats.rewritten && stats.filesBefore === 64 && stats.filesAfter === 1,
      s"$stats")
    val after = spark.read.parquet(dir)
    assert(after.collect().map(_.getAs[Long]("event_id")).sorted.toSeq === before)
    assert(after.schema === src.schema)

    val again = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(!again.rewritten && again.filesAfter === 1, s"$again")
  }

  test("target size splits into multiple files, none re-merged needlessly") {
    val dir = java.nio.file.Files.createTempDirectory("compact2").toString + "/e"
    graft.Tables.t(spark, sfDir, "events")
      .repartition(32).write.mode("overwrite").parquet(dir)
    val bytes = Compact.compact(spark, dir, targetBytes = 1L << 40).bytes
    // re-splinter, then compact to ~quarter-of-total target => >=4 files
    graft.Tables.t(spark, sfDir, "events")
      .repartition(32).write.mode("overwrite").parquet(dir)
    val stats = Compact.compact(spark, dir, targetBytes = math.max(1L, bytes / 4))
    assert(stats.rewritten)
    assert(stats.filesAfter >= 4 && stats.filesAfter < 32, s"$stats")
  }

  test("recovers from a crash between delete and rename") {
    val base = java.nio.file.Files.createTempDirectory("compact3").toString
    val dir = base + "/e"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.Tables.t(spark, sfDir, "events")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).count()

    // simulate the crash window: data durable ONLY in tmp, target gone
    val tmp = new org.apache.hadoop.fs.Path(dir + "._compact_tmp")
    spark.read.parquet(dir).coalesce(1).write.parquet(tmp.toString)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

    // next call must recover the tmp dir, not report an empty no-op
    val stats = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() === rows, "recovered data lost")
    assert(!fs.exists(tmp), "tmp dir must be consumed by recovery")
    assert(stats.bytes > 0, s"recovery must see the data: $stats")

    // a stale tmp beside a POPULATED target is discarded, data untouched
    spark.read.parquet(dir).limit(1).write.parquet(tmp.toString)
    val stats2 = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() === rows)
    assert(!stats2.rewritten) // already one file
    assert(!fs.exists(tmp), "stale tmp beside populated target is discarded")
  }
}
