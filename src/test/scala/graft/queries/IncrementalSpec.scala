package graft.queries

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Incremental daily-aggregate maintenance: the merge is idempotent,
  * touches only its own partition, and its delta scan is range-pruned
  * at the source — the three properties that make per-day maintenance
  * O(day) instead of O(table). (Maintenance == full recompute is the
  * driver-checked q56 oracle.) */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("applyDay is idempotent and rewrites only its own partition") {
    val path = Incremental.ensureMaintained(spark, sfDir)
    val days = Incremental.sourceDays(spark, sfDir)
    val before = spark.read.parquet(path).collect().map(_.toSeq).toSet

    // fingerprint each partition dir's file listing (names + mtimes);
    // the warehouse path may carry a file: scheme — go through Hadoop FS
    def partFiles(day: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$path/day=$day")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath.getName}:${f.getModificationTime}").toSet
    }
    val otherBefore = days.dropRight(1).map(d => d -> partFiles(d)).toMap

    Incremental.applyDay(spark, sfDir, days.last) // replay the last day
    val after = spark.read.parquet(path).collect().map(_.toSeq).toSet
    assert(after === before, "replaying a day must not change the table")
    days.dropRight(1).foreach { d =>
      assert(partFiles(d) === otherBefore(d),
        s"partition day=$d was rewritten by another day's merge")
    }
  }

  test("the delta scan pushes the ts-range to the raw parquet footer") {
    val days = Incremental.sourceDays(spark, sfDir)
    val plan = Incremental.dayAgg(spark, sfDir, days.head)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
    val scan = plan.collectWithSubqueries { case f: FileSourceScanExec => f }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"),
      s"day bounds not pushed to the source scan: $pushed")
  }

  test("dayAgg adapts to a TimestampType source: same values, still pushed") {
    val s = spark
    import s.implicits._
    // re-encode the events table with a true timestamp ts (the shape
    // any non-driver dataset has; the driver's is int64 nanos)
    val dir = java.nio.file.Files.createTempDirectory("inc_tsenc").toString
    graft.Tables.t(spark, sfDir, "events")
      .write.parquet(s"$dir/events.parquet")
    val day = Incremental.sourceDays(spark, sfDir).head
    val want = Incremental.dayAgg(spark, sfDir, day)
      .orderBy($"event_type").collect().map(_.toSeq).toSeq
    val got = Incremental.dayAgg(spark, dir, day)
      .orderBy($"event_type").collect().map(_.toSeq).toSeq
    assert(got === want, "timestamp-encoded source must aggregate identically")
    val plan = Incremental.dayAgg(spark, dir, day)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
    val scan = plan.collectWithSubqueries { case f: FileSourceScanExec => f }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"),
      s"day bounds not pushed on the timestamp encoding: $pushed")
  }

  test("maintained content equals a direct full aggregate (in-session)") {
    val s = spark
    import s.implicits._
    val maintained = Incremental.q56(spark, sfDir).collect().map(_.toSeq)
    val direct = graft.Tables.t(spark, sfDir, "events")
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.Det.money(sum(graft.Det.cents($"value"))).as("total_value"))
      .orderBy($"day", $"event_type")
      .collect().map(_.toSeq)
    assert(maintained === direct)
  }
}
