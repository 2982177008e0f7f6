package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Det._
import graft.SparkTestSession
import graft.plans.Mv

/** Materialized-view rewrite ([[graft.plans.Mv]]): matched queries are
  * answered from the artifact with identical values; non-matching
  * queries are left byte-identical; the transparent (optimizer-rule)
  * mode fires only behind its conf gate. Value-vs-raw equality for the
  * shipped q93/q94 is the driver's DuckDB oracle; these tests pin the
  * PLAN substitutions and the matcher's boundaries. */
class MvRewriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated() // mutates session confs
  private val sfDir = "/root/testdata/sf0.001"

  /** double → exact integer micro-units (a scale the view did not store). */
  private def micros(c: org.apache.spark.sql.Column) =
    round(c * lit(1000000)).cast("long")

  private def scans(df: DataFrame): Seq[String] =
    graft.PlanSig.initialPlan(df).collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }

  private def readsArtifactOnly(df: DataFrame): Boolean = {
    val ss = scans(df)
    ss.nonEmpty && ss.forall(_.contains("graft_mv")) &&
      !ss.exists(_.contains("events.parquet"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("exact hit: projection of the artifact, no aggregation, same values") {
    Materialized.ensureMv(spark, sfDir)
    val raw = Materialized.defining(spark, sfDir)
    val rewritten = Mv.rewrite(spark, raw)
    assert(readsArtifactOnly(rewritten), "exact hit must scan only the artifact")
    val aggs = graft.PlanSig.initialPlan(rewritten).collectWithSubqueries {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggs.isEmpty, "exact hit must not re-aggregate")
    assert(rows(rewritten) === rows(raw))
  }

  test("roll-up: coarser grouping + filter re-aggregate the artifact, same values") {
    val s = spark
    import s.implicits._
    Materialized.ensureMv(spark, sfDir)
    val raw = graft.Tables.t(spark, sfDir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .filter($"day" >= "2024-01-03")
      .groupBy(substring($"day", 1, 7).as("month"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_cents"),
        max(cents($"value")).as("max_cents"))
    val rewritten = Mv.rewrite(spark, raw)
    assert(readsArtifactOnly(rewritten), "roll-up must scan only the artifact")
    assert(rows(rewritten) === rows(raw))
  }

  test("negative: countDistinct cannot be answered from the view") {
    val s = spark
    import s.implicits._
    Materialized.ensureMv(spark, sfDir)
    val raw = graft.Tables.t(spark, sfDir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"day", $"event_type")
      .agg(countDistinct($"user_id").as("u"))
    val out = Mv.rewrite(spark, raw)
    assert(scans(out).exists(_.contains("events.parquet")),
      "a distinct aggregate must fall back to the raw table")
  }

  test("negative: a sum the view did not materialize falls back") {
    val s = spark
    import s.implicits._
    Materialized.ensureMv(spark, sfDir)
    val raw = graft.Tables.t(spark, sfDir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"day", $"event_type")
      .agg(sum(micros($"value")).as("sum_micros")) // different scale than stored
    assert(scans(Mv.rewrite(spark, raw)).exists(_.contains("events.parquet")))
  }

  test("negative: a filter finer than the groupings falls back") {
    val s = spark
    import s.implicits._
    Materialized.ensureMv(spark, sfDir)
    val raw = graft.Tables.t(spark, sfDir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .filter($"user_id" > 100) // not derivable from (day, event_type)
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(scans(Mv.rewrite(spark, raw)).exists(_.contains("events.parquet")))
  }

  test("negative: an aggregate over a different base table falls back") {
    val s = spark
    import s.implicits._
    Materialized.ensureMv(spark, sfDir)
    val raw = graft.Tables.t(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"))
    assert(scans(Mv.rewrite(spark, raw)).exists(_.contains("lineitem.parquet")))
  }

  test("transparent mode fires only behind the conf gate") {
    val s = spark
    import s.implicits._
    Materialized.ensureMv(spark, sfDir)
    // install the rule on this live session, as GraftExtensions does at creation
    val ex = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!ex.extraOptimizations.exists(_.isInstanceOf[graft.plans.MvRewriteRule]))
      ex.extraOptimizations = ex.extraOptimizations :+ graft.plans.MvRewriteRule(spark)
    def query(): DataFrame = graft.Tables.t(spark, sfDir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(cents($"value")).as("sum_cents"))
    // gate off (default): plain plan scans the raw table
    assert(scans(query()).exists(_.contains("events.parquet")))
    spark.conf.set("graft.mv.rewrite", "true")
    try {
      val on = query()
      assert(readsArtifactOnly(on),
        "with the gate on, the optimizer must substitute the artifact")
      assert(rows(on) ===
        rows(Mv.rewrite(spark, query())), "both modes agree")
    } finally spark.conf.set("graft.mv.rewrite", "false")
    assert(scans(query()).exists(_.contains("events.parquet")),
      "gate back off: raw plan again")
  }
}
