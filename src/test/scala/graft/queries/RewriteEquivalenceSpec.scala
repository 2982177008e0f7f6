package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.Tables.t

/** Round-16 rewrite pins: each rewritten query must emit EXACTLY the
  * rows of the join/aggregate-chain form it replaced (the DuckDB oracle
  * checks the same thing against independent SQL; this spec keeps the
  * old Spark form in-tree as the reference so a future edit that drifts
  * the algebra fails fast), plus the plan property the rewrite bought.
  */
class RewriteEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def sparkPlanOf(df: DataFrame) =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("q78 funnel: strictly-before window form == aggregate-chain form") {
    val s = spark
    import s.implicits._
    // the pre-r16 form: per-step min + join + filter chain
    val ev = Bucketed.events(s, sfDir)
      .select($"user_id", $"event_type", graft.Det.tsUs($"ts").as("us"))
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, "user_id").filter($"us" > $"t1")
      .groupBy($"user_id").agg(min($"us").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id").filter($"us" > $"t2")
      .groupBy($"user_id").agg(min($"us").as("t3"))
    val old = s1.agg(count(lit(1)).as("n_view"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
      .select($"n_view", $"n_click_after", $"n_purchase_after",
        ($"n_click_after".cast("double") / $"n_view").as("view_to_click"),
        ($"n_purchase_after".cast("double") / $"n_click_after").as("click_to_purchase"))
    assert(rowsOf(Sessions.q78(spark, sfDir)) === rowsOf(old))
  }

  test("q78 funnel plan: one corpus pass, one sort, two windows, " +
    "only the one-row rollup shuffles") {
    val plan = sparkPlanOf(Sessions.q78(spark, sfDir))
    assert(plan.collect { case w: WindowExec => w }.size === 2,
      s"expected the two chained strictly-before windows:\n$plan")
    assert(plan.collect { case s: SortExec => s }.size === 1,
      s"both windows must share one (user_id, us) sort:\n$plan")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1,
      s"expected exactly the final rollup exchange:\n$plan")
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"the stage-chain joins must be gone:\n$plan")
  }

  test("q79 cohort: window-min form == groupBy+join form " +
    "(and count(*) == countDistinct on the distinct activity)") {
    val s = spark
    import s.implicits._
    val act = Bucketed.events(s, sfDir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val first = act.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val old = act.join(first, "user_id")
      .select($"cohort_day", datediff($"day", $"cohort_day").as("days_since"), $"user_id")
      .groupBy($"cohort_day", $"days_since")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_day", $"days_since")
    assert(rowsOf(Sessions.q79(spark, sfDir)) === rowsOf(old))
  }

  test("q79 cohort plan: no join; min rides a window over the bucketed scan") {
    val plan = sparkPlanOf(Sessions.q79(spark, sfDir))
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"first-seen join must be gone:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.size === 1,
      s"expected the per-user min window:\n$plan")
  }

  test("q66 snapshot diff: single-pass form == full-outer self-join form " +
    "(o_orderkey unique -> row-local algebra)") {
    val s = spark
    import s.implicits._
    val o = t(s, sfDir, "orders")
    // the key-uniqueness premise the rewrite rests on, asserted on the
    // same data the equivalence is checked on
    assert(o.count() === o.select($"o_orderkey").distinct().count(),
      "o_orderkey must be unique for the self-join elimination to hold")
    val snapA = o.filter($"o_orderkey" % 7 =!= 0)
      .select($"o_orderkey".as("key_a"), $"o_totalprice".as("price_a"))
    val snapB = o.filter($"o_orderkey" % 5 =!= 0)
      .select($"o_orderkey".as("key_b"),
        when($"o_orderkey" % 11 === 0, $"o_totalprice" + 10.0)
          .otherwise($"o_totalprice").as("price_b"))
    val old = snapA.join(snapB, $"key_a" === $"key_b", "full_outer")
      .withColumn("status",
        when($"key_b".isNull, "removed")
          .when($"key_a".isNull, "added")
          .when($"price_a" =!= $"price_b", "changed")
          .otherwise("same"))
      .filter($"status" =!= "same")
      .select(coalesce($"key_a", $"key_b").as("o_orderkey"),
        $"status", $"price_a", $"price_b")
    assert(rowsOf(Relational.q66(spark, sfDir)) === rowsOf(old))
    // all three diff branches are exercised at this SF
    val st = Relational.q66(spark, sfDir).select($"status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(st === Set("removed", "added", "changed"))
  }

  test("q66 snapshot diff plan: no join, no aggregate — " +
    "only the output-order exchange remains") {
    val plan = sparkPlanOf(Relational.q66(spark, sfDir))
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"full-outer self-join must be gone:\n$plan")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1,
      s"expected only the orderBy range exchange:\n$plan")
  }

  test("q44 subqueries: one-row stats join == two scalar subqueries") {
    val s = spark
    Seq("part", "supplier").foreach(n =>
      t(s, sfDir, n).createOrReplaceTempView(n + "_v"))
    val old = s.sql(
      """SELECT p_partkey, p_name, p_retailprice,
        |  (SELECT COUNT(*) FROM supplier_v WHERE s_nationkey = p_size % 25) AS nation_suppliers
        |FROM part_v
        |WHERE 100 * CAST(ROUND(p_retailprice * 100) AS BIGINT)
        |        * (SELECT COUNT(*) FROM part_v)
        |      > 101 * (SELECT SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) FROM part_v)
        |ORDER BY p_partkey""".stripMargin)
    assert(rowsOf(Relational.q44(spark, sfDir)) === rowsOf(old))
  }

  test("q74/q36 self-join sides stay equi-joined on bucket " +
    "(never a cartesian)") {
    for (df <- Seq(LlmOps.q74Bench(spark, sfDir), LlmOps.q36(spark, sfDir))) {
      val plan = sparkPlanOf(df)
      val joins = plan.collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty, s"expected the bucket self-join:\n$plan")
      assert(joins.forall {
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec => true
        case j => j.getClass.getSimpleName.contains("ShuffledHashJoin")
      }, s"bucket join degraded from equi-join:\n$plan")
    }
  }
}
