package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Plan governance: the checker admits every plan in the engine's own
  * query library (modulo the pinned, individually-justified allowlist)
  * and rejects the classic cluster-melters. */
object GuardRailsSpec {
  final class GuardRailViolation(val hazards: Seq[GuardRails.Hazard])
    extends RuntimeException(hazards.map(h => s"[${h.kind}] ${h.detail}").mkString("\n"))
}

class GuardRailsSpec extends AnyFunSuite {
  import GuardRailsSpec.GuardRailViolation
  private lazy val spark = SparkTestSession.isolated() // mutates session confs

  /** Throw [[GuardRailViolation]] if the plan has hazards. */
  private def check(df: org.apache.spark.sql.DataFrame, strict: Boolean = false): Unit = {
    val h = GuardRails.audit(df, strict)
    if (h.nonEmpty) throw new GuardRailViolation(h)
  }
  private val sfDir = "/root/testdata/sf0.001"

  // the justified allowlist lives in GuardRails itself, shared with the
  // run-time gates (Bench refuses, Verify logs)
  private val audited: Map[String, String] = GuardRails.auditedAllowlist

  test("every benched plan passes the guard rails (minus the audited allowlist)") {
    graft.SourceStamp.reset(spark)
    val flagged = graft.SparkEntry.benchQueries.flatMap { case (name, fn) =>
      val hz = GuardRails.audit(fn(spark, sfDir))
      if (hz.nonEmpty) Some(name -> hz.map(_.kind).toSet) else None
    }.toMap
    assert(flagged.keySet === audited.keySet,
      s"guard-rail drift: flagged=$flagged audited=${audited.keySet}")
  }

  test("cartesian product of two unbounded sides is rejected") {
    val s = spark
    import s.implicits._
    val a = (1 to 100).toDF("x").repartition(4)
    val b = (1 to 100).toDF("y").repartition(4)
    // defeat auto-broadcast so the planner must pick CartesianProduct —
    // restore the PRIOR value, not a hardcoded default (other suites'
    // join planning must see the conf they started with)
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ex = intercept[GuardRailViolation] {
        check(a.crossJoin(b))
      }
      assert(ex.hazards.exists(_.kind === "cartesian"))
      // a limit UNDER one side bounds it: admitted
      check(a.limit(3).crossJoin(b))
      // a hazard INSIDE a scalar subquery must not bypass the gate
      a.createOrReplaceTempView("gr_a")
      b.createOrReplaceTempView("gr_b")
      val sub = intercept[GuardRailViolation] {
        check(s.sql(
          "SELECT * FROM gr_a WHERE x < (SELECT max(x + y) FROM gr_a, gr_b)"))
      }
      assert(sub.hazards.exists(_.kind === "cartesian"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("domain x domain: cartesian of two grouped FINAL aggregates is admitted") {
    val s = spark
    import s.implicits._
    val d = (1 to 1000).map(i => (i % 13, i.toDouble)).toDF("k", "v")
    val e = (1 to 1000).map(i => (i % 7, i.toDouble)).toDF("j", "w")
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the q108 shape at scale: pairwise over two aggregated key
      // domains — each side's cardinality is its distinct-key count
      val aggA = d.groupBy($"k").agg(max($"v").as("mv"))
      val aggB = e.groupBy($"j").agg(max($"w").as("mw"))
      check(aggA.crossJoin(aggB))
      // one raw side defeats the domain argument: still rejected
      val ex = intercept[GuardRailViolation] {
        check(aggA.crossJoin(e))
      }
      assert(ex.hazards.exists(_.kind === "cartesian"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("domain x domain: the probe is memoized — re-auditing the same " +
      "plan costs zero evaluations; a changed plan misses") {
    val s = spark
    import s.implicits._
    val d = (1 to 500).map(i => (i % 11, i.toDouble)).toDF("k", "v")
    val e = (1 to 500).map(i => (i % 5, i.toDouble)).toDF("j", "w")
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = d.groupBy($"k").agg(max($"v").as("mv"))
        .crossJoin(e.groupBy($"j").agg(max($"w").as("mw")))
      check(joined)
      val after1 = GuardRails.probeRuns.get()
      // the second audit of the SAME plan is pure cache (Bench + Verify
      // both gate every plan — the double evaluation the cache removes)
      check(joined)
      assert(GuardRails.probeRuns.get() === after1)
      // a DIFFERENT plan shape probes again
      check(d.groupBy($"k").agg(min($"v").as("nv"))
        .crossJoin(e.groupBy($"j").agg(max($"w").as("mw"))))
      assert(GuardRails.probeRuns.get() > after1)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("domain x domain: the runtime probe handles columnar-scanned sides (sf10 regression)") {
    val s = spark
    import s.implicits._
    // the sides must come from a COLUMNAR source (parquet, vectorized):
    // the probed fragment is an AQE initialPlan with NO columnar↔row
    // transitions inserted, and a probe that only adapts the top node
    // throws ColumnarBatch-as-InternalRow from the nested scan (found
    // at sf10, where the q108 sides outgrow the broadcast threshold
    // and the plan flips from BNLJ to CartesianProduct)
    val dir = java.nio.file.Files.createTempDirectory("gr_columnar").toString
    (1 to 2000).map(i => (i % 13, i.toDouble)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t")
    val t = s.read.parquet(s"$dir/t")
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val aggA = t.groupBy($"k").agg(max($"v").as("mv"))
      val aggB = t.groupBy($"k").agg(min($"v").as("nv"))
      check(aggA.as("a").crossJoin(aggB.as("b"))) // must NOT refuse
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("domain x domain: a corpus-sized grouping key fails the runtime backstop") {
    val s = spark
    import s.implicits._
    // shaped EXACTLY like the admitted q108 pattern — grouped FINAL
    // aggregates on both sides — but the grouping key is the row id, so
    // each "domain" is the corpus: the static proof passes, the runtime
    // probe (executeTake past DomainBound) must refuse it
    val n = GuardRails.DomainBound + 100
    val big = (1 to n).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val aggA = big.groupBy($"id").agg(max($"v").as("mv"))
      val aggB = big.groupBy($"id").agg(min($"v").as("nv"))
      val ex = intercept[GuardRailViolation] {
        check(aggA.as("a").crossJoin(aggB.as("b")))
      }
      assert(ex.hazards.exists(h => h.kind === "cartesian" &&
        h.detail.contains("REFUSED at runtime")))
      // while the genuinely domain-small q108 shape still passes the
      // same gate (asserted per-query in the benchQueries sweep too)
      val small = (1 to n).map(i => (i % 13, i.toDouble)).toDF("k", "v")
      check(small.groupBy($"k").agg(max($"v").as("mv")).as("a")
        .crossJoin(small.groupBy($"k").agg(min($"v").as("nv")).as("b")))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("unpartitioned window over unbounded input is rejected; bounded passes") {
    val s = spark
    import s.implicits._
    val d = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("id", "score")
    val w = org.apache.spark.sql.expressions.Window.orderBy($"score".desc)
    val ex = intercept[GuardRailViolation] {
      check(d.withColumn("rn", row_number().over(w)))
    }
    assert(ex.hazards.exists(_.kind === "global-window"))
    // the library's fusion shape: rank over a top-k bounded input
    check(d.orderBy($"score".desc).limit(20)
      .withColumn("rn", row_number().over(w)))
    // a partitioned window is always fine
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy($"id" % 7).orderBy($"score")
    check(d.withColumn("rn", row_number().over(wp)))
  }

  test("ordered-domain walk: grouped aggregate below a global window on the group key passes") {
    val s = spark
    import s.implicits._
    val d = (1 to 1000).map(i => (i % 37, i.toDouble)).toDF("k", "v")
    val agg = d.groupBy($"k").agg(max($"v").as("mv"))
    val wk = org.apache.spark.sql.expressions.Window.orderBy($"k".desc)
    // the q107 shape: cummax over the distinct-key domain — admitted
    // because the FINAL aggregation below the window collapsed
    // cardinality and the order key is a grouping attribute
    check(agg.withColumn("cm", max($"mv").over(wk)))
    // ordering by the AGGREGATED value is NOT a domain walk (the key
    // domain argument doesn't apply to mv): still rejected
    val wv = org.apache.spark.sql.expressions.Window.orderBy($"mv".desc)
    val ex = intercept[GuardRailViolation] {
      check(agg.withColumn("rn", row_number().over(wv)))
    }
    assert(ex.hazards.exists(_.kind === "global-window"))
    // no aggregation below at all: rejected as before
    val ex2 = intercept[GuardRailViolation] {
      check(d.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"k"))))
    }
    assert(ex2.hazards.exists(_.kind === "global-window"))
  }

  test("strict mode flags unbounded global sorts; top-k passes") {
    val s = spark
    import s.implicits._
    val d = (1 to 100).toDF("x")
    val ex = intercept[GuardRailViolation] {
      check(d.orderBy($"x"), strict = true)
    }
    assert(ex.hazards.exists(_.kind === "global-sort"))
    check(d.orderBy($"x").limit(10), strict = true)
    check(d.orderBy($"x"), strict = false) // advisory by default
  }
}
