package graft.queries

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Batch sessionization (q52): the scale claim is a ZERO-exchange plan
  * — the user_id-bucketed events layout hands the windows their
  * partitioning off the scan, ONE sort feeds BOTH window operators
  * (lag + running session ordinal share partitioning and ordering), and
  * the aggregate reuses the same clustering — plus the
  * session-semantics invariants every gap sessionizer must hold. */
class SessionsBatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def sparkPlanOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  test("q52 is a ZERO-shuffle plan: scan partitioning feeds windows and agg") {
    val plan = sparkPlanOf(Sessions.q52Bench(spark, sfDir))
    val windows = plan.collect { case w: WindowExec => w }
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    val sorts = plan.collect { case s: SortExec => s }
    assert(windows.size === 2, s"expected lag + running-sum windows:\n$plan")
    // The bucketed scan reports hash(user_id); EnsureRequirements
    // accepts it for the windows AND for the (user_id, session_seq)
    // aggregate's ClusteredDistribution — same-key subsets co-locate —
    // so the ENTIRE query runs without a single exchange. Any exchange
    // appearing here means the layout routing broke.
    assert(shuffles.isEmpty,
      s"expected an exchange-free plan, got ${shuffles.size}:\n$plan")
    assert(sorts.size === 1,
      s"both windows must share one (us, event_id) sort, got ${sorts.size}:\n$plan")
  }

  test("q87 debounce: window is exchange-free off the bucketed layout; " +
    "only the 5-row type rollup shuffles") {
    val plan = sparkPlanOf(Sessions.q87Bench(spark, sfDir))
    val windows = plan.collect { case w: WindowExec => w }
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    val sorts = plan.collect { case s: SortExec => s }
    assert(windows.size === 1, s"expected one lag window:\n$plan")
    // hash(user_id) from the bucketed scan satisfies the
    // (user_id, event_type) window clustering; the only exchange left is
    // the final event_type rollup of map-side partials (5 keys).
    assert(shuffles.size === 1,
      s"expected exactly the rollup exchange, got ${shuffles.size}:\n$plan")
    assert(sorts.size === 1,
      s"expected one in-partition (us, event_id) sort, got ${sorts.size}:\n$plan")
  }

  test("q87 debounce invariants: openers always kept, bursts collapse") {
    val s = spark
    import s.implicits._
    val rows = Sessions.q87(spark, sfDir).collect()
    val ev = graft.Tables.t(spark, sfDir, "events")
    val totals = ev.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val openers = ev.select($"event_type", $"user_id").distinct()
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getAs[Long]("n_events")).sum === totals.values.sum,
      "every event is counted exactly once")
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val kept = r.getAs[Long]("n_kept")
      // the first event of every (user, type) opens a burst and is kept;
      // kept can never exceed the raw count
      assert(kept >= openers(t), s"$t: kept $kept < openers ${openers(t)}")
      assert(kept <= totals(t), s"$t: kept $kept > total ${totals(t)}")
    }
  }

  test("q52 sessions partition the event log; durations within gap bounds") {
    val events = graft.Tables.t(spark, sfDir, "events")
    val sessions = Sessions.q52(spark, sfDir).collect()
    assert(sessions.map(_.getAs[Long]("n_events")).sum === events.count(),
      "every event belongs to exactly one session")
    // a session's span is bounded by (n_events - 1) * gap; a 1-event
    // session has zero duration
    sessions.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val dur = r.getAs[Long]("duration_sec")
      assert(dur >= 0L)
      assert(dur <= (n - 1) * (Sessions.GapUs / 1000000L),
        s"session spans more than (n-1) gaps: n=$n dur=$dur")
      if (n == 1L) assert(dur === 0L)
    }
    // per-user session ordinals are 1..k with no holes
    sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val seqs = rs.map(_.getAs[Long]("session_seq")).sorted
      assert(seqs === (1L to seqs.length).toArray, s"user $u ordinals: ${seqs.toSeq}")
    }
  }
}
