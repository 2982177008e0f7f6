package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Det._
import graft.Tables.t

/** Batch sessionization over the `events` stream table — the batch twin
  * of Spark's streaming `session_window`, which SessionWindowSpec proves
  * equal to q52 (reference analog: the daily-batch side of the
  * pipeline's event analytics).
  *
  * Gap-based session semantics (industry default, e.g. GA4): a user's
  * events belong to one session while consecutive gaps are <= 1 h; the
  * first event (or a gap > 1 h) opens a new session.
  */
object Sessions extends graft.QueryModule {

  /** Session gap in microseconds (1 hour). Exact integer comparison on
    * epoch micros — no interval arithmetic to diverge across engines. */
  private[queries] val GapUs: Long = 3600L * 1000000L

  // ---------------------------------------------------------------------
  // q52: gap sessionization = two stacked window functions + one agg.
  //   lag(us)          -> gap to previous event        (window 1)
  //   sum(is_new) asc  -> running session ordinal      (window 2)
  //   groupBy(user_id, session_seq) -> per-session stats
  //
  // Scale: both windows share PARTITION BY user_id ORDER BY (us,
  // event_id), so Catalyst plans ONE Sort feeding both Window operators
  // — and over the user_id-bucketed events layout (Bucketed.events) the
  // partitioning comes off the SCAN, and the final aggregate reuses it
  // too (hash(user_id) satisfies the (user_id, session_seq) clustering:
  // equal keys co-locate), so the WHOLE query is a ZERO-shuffle plan
  // (asserted in SessionsBatchSpec). Nothing here is all-pairs and
  // session state never leaves the user's partition — at 100 TB the only
  // skew risk is a single hyperactive user_id, the same bound as any
  // per-user window, and the agg's map-side partials absorb it.
  //
  // Determinism: epoch-micro longs end-to-end (tsUs == DuckDB epoch_us
  // after Tables.t's nanos->micros truncation), exact integer gap
  // compare, cents-quantized value sum, (us, event_id) tie-break.
  // ---------------------------------------------------------------------
  val q52Bench: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Bucketed.events(s, dir)
      .select($"user_id", $"event_id", tsUs($"ts").as("us"),
        cents($"value").as("value_c"))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("is_new",
        when($"prev_us".isNull || $"us" - $"prev_us" > GapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"is_new").over(running))
      .groupBy($"user_id", $"session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min($"us").as("start_us"),
        max($"us").as("end_us"),
        money(sum($"value_c")).as("total_value"))
      .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
  }
  val q52: Q = (s, dir) => {
    import s.implicits._
    q52Bench(s, dir).orderBy($"user_id", $"session_seq")
  }
  val q52Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    ${sqlCents("value")} AS value_c
       |  FROM events),
       |gaps AS (
       |  SELECT *, lag(us, 1) OVER w AS prev_us,
       |    CASE WHEN lag(us, 1) OVER w IS NULL
       |              OR us - lag(us, 1) OVER w > $GapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sessions AS (
       |  SELECT *, SUM(is_new) OVER
       |    (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM gaps)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  COUNT(*) AS n_events,
       |  MIN(us) AS start_us, MAX(us) AS end_us,
       |  SUM(value_c) / 100.0 AS total_value,
       |  (MAX(us) - MIN(us)) // 1000000 AS duration_sec
       |FROM sessions
       |GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // ---------------------------------------------------------------------
  // q78: FUNNEL analysis — ordered-step conversion (view → click →
  // purchase, each step strictly AFTER the previous one for that user):
  // the product-analytics query every event store serves. Exact integer
  // ratios close the funnel row.
  //
  // Shape: ONE corpus pass. The aggregate-chain form (per-step min +
  // join + filter, re-planned per stage) executed the events scan SIX
  // times — stage k's subtree contains stages 1..k-1, and the three
  // stage counts re-planned the whole chain again (the --exec dump
  // showed 6 FileScans; AQE does not reuse the canonically-similar
  // stages, the q117/q86 lesson). Equivalent algebra on windows: with
  // t1/t2 the per-user earliest qualifying step times,
  //   click qualifies  ⟺ us > t1 ⟺ ∃ view strictly before it, and
  //   purchase qualifies ⟺ us > t2 ⟺ ∃ QUALIFYING click strictly
  //   before it (t2 = min qualifying-click us),
  // so "min over RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
  // (orderBy us — the range frame excludes same-us rows, preserving the
  // STRICT inequality) stages the funnel in two chained window columns
  // over ONE sort. Both windows share partition(user_id)+order(us): over
  // the user_id-bucketed layout the whole funnel is ZERO-exchange until
  // the final one-row rollup (guide §2.4 — remove shuffles AND scans
  // outright). Per-user step flags collapse map-side; count(flag)
  // counts non-nulls = the stage user-set sizes, unchanged.
  // ---------------------------------------------------------------------
  val q78: Q = (s, dir) => {
    import s.implicits._
    val before = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(Window.unboundedPreceding, -1)
    val staged = Bucketed.events(s, dir)
      .select($"user_id", $"event_type", tsUs($"ts").as("us"))
      .withColumn("v_before",
        min(when($"event_type" === "view", $"us")).over(before))
      .withColumn("cq",
        when($"event_type" === "click" && $"v_before".isNotNull, $"us"))
      .withColumn("c_before", min($"cq").over(before))
      .withColumn("pq",
        when($"event_type" === "purchase" && $"c_before".isNotNull, $"us"))
    staged.groupBy($"user_id").agg(
        max(when($"event_type" === "view", 1)).as("hv"),
        max(when($"cq".isNotNull, 1)).as("hc"),
        max(when($"pq".isNotNull, 1)).as("hp"))
      .agg(count($"hv").as("n_view"), count($"hc").as("n_click_after"),
        count($"hp").as("n_purchase_after"))
      .select($"n_view", $"n_click_after", $"n_purchase_after",
        ($"n_click_after".cast("double") / $"n_view").as("view_to_click"),
        ($"n_purchase_after".cast("double") / $"n_click_after").as("click_to_purchase"))
  }
  val q78Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_view,
      |  (SELECT COUNT(*) FROM s2) AS n_click_after,
      |  (SELECT COUNT(*) FROM s3) AS n_purchase_after,
      |  CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM s1) AS view_to_click,
      |  CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM s2) AS click_to_purchase""".stripMargin

  // ---------------------------------------------------------------------
  // q79: COHORT RETENTION — users grouped by first-seen day, counted on
  // each subsequent active day: the (cohort, days-since) matrix behind
  // every retention chart. The output is cohort×horizon-sized (tiny)
  // regardless of event volume.
  //
  // Shape: ONE corpus pass. The groupBy(user_id).min + join-back form
  // planned the (user_id, day) distinct subtree TWICE (build + probe —
  // two bucketed scans; no AQE stage reuse, the q117/q86 lesson); the
  // per-user first-seen day is the same min as a WINDOW over the
  // distinct activity (min(day) OVER (PARTITION BY user_id) ≡ the
  // joined groupBy.min — identical algebra, one pass). Over the
  // user_id-bucketed layout the distinct AND the window are
  // exchange-free off the scan, so the only shuffle left is the final
  // cohort-matrix rollup. That rollup counts plain rows: (user_id, day)
  // is distinct and day = cohort_day + days_since, so each user occurs
  // at most once per (cohort_day, days_since) group — count(*) ≡
  // countDistinct(user_id), without the distinct-rewrite's second
  // aggregate level.
  // ---------------------------------------------------------------------
  val q79: Q = (s, dir) => {
    import s.implicits._
    Bucketed.events(s, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .withColumn("cohort_day",
        min($"day").over(Window.partitionBy($"user_id")))
      .select($"cohort_day", datediff($"day", $"cohort_day").as("days_since"))
      .groupBy($"cohort_day", $"days_since")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day", $"days_since")
  }
  val q79Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |first AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
      |SELECT cohort_day,
      |  CAST(day - cohort_day AS INT) AS days_since,
      |  COUNT(DISTINCT a.user_id) AS n_users
      |FROM act a JOIN first USING (user_id)
      |GROUP BY cohort_day, days_since
      |ORDER BY cohort_day, days_since""".stripMargin

  // ---------------------------------------------------------------------
  // q87: event DEBOUNCE — collapse bursts of the same (user, event_type),
  // keeping the burst opener: an event is kept iff it is the user's
  // first of that type or arrives > 30 min after the PREVIOUS raw event
  // of that type (telemetry retry storms, double-clicks, duplicate
  // webhook deliveries — the ingest hygiene step before event counts
  // mean anything). Deliberately the lag-based variant (burst extends
  // while gaps stay <= 30 min) — the session-opener semantics of q52
  // applied as a filter, not the fixed-window-after-last-KEPT throttle,
  // which needs running state (that shape is the streaming operator
  // graft.streaming.Throttle, a row of StreamPrefixSpec).
  //
  // Scale: ONE window (lag) partitioned by (user_id, event_type) — over
  // the user_id-bucketed events layout HashPartitioning(user_id)
  // satisfies the (user_id, event_type) clustering, so the window needs
  // NO exchange, only an in-partition sort off the bucketed order; the
  // final per-type rollup is a 5-row map-side-combined aggregate. Same
  // zero-corpus-shuffle posture as q52, same single-hyperactive-user
  // skew bound.
  //
  // Determinism: exact integer gap compare on epoch micros, (us,
  // event_id) tie-break, cents-quantized value sums.
  // ---------------------------------------------------------------------
  private[queries] val DebounceUs: Long = 1800L * 1000000L

  val q87Bench: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"us", $"event_id")
    Bucketed.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", tsUs($"ts").as("us"),
        cents($"value").as("value_c"))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("kept",
        when($"prev_us".isNull || $"us" - $"prev_us" > DebounceUs, 1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"kept").as("n_kept"),
        money(sum(when($"kept" === 1L, $"value_c").otherwise(0L))).as("kept_value"))
  }
  val q87: Q = (s, dir) => {
    import s.implicits._
    q87Bench(s, dir).orderBy($"event_type")
  }
  val q87Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
       |    ${sqlCents("value")} AS value_c
       |  FROM events),
       |gaps AS (
       |  SELECT *, lag(us, 1) OVER w AS prev_us
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $DebounceUs
       |                 THEN 1 ELSE 0 END AS kept
       |  FROM gaps)
       |SELECT event_type, COUNT(*) AS n_events,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  SUM(CASE WHEN kept = 1 THEN value_c ELSE 0 END) / 100.0 AS kept_value
       |FROM flagged
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q52_sessionize" -> q52,
    "q78_funnel"     -> q78,
    "q79_cohort"     -> q79,
    "q87_debounce"   -> q87)
  val oracles: Map[String, String] = Map(
    "q52_sessionize" -> q52Sql,
    "q78_funnel"     -> q78Sql,
    "q79_cohort"     -> q79Sql,
    "q87_debounce"   -> q87Sql)

  /** The benched plan drops only the determinism-only global sort
    * (same split as [[Relational.benchVariants]]). */
  override val benchVariants: Map[String, Q] = Map(
    "q52_sessionize" -> q52Bench,
    "q87_debounce"   -> q87Bench)
}
