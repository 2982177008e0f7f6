package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Det._
import graft.plans.Mv

/** Materialized-view demo surface: the daily events pre-aggregate as a
  * REGISTERED view ([[graft.plans.Mv]]), plus two queries written
  * against the RAW events table that the rewriter answers from the
  * artifact instead.
  *
  * The artifact keeps values in EXACT integer cents (graft.Det), not
  * money doubles: a roll-up re-aggregates materialized values, and only
  * integer sums are associative — the same reasoning that makes every
  * oracle-checked aggregate in this repo integer-exact, applied to the
  * stored form of the view.
  *
  *  - q93 (EXACT hit): the query IS the view's shape → the plan becomes
  *    a pure projection of the artifact, no aggregation at all.
  *  - q94 (ROLL-UP): coarser grouping (month = a FUNCTION of the view's
  *    day grouping), a day-range filter (pushed onto the artifact), and
  *    count/sum/max re-aggregated per the distributive algebra
  *    (count→sum(n), sum→sum(sum_x), max→max(max_x)).
  *
  * Both run through [[Mv.rewrite]] (the explicit mode), so the DuckDB
  * oracle — which recomputes from RAW events — certifies the rewrite's
  * semantics end-to-end, and the plan-signature snapshot pins that the
  * certified plan really reads the artifact (one tiny scan, no raw
  * scan). At 100 TB this is the difference between a dashboard query
  * scanning 100 TB and scanning megabytes.
  */
object Materialized extends graft.QueryModule {

  private def tag(dir: String): String = graft.Tables.dirTag(dir)

  private[queries] def mvPath(s: SparkSession, dir: String): String =
    s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      s"/graft_mv/daily_${tag(dir)}"

  /** The view's defining query — the daily pre-aggregate in exact cents. */
  private[graft] def defining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.t(s, dir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_cents"),
        max(cents($"value")).as("max_cents"))
  }

  /** Build (once, source-stamped) and register the view. Maintenance at
    * scale is [[Incremental]]'s per-day dynamic-overwrite contract; here
    * the build is one overwrite because registration, not maintenance,
    * is what this module adds. */
  def ensureMv(s: SparkSession, dir: String): String = {
    val path = mvPath(s, dir)
    graft.SourceStamp.ensure(s, path, graft.SourceStamp.table(s, dir, "events")) {
      defining(s, dir).write.mode("overwrite").parquet(path)
    }
    Mv.register(s, s"daily_events_${tag(dir)}", defining(s, dir), path)
    path
  }

  // ---------------------------------------------------------------------
  // Incremental view maintenance from the change feed: when the RAW
  // events table is a txn table, the maintained daily aggregate never
  // recomputes — it FOLDS the row-level feed between the consumer's
  // last-applied raw version and the head into itself. Deletes subtract,
  // inserts add (count and exact cents are distributive, the same
  // algebra the query-side rewrite exploits); groups whose count reaches
  // zero are purged. Cost ∝ the files the raw commits touched (the
  // feed's contract), plus a keyed merge into the aggregate. The signed
  // delta and the changed view rows are each COLLECTED once: both hold
  // one row per touched (day, event_type) group, not per raw row, and
  // the merge and the emptied-group test read those driver-side rows.
  // ---------------------------------------------------------------------

  /** `df` collected once, plus a local relation over those rows, whose
    * reads never re-evaluate `df`'s plan. */
  private def collectLocal(df: DataFrame): (Array[Row], DataFrame) = {
    val rows = df.collect()
    (rows, df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
  }

  /** The feed folded to one signed `(day, event_type, dn, dcents)` row
    * per touched group, collected; None when it touched nothing. */
  private def groupDelta(s: SparkSession, feed: DataFrame): Option[DataFrame] = {
    import s.implicits._
    val sign = when($"_change_type" === "insert", lit(1L)).otherwise(lit(-1L))
    val (rows, delta) = collectLocal(feed
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"day", $"event_type")
      .agg(sum(sign * $"_n").as("dn"),
        sum(sign * $"_n" * cents($"value")).as("dcents")))
    if (rows.isEmpty) None else Some(delta)
  }

  /** Fold the raw table's feed (v1, v2] into the aggregate at `aggRoot`
    * (a txn table with the defining query's shape: day, event_type, n,
    * sum_cents, max-free — max is NOT subtractable, so a feed-maintained
    * view materializes only the invertible aggregates). The caller owns
    * the version cursor (v1 = last applied), as any CDC consumer does. */
  def maintainFromFeed(s: SparkSession, rawRoot: String, aggRoot: String,
      v1: Long, v2: Long): Unit = {
    import s.implicits._
    import graft.sinks.TxnTable
    groupDelta(s, TxnTable.changesBetween(s, rawRoot, v1, v2)).foreach { delta =>
      val cur = TxnTable.read(s, aggRoot)
        .select($"day".as("cday"), $"event_type".as("ctype"), $"n", $"sum_cents")
      // right join: ONLY groups the feed touched flow into the merge
      val changes = cur.join(delta,
          $"cday" === $"day" && $"ctype" === $"event_type", "right")
        .select($"day", $"event_type",
          (coalesce($"n", lit(0L)) + $"dn").as("n"),
          (coalesce($"sum_cents", lit(0L)) + $"dcents").as("sum_cents"))
      val (changed, local) = collectLocal(changes)
      TxnTable.mergeInto(s, aggRoot, local, keyCols = Seq("day", "event_type"))
      // a group the feed emptied is a DELETE on the view, not a zero row
      if (changed.exists(_.getAs[Long]("n") == 0L))
        TxnTable.deleteWhere(s, aggRoot, $"n" === 0L)
    }
  }

  // ---------------------------------------------------------------------
  // q93: exact hit — the raw-table query matches the view's full shape;
  // the rewritten plan is a projection of the artifact (no aggregation).
  // ---------------------------------------------------------------------
  val q93Bench: Q = (s, dir) => {
    ensureMv(s, dir)
    Mv.rewrite(s, defining(s, dir))
  }
  val q93: Q = (s, dir) => {
    import s.implicits._
    q93Bench(s, dir).orderBy($"day", $"event_type")
  }
  val q93Sql: String =
    s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       |  COUNT(*) AS n,
       |  CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents,
       |  MAX(${sqlCents("value")}) AS max_cents
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q94: roll-up — month (a function of the view's day grouping), a
  // day-range filter moved onto the artifact, distributive re-aggregation.
  // ---------------------------------------------------------------------
  private val FromDay = "2024-01-08"

  val q94Bench: Q = (s, dir) => {
    import s.implicits._
    ensureMv(s, dir)
    val raw = graft.Tables.t(s, dir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .filter($"day" >= FromDay)
      .groupBy(substring($"day", 1, 7).as("month"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(cents($"value")).as("sum_cents"),
        max(cents($"value")).as("max_cents"))
    Mv.rewrite(s, raw)
  }
  val q94: Q = (s, dir) => {
    import s.implicits._
    q94Bench(s, dir).orderBy($"month", $"event_type")
  }
  val q94Sql: String =
    s"""SELECT substr(strftime(date_trunc('day', ts), '%Y-%m-%d'), 1, 7) AS month,
       |  event_type,
       |  COUNT(*) AS n,
       |  CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents,
       |  MAX(${sqlCents("value")}) AS max_cents
       |FROM events
       |WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') >= '$FromDay'
       |GROUP BY 1, 2
       |ORDER BY month, event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q93_mv_exact"  -> q93,
    "q94_mv_rollup" -> q94)
  val oracles: Map[String, String] = Map(
    "q93_mv_exact"  -> q93Sql,
    "q94_mv_rollup" -> q94Sql)

  /** Bench-time override minus the determinism-only global sort. */
  override val benchVariants: Map[String, Q] = Map(
    "q93_mv_exact"  -> q93Bench,
    "q94_mv_rollup" -> q94Bench)
}
