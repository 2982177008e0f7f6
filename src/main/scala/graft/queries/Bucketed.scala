package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.Det._

/** Bucketed co-located layouts — the 100 TB layout answer to per-query
  * shuffles (SURVEY.md §2.5; the in-code "bucket both sides on orderkey"
  * note on q04/q05 made real, then extended to the window family).
  *
  * Each table is written ONCE as a parquet table bucketed (and in-bucket
  * sorted) on its hot key; every subsequent join, window, or aggregate
  * clustered on that key plans with NO Exchange on the fact side — the
  * layout, not the query, pays the shuffle. On a cluster this is the
  * difference between re-shuffling ~100 TB per query and reading
  * co-located buckets; locally it is plan-verified (BucketedJoinSpec
  * asserts the exchange-free join subtree, PlanSnapshotSpec pins the
  * shuffle counts of every routed query).
  *
  * Layouts:
  *   - orders / lineitem on the order key → q04/q05/q41's fact⋈fact
  *     join runs exchange-free on both sides;
  *   - events on user_id → the whole per-user analytics family
  *     (latest-per-key, running windows, sessionization, funnel,
  *     cohort, as-of, gap-fill) reads its window/aggregate partitioning
  *     straight off the scan: HashPartitioning(user_id) satisfies every
  *     ClusteredDistribution whose keys include user_id, so windows
  *     PARTITION BY user_id and aggregates on (user_id, …) all skip
  *     their Exchange. events is additionally in-bucket sorted by
  *     (user_id, ts, event_id) — the canonical analytics order — for
  *     run-length-friendly compression, tight ts min/max pruning, and
  *     near-free window Sorts (Spark reports bucketed-scan ordering
  *     only under the planning-cost legacy.bucketedTableScan
  *     .outputOrdering conf, so the Sort operator stays but runs over
  *     already-sorted runs).
  *
  * The one-time layout build is idempotent per (session, sfDir) and
  * deliberately NOT part of the benched query cost beyond its first run
  * — exactly how a production warehouse amortizes bucketing.
  */
object Bucketed extends graft.QueryModule {

  private val Buckets = 16
  private val Db = "graft_bucketed"

  /** table → (bucket key, in-bucket sort columns). */
  private val specs: Map[String, (String, Seq[String])] = Map(
    "orders"   -> ("o_orderkey", Seq("o_orderkey")),
    "lineitem" -> ("l_orderkey", Seq("l_orderkey")),
    "events"   -> ("user_id",    Seq("user_id", "ts", "event_id")))

  private def tag(dir: String): String = graft.Tables.dirTag(dir)

  /** Idempotent one-time bucketed layout for one table of (sfDir),
    * bucketed/sorted per [[specs]]. The in-memory catalog does not
    * survive JVMs but the warehouse directory does — an orphaned
    * location (ours by construction) is removed before re-creating, or
    * Spark refuses the managed-table CTAS. */
  def ensureTable(s: SparkSession, dir: String, name: String): Unit = {
    val (key, sortCols) = specs(name)
    s.sql(s"CREATE DATABASE IF NOT EXISTS $Db")
    val table = s"$Db.${name}_${tag(dir)}"
    val loc = s.conf.get("spark.sql.warehouse.dir") + s"/$Db.db/${name}_${tag(dir)}"
    // layout validity is decided by the SOURCE's file listing; the
    // catalog entry is per JVM, so its absence also forces a rebuild
    graft.SourceStamp.ensure(s, loc, graft.SourceStamp.table(s, dir, name),
        valid = s.catalog.tableExists(table)) {
      if (s.catalog.tableExists(table)) s.sql(s"DROP TABLE $table")
      // repartition on the bucket key first: bucketBy writes one file
      // per (task, bucket), and the scan only reports its output as
      // SORTED when each bucket is a single file — without this, a
      // many-partition input would silently re-insert per-join Sorts
      t(s, dir, name).repartition(Buckets, col(key)).write.mode("overwrite")
        .format("parquet")
        .bucketBy(Buckets, key).sortBy(sortCols.head, sortCols.tail: _*)
        .saveAsTable(table)
    }
  }

  /** The q04/q05 join layout (kept as the BucketedJoinSpec entry point). */
  def ensureLayout(s: SparkSession, dir: String): Unit =
    Seq("orders", "lineitem").foreach(ensureTable(s, dir, _))

  /** The bucketed tables, as catalog reads (bucket metadata only flows
    * through the catalog, not raw parquet paths). */
  def orders(s: SparkSession, dir: String): DataFrame = {
    ensureTable(s, dir, "orders"); s.table(s"$Db.orders_${tag(dir)}")
  }
  def lineitem(s: SparkSession, dir: String): DataFrame = {
    ensureTable(s, dir, "lineitem"); s.table(s"$Db.lineitem_${tag(dir)}")
  }
  def events(s: SparkSession, dir: String): DataFrame = {
    ensureTable(s, dir, "events"); s.table(s"$Db.events_${tag(dir)}")
  }

  // ---------------------------------------------------------------------
  // q41: q04's fact⋈fact join over the bucketed layout — same result,
  // exchange-free join. Only the final low-cardinality agg exchanges
  // (a few bytes per priority class).
  // ---------------------------------------------------------------------
  val q41: Q = (s, dir) => {
    import s.implicits._
    orders(s, dir).join(lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        money(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }
  val q41Sql: String =
    s"""SELECT o_orderpriority,
       |  SUM(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) / 100.0 AS revenue,
       |  COUNT(*) AS n_items
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, Q] = Map("q41_bucketed_join" -> q41)
  val oracles: Map[String, String] = Map("q41_bucketed_join" -> q41Sql)
}
