package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Det._
import graft.sinks.TxnTable

/** The daily-maintenance pipeline of q56, rebuilt on the transactional
  * log ([[graft.sinks.TxnTable]]) — the production shape of "a scheduled
  * job appends a day": every arrival is an ATOMIC versioned commit,
  * readers are snapshot-isolated against in-flight writers, botched runs
  * roll forward by re-committing (never by mutating files), and the
  * periodic compaction is itself just another commit that in-flight
  * readers don't see.
  *
  * The build (once per dataset, idempotent on the on-disk log):
  *   v1  overwrite  — history bootstrap (all days but the last two)
  *   v2  append     — day n-1 (a real incremental arrival)
  *   v3  append     — day n
  *   v4  compact    — same rows, fewer files (time travel to v1..v3 intact)
  *
  * q82 then reads the LATEST snapshot and must hash-match a from-scratch
  * DuckDB aggregate over the raw source — maintenance == recompute,
  * the same contract q56 proves for dynamic-partition maintenance,
  * here proven for log-committed maintenance. TxnTableSpec covers the
  * log mechanics themselves (atomicity, conflict, travel, vacuum).
  */
object Txn extends graft.QueryModule {

  /** One build-once txn table of this module: its name, spelled once,
    * the source table its stamp covers, and where its log lives (under
    * the warehouse's `graft_txn/`, or as a table of the SQL catalog
    * `graft_cat`, addressed by that name). */
  private[graft] final case class Art(prefix: String, source: String,
                                      inCatalog: Boolean) {
    def name(dir: String): String = s"${prefix}_${graft.Tables.dirTag(dir)}"
    def root(s: SparkSession, dir: String): String =
      if (inCatalog) s"${sqlCatWarehouse(s)}/db/${name(dir)}"
      else s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        s"/graft_txn/${name(dir)}"
    /** Builds the table once per source stamp ([[graft.SourceStamp.ensure]]);
      * `build` gets the root and the name. Returns the root. */
    def ensure(s: SparkSession, dir: String)(build: (String, String) => Unit): String = {
      val root = this.root(s, dir)
      graft.SourceStamp.ensure(s, root, graft.SourceStamp.table(s, dir, source))(
        build(root, name(dir)))
      root
    }
  }
  private val Daily = Art("daily", "events", inCatalog = false)
  private val Raw = Art("events_raw", "events", inCatalog = false)
  private val DailyMerge = Art("daily_merge", "events", inCatalog = false)
  // the three tables built with deleteKeysMor carry a `_pos` suffix:
  // builds older than position-only deletes left equality-delete
  // manifests under the bare names, which no longer load (q130's
  // table is `_live`: builds before its delete ids moved into every
  // scale's user-id range committed no delete)
  private val Mor = Art("events_mor_pos", "events", inCatalog = false)
  private val DailyBranch = Art("daily_branch", "events", inCatalog = false)
  private val SqlUp = Art("events_sqlup", "events", inCatalog = true)
  private val Maint = Art("events_maint_pos", "events", inCatalog = true)
  private val Ren = Art("events_ren", "events", inCatalog = true)
  private val Rep = Art("daily_rep", "events", inCatalog = true)
  private val PComp = Art("events_pcomp_live", "events", inCatalog = true)
  private val StrDocs = Art("docs_str", "documents", inCatalog = true)
  private val MorUp = Art("events_morup", "events", inCatalog = true)
  private val UserCounts = Art("user_counts", "events", inCatalog = true)
  private val ConsDocs = Art("docs_cons", "documents", inCatalog = true)
  private val PosFold = Art("events_posfold", "events", inCatalog = true)
  private[graft] val artifacts: Seq[Art] = Seq(Daily, Raw, DailyMerge, Mor,
    DailyBranch, SqlUp, Maint, Ren, Rep, PComp, StrDocs, MorUp, UserCounts,
    ConsDocs, PosFold)

  /** One day-slice of the daily aggregate (same shape as q56's). */
  private def dayAgg(s: SparkSession, dir: String, pred: org.apache.spark.sql.Column): DataFrame = {
    import s.implicits._
    graft.Tables.t(s, dir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .filter(pred)
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"), money(sum(cents($"value"))).as("total_value"))
  }

  /** Idempotent 4-commit build; returns the table root. Rebuilds from
    * scratch when the SOURCE was regenerated (graft.SourceStamp). */
  def ensureTable(s: SparkSession, dir: String): String =
    Daily.ensure(s, dir) { (root, _) =>
      import s.implicits._
      val days = Incremental.sourceDays(s, dir)
      val (hist, tail) = days.splitAt(math.max(1, days.size - 2))
      TxnTable.overwrite(s, root, dayAgg(s, dir, $"day".isin(hist: _*)))
      tail.foreach(d => TxnTable.append(s, root, dayAgg(s, dir, $"day" === d)))
      TxnTable.compactTxn(s, root, targetFiles = 1)
    }

  // ---------------------------------------------------------------------
  // q82: latest txn snapshot == from-scratch recompute. The bench form
  // is the pure snapshot read (log resolve + pruned parquet scan of the
  // manifest's file list); the global orderBy exists only for the
  // oracle's ordered hash-compare (the Relational.q17 split).
  // ---------------------------------------------------------------------
  val q82Bench: Q = (s, dir) => TxnTable.read(s, ensureTable(s, dir))
  val q82: Q = (s, dir) => {
    import s.implicits._
    q82Bench(s, dir).orderBy($"day", $"event_type")
  }
  val q82Sql: String =
    s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q89: copy-on-write DELETE on the txn table — the GDPR erasure
  // pipeline end-to-end: a raw-events txn table range-partitioned on
  // user_id (so the manifest's per-file stats give disjoint user
  // ranges), a user-range delete that rewrites ONLY the stats-
  // overlapping files (TxnTableSpec proves the carried files are
  // untouched by path identity), then an aggregate over the surviving
  // snapshot that must hash-match DuckDB recomputing from the raw
  // source WITH the deletion predicate applied — erased means erased,
  // and nothing else moved.
  // ---------------------------------------------------------------------
  private[queries] val DelLo = 101L
  private[queries] val DelHi = 200L

  /** Idempotent build: raw events range-partitioned on user_id with
    * manifest stats, then the v2 delete commit. Rebuilds when the
    * source was regenerated. */
  private[queries] def ensureDeleted(s: SparkSession, dir: String): String =
    Raw.ensure(s, dir) { (root, _) =>
      import s.implicits._
      // range partitioning gives files with disjoint user_id spans, so
      // the delete's manifest pruning has something to skip — the
      // same write-side clustering any stats-pruned table needs
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      TxnTable.deleteWhere(s, root,
        $"user_id".between(DelLo, DelHi), Some((DelLo, DelHi)))
    }

  val q89Bench: Q = (s, dir) => {
    import s.implicits._
    TxnTable.read(s, ensureDeleted(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q89: Q = (s, dir) => {
    import s.implicits._
    q89Bench(s, dir).orderBy($"event_type")
  }
  val q89Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |WHERE user_id NOT BETWEEN $DelLo AND $DelHi
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q90: MERGE INTO as a CDC correction — the upsert every warehouse
  // runs when a late/partial load is discovered: v1 bootstraps the
  // daily aggregate with the LAST day computed from only half its
  // events (a simulated partial load), v2 repairs it with one
  // `TxnTable.mergeInto` keyed on (day, event_type) — updates replace
  // the short rows, inserts add (day, type) pairs the partial load
  // missed entirely. The oracle recomputes from scratch: after the
  // merge, corrected == recomputed, hash-exact. TxnTableSpec proves the
  // file-skipping mechanics; this proves end-to-end repair semantics.
  // ---------------------------------------------------------------------
  private[queries] def ensureMerged(s: SparkSession, dir: String): String =
    DailyMerge.ensure(s, dir) { (root, _) =>
      import s.implicits._
      val days = Incremental.sourceDays(s, dir)
      val last = days.last
      // partial bootstrap: the last day aggregated from only half its
      // events (even event_ids) — the corruption the merge repairs
      val partial = graft.Tables.t(s, dir, "events")
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
        .filter($"day" =!= last || $"event_id" % 2 === 0)
        .groupBy($"day", $"event_type")
        .agg(count(lit(1)).as("n"), money(sum(cents($"value"))).as("total_value"))
      TxnTable.overwrite(s, root, partial)
      TxnTable.mergeInto(s, root, dayAgg(s, dir, $"day" === last),
        keyCols = Seq("day", "event_type"))
    }

  val q90Bench: Q = (s, dir) => TxnTable.read(s, ensureMerged(s, dir))
  val q90: Q = (s, dir) => {
    import s.implicits._
    q90Bench(s, dir).orderBy($"day", $"event_type")
  }
  // corrected-by-merge must equal recomputed-from-scratch: the oracle is
  // deliberately q82's full recompute
  val q90Sql: String = q82Sql

  // ---------------------------------------------------------------------
  // q98: CHANGE DATA FEED of the q90 repair — the row-level diff a
  // downstream consumer applies to catch up across the merge commit,
  // computed by TxnTable.changesBetween from ONLY the files the merge
  // touched (carried files cancel by path and are never read). The
  // oracle recomputes both table states from the raw source (partial
  // load vs corrected) and diffs them with EXCEPT — feed == state diff,
  // the defining equation of CDC.
  // ---------------------------------------------------------------------
  private val LastDay = "2024-01-30" // both testdata SFs end on this day

  val q98Bench: Q = (s, dir) => {
    val root = ensureMerged(s, dir)
    val vs = TxnTable.versions(s, root)
    TxnTable.changesBetween(s, root, vs.head, vs.last)
  }
  val q98: Q = (s, dir) => {
    import s.implicits._
    q98Bench(s, dir).orderBy($"_change_type", $"day", $"event_type")
  }
  val q98Sql: String =
    s"""WITH e AS (
       |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       |    event_type, event_id, value
       |  FROM events),
       |p AS (
       |  SELECT day, event_type, COUNT(*) AS n,
       |    SUM(${sqlCents("value")}) / 100.0 AS total_value
       |  FROM e WHERE day <> '$LastDay' OR event_id % 2 = 0
       |  GROUP BY 1, 2),
       |f AS (
       |  SELECT day, event_type, COUNT(*) AS n,
       |    SUM(${sqlCents("value")}) / 100.0 AS total_value
       |  FROM e GROUP BY 1, 2),
       |diff AS (
       |  SELECT *, 'insert' AS _change_type
       |  FROM (SELECT * FROM f EXCEPT SELECT * FROM p)
       |  UNION ALL
       |  SELECT *, 'delete' AS _change_type
       |  FROM (SELECT * FROM p EXCEPT SELECT * FROM f))
       |SELECT day, event_type, n, total_value, _change_type,
       |  CAST(1 AS BIGINT) AS _n
       |FROM diff
       |ORDER BY _change_type, day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q119: MERGE-ON-READ delete end-to-end — q89's GDPR erasure at the
  // opposite point of the delete cost model: [[TxnTable.deleteKeysMor]]
  // commits ONLY position tombstones of the deleted users' rows (zero
  // data rewrite — path identity is TxnMorDeleteSpec's claim; the
  // ORACLE here certifies the merged READ), and the aggregate over the
  // read-time position mask must hash-match DuckDB recomputing from
  // the raw source with the same keys removed. Erased means erased on
  // the MoR path too — BEFORE any compaction folds the deletes in.
  // ---------------------------------------------------------------------
  /** Idempotent build: raw events with manifest stats, then the v2
    * MoR-delete commit of every 13th user's id. */
  private[queries] def ensureMorDeleted(s: SparkSession, dir: String): String =
    Mor.ensure(s, dir) { (root, _) =>
      import s.implicits._
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events").repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      TxnTable.deleteKeysMor(s, root, "user_id",
        graft.Tables.t(s, dir, "events")
          .filter($"user_id" % 13 === 0).select($"user_id").distinct())
    }

  val q119Bench: Q = (s, dir) => {
    import s.implicits._
    TxnTable.read(s, ensureMorDeleted(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q119: Q = (s, dir) => {
    import s.implicits._
    q119Bench(s, dir).orderBy($"event_type")
  }
  val q119Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |WHERE user_id % 13 <> 0
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q122: METADATA-ONLY AGGREGATES — COUNT(*)/MIN/MAX of the q89 table
  // answered from the MANIFEST alone ([[TxnTable.metaCount]] /
  // [[TxnTable.metaMinMax]]): per-file row counts and range stats fold
  // on the driver, zero data reads, zero Spark jobs. The operational
  // primitive every production format serves (Iceberg manifests / the
  // Delta log answer these without touching data) — at 100 TB a row
  // count or a key watermark must cost manifest IO, not a million-file
  // scan. The oracle recomputes all three FROM THE RAW SOURCE with the
  // deletion predicate applied: the manifest's metadata must equal what
  // scanning would have returned, through the overwrite AND the v2
  // copy-on-write delete's partial file rewrites.
  // ---------------------------------------------------------------------
  val q122: Q = (s, dir) => {
    import s.implicits._
    val root = ensureDeleted(s, dir)
    // exact-or-refuse: .get fails loud if the manifest cannot certify
    val n = TxnTable.metaCount(s, root).get
    val (lo, hi) = TxnTable.metaMinMax(s, root, "user_id").get
    Seq((n, lo, hi)).toDF("n", "lo", "hi")
  }
  val q122Sql: String =
    s"""SELECT COUNT(*) AS n, MIN(user_id) AS lo, MAX(user_id) AS hi
       |FROM events
       |WHERE user_id NOT BETWEEN $DelLo AND $DelHi""".stripMargin

  // ---------------------------------------------------------------------
  // q123: RUNTIME JOIN PRUNING — the manifest-level dynamic partition
  // pruning analog ([[TxnTable.readSemiPruned]]): a dimension filter
  // (BUILDING-segment customers with high balances, keys clustered
  // under 100) selects ~45 probe keys; the fact side reads ONLY the
  // files whose recorded user_id range/bloom may contain one of them
  // (the q89 table is range-partitioned on user_id, so most files are
  // provably disjoint and never open), then a broadcast semi-join does
  // the exact membership. At 100 TB this is the star-join fast path:
  // driver-side manifest math prunes a million-file fact table before
  // a single data byte moves. The oracle is the plain IN-subquery the
  // pruned plan must exactly equal.
  // ---------------------------------------------------------------------
  private def probeKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.t(s, dir, "customer")
      .filter($"c_custkey" < 100 && $"c_acctbal" > 5000)
      .select($"c_custkey")
  }
  val q123Bench: Q = (s, dir) => {
    import s.implicits._
    TxnTable.readSemiPruned(s, ensureDeleted(s, dir), "user_id",
        probeKeys(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q123: Q = (s, dir) => {
    import s.implicits._
    q123Bench(s, dir).orderBy($"event_type")
  }
  val q123Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |WHERE user_id NOT BETWEEN $DelLo AND $DelHi
       |  AND user_id IN (SELECT c_custkey FROM customer
       |                  WHERE c_custkey < 100 AND c_acctbal > 5000)
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q124: BRANCH + FAST-FORWARD end-to-end — the integration-branch
  // deployment flow ([[TxnTable.createBranch]]/`appendToBranch`/
  // `fastForward`): v1 bootstraps the daily aggregate WITHOUT its final
  // two days, a branch takes both day-appends outside the main version
  // line (main still serves the bootstrap while the branch loads), and
  // a clean fast-forward publishes the branch head as main v2. The
  // oracle is deliberately q82's full recompute: content that traveled
  // main -> branch -> branch -> fast-forward must hash-equal the
  // from-scratch aggregate — branch isolation and the pointer-advance
  // publish change WHEN readers see data, never WHAT. TxnBranchSpec
  // proves the ref mechanics (isolation, divergence refusal, vacuum
  // pinning); this certifies the values end-to-end.
  // ---------------------------------------------------------------------
  private[queries] def ensureBranched(s: SparkSession, dir: String): String =
    DailyBranch.ensure(s, dir) { (root, _) =>
      import s.implicits._
      val days = Incremental.sourceDays(s, dir)
      val (hist, tail) = days.splitAt(math.max(1, days.size - 2))
      TxnTable.overwrite(s, root, dayAgg(s, dir, $"day".isin(hist: _*)))
      TxnTable.createBranch(s, root, "load")
      tail.foreach(d =>
        TxnTable.appendToBranch(s, root, "load", dayAgg(s, dir, $"day" === d)))
      TxnTable.fastForward(s, root, "load")
      TxnTable.dropBranch(s, root, "load")
    }

  val q124Bench: Q = (s, dir) => TxnTable.read(s, ensureBranched(s, dir))
  val q124: Q = (s, dir) => {
    import s.implicits._
    q124Bench(s, dir).orderBy($"day", $"event_type")
  }
  // branched-and-fast-forwarded must equal recomputed-from-scratch
  val q124Sql: String = q82Sql

  // ---------------------------------------------------------------------
  // q125: the DataSourceV2 READ PATH — the same daily table as q82,
  // read through `spark.read.format("graft-txn")` instead of the Scala
  // API ([[graft.sources.GraftTxnSource]]): snapshot resolution, schema
  // pinning, and manifest-level file skipping all ride Spark's own
  // vectorized parquet DSv2 machinery. Must hash-match q82's oracle —
  // the catalog surface changes HOW the table is addressed, never WHAT
  // it contains. GraftTxnSourceSpec/GraftCatalogSpec prove pushdown,
  // time travel and SQL-by-name; this certifies the values end-to-end
  // at the driver's gate.
  // ---------------------------------------------------------------------
  val q125Bench: Q = (s, dir) =>
    s.read.format("graft-txn").load(ensureTable(s, dir))
  val q125: Q = (s, dir) => {
    import s.implicits._
    q125Bench(s, dir).orderBy($"day", $"event_type")
  }
  // DSv2-read must equal recomputed-from-scratch (q82's contract)
  val q125Sql: String = q82Sql

  // ---------------------------------------------------------------------
  // q126: SQL UPDATE through the DataSourceV2 ROW-LEVEL-OPERATION
  // framework ([[graft.sources.GraftRowLevelOperation]]) — the write
  // half of the catalog surface: a raw-events txn table range-
  // partitioned on user_id is registered in the graft catalog and
  // repaired with one `UPDATE … WHERE user_id BETWEEN lo AND hi`
  // statement. Spark rewrites that to a group-based copy-on-write
  // ReplaceData plan; the runtime group filter collects the matching
  // user_ids and the manifest's per-file ranges prune the rewrite to
  // the stats-overlapping files (GraftRowLevelSpec proves the carry by
  // file identity). The oracle recomputes from the raw source with the
  // update applied as a CASE — SQL-updated must equal recomputed,
  // hash-exact, the same contract as q89's delete.
  // ---------------------------------------------------------------------
  private[queries] val UpLo = 5L
  private[queries] val UpHi = 8L

  /** Session-scoped catalog over this session's warehouse (same
    * layout-is-identity contract as any graft catalog: the table name
    * IS the txn root path). */
  private def sqlCatWarehouse(s: SparkSession): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      "/graft_sqlcat"
    s.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
    wh
  }

  private[queries] def ensureSqlUpdated(s: SparkSession, dir: String): String =
    SqlUp.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      // range clustering on the update key: the row-level rewrite's
      // group filter needs disjoint per-file spans to have anything
      // to carry (same write-side discipline as q89's delete)
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      s.sql(s"UPDATE graft_cat.db.$name SET value = value * 2 " +
        s"WHERE user_id BETWEEN $UpLo AND $UpHi")
    }

  val q126Bench: Q = (s, dir) => {
    import s.implicits._
    TxnTable.read(s, ensureSqlUpdated(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q126: Q = (s, dir) => {
    import s.implicits._
    q126Bench(s, dir).orderBy($"event_type")
  }
  // doubling is EXACT in binary floating point, so both engines compute
  // round(2v·100) bit-identically under the integer-cents scheme
  val q126Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  SUM(CASE WHEN user_id BETWEEN $UpLo AND $UpHi
       |      THEN ${sqlCents("value * 2")}
       |      ELSE ${sqlCents("value")} END) / 100.0 AS total_value
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q127: the SQL MAINTENANCE LIFECYCLE — `CALL graft_cat.system.*`
  // ([[graft.sources.GraftProcedures]]) driving the full operational
  // sequence a production table lives through, from pure SQL: a raw
  // events table takes a merge-on-read key delete, then
  // `CALL compact_deletes` folds the delete files, `CALL compact(...,
  // sort_cols => 'user_id')` re-clusters the survivors into disjoint
  // key spans, and `CALL vacuum(retain_versions => 1, grace_ms => 0)`
  // drops every older manifest and unreferenced file. The oracle
  // recomputes from the RAW source with the delete as a WHERE — three
  // maintenance commits and a retention sweep must change HOW the table
  // is laid out, never WHAT it contains, hash-exact. The vacuum is the
  // sharp edge: if retention dropped a still-referenced file, this
  // query is the one that catches it at the driver's gate.
  // ---------------------------------------------------------------------
  private[queries] val MaintLo = 3L
  private[queries] val MaintHi = 6L

  private[queries] def ensureMaintained(s: SparkSession, dir: String): String =
    Maint.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      TxnTable.deleteKeysMor(s, root, "user_id",
        s.range(MaintLo, MaintHi + 1).toDF("user_id"))
      s.sql(s"CALL graft_cat.system.compact_deletes('db.$name')")
      s.sql(s"CALL graft_cat.system.compact('db.$name', " +
        "target_files => 4, sort_cols => 'user_id')")
      s.sql(s"CALL graft_cat.system.vacuum('db.$name', " +
        "retain_versions => 1, grace_ms => 0)")
    }

  val q127Bench: Q = (s, dir) => {
    import s.implicits._
    val name = Maint.name(dir)
    ensureMaintained(s, dir)
    // read BY NAME through the catalog: the lifecycle's product is an
    // ordinary SQL table
    s.sql(s"SELECT * FROM graft_cat.db.$name")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q127: Q = (s, dir) => {
    import s.implicits._
    q127Bench(s, dir).orderBy($"event_type")
  }
  // maintained-and-vacuumed must equal recomputed-with-the-delete
  val q127Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |WHERE user_id NOT BETWEEN $MaintLo AND $MaintHi
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q128: the SCHEMA-EVOLUTION LIFECYCLE — metadata-only RENAME/DROP
  // COLUMN through the column mapping ([[graft.sinks.ColumnMapping]]:
  // physical names freeze at birth, drops tombstone), then a SQL DELETE
  // addressing the RENAMED key. Every step is DDL/DML by name:
  //   ALTER TABLE … RENAME COLUMN user_id TO uid / value TO amount
  //   ALTER TABLE … DROP COLUMN props
  //   DELETE FROM … WHERE uid BETWEEN lo AND hi
  // The DELETE is the sharp edge: its pushed predicate names `uid`, the
  // manifest's stats live under the frozen physical `user_id`, and the
  // translation + derived bounds must still skip the disjoint files.
  // The oracle recomputes from the RAW source under the ORIGINAL names
  // with the delete as a WHERE — three renames/drops and a pruned
  // rewrite must change how columns are ADDRESSED, never what the table
  // CONTAINS, hash-exact at the driver's gate.
  // ---------------------------------------------------------------------
  private[queries] val RenLo = 11L
  private[queries] val RenHi = 14L

  private[queries] def ensureRenamed(s: SparkSession, dir: String): String =
    Ren.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      s.sql(s"ALTER TABLE graft_cat.db.$name RENAME COLUMN user_id TO uid")
      s.sql(s"ALTER TABLE graft_cat.db.$name RENAME COLUMN value TO amount")
      s.sql(s"ALTER TABLE graft_cat.db.$name DROP COLUMN props")
      s.sql(s"DELETE FROM graft_cat.db.$name " +
        s"WHERE uid BETWEEN $RenLo AND $RenHi")
    }

  val q128Bench: Q = (s, dir) => {
    import s.implicits._
    val name = Ren.name(dir)
    ensureRenamed(s, dir)
    s.sql(s"SELECT * FROM graft_cat.db.$name")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        money(sum(cents($"amount"))).as("total_amount"))
  }
  val q128: Q = (s, dir) => {
    import s.implicits._
    q128Bench(s, dir).orderBy($"event_type")
  }
  // renamed-dropped-and-deleted must equal recomputed under the raw names
  val q128Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_amount
       |FROM events
       |WHERE user_id NOT BETWEEN $RenLo AND $RenHi
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q129: DIVERGED-BRANCH REPLAY ACROSS A RENAME — the cherry-pick
  // recovery flow under the column mapping, end-to-end from SQL: the
  // daily aggregate bootstraps WITHOUT its last two days, a branch
  // takes both day-loads outside the main line, and while the branch
  // loads, main EVOLVES — `ALTER TABLE … RENAME COLUMN total_value TO
  // revenue` commits a mapped schema past the fork. fastForward is now
  // impossible (diverged); `CALL graft_cat.system.replay_branch`
  // re-commits each branch day onto the moved main, composing the
  // branch's PRE-rename schema by frozen physical identity
  // ([[TxnTable.composeReplaySchema]]): the replayed days surface under
  // main's new name, hash-exact. The oracle is q82's from-scratch
  // recompute with the aggregate aliased to the post-rename name —
  // divergence recovery and a metadata-only rename change how content
  // TRAVELS and is ADDRESSED, never what it IS.
  // ---------------------------------------------------------------------
  private[queries] def ensureReplayRenamed(s: SparkSession, dir: String): String =
    Rep.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      val days = Incremental.sourceDays(s, dir)
      val (hist, tail) = days.splitAt(math.max(1, days.size - 2))
      TxnTable.overwrite(s, root, dayAgg(s, dir, $"day".isin(hist: _*)))
      s.sql(s"CALL graft_cat.system.create_branch('db.$name', 'load')")
      tail.foreach(d =>
        TxnTable.appendToBranch(s, root, "load", dayAgg(s, dir, $"day" === d)))
      // main diverges by EVOLVING: a mapped-schema commit past the fork
      s.sql(s"ALTER TABLE graft_cat.db.$name " +
        "RENAME COLUMN total_value TO revenue")
      if (tail.nonEmpty)
        s.sql(s"CALL graft_cat.system.replay_branch('db.$name', 'load')")
    }

  val q129Bench: Q = (s, dir) => {
    val name = Rep.name(dir)
    ensureReplayRenamed(s, dir)
    s.sql(s"SELECT * FROM graft_cat.db.$name")
  }
  val q129: Q = (s, dir) => {
    import s.implicits._
    q129Bench(s, dir).orderBy($"day", $"event_type")
  }
  // replayed-across-the-rename must equal recomputed-from-scratch,
  // surfaced under the post-rename name
  val q129Sql: String =
    s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS revenue
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q130: PARTIAL COMPACTION under live MoR deletes — the 100 TB
  // maintenance form ([[TxnTable.compactWhere]]), end-to-end from SQL:
  // a raw events table range-partitioned on user_id takes a
  // merge-on-read key delete, then `CALL compact_where(col =>
  // 'user_id', lo, hi, sort_cols)` rewrites ONLY the stats-overlapping
  // files — the rewritten region sheds its dead rows physically, the
  // out-of-range files carry by path identity, and the delete files
  // STAY for the carried region (their positions name only the files
  // they were resolved against, so they mask nothing rewritten). The
  // oracle recomputes from the RAW source with the delete as a WHERE:
  // a scoped rewrite must change LAYOUT, never content — losing the
  // mask on a carried file, shedding the wrong rows, or double-
  // counting a carried-and-rewritten file all fail the hash.
  // ---------------------------------------------------------------------
  // inside every scale's user ids (sf0.001 holds 0–14), and far enough
  // up that the compact_where range [PcLo, PcHi + 40] leaves the
  // low-id files carried
  private[queries] val PcLo = 10L
  private[queries] val PcHi = 12L

  private[graft] def ensurePartialCompacted(s: SparkSession, dir: String): String =
    PComp.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      TxnTable.deleteKeysMor(s, root, "user_id",
        s.range(PcLo, PcHi + 1).toDF("user_id"))
      s.sql(s"CALL graft_cat.system.compact_where('db.$name', 2, " +
        s"col => 'user_id', lo => $PcLo, hi => ${PcHi + 40}, " +
        "sort_cols => 'user_id')")
    }

  val q130Bench: Q = (s, dir) => {
    import s.implicits._
    // the head deliberately carries LIVE MoR deletes (that is the
    // sharp edge) — read through the merging path API
    TxnTable.read(s, ensurePartialCompacted(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q130: Q = (s, dir) => {
    import s.implicits._
    q130Bench(s, dir).orderBy($"event_type")
  }
  // partially-compacted-with-live-deletes must equal recomputed-with-
  // the-delete
  val q130Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |WHERE user_id NOT BETWEEN $PcLo AND $PcHi
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q131: STRING-KEYED FILE SKIPPING — typed manifest bounds for the
  // predicate shape curation pipelines actually run first (language /
  // category / host, the reference's own `city` filter,
  // weather_etl.py:145): a documents txn table range-clustered by
  // `lang` records TRUNCATED STRING BOUNDS per file
  // ([[graft.functions.Utf8Prefix64]] — order-preserving prefix
  // encoding, incremented upper, Iceberg's lower/upper-bound
  // semantics) plus an xxhash64 bloom on `source`; the SQL-by-name
  // read pushes `WHERE lang = 'en'` into the manifest file index and
  // plans ONLY the 'en'-span files (TxnStringStatsSpec proves the
  // partition shrink; this certifies values at the driver's gate —
  // before this, a string statsCol recorded NOTHING and every such
  // probe scanned the full manifest while looking indexed).
  // ---------------------------------------------------------------------
  private[queries] def ensureStrDocs(s: SparkSession, dir: String): String =
    StrDocs.ensure(s, dir) { (root, _) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      // range clustering on the STRING key gives files disjoint lang
      // spans — the layout discipline that turns recorded bounds into
      // an index (same as q89's user_id clustering, on a string)
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "documents")
          .repartitionByRange(5, $"lang"),
        statsCols = Seq("lang"), bloomCols = Seq("source"))
    }

  val q131Bench: Q = (s, dir) => {
    val name = StrDocs.name(dir)
    ensureStrDocs(s, dir)
    s.sql(s"SELECT source, COUNT(*) AS n, SUM(n_chars) AS chars " +
      s"FROM graft_cat.db.$name WHERE lang = 'en' GROUP BY source")
  }
  val q131: Q = (s, dir) => {
    import s.implicits._
    q131Bench(s, dir).orderBy($"source")
  }
  val q131Sql: String =
    """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents
      |WHERE lang = 'en'
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q132: POSITION DELETES — merge-on-read SQL UPDATE
  // ([[graft.sources.GraftPosDeltaOperation]], Spark's SupportsDelta
  // framework): the same repaired-events shape as q126, but the table
  // opts into `write.rowlevel.mode = merge-on-read`, so the UPDATE
  // commits positional tombstones + a small insert file and EVERY
  // prior data file carries by reference — the build asserts path
  // identity (byte-identical data files) and that the head carries
  // live position-delete files; the read then merges the tombstones
  // and must hash-match DuckDB recomputing the update from the raw
  // source. At 100 TB this is the difference between a kilobyte
  // tombstone and rewriting every terabyte file a 10-row repair
  // touches (q126 measures the CoW regime; the table property picks
  // per workload).
  // ---------------------------------------------------------------------
  private[queries] def ensureMorUpdated(s: SparkSession, dir: String): String =
    MorUp.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      TxnTable.setTableProperty(s, root, TxnTable.RowLevelModeKey,
        "merge-on-read")
      val before = TxnTable.latest(s, root).get
      s.sql(s"UPDATE graft_cat.db.$name SET value = value * 2 " +
        s"WHERE user_id BETWEEN $UpLo AND $UpHi")
      val after = TxnTable.latest(s, root).get
      // the whole point, asserted at build time: zero data rewrite
      require(before.files.forall(after.files.contains) &&
          after.deletes.nonEmpty,
        "merge-on-read UPDATE must carry every data file by path " +
          "identity and commit position-delete tombstones")
    }

  val q132Bench: Q = (s, dir) => {
    import s.implicits._
    TxnTable.read(s, ensureMorUpdated(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q132: Q = (s, dir) => {
    import s.implicits._
    q132Bench(s, dir).orderBy($"event_type")
  }
  // tombstone-merged must equal recomputed-with-the-update (q126's
  // oracle — the REGIME changed, the content must not)
  val q132Sql: String = q126Sql

  // ---------------------------------------------------------------------
  // q133: UPDATE-MODE STREAMING SINK — a stateful streaming aggregation
  // (running count per user) fed day-by-day through a real
  // StructuredStreaming query in Update output mode, sinking each
  // trigger's CHANGED KEYS as one idempotent keyed merge commit
  // ([[TxnTable.mergeBatch]] via `option("mergeKeys", ...)`). The final
  // table must hash-match DuckDB computing the same per-user counts
  // from the raw source — the sink's upsert semantics, the bounded
  // merge, and exactly-once epoch replay all sit under this gate. The
  // Complete-mode alternative would rewrite the whole aggregate every
  // trigger; Update writes only the keys a day touched.
  // ---------------------------------------------------------------------
  private[queries] def ensureUpdateSunk(s: SparkSession, dir: String): String =
    UserCounts.ensure(s, dir) { (root, _) =>
      import s.implicits._
      val ckpt = java.nio.file.Files.createTempDirectory("q133_ckpt").toString
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val q = in.toDF().toDF("user_id", "cnt")
        .groupBy($"user_id").agg(sum($"cnt").as("n"))
        .writeStream.format("graft-txn").outputMode("update")
        .option("mergeKeys", "user_id")
        .option("checkpointLocation", ckpt)
        .start(root)
      try {
        // one micro-batch per source day, in day order — deterministic
        // batches, so the update stream's emitted keys are too. The
        // feed is the per-(day, user) PARTIAL count, not raw events:
        // the driver holds |users|x|days| tuples (the stream sums
        // them), never the event log — at sf10 that is 450k tuples
        // instead of 10M rows.
        val byDay = graft.Tables.t(s, dir, "events")
          .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
          .groupBy($"day", $"user_id").agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).toSeq.sortBy(_._1)
        byDay.foreach { case (_, rows) =>
          in.addData(rows.map(_._2))
          q.processAllAvailable()
        }
      } finally q.stop()
    }

  val q133Bench: Q = (s, dir) => TxnTable.read(s, ensureUpdateSunk(s, dir))
  val q133: Q = (s, dir) => {
    import s.implicits._
    q133Bench(s, dir).orderBy($"user_id")
  }
  // the stream's running per-user counts must equal the from-scratch
  // aggregate — upserted keys replaced, untouched keys carried
  val q133Sql: String =
    """SELECT user_id, COUNT(*) AS n
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q134: TABLE CONSTRAINTS — Delta-shaped CHECK invariants
  // ([[TxnTable.addConstraint]], property `constraint.<name>`) enforced
  // at write time: a curation contract (`n_chars >= 100`, `doc_id IS
  // NOT NULL`) recorded on the table refuses every violating batch
  // ATOMICALLY before anything stages. The build seeds a valid half,
  // records the contract, asserts (a) an over-strict ADD refuses
  // against existing content, (b) ingesting the RAW corpus (which
  // contains under-length docs) refuses with zero version/file-set
  // drift, then ingests the remaining valid half. The final table must
  // hash-match DuckDB applying the contract as a WHERE over the raw
  // source — enforcement and the predicate agree exactly.
  // ---------------------------------------------------------------------
  private[queries] def ensureConstrained(s: SparkSession, dir: String): String =
    ConsDocs.ensure(s, dir) { (root, _) =>
      import s.implicits._
      val docs = graft.Tables.t(s, dir, "documents")
        .select($"doc_id", $"lang", $"source", $"n_chars")
      val valid = docs.filter($"n_chars" >= 100)
      TxnTable.overwrite(s, root, valid.filter($"doc_id" % 2 === 0),
        statsCols = Seq("doc_id"))
      TxnTable.addConstraint(s, root, "min_len", "n_chars >= 100")
      TxnTable.addConstraint(s, root, "doc_id_present", "doc_id IS NOT NULL")
      // an over-strict contract the current content violates refuses
      // at ADD time (Delta's ADD CONSTRAINT scan)
      val strict = scala.util.Try(
        TxnTable.addConstraint(s, root, "too_strict", "n_chars >= 10000"))
      require(strict.isFailure && !TxnTable.constraints(s, root)
          .contains("too_strict"),
        "ADD CONSTRAINT must validate existing content")
      // the raw corpus contains under-length docs: the ingest refuses
      // ATOMICALLY — version and file set must not move
      val before = TxnTable.latest(s, root).get
      val refused = scala.util.Try(TxnTable.append(s, root, docs))
      val after = TxnTable.latest(s, root).get
      require(refused.isFailure &&
          after.version == before.version && after.files == before.files,
        "a violating append must refuse with zero version/file drift")
      TxnTable.append(s, root, valid.filter($"doc_id" % 2 === 1))
    }

  val q134Bench: Q = (s, dir) => TxnTable.read(s, ensureConstrained(s, dir))
  val q134: Q = (s, dir) => {
    import s.implicits._
    q134Bench(s, dir).orderBy($"doc_id")
  }
  // enforcement == the contract as a WHERE over the raw source
  val q134Sql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE n_chars >= 100 AND doc_id IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q135: SIDECAR COMPACTION — [[TxnTable.compactPosDeletes]]
  // (Iceberg's `rewrite_position_delete_files`): a MoR UPDATE and a MoR
  // DELETE each stage their own position-delete sidecars; the
  // maintenance op consolidates them into ONE `(_file,_pos)`-sorted
  // sidecar while every data file carries BY PATH (asserted at build
  // time, with the op tag) — the middle ground between letting
  // per-statement sidecars accumulate and compactDeletes' full rewrite.
  // The merged read after consolidation must hash-match DuckDB
  // recomputing both statements from the raw source — consolidation
  // must be invisible to content.
  // ---------------------------------------------------------------------
  private[queries] val PfDelLo = 10L
  private[queries] val PfDelHi = 11L
  private[queries] def ensurePosFolded(s: SparkSession, dir: String): String =
    PosFold.ensure(s, dir) { (root, name) =>
      import s.implicits._
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
      TxnTable.overwrite(s, root,
        graft.Tables.t(s, dir, "events")
          .repartitionByRange(8, $"user_id"),
        statsCols = Seq("user_id"))
      TxnTable.setTableProperty(s, root, TxnTable.RowLevelModeKey,
        "merge-on-read")
      s.sql(s"UPDATE graft_cat.db.$name SET value = value * 2 " +
        s"WHERE user_id BETWEEN $UpLo AND $UpHi")
      s.sql(s"DELETE FROM graft_cat.db.$name " +
        s"WHERE user_id BETWEEN $PfDelLo AND $PfDelHi")
      val pre = TxnTable.latest(s, root).get
      require(pre.deletes.size >= 2,
        "two MoR statements must stage at least two sidecars")
      val after = TxnTable.compactPosDeletes(s, root)
      // the whole point, asserted at build time: sidecars consolidate,
      // data files are byte-identical by path
      require(after.deletes.size == 1 && after.files == pre.files &&
          after.op == "compact-pos-deletes",
        "compactPosDeletes must consolidate sidecars and carry every " +
          "data file by path identity")
    }

  val q135Bench: Q = (s, dir) => {
    import s.implicits._
    TxnTable.read(s, ensurePosFolded(s, dir))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        money(sum(cents($"value"))).as("total_value"))
  }
  val q135: Q = (s, dir) => {
    import s.implicits._
    q135Bench(s, dir).orderBy($"event_type")
  }
  // consolidated-tombstone-merged == both statements recomputed raw
  val q135Sql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  SUM(CASE WHEN user_id BETWEEN $UpLo AND $UpHi
       |      THEN ${sqlCents("value * 2")}
       |      ELSE ${sqlCents("value")} END) / 100.0 AS total_value
       |FROM events
       |WHERE user_id NOT BETWEEN $PfDelLo AND $PfDelHi
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q135_pos_compact" -> q135,
    "q134_constrained_ingest" -> q134,
    "q133_update_sink" -> q133,
    "q132_mor_update" -> q132,
    "q131_str_point_lookup" -> q131,
    "q82_txn_snapshot" -> q82,
    "q89_txn_delete"   -> q89,
    "q90_txn_merge"    -> q90,
    "q98_txn_cdf"      -> q98,
    "q119_txn_mor_delete" -> q119,
    "q122_meta_agg"    -> q122,
    "q123_join_prune"  -> q123,
    "q124_txn_branch_ff" -> q124,
    "q125_dsv2_read"   -> q125,
    "q126_sql_update"  -> q126,
    "q127_sql_maintenance" -> q127,
    "q128_sql_rename"  -> q128,
    "q129_replay_rename" -> q129,
    "q130_partial_compact" -> q130)
  val oracles: Map[String, String] = Map(
    "q135_pos_compact" -> q135Sql,
    "q134_constrained_ingest" -> q134Sql,
    "q133_update_sink" -> q133Sql,
    "q132_mor_update" -> q132Sql,
    "q131_str_point_lookup" -> q131Sql,
    "q82_txn_snapshot" -> q82Sql,
    "q89_txn_delete"   -> q89Sql,
    "q90_txn_merge"    -> q90Sql,
    "q98_txn_cdf"      -> q98Sql,
    "q119_txn_mor_delete" -> q119Sql,
    "q122_meta_agg"    -> q122Sql,
    "q123_join_prune"  -> q123Sql,
    "q124_txn_branch_ff" -> q124Sql,
    "q125_dsv2_read"   -> q125Sql,
    "q126_sql_update"  -> q126Sql,
    "q127_sql_maintenance" -> q127Sql,
    "q128_sql_rename"  -> q128Sql,
    "q129_replay_rename" -> q129Sql,
    "q130_partial_compact" -> q130Sql)

  /** Bench-time override minus the determinism-only global sort (see
    * [[Relational.benchVariants]]). Verify runs the sorted forms. */
  override val benchVariants: Map[String, Q] = Map(
    "q82_txn_snapshot" -> q82Bench,
    "q89_txn_delete"   -> q89Bench,
    "q90_txn_merge"    -> q90Bench,
    "q98_txn_cdf"      -> q98Bench,
    "q119_txn_mor_delete" -> q119Bench,
    "q123_join_prune"  -> q123Bench,
    "q124_txn_branch_ff" -> q124Bench,
    "q125_dsv2_read"   -> q125Bench,
    "q126_sql_update"  -> q126Bench,
    "q127_sql_maintenance" -> q127Bench,
    "q128_sql_rename"  -> q128Bench,
    "q129_replay_rename" -> q129Bench,
    "q130_partial_compact" -> q130Bench,
    "q131_str_point_lookup" -> q131Bench,
    "q132_mor_update" -> q132Bench,
    "q133_update_sink" -> q133Bench,
    "q134_constrained_ingest" -> q134Bench,
    "q135_pos_compact" -> q135Bench)
}
