package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Slowly-changing-dimension maintenance (SCD type 2) — the MERGE/upsert
  * shape every warehouse pipeline needs for dimensions whose history
  * matters: an update closes the current version (valid_to = effective
  * date) and opens a new one, no-op updates and untouched keys pass
  * through, history rows are immutable.
  *
  * Scale shape: the update batch is USUALLY small relative to the
  * dimension (a day's changes vs all-time history), so the merge wants a
  * BROADCAST left join — the dimension table itself never shuffles, and
  * the changed/unchanged fan-out is a Generate (explode) inside the same
  * codegen stage, not a self-union that would scan the dimension twice.
  * But "usually" is not a plan invariant: a CDC backfill can replay a
  * large feed through the same API, so the broadcast hint is SIZE-GATED
  * — applied only when the optimizer's own estimate of the batch fits
  * the session's autoBroadcastJoinThreshold, and otherwise left to the
  * engine, which degrades to a shuffle join instead of an executor OOM
  * (the q62 lesson; both paths hash-identical, ScdSpec runs both).
  * [[scd2MergeTxn]] wraps the merge in the transactional log
  * ([[graft.sinks.TxnTable]]): each merge is an atomic, batch-id-
  * idempotent commit and every pre-merge dimension version stays
  * time-travelable.
  */
object Scd extends graft.QueryModule {

  /** Apply one update batch to an SCD-2 dimension.
    *
    * `dim`: (key, attr, valid_from, valid_to, is_current) — history rows
    * (is_current = false) pass through untouched.
    * `updates`: two columns, positionally (key, new attr value) — at
    * most one row per key.
    * `eff`: the effective date of the batch.
    *
    * Emits: unchanged rows as-is; for each genuinely changed key, the
    * closed old version plus the new open version; for each update key
    * with NO dimension row at all, a brand-new open version (the insert
    * arm of a MERGE). Deterministic — pure relational algebra, no
    * processing-time anywhere.
    *
    * The insert detection is the one step that cannot ride the
    * broadcast: "key not present in the dimension" needs the dimension's
    * key set, so it plans as updates-anti-join-dim — a shuffle sized by
    * the (small) update batch, since anti join only moves the probe
    * side's matches out. */
  def scd2Apply(dim: DataFrame, updates: DataFrame, key: String,
                attr: String, eff: Column): DataFrame = {
    val uCols = updates.columns
    val upd0 = updates.select(
      col(uCols(0)).as("_u_key"), col(uCols(1)).as("_u_val"))
    // size-gated hint: only claim the batch is broadcastable when the
    // optimizer's estimate agrees it fits the configured threshold —
    // an oversized batch (CDC backfill) keeps the un-hinted plan and
    // the engine's shuffle fallback
    val thresh = BigInt(
      updates.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    val upd =
      if (thresh > 0 &&
          upd0.queryExecution.optimizedPlan.stats.sizeInBytes <= thresh)
        broadcast(upd0)
      else upd0
    val joined = dim.join(upd,
      dim(key) === upd("_u_key") && dim("is_current"), "left")
    val changed = col("_u_key").isNotNull && col("_u_val") =!= col(attr)
    val merged = joined
      .select(col(key),
        explode(when(changed, array(
          struct(col(attr).as(attr), col("valid_from"),
            eff.cast("date").as("valid_to"), lit(false).as("is_current")),
          struct(col("_u_val").as(attr), eff.cast("date").as("valid_from"),
            lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))))
          .otherwise(array(
            struct(col(attr).as(attr), col("valid_from"),
              col("valid_to"), col("is_current"))))).as("_r"))
      .select(col(key), col(s"_r.$attr"), col("_r.valid_from"),
        col("_r.valid_to"), col("_r.is_current"))
    val inserts = upd
      .join(dim.select(col(key).as("_d_key")),
        col("_u_key") === col("_d_key"), "left_anti")
      .select(col("_u_key").as(key), col("_u_val").as(attr),
        eff.cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    merged.unionByName(inserts)
  }

  /** SCD-2 MERGE as a TRANSACTIONAL commit — the production shape the
    * scaladoc above promises: apply `updates` to the CURRENT snapshot
    * of the dimension stored at txn-table `root` and commit the merged
    * dimension as a new version. Pre-merge history stays time-travelable
    * (snapshot isolation: a reader pinned to an older version never sees
    * the merge), and the commit is idempotent under replay via the
    * batch-id op tag ([[graft.sinks.TxnTable.replaceBatch]]) — re-running
    * a committed merge no-ops instead of double-closing versions. */
  def scd2MergeTxn(s: SparkSession, root: String, updates: DataFrame,
                   key: String, attr: String, eff: Column,
                   batchId: Long): Option[graft.sinks.TxnTable.Snapshot] =
    graft.sinks.TxnTable.replaceBatch(s, root,
      scd2Apply(graft.sinks.TxnTable.read(s, root), updates, key, attr, eff),
      batchId)

  // ---------------------------------------------------------------------
  // q64: SCD-2 merge over the customer dimension. The "update batch" is
  // a deterministic slice: every 10th customer submits an update, half
  // of them (key % 20 == 0) with a genuinely new segment, half with a
  // no-op re-statement of the current value; every 25th key also
  // arrives as a brand-new +10M key — exercising the changed /
  // unchanged / untouched / INSERT branches in one run.
  // ---------------------------------------------------------------------
  val q64: Q = (s, dir) => {
    import s.implicits._
    // Both the dimension and the update batch derive from the same
    // 2-column customer projection, and scd2Apply references EACH side
    // twice (merge join + insert anti-join) — the unshared form planned
    // the customer scan SEVEN times (--exec dump; no AQE stage reuse,
    // the q117/q86 lesson). The shared narrow base is materialized ONCE
    // (eager localCheckpoint, fresh per invocation — guide §2.4
    // build-once): customer is scanned once, every arm reads the
    // captured 2-column rows, and scd2Apply's size-gated broadcast
    // check sees honest stats for the batch.
    val base = t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment").localCheckpoint(true)
    val dim = base
      .select($"c_custkey", $"c_mktsegment",
        to_date(lit("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    val upd = base
      .filter($"c_custkey" % 10 === 0)
      .select($"c_custkey",
        when($"c_custkey" % 20 === 0, concat(lit("NEW_"), $"c_mktsegment"))
          .otherwise($"c_mktsegment").as("_u_val"))
      .unionByName(base
        .filter($"c_custkey" % 25 === 0)
        .select(($"c_custkey" + 10000000L).as("c_custkey"),
          lit("SEG_NEW").as("_u_val")))
    scd2Apply(dim, upd, "c_custkey", "c_mktsegment", lit("2024-06-01"))
      .orderBy($"c_custkey", $"valid_from")
  }
  val q64Sql: String =
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment, DATE '2024-01-01' AS valid_from,
      |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey AS u_key,
      |    CASE WHEN c_custkey % 20 = 0 THEN 'NEW_' || c_mktsegment
      |         ELSE c_mktsegment END AS u_val
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000, 'SEG_NEW'
      |  FROM customer WHERE c_custkey % 25 = 0),
      |j AS (SELECT * FROM dim LEFT JOIN upd ON c_custkey = u_key)
      |SELECT c_custkey, c_mktsegment, valid_from, valid_to, is_current
      |FROM j WHERE u_key IS NULL OR u_val = c_mktsegment
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, valid_from, DATE '2024-06-01', FALSE
      |FROM j WHERE u_key IS NOT NULL AND u_val <> c_mktsegment
      |UNION ALL
      |SELECT c_custkey, u_val, DATE '2024-06-01', NULL, TRUE
      |FROM j WHERE u_key IS NOT NULL AND u_val <> c_mktsegment
      |UNION ALL
      |SELECT u_key, u_val, DATE '2024-06-01', NULL, TRUE
      |FROM upd LEFT JOIN dim ON u_key = c_custkey
      |WHERE c_custkey IS NULL
      |ORDER BY c_custkey, valid_from""".stripMargin

  // ---------------------------------------------------------------------
  // q100: POINT-IN-TIME join — facts joined to the dimension version
  // that was valid WHEN THE FACT HAPPENED, the query SCD-2 history
  // exists to answer (revenue by the segment the user was in at event
  // time, not the segment they're in today). The dimension is built by
  // [[scd2Apply]] with a version flip at 2024-01-15, mid-way through the
  // events range, so both sides of the flip carry real rows: the same
  // user contributes to the old segment before the 15th and the
  // upgraded one after.
  //
  // Join semantics: fact day ∈ [valid_from, valid_to) with NULL
  // valid_to = open version. Scale shape: the equality on user_id keys
  // the join (hash/SMJ — AQE picks broadcast when the dimension fits;
  // no forced hint, per the q67 lesson) and the interval predicate is
  // the residual filter; SCD-2 guarantees at most one matching version
  // per (user, day), so the join never fans out.
  // ---------------------------------------------------------------------
  val q100: Q = (s, dir) => {
    import s.implicits._
    import graft.Det._
    // the user dimension rides the customer table (events.user_id is
    // drawn from the customer key range in this schema) — the FACT is
    // scanned once; only the small dimension derivation scans repeat.
    // MEASURED, not assumed (r16 session 2): collapsing the four
    // `users` references to one eager localCheckpoint made q100 28%
    // SLOWER at 100x (isolated min-of-3: 4.25 s -> 5.44 s, plans
    // otherwise identical) — four PUSHDOWN-PRUNED single-BIGINT-column
    // vectorized parquet scans cost less than one scan plus four
    // row-iterator reads of a deserialized checkpoint. The build-once
    // pattern pays off when the rebuilt work is interpreted/expensive
    // (quantize, tokenize, aggregates — q106/q107/q117), NOT for cheap
    // columnar re-scans; reverted on that measurement.
    val users = t(s, dir, "customer").select($"c_custkey".as("user_id"))
    val dim0 = users.select($"user_id",
      concat(lit("S"), ($"user_id" % 3).cast("string")).as("segment"),
      to_date(lit("2024-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_to"),
      lit(true).as("is_current"))
    val upd = users.filter($"user_id" % 5 === 0)
      .select($"user_id",
        concat(lit("UPG_S"), ($"user_id" % 3).cast("string")).as("_u_val"))
    val dim = scd2Apply(dim0, upd, "user_id", "segment", lit("2024-01-15"))
      .select($"user_id".as("d_user"), $"segment", $"valid_from", $"valid_to")
    val e = t(s, dir, "events")
      .select($"user_id", to_date($"ts").as("d"), cents($"value").as("c"))
    e.join(dim, $"user_id" === $"d_user" &&
        $"d" >= $"valid_from" && ($"valid_to".isNull || $"d" < $"valid_to"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n"), money(sum($"c")).as("total_value"))
      .orderBy($"segment")
  }
  val q100Sql: String = {
    val cents = graft.Det.sqlCents("value")
    """WITH users AS (SELECT c_custkey AS user_id FROM customer),
      |dim AS (
      |  SELECT user_id, 'S' || CAST(user_id % 3 AS VARCHAR) AS segment,
      |    DATE '2024-01-01' AS valid_from,
      |    CASE WHEN user_id % 5 = 0 THEN DATE '2024-01-15' END AS valid_to
      |  FROM users
      |  UNION ALL
      |  SELECT user_id, 'UPG_S' || CAST(user_id % 3 AS VARCHAR),
      |    DATE '2024-01-15', NULL
      |  FROM users WHERE user_id % 5 = 0),
      |e AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d, value
      |  FROM events)
      |SELECT segment, COUNT(*) AS n,
      |  SUM(""".stripMargin + cents +
      """) / 100.0 AS total_value
      |FROM e JOIN dim ON e.user_id = dim.user_id
      |  AND d >= valid_from AND (valid_to IS NULL OR d < valid_to)
      |GROUP BY segment
      |ORDER BY segment""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q64_scd2_merge" -> q64,
    "q100_pit_join"  -> q100)
  val oracles: Map[String, String] = Map(
    "q64_scd2_merge" -> q64Sql,
    "q100_pit_join"  -> q100Sql)
}
