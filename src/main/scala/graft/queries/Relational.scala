package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.Det._
import org.apache.spark.sql.types.DataTypes

/** Relational operator library, one named query per SURVEY.md §2 row
  * (filters F1-F2, projections P3-P12, union J2, joins J1-J3 generalized,
  * aggregations A1-A2 generalized, window W1, sort/top-k O1-O2, set ops,
  * scalar functions §2.10).
  *
  * Every query is deterministic (explicit full ORDER BY, exact integer
  * aggregation via [[graft.Det]]) so the driver's DuckDB hash-compare is
  * stable. Scale notes are per-query: the inputs here are sf0.01..0.1 but
  * each plan is written for the 100 TB layout (broadcast the dimension,
  * partial-agg before shuffle, push filters to the scan).
  */
object Relational extends graft.QueryModule {

  // ---------------------------------------------------------------------
  // q01: TPC-H Q1-style pricing summary. Hash partial-agg on 2 low-card
  // keys -> tiny shuffle regardless of input size; filter pushed to scan.
  // ---------------------------------------------------------------------
  val q01: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        money(sum(cents($"l_quantity"))).as("sum_qty"),
        money(sum(cents($"l_extendedprice"))).as("sum_base_price"),
        money(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("sum_disc_price"),
        money(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")))).as("sum_charge"),
        (sum(cents($"l_quantity")) / lit(100.0) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  SUM(${sqlCents("l_quantity")}) / 100.0 AS sum_qty,
       |  SUM(${sqlCents("l_extendedprice")}) / 100.0 AS sum_base_price,
       |  SUM(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) / 100.0 AS sum_disc_price,
       |  SUM(${sqlCents("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}) / 100.0 AS sum_charge,
       |  SUM(${sqlCents("l_quantity")}) / 100.0 / COUNT(*) AS avg_qty,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q02: THE flagship — latest-per-key (reference weather_etl.py:145, W1).
  // Over the user_id-bucketed events layout (Bucketed.events) the window
  // reads its PARTITION BY straight off the scan — ZERO exchange before
  // the ranking; at 100 TB the layout, not every query, pays the user_id
  // shuffle (the q04 move applied to the analytics table).
  // ---------------------------------------------------------------------
  val q02: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Bucketed.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"event_type", tsUs($"ts").as("ts_us"), $"value")
      .orderBy($"user_id")
  }
  val q02Sql: String =
    """SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value
      |FROM (SELECT *, ROW_NUMBER() OVER
      |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q03: top-k per group (O2 generalized, k=3). Same shuffle shape as q02;
  // rank-based so skewed customers don't need a global sort.
  //
  // Deliberately the WINDOW form, not the TopKByScore aggregate q53
  // uses — the group cardinality decides which top-k topology scales:
  // o_custkey is HIGH-cardinality (~1/6 of orders' rows), so map-side
  // partial top-k buffers would carry up to maps×groups×k entries —
  // MORE than the input — while the window's hash(custkey) exchange is
  // already balanced across reducers. Measured at sf0.1: the aggregate
  // form hash-matches but runs 0.51 -> 0.77 s. The aggregate wins when
  // groups are FEW and each group's candidates are many (q53: 8 probes
  // × the whole corpus — there the window form is a guaranteed 8-hot-
  // partition plan). Both forms share the same total order contract.
  // ---------------------------------------------------------------------
  val q03: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"o_custkey", $"rnk", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey", $"rnk")
  }
  val q03Sql: String =
    """SELECT o_custkey, rnk, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER
      |        (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |      FROM orders)
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q04: fact-fact join + agg over the BUCKETED layout (Bucketed.orders
  // and Bucketed.lineitem): orders and lineitem are read co-located on the order
  // key, so the join — and the first-phase per-orderkey aggregate — run
  // with ZERO exchange on the facts (plan-asserted in BucketedJoinSpec);
  // at 100 TB the layout, not every query, pays the orderkey shuffle.
  // The distinct order count is a TWO-PHASE aggregate — per-orderkey
  // partials first (clustering satisfied by the bucketing), then the
  // low-card rollup — instead of countDistinct, so no Expand ever
  // doubles the joined rows. Result-equal to the countDistinct form
  // (every joined order has >= 1 item), and identical to the raw-parquet
  // plan's rows (same data, different layout).
  // ---------------------------------------------------------------------
  val q04: Q = (s, dir) => {
    import s.implicits._
    val o = Bucketed.orders(s, dir)
    val l = Bucketed.lineitem(s, dir)
    o.join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderpriority")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("rev_c"),
           count(lit(1)).as("ni"))
      .groupBy($"o_orderpriority")
      .agg(
        money(sum($"rev_c")).as("revenue"),
        count(lit(1)).as("n_orders"),
        sum($"ni").as("n_items"))
      .orderBy($"o_orderpriority")
  }
  val q04Sql: String =
    s"""SELECT o_orderpriority,
       |  SUM(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) / 100.0 AS revenue,
       |  COUNT(DISTINCT o_orderkey) AS n_orders,
       |  COUNT(*) AS n_items
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q05: TPC-H Q5-style multi-join, reordered for the bucketed layout:
  // the BIG join (orders⋈lineitem) runs first over the co-located tables
  // — zero exchange on either fact (plan-asserted in BucketedJoinSpec) —
  // and only the date-filtered, column-pruned join OUTPUT shuffles once
  // on custkey to meet customer. The raw-layout plan shuffled ALL of
  // lineitem on orderkey per query; here the layout paid that once.
  // region/nation are fixed-size dims -> broadcast (no shuffle).
  // ---------------------------------------------------------------------
  val q05: Q = (s, dir) => {
    import s.implicits._
    val cust = t(s, dir, "customer")
    val ord  = Bucketed.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
    // supplier scales with SF (~SF×10k rows) — never force-broadcast it;
    // AQE picks the strategy at runtime. nation/region are fixed-size dims.
    val li   = Bucketed.lineitem(s, dir)
    val sup  = t(s, dir, "supplier")
    val nat  = broadcast(t(s, dir, "nation"))
    val reg  = broadcast(t(s, dir, "region").filter($"r_name" === "ASIA"))
    ord
      .join(li, $"o_orderkey" === $"l_orderkey")
      .join(cust, $"c_custkey" === $"o_custkey")
      .join(sup, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(nat, $"s_nationkey" === $"n_nationkey")
      .join(reg, $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(money(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))).as("revenue"))
      .orderBy($"n_name")
  }
  val q05Sql: String =
    s"""SELECT n_name,
       |  SUM(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) / 100.0 AS revenue
       |FROM customer
       |JOIN orders   ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q06: TPC-H Q6-style scan-heavy scalar agg. All three predicates push
  // to parquet (PushedFilters), projection prunes to 4 columns; the agg is
  // a single partial->final reduction, zero-shuffle-width.
  // ---------------------------------------------------------------------
  val q06: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
              $"l_discount" >= 0.02 && $"l_discount" <= 0.09 &&
              $"l_quantity" < 24)
      .agg(money(sum(cents($"l_extendedprice" * $"l_discount"))).as("revenue"),
           count(lit(1)).as("n"))
  }
  val q06Sql: String =
    s"""SELECT SUM(${sqlCents("l_extendedprice * l_discount")}) / 100.0 AS revenue,
       |  COUNT(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01'
       |  AND l_discount >= 0.02 AND l_discount <= 0.09
       |  AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------------
  // q07/q08: semi / anti join (EXISTS / NOT EXISTS). left_semi/left_anti
  // never materialize right columns -> half the shuffle of an inner join.
  // ---------------------------------------------------------------------
  val q07: Q = (s, dir) => {
    import s.implicits._
    val bigOrders = t(s, dir, "orders").filter($"o_totalprice" > 150000.0)
    t(s, dir, "customer")
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }
  val q07Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
      |ORDER BY c_custkey""".stripMargin

  val q08: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }
  val q08Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q09/q10: set operations (INTERSECT / EXCEPT). Planned as left-semi /
  // left-anti over distinct inputs by Catalyst. Both sides come off the
  // user_id-bucketed layout co-partitioned, so the distinct aggregates
  // AND the semi/anti join plan exchange-free.
  // ---------------------------------------------------------------------
  val q09: Q = (s, dir) => {
    import s.implicits._
    val ev = Bucketed.events(s, dir)
    val clicks    = ev.filter($"event_type" === "click").select($"user_id")
    val purchases = ev.filter($"event_type" === "purchase").select($"user_id")
    clicks.intersect(purchases).orderBy($"user_id")
  }
  val q09Sql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin

  val q10: Q = (s, dir) => {
    import s.implicits._
    val ev = Bucketed.events(s, dir)
    ev.filter($"event_type" === "click").select($"user_id")
      .except(ev.filter($"event_type" === "purchase").select($"user_id"))
      .orderBy($"user_id")
  }
  val q10Sql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q11: ROLLUP with grouping id — multi-level agg in one pass (Expand +
  // single shuffle), not one job per level.
  // ---------------------------------------------------------------------
  val q11: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(
        (grouping($"l_returnflag") * 2 + grouping($"l_linestatus")).as("gid"),
        count(lit(1)).as("n"),
        money(sum(cents($"l_quantity"))).as("sum_qty"))
      .select($"l_returnflag", $"l_linestatus", $"gid", $"n", $"sum_qty")
      .orderBy($"gid", asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }
  val q11Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("l_quantity")}) / 100.0 AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q12: exact distinct agg per dimension (nation⋈customer broadcast join).
  // ---------------------------------------------------------------------
  val q12: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        countDistinct($"c_custkey").as("n_customers"),
        countDistinct($"c_mktsegment").as("n_segments"),
        money(sum(cents($"c_acctbal"))).as("total_acctbal"))
      .orderBy($"n_name")
  }
  val q12Sql: String =
    s"""SELECT n_name,
       |  COUNT(DISTINCT c_custkey) AS n_customers,
       |  COUNT(DISTINCT c_mktsegment) AS n_segments,
       |  SUM(${sqlCents("c_acctbal")}) / 100.0 AS total_acctbal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q13: CASE WHEN bucketing (conditional expression, §2.10) + agg.
  // ---------------------------------------------------------------------
  val q13: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders")
      .withColumn("bucket",
        when($"o_totalprice" < 50000.0, "small")
          .when($"o_totalprice" < 150000.0, "medium")
          .otherwise("large"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
           money(sum(cents($"o_totalprice"))).as("total"))
      .orderBy($"bucket")
  }
  val q13Sql: String =
    s"""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'small'
       |            WHEN o_totalprice < 150000.0 THEN 'medium'
       |            ELSE 'large' END AS bucket,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("o_totalprice")}) / 100.0 AS total
       |FROM orders
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q14: date functions (P6/P7 family): year/month breakdown.
  // ---------------------------------------------------------------------
  val q14: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
      .agg(count(lit(1)).as("n"),
           money(sum(cents($"o_totalprice"))).as("total"))
      .orderBy($"yr", $"mo")
  }
  val q14Sql: String =
    s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
       |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("o_totalprice")}) / 100.0 AS total
       |FROM orders
       |GROUP BY 1, 2
       |ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------------
  // q15: string functions (§2.10): LIKE filter, upper, substring, length,
  // concat. Pure projection — stays in one codegen stage over the scan.
  // ---------------------------------------------------------------------
  val q15: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "part")
      .filter($"p_name".contains("widget"))
      .select(
        $"p_partkey",
        upper($"p_type").as("type_u"),
        substring($"p_name", 1, 5).as("pfx"),
        length($"p_name").as("name_len"),
        // concat (not concat_ws): null-propagating, matching SQL `||`.
        concat($"p_brand", lit("/"), $"p_type").as("brand_type"))
      .orderBy($"p_partkey")
  }
  val q15Sql: String =
    """SELECT p_partkey, UPPER(p_type) AS type_u, SUBSTRING(p_name, 1, 5) AS pfx,
      |  CAST(LENGTH(p_name) AS INT) AS name_len,
      |  p_brand || '/' || p_type AS brand_type
      |FROM part
      |WHERE p_name LIKE '%widget%'
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q16: tumbling 1-day event-time window (§2.12 batch analog of the
  // reference's daily partitioning).
  // ---------------------------------------------------------------------
  val q16: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), money(sum(cents($"value"))).as("total_value"))
      .select(date_format($"w.start", "yyyy-MM-dd").as("day"),
              $"event_type", $"n", $"total_value")
      .orderBy($"day", $"event_type")
  }
  val q16Sql: String =
    s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q17: analytic window frame — running sum + lag per user. Exact integer
  // running sum keeps the frame deterministic across engines.
  //
  // The output IS the whole events table, so the trailing global orderBy
  // exists ONLY for the oracle's row-order hash-compare; it is split out
  // of q17Bench (the benched plan) because at 100 TB a full-table sort
  // done purely for verification determinism is a cluster-wide scale
  // killer. The semantic plan is q17Bench: over the user_id-bucketed
  // layout the window reads its partitioning off the scan — ZERO
  // exchange. (The in-partition Sort remains: Spark only derives
  // bucketed-scan output ordering under the planning-cost
  // legacy.bucketedTableScan.outputOrdering conf; sorting
  // already-clustered, in-bucket-sorted runs is the cheap part.)
  // ---------------------------------------------------------------------
  val q17Bench: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Bucketed.events(s, dir)
      .withColumn("running", (sum(cents($"value")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) / lit(100.0)))
      .withColumn("prev_value", lag($"value", 1).over(w))
      .select($"user_id", $"event_id", $"value", $"running", $"prev_value")
  }
  val q17: Q = (s, dir) => {
    import s.implicits._
    q17Bench(s, dir).orderBy($"user_id", $"event_id")
  }
  val q17Sql: String =
    s"""SELECT user_id, event_id, value,
       |  SUM(${sqlCents("value")}) OVER
       |    (PARTITION BY user_id ORDER BY ts, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running,
       |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
       |FROM events
       |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q18: global top-k (O1/O2): TakeOrderedAndProject, not a full sort.
  // ---------------------------------------------------------------------
  val q18: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }
  val q18Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q19: argmax per group (A1 agg form): max(struct) picks the
  // lexicographic max — deterministic tie-break on the orderkey.
  // ---------------------------------------------------------------------
  val q19Bench: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max(struct($"o_totalprice", $"o_orderkey")).as("m"))
      .select($"o_custkey", $"m.o_orderkey".as("best_orderkey"),
              $"m.o_totalprice".as("best_price"))
  }
  val q19: Q = (s, dir) => {
    import s.implicits._
    q19Bench(s, dir).orderBy($"o_custkey")
  }
  val q19Sql: String =
    """SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER
      |        (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q20: JSON extraction (§2.10 json family; reference json.loads).
  // Single-field extraction goes through the codegen'd streaming
  // [[graft.functions.JsonGetLong]] expression — from_json
  // (JsonToStructs) is CodegenFallback and converts the whole document
  // per row; the custom expression is spec-pinned row-for-row equal to
  // `from_json(props, 'k BIGINT').k` (JsonGetLongSpec) and keeps the
  // scan stage in WholeStageCodegen. The oracle uses a regex so the
  // check doesn't depend on DuckDB's json extension.
  // ---------------------------------------------------------------------
  val q20: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("k", graft.functions.JsonGetLong.jsonGetLong($"props", "k"))
      .filter($"k".isNotNull)
      .groupBy(($"k" % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
      .orderBy($"k_mod")
  }
  val q20Sql: String =
    """SELECT CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) % 10 AS k_mod,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events
      |WHERE regexp_extract(props, '"k": (-?\d+)', 1) <> ''
      |GROUP BY 1
      |ORDER BY k_mod""".stripMargin

  // ---------------------------------------------------------------------
  // q21: pivot (dictionary-encode P5 generalized): event_type -> columns.
  // Explicit value list => single-pass pivot, no extra distinct job.
  // ---------------------------------------------------------------------
  val q21: Q = (s, dir) => {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    t(s, dir, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"day")
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy($"day")
  }
  val q21Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q26: UNION-dedup (J2 + §2.9): unionByName with deliberately swapped
  // column order (name-resolved, not positional), then DISTINCT — planned
  // by Catalyst as a single hash-agg over the union, one shuffle.
  // ---------------------------------------------------------------------
  val q26: Q = (s, dir) => {
    import s.implicits._
    val ev = Bucketed.events(s, dir)
    val clicks    = ev.filter($"event_type" === "click").select($"user_id", $"event_type")
    // swapped projection order: unionByName must align by name
    val purchases = ev.filter($"event_type" === "purchase").select($"event_type", $"user_id")
    clicks.unionByName(purchases)
      .distinct()
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_types"))
      .orderBy($"user_id")
  }
  val q26Sql: String =
    """SELECT user_id, COUNT(*) AS n_types
      |FROM (SELECT user_id, event_type FROM events WHERE event_type = 'click'
      |      UNION
      |      SELECT user_id, event_type FROM events WHERE event_type = 'purchase')
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q27: dictionary encode / reverse decode (P5/P13) via map literals —
  // typedLit(Map) + element_at, the reference's city_map lookup
  // (weather_etl.py:112-122,130-134) generalized. Pure projection: stays
  // in one codegen stage; the map literal is a constant, no join/shuffle.
  // ---------------------------------------------------------------------
  val q27: Q = (s, dir) => {
    import s.implicits._
    val enc = typedLit(Map("click" -> 1, "error" -> 2, "purchase" -> 3,
                           "signup" -> 4, "view" -> 5))
    val dec = typedLit(Map(1 -> "click", 2 -> "error", 3 -> "purchase",
                           4 -> "signup", 5 -> "view"))
    t(s, dir, "events")
      .withColumn("code", element_at(enc, $"event_type"))
      .withColumn("decoded", element_at(dec, $"code"))
      .groupBy($"event_type", $"code", $"decoded")
      .agg(count(lit(1)).as("n"))
      .orderBy($"code")
  }
  val q27Sql: String =
    """SELECT event_type,
      |  CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |    WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'view' THEN 5 END AS code,
      |  event_type AS decoded,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY code""".stripMargin

  // ---------------------------------------------------------------------
  // q28: SQL entry point (S3) — the reference's one real query shape
  // (weather_etl.py:145: CTE + ROW_NUMBER latest-per-key) run verbatim
  // through spark.sql over a registered temp view. Same physical plan as
  // the DataFrame form (q02): one hash shuffle + in-partition sort.
  // ---------------------------------------------------------------------
  val q28: Q = (s, dir) => {
    t(s, dir, "events").createOrReplaceTempView("events_v")
    s.sql(
      """WITH RankedEvents AS (
        |  SELECT event_type, event_id, user_id, value,
        |         unix_micros(ts) AS ts_us,
        |         ROW_NUMBER() OVER
        |           (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events_v)
        |SELECT event_type, event_id, user_id, ts_us, value
        |FROM RankedEvents
        |WHERE rn = 1
        |ORDER BY event_type""".stripMargin)
  }
  val q28Sql: String =
    """WITH RankedEvents AS (
      |  SELECT event_type, event_id, user_id, value,
      |         epoch_us(ts) AS ts_us,
      |         ROW_NUMBER() OVER
      |           (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT event_type, event_id, user_id, ts_us, value
      |FROM RankedEvents
      |WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q37: abs / deviation math (P10, reference weather_etl.py:135's
  // abs-error column generalized): absolute deviation of each event's
  // value from its type's mean, aggregated per type. The window avg
  // hash-partitions on event_type and the following groupBy reuses that
  // exchange — ONE shuffle for both passes. Deviations are exact integer
  // cents (the mean is floored to a long first): abs/sum/max stay in
  // codegen'd long math, bit-identical across engines.
  // ---------------------------------------------------------------------
  val q37: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
    t(s, dir, "events")
      .withColumn("dev_cents",
        abs(cents($"value") - floor(avg(cents($"value")).over(w)).cast("long")))
      .groupBy($"event_type")
      .agg(money(sum($"dev_cents")).as("sum_abs_dev"),
           money(max($"dev_cents")).as("max_abs_dev"),
           count(lit(1)).as("n"))
      .orderBy($"event_type")
  }
  val q37Sql: String =
    s"""WITH d AS (
       |  SELECT event_type,
       |    ABS(${sqlCents("value")} -
       |        CAST(FLOOR(AVG(${sqlCents("value")})
       |                   OVER (PARTITION BY event_type)) AS BIGINT)) AS dev_cents
       |  FROM events)
       |SELECT event_type,
       |  CAST(SUM(dev_cents) AS BIGINT) / 100.0 AS sum_abs_dev,
       |  MAX(dev_cents) / 100.0 AS max_abs_dev,
       |  COUNT(*) AS n
       |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q38: CUBE with grouping id (§2.6 grouping-sets surface, completing
  // q11's rollup): all four grouping combinations in ONE pass — a single
  // Expand + one shuffle, not four jobs.
  // ---------------------------------------------------------------------
  val q38: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders")
      .withColumn("yr", year($"o_orderdate"))
      .cube($"o_orderpriority", $"yr")
      .agg(
        (grouping($"o_orderpriority") * 2 + grouping($"yr")).as("gid"),
        count(lit(1)).as("n"),
        money(sum(cents($"o_totalprice"))).as("total"))
      .select($"o_orderpriority", $"yr", $"gid", $"n", $"total")
      .orderBy($"gid", asc_nulls_first("o_orderpriority"), asc_nulls_first("yr"))
  }
  val q38Sql: String =
    s"""SELECT o_orderpriority, yr,
       |  GROUPING(o_orderpriority) * 2 + GROUPING(yr) AS gid,
       |  COUNT(*) AS n,
       |  SUM(${sqlCents("o_totalprice")}) / 100.0 AS total
       |FROM (SELECT o_orderpriority,
       |        CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
       |        o_totalprice FROM orders)
       |GROUP BY CUBE (o_orderpriority, yr)
       |ORDER BY gid, o_orderpriority ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // q39: approx_count_distinct (HLL++, §2.6) beside the exact count. The
  // sketch is THE 100 TB cardinality path: constant memory per group,
  // mergeable partials, no distinct expansion. No DuckDB oracle — HLL
  // implementations differ across engines by design — so the driver
  // records a rows-only check; the ApproxDistinctSpec test pins the
  // semantic guarantee (relative error within the configured rsd).
  // ---------------------------------------------------------------------
  // Two-phase form: pre-distinct (type, user) pairs, then count + HLL
  // over the dedup'd rows — HLL is duplicate-insensitive so the sketch
  // is IDENTICAL to one built on raw rows, the exact count is the group
  // size, and no Expand rewrite doubles the scan (one shuffle + a tiny
  // low-card exchange, the same shape q04 uses for its distinct count).
  val q39Bench: Q = (s, dir) => {
    import s.implicits._
    // user_id-bucketed layout: Hash(user_id) satisfies the (event_type,
    // user_id) clustering, so the pre-distinct aggregate is exchange-free.
    Bucketed.events(s, dir)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("_n"))
      .groupBy($"event_type")
      .agg(
        approx_count_distinct($"user_id", 0.02).as("approx_users"),
        count(lit(1)).as("exact_users"))
      .orderBy($"event_type")
  }
  // BRACKET-ORACLE form (Verify): the sketch estimate itself is not
  // cross-engine comparable, but ITS ERROR BOUND is a checkable fact —
  // emit the exact count plus `hll_ok` = |approx−exact|/exact ≤ 3·rsd,
  // and the oracle emits the same exact count with literal TRUE. A
  // hash match then PROVES the estimate landed inside the algorithm's
  // documented envelope (rsd 0.02 → 3σ = 6%), instead of the weaker
  // rows-only check this entry carried before.
  val q39: Q = (s, dir) => {
    import s.implicits._
    q39Bench(s, dir)
      .select($"event_type", $"exact_users",
        (abs($"approx_users".cast("double") - $"exact_users") <=
          lit(0.06) * $"exact_users").as("hll_ok"))
      .orderBy($"event_type")
  }
  val q39Sql: String =
    """SELECT event_type,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS hll_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q42: ranking-window family beyond row_number (§2.7 generality):
  // dense_rank over per-customer spend and ntile(4) quartiles in the same
  // window pass — one shuffle on the partition key serves both functions.
  // ---------------------------------------------------------------------
  val q42: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey".asc)
    t(s, dir, "customer")
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .filter($"drnk" <= 5)
      .select($"c_mktsegment", $"drnk", $"quartile", $"c_custkey", $"c_acctbal")
      .orderBy($"c_mktsegment", $"drnk", $"c_custkey")
  }
  val q42Sql: String =
    """SELECT c_mktsegment, drnk, quartile, c_custkey, c_acctbal
      |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
      |        DENSE_RANK() OVER w AS drnk,
      |        NTILE(4) OVER w AS quartile
      |      FROM customer
      |      WINDOW w AS (PARTITION BY c_mktsegment
      |                   ORDER BY c_acctbal DESC, c_custkey ASC))
      |WHERE drnk <= 5
      |ORDER BY c_mktsegment, drnk, c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q43: exact percentiles (median / p90) per group — linear-interpolated
  // rank statistics; Spark `percentile` and DuckDB `quantile_cont` share
  // the (1-f)·lo + f·hi IEEE form, verified bit-identical. Exact
  // percentile buffers each group's values (fine for bounded groups);
  // the 100 TB path for heavy groups is approx_percentile (t-digest,
  // mergeable, constant memory) — not oracle-comparable, same trade as
  // q39's HLL.
  // ---------------------------------------------------------------------
  val q43: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.9)").as("p90"),
        min($"value").as("vmin"),
        max($"value").as("vmax"))
      .orderBy($"event_type")
  }
  val q43Sql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS med,
      |  quantile_cont(value, 0.9) AS p90,
      |  MIN(value) AS vmin,
      |  MAX(value) AS vmax
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q44: scalar + correlated subqueries — parts above global average
  // retail price, with their supplier count from a correlated count.
  // Catalyst plans the scalar subquery as a one-row broadcast and
  // decorrelates the count into a left outer aggregate join — subquery
  // surface a SQL-first user expects from a complete engine.
  // ---------------------------------------------------------------------
  // The above-average threshold is compared in EXACT integer cents
  // (100·price_c·n > 101·sum_c ⟺ price > 1.01·avg; prices cluster within
  // ~5% of the mean, so 1% selects a real tail at every test SF): a double AVG would be
  // summation-order nondeterministic at the boundary.
  //
  // The COUNT and SUM global statistics ride ONE scalar subquery (a
  // one-row struct) instead of two: Catalyst plans each scalar subquery
  // as its own subtree and does NOT merge the two canonically-similar
  // aggregates (--exec dump: the two-subquery form executed the part
  // scan three times for the filter alone — 5 with the main scan and
  // the decorrelated supplier probe replans; guide §2.4 share-one-pass).
  // The correlated count — the subquery surface this query demonstrates
  // — is untouched.
  val q44: Q = (s, dir) => {
    Seq("part", "supplier").foreach(n => t(s, dir, n).createOrReplaceTempView(n + "_v"))
    s.sql(
      """SELECT p_partkey, p_name, p_retailprice,
        |  (SELECT COUNT(*) FROM supplier_v WHERE s_nationkey = p_size % 25) AS nation_suppliers
        |FROM part_v,
        |  (SELECT COUNT(*) AS n_parts,
        |     SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS sum_cents
        |   FROM part_v) g
        |WHERE 100 * CAST(ROUND(p_retailprice * 100) AS BIGINT) * g.n_parts
        |      > 101 * g.sum_cents
        |ORDER BY p_partkey""".stripMargin)
  }
  val q44Sql: String =
    """SELECT p_partkey, p_name, p_retailprice,
      |  (SELECT COUNT(*) FROM supplier WHERE s_nationkey = p_size % 25) AS nation_suppliers
      |FROM part
      |WHERE 100 * CAST(ROUND(p_retailprice * 100) AS BIGINT)
      |        * (SELECT COUNT(*) FROM part)
      |      > 101 * (SELECT SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q45: RANGE window frame — sum of order values within a trailing
  // 30-day event-time range per customer (a frame the ROWS form can't
  // express when row counts per day vary). Exact-integer sums keep the
  // frame arithmetic engine-portable.
  // ---------------------------------------------------------------------
  val q45Bench: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy(unix_date(to_date($"o_orderdate")))
      .rangeBetween(-30, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("trail30",
        (sum(cents($"o_totalprice")).over(w) / lit(100.0)))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"trail30")
  }
  val q45: Q = (s, dir) => {
    import s.implicits._
    q45Bench(s, dir).orderBy($"o_custkey", $"o_orderkey")
  }
  val q45Sql: String =
    s"""SELECT o_custkey, o_orderkey, o_totalprice,
       |  SUM(${sqlCents("o_totalprice")}) OVER
       |    (PARTITION BY o_custkey
       |     ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) / 100.0 AS trail30
       |FROM orders
       |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q47: AS-OF join — each purchase matched to the same user's most
  // recent click at-or-before it. Spark has no native as-of join; the
  // Spark-first composition (the brief's preference (a): compose
  // built-ins) is the tagged-union + last-non-null-window form:
  //   union(clicks tagged 0, purchases tagged 1)
  //   -> window (user, ORDER BY ts, tag, id) running last(click_id)
  //   -> keep purchases.
  // ZERO shuffles total over the user_id-bucketed layout (was: one on
  // user_id): the click-dedup aggregate and the union'd window both read
  // Hash(user_id) off the scan — versus a range-join's quadratic blowup.
  // Clicks are pre-deduped to one per (user, ts) (max event_id) so the
  // match is unique; the DuckDB oracle is its native ASOF LEFT JOIN.
  // ---------------------------------------------------------------------
  val q47: Q = (s, dir) => {
    import s.implicits._
    val ev = Bucketed.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("click_id"))
      .select($"user_id", $"ts", $"click_id", lit(0).as("tag"),
              lit(null).cast("long").as("event_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("long").as("click_id"),
              lit(1).as("tag"), $"event_id")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"tag", $"click_id".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click", last($"click_id", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"event_id", tsUs($"ts").as("ts_us"), $"asof_click")
      .orderBy($"user_id", $"event_id")
  }
  val q47Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click'
      |  GROUP BY user_id, ts),
      |purchases AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us, c.click_id AS asof_click
      |FROM purchases p
      |ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.user_id, p.event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q48: RANGE join — per purchase, the count of the same user's clicks
  // in the preceding hour. Spark would execute the raw inequality join
  // as a nested-loop per key; the scale composition is BIN BUCKETING:
  // clicks key on (user, hour-bin), each purchase probes its own and the
  // previous bin (a 1-hour window spans at most 2 bins), the join is a
  // plain equi-join on (user, bin), and the exact range predicate
  // filters the candidates. Candidate count is O(events per 2 bins), not
  // O(events²) per user; the bin width is the selectivity knob. All
  // comparisons in exact epoch micros. LEFT join keeps zero-click
  // purchases (count(cts) ignores nulls).
  // ---------------------------------------------------------------------
  val q48: Q = (s, dir) => {
    import s.implicits._
    val HourUs = 3600L * 1000000L
    val ev = Bucketed.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), tsUs($"ts").as("c_us"))
      .withColumn("bin", floor($"c_us" / HourUs))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", tsUs($"ts").as("p_us"))
      .withColumn("bin0", floor($"p_us" / HourUs))
      .withColumn("bin", explode(array($"bin0" - 1, $"bin0")))
    purchases.join(clicks,
        $"user_id" === $"c_user" && purchases("bin") === clicks("bin") &&
          $"c_us" >= $"p_us" - HourUs && $"c_us" < $"p_us",
        "left")
      .groupBy($"user_id", $"event_id", $"p_us")
      .agg(count($"c_us").as("n_prior_clicks"))
      .select($"user_id", $"event_id", $"p_us".as("ts_us"), $"n_prior_clicks")
      .orderBy($"user_id", $"event_id")
  }
  val q48Sql: String =
    """WITH clicks AS (
      |  SELECT user_id AS c_user, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id, p.p_us AS ts_us, COUNT(c.c_us) AS n_prior_clicks
      |FROM purchases p LEFT JOIN clicks c
      |  ON p.user_id = c.c_user
      | AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
      |GROUP BY p.user_id, p.event_id, p.p_us
      |ORDER BY p.user_id, p.event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q49: approx_percentile (t-digest-style quantile sketch) — the 100 TB
  // path for percentiles over HEAVY groups that q43's own Scaladoc names:
  // exact percentile buffers every value of a group in memory, while the
  // sketch is constant-memory per group and MERGEABLE, so partial
  // aggregation works map-side like any sum. accuracy=10000 bounds rank
  // error at n/10000. The sketch VALUE is not cross-engine comparable
  // (same trade as q39's HLL), but its RANK-ERROR BOUND is a checkable
  // fact — the Verify form proves it per group (bracket oracle below);
  // ApproxPercentileSpec pins the same guarantee against q43's exact
  // percentiles.
  // ---------------------------------------------------------------------
  val q49Bench: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        expr("approx_percentile(value, array(0.5, 0.9), 10000)").as("ap"),
        count(lit(1)).as("n"))
      .select($"event_type", element_at($"ap", 1).as("approx_med"),
              element_at($"ap", 2).as("approx_p90"), $"n")
      .orderBy($"event_type")
  }
  // BRACKET-ORACLE form (Verify): approx_percentile returns an ACTUAL
  // element of the group, so its exact rank interval is countable —
  // [#(value < v) + 1, #(value ≤ v)] — and the documented guarantee is
  // that this interval comes within n/accuracy of the target rank p·n.
  // One broadcast join back to events (the per-type approx row is tiny)
  // counts both sides; the oracle emits the exact group size and
  // literal TRUEs, so a hash match proves the rank bound held.
  val q49: Q = (s, dir) => {
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_type", $"value")
    val ap = q49Bench(s, dir)
    def ok(lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
           p: Double): org.apache.spark.sql.Column = {
      // tolerance: n/accuracy, +1 for the rank-definition fencepost
      val d = ($"n" / lit(10000.0)) + lit(1.0)
      val target = lit(p) * $"n"
      (hi >= target - d) && (lo - lit(1.0) <= target + d)
    }
    ev.join(broadcast(ap), "event_type")
      .groupBy($"event_type")
      .agg(
        first($"n").as("n"),
        sum(when($"value" < $"approx_med", 1L).otherwise(0L)).as("m_lt"),
        sum(when($"value" <= $"approx_med", 1L).otherwise(0L)).as("m_le"),
        sum(when($"value" < $"approx_p90", 1L).otherwise(0L)).as("p_lt"),
        sum(when($"value" <= $"approx_p90", 1L).otherwise(0L)).as("p_le"))
      .select($"event_type", $"n",
        ok($"m_lt" + lit(1L), $"m_le", 0.5).as("med_ok"),
        ok($"p_lt" + lit(1L), $"p_le", 0.9).as("p90_ok"))
      .orderBy($"event_type")
  }
  val q49Sql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |       TRUE AS med_ok, TRUE AS p90_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q66: FULL OUTER snapshot reconciliation — the join shape every
  // data-platform diff needs (yesterday's load vs today's restatement):
  // keys only in A are `removed`, only in B `added`, in both with a
  // different value `changed`; unchanged rows are filtered out before
  // the output. The snapshots are deterministic slices of orders (A
  // drops every 7th key, B drops every 5th and restates every 11th at
  // +10.00), so all three branches are exercised.
  //
  // Scale shape: ONE map-only pass, no join. Both snapshots are
  // projections of the SAME scan keyed by o_orderkey, which is UNIQUE
  // in orders (the table's key: verified COUNT(*) = COUNT(DISTINCT) at
  // every test SF, and the sf10 generator shard-SHIFTS keys, so
  // uniqueness is scale-invariant by construction). A full-outer
  // self-join of two ≤1-row-per-key slices of one table is therefore
  // row-local algebra: presence-in-A/presence-in-B are per-row
  // predicates, so the whole diff is a projection + filter — the former
  // two-scan + two-exchange SortMergeJoin form paid a corpus shuffle
  // for information every row already carries (guide §2.4 "remove
  // shuffles outright"; self-join elimination). Presence is tracked in
  // explicit in_a/in_b flags — NOT via price NULLness, so a NULL stored
  // price keeps the exact join-form semantics. The `same` rows — the
  // overwhelming majority in a real diff — are still dropped BEFORE the
  // output sort. Values compare as stored doubles (exact: no reduction
  // is performed on them — the Det note in Tables.scala applies to
  // SUMS, not row-level equality).
  // ---------------------------------------------------------------------
  val q66: Q = (s, dir) => {
    import s.implicits._
    val inA = $"o_orderkey" % 7 =!= 0
    val inB = $"o_orderkey" % 5 =!= 0
    t(s, dir, "orders")
      .filter(inA || inB)
      .select($"o_orderkey", inA.as("in_a"), inB.as("in_b"),
        when(inA, $"o_totalprice").as("price_a"),
        when(inB, when($"o_orderkey" % 11 === 0, $"o_totalprice" + 10.0)
          .otherwise($"o_totalprice")).as("price_b"))
      .withColumn("status",
        when(!$"in_b", "removed")
          .when(!$"in_a", "added")
          .when($"price_a" =!= $"price_b", "changed")
          .otherwise("same"))
      .filter($"status" =!= "same")
      .select($"o_orderkey", $"status", $"price_a", $"price_b")
      .orderBy($"o_orderkey")
  }
  val q66Sql: String =
    """WITH a AS (
      |  SELECT o_orderkey AS key_a, o_totalprice AS price_a
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |b AS (
      |  SELECT o_orderkey AS key_b,
      |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0
      |         ELSE o_totalprice END AS price_b
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |d AS (
      |  SELECT COALESCE(key_a, key_b) AS o_orderkey,
      |    CASE WHEN key_b IS NULL THEN 'removed'
      |         WHEN key_a IS NULL THEN 'added'
      |         WHEN price_a <> price_b THEN 'changed'
      |         ELSE 'same' END AS status,
      |    price_a, price_b
      |  FROM a FULL JOIN b ON key_a = key_b)
      |SELECT o_orderkey, status, price_a, price_b
      |FROM d WHERE status <> 'same'
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q68: MERGEABLE-SKETCH ROLLUP — the pre-aggregation pattern that makes
  // distinct counts tractable at 100 TB: per (event_type, day) HLL
  // sketches (DataSketches binary, the thing a real pipeline PERSISTS as
  // a daily cube), then per-type totals by UNIONING the sketches —
  // NEVER rescanning raw events. q39 shows approx_count_distinct as a
  // one-shot aggregate; this is the reaggregatable form: the daily
  // sketch table supports any later rollup (weekly, monthly, all-time)
  // at sketch-union cost. DataSketches HLL state is engine-specific
  // (same trade as q39/q49), but the UNIONED estimate's error bound is
  // checkable — the Verify form proves it per type (bracket oracle
  // below); SketchRollupSpec pins (a) two-level union == direct
  // one-level sketching (mergeability is LOSSLESS) and (b) estimates
  // within HLL error of exact distincts.
  // ---------------------------------------------------------------------
  val q68Bench: Q = (s, dir) => {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id").as("sk"), count(lit(1)).as("n"))
    daily.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"),
        sum($"n").as("n_events"), count(lit(1)).as("n_days"))
      .orderBy($"event_type")
  }
  // BRACKET-ORACLE form (Verify): the rolled-up estimate must land
  // within 5% of the exact per-type distinct (lgK=12 → rsd ≈ 1.6%, so
  // 3σ ≈ 5%) — exact distinct comes from one extra pre-distinct
  // aggregate joined back (tiny: one row per type). The oracle emits
  // the exact counts with literal TRUE; a hash match proves both the
  // rollup arithmetic (n_events, n_days) and the sketch-union error
  // envelope.
  val q68: Q = (s, dir) => {
    import s.implicits._
    val exact = t(s, dir, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    q68Bench(s, dir).join(exact, "event_type")
      .select($"event_type", $"n_events", $"n_days", $"exact_users",
        (abs($"approx_users".cast("double") - $"exact_users") <=
          lit(0.05) * $"exact_users").as("hll_ok"))
      .orderBy($"event_type")
  }
  val q68Sql: String =
    """SELECT event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS hll_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q69: analytic-window completeness — lead/lag neighbors and the
  // rank-fraction functions (percent_rank, cume_dist) over per-user
  // event-time order. Values pass through row-level (no reduction), and
  // the rank fractions are exact integer-derived divisions, so the whole
  // output hash-matches cross-engine despite the doubles. One shuffle on
  // user_id; all four functions share the single window sort.
  // ---------------------------------------------------------------------
  val q69Bench: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
    Bucketed.events(s, dir)
      .select($"user_id", $"event_id", tsUs($"ts").as("us"), $"value")
      .select($"user_id", $"event_id", $"us".as("ts_us"), $"value",
        lag($"value", 1).over(w).as("prev_value"),
        lead($"value", 1).over(w).as("next_value"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
  }
  val q69: Q = (s, dir) => {
    import s.implicits._
    q69Bench(s, dir).orderBy($"user_id", $"event_id")
  }
  val q69Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
      |  FROM events)
      |SELECT user_id, event_id, ts_us, value,
      |  LAG(value, 1) OVER w AS prev_value,
      |  LEAD(value, 1) OVER w AS next_value,
      |  PERCENT_RANK() OVER w AS pr,
      |  CUME_DIST() OVER w AS cd
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q70: explicit GROUPING SETS with grouping() disambiguation — the
  // reporting shape rollup/cube (q11/q38) can't express: exactly the
  // named combinations (per-flag, per-status, grand total) in ONE
  // Expand+aggregate pass instead of three scans unioned. grouping()
  // tells a NULL group key from a NULL subtotal marker. Via spark.sql —
  // grouping sets are SQL-surface-only in Spark, which is the point of
  // exercising the S3 entry here.
  // ---------------------------------------------------------------------
  val q70: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
         |  CAST(grouping(l_linestatus) AS INT) AS g_status,
         |  SUM(${"CAST(ROUND(l_extendedprice * 100) AS BIGINT)"}) AS sum_price_cents,
         |  COUNT(*) AS n
         |FROM lineitem_v
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)
  }
  val q70Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q72: time-series GAP-FILL + forward fill — resample each user's
  // event stream onto a dense daily grid (their own [min, max] span) and
  // carry the last observed value across silent days: the
  // missing-data-regularization step every downstream time-series
  // consumer (features, charts, anomaly baselines) assumes has happened.
  //
  // Scale shape: the grid generates per user via sequence() + explode —
  // a Generate, no join against a global calendar table and nothing
  // driver-side; the observed dailies come back via an equi left join on
  // (user, day); the forward fill is one window (user, day ASC) with
  // last(ignoreNulls) over an unbounded-preceding frame — running-state,
  // no self-join. Grid size is bounded by span×users, not events.
  // Aggregated values go through integer cents (Det) as everywhere.
  //
  // Although `daily` is written once and consumed twice, Catalyst
  // deliberately does NOT share it: the bounds branch's nested
  // min/max-over-aggregate collapses into a direct min/max over the
  // scan (RemoveRedundantAggregates), so the plan runs two
  // DIFFERENTLY-PRUNED scans — bounds from (ts, user_id) only, dailies
  // from (ts, user_id, value) — rather than forcing both consumers
  // through one wider shared shuffle. Plan-asserted in PlanAuditSpec.
  // ---------------------------------------------------------------------
  val q72Bench: Q = (s, dir) => {
    import s.implicits._
    val daily = Bucketed.events(s, dir)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(sum(cents($"value")).as("v"))
    val grid = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        last($"v", ignoreNulls = true).over(w).as("v_cents"),
        $"v".isNotNull.as("observed"))
  }
  val q72: Q = (s, dir) => {
    import s.implicits._
    q72Bench(s, dir).orderBy($"user_id", $"day")
  }
  val q72Sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY 1),
      |grid AS (
      |  SELECT user_id, CAST(u.d AS DATE) AS day
      |  FROM bounds, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)),
      |j AS (
      |  SELECT g.user_id, g.day, d.v, d.v IS NOT NULL AS observed
      |  FROM grid g LEFT JOIN daily d
      |    ON g.user_id = d.user_id AND g.day = d.day)
      |SELECT user_id, day,
      |  LAST_VALUE(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cents,
      |  observed
      |FROM j ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------------
  // q73: DATA-QUALITY constraint audit — the validation gate a pipeline
  // runs before publishing a table (Deequ-style): primary-key
  // uniqueness, foreign-key integrity, null counts, and value-range
  // bounds, emitted as one (check, value, passed) audit table a
  // scheduler can alert on.
  //
  // Scale shape: all single-table metrics come from ONE scan (one
  // aggregate row, unpivoted via stack — not one scan per check); the
  // FK check is a broadcast-able anti-join count. Two scans + one tiny
  // union total, regardless of how many checks ride the aggregate.
  // ---------------------------------------------------------------------
  val q73: Q = (s, dir) => {
    import s.implicits._
    val o = t(s, dir, "orders")
    val single = o.agg(
        (count(lit(1)) - countDistinct($"o_orderkey")).as("pk_dup"),
        sum(when($"o_totalprice".isNull, 1L).otherwise(0L)).as("null_price"),
        min(cents($"o_totalprice")).as("min_price_cents"),
        sum(when($"o_orderdate".isNull, 1L).otherwise(0L)).as("null_date"))
      .select(expr(
        """stack(4,
          |  'pk_duplicates', pk_dup,
          |  'null_totalprice', null_price,
          |  'min_price_cents', min_price_cents,
          |  'null_orderdate', null_date) AS (check, value)""".stripMargin))
    val fk = o.join(t(s, dir, "customer"),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("value"))
      .select(lit("fk_orphan_orders").as("check"), $"value")
    single.unionByName(fk)
      .withColumn("passed",
        when($"check" === "min_price_cents", $"value" >= 0L)
          .otherwise($"value" === 0L))
      .orderBy($"check")
  }
  val q73Sql: String =
    """WITH m AS (
      |  SELECT
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dup,
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price,
      |    MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS min_price_cents,
      |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_date
      |  FROM orders),
      |checks AS (
      |  SELECT 'pk_duplicates' AS check, pk_dup AS value FROM m
      |  UNION ALL SELECT 'null_totalprice', null_price FROM m
      |  UNION ALL SELECT 'min_price_cents', min_price_cents FROM m
      |  UNION ALL SELECT 'null_orderdate', null_date FROM m
      |  UNION ALL
      |  SELECT 'fk_orphan_orders', COUNT(*)
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_custkey IS NULL)
      |SELECT "check", value,
      |  CASE WHEN "check" = 'min_price_cents' THEN value >= 0
      |       ELSE value = 0 END AS passed
      |FROM checks ORDER BY "check"""".stripMargin

  // ---------------------------------------------------------------------
  // q75: UNPIVOT / melt — the wide→long reshape feeding every
  // metrics-store / plotting layer (one row per (entity, metric)).
  // Spark's native `unpivot` (3.4+) plans as a single Expand over the
  // already-aggregated wide table — no join, no union of self-scans;
  // the oracle mirrors with UNION ALL branches over one CTE. All
  // metrics are exact integer (cents/counts) so one long-typed value
  // column carries them losslessly.
  // ---------------------------------------------------------------------
  val q75: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(sum(cents($"l_quantity")).as("sum_qty_cents"),
        sum(cents($"l_extendedprice")).as("sum_price_cents"),
        count(lit(1)).as("n_rows"))
      .unpivot(Array($"l_returnflag"),
        Array($"sum_qty_cents", $"sum_price_cents", $"n_rows"),
        "metric", "value")
      .orderBy($"l_returnflag", $"metric")
  }
  val q75Sql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |    COUNT(*) AS n_rows
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty_cents' AS metric, sum_qty_cents AS value FROM wide
      |UNION ALL
      |SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM wide
      |UNION ALL
      |SELECT l_returnflag, 'n_rows', n_rows FROM wide
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---------------------------------------------------------------------
  // q76: LATERAL join — the correlated per-row subquery surface (for
  // each customer, their top-2 orders by value): SQL's other spelling
  // of grouped top-k, exercised through the SQL entry because LATERAL
  // is SQL-surface-only in Spark. Catalyst decorrelates it into the
  // window/aggregate plan rather than executing per-row — which is
  // exactly the rewrite you'd hand-write at scale; the surface matters
  // because migrating SQL workloads arrive in this form.
  // ---------------------------------------------------------------------
  // the inner ORDER BY ... LIMIT is the lateral top-k SEMANTICS and
  // stays in the benched plan; only the outer presentation sort drops
  val q76Bench: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_v c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_v o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t""".stripMargin)
  }
  val q76: Q = (s, dir) => {
    import s.implicits._
    q76Bench(s, dir).orderBy($"c_custkey", $"o_totalprice".desc, $"o_orderkey")
  }
  val q76Sql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q77: DATASET FINGERPRINT — an order-insensitive content hash per
  // table (row count + bit_xor of per-row digests): the migration /
  // copy-validation primitive at 100 TB, where "did the rewrite lose or
  // corrupt anything" must be answerable without sorting or comparing
  // row-by-row. XOR is commutative/associative, so the aggregate is
  // partitioning-independent, collapses map-side like any sum, and two
  // datasets compare by two tiny rows.
  //
  // Canonical serialization rule (the part that makes it portable):
  // fingerprint only integers and strings — doubles render differently
  // across engines (Java Double.toString vs C++), so money goes through
  // integer cents and timestamps through epoch micros before hashing.
  // 60-bit digests (15 hex chars) keep the value in signed-long range
  // on both engines.
  // ---------------------------------------------------------------------
  val q77: Q = (s, dir) => {
    import s.implicits._
    def fp(name: String, df: DataFrame,
           keyed: org.apache.spark.sql.Column): DataFrame =
      df.select(conv(substring(md5(keyed), 1, 15), 16, 10).cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"), bit_xor($"h").as("fingerprint"))
        .select(lit(name).as("table_name"), $"n_rows", $"fingerprint")
    val docs = fp("documents", t(s, dir, "documents"),
      concat_ws("|", $"doc_id", $"lang", $"source", $"text"))
    val ords = fp("orders", t(s, dir, "orders"),
      concat_ws("|", $"o_orderkey", $"o_custkey", $"o_orderstatus",
        cents($"o_totalprice"), tsUs($"o_orderdate".cast("timestamp")),
        $"o_orderpriority"))
    docs.unionByName(ords).orderBy($"table_name")
  }
  val q77Sql: String =
    """WITH d AS (
      |  SELECT CAST('0x' || substring(md5(
      |    doc_id || '|' || lang || '|' || source || '|' || text), 1, 15) AS BIGINT) AS h
      |  FROM documents),
      |o AS (
      |  SELECT CAST('0x' || substring(md5(
      |    o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) || '|' ||
      |    epoch_us(o_orderdate) || '|' || o_orderpriority), 1, 15) AS BIGINT) AS h
      |  FROM orders)
      |SELECT 'documents' AS table_name, COUNT(*) AS n_rows, bit_xor(h) AS fingerprint FROM d
      |UNION ALL
      |SELECT 'orders', COUNT(*), bit_xor(h) FROM o
      |ORDER BY table_name""".stripMargin

  // ---------------------------------------------------------------------
  // q80: ROBUST outlier detection — median/MAD flagging per group (the
  // anomaly gate that survives the outliers it hunts, unlike mean/σ):
  // med = median(v), MAD = median(|v - med|), outlier ⇔ |v - med| >
  // 3·MAD. Composes cross-engine-deterministically because exact
  // `percentile` over integer cents matches DuckDB's quantile_cont
  // bit-for-bit (q43's guarantee), and every derived double (midpoint
  // halves, 3·MAD) is exact IEEE arithmetic on < 2^53 integers.
  //
  // Multi-pass is inherent to exact percentile composition (MAD needs
  // med first), but the corpus is NOT scanned per pass: the (event_type,
  // med_c, dev) subtree is built once and persisted per (session, dir)
  // — the signatures-artifact pattern — so the plan is med pass (scan 1)
  // + dev build (scan 2), and the MAD pass and the flagging aggregate
  // both read the persisted 3-column subtree. Was 3 corpus scans;
  // plan-pinned at ≤2 in plan_signatures. Invalidation: the
  // artifact-cache contract at graft.SourceStamp.
  // ---------------------------------------------------------------------
  private val devCache = new graft.StampCache[DataFrame](_.unpersist(): Unit)

  /** (event_type, med_c, dev) for every event — the shared input of the
    * MAD pass and the flagging pass, persisted narrow (3 columns). */
  private def medDev(s: SparkSession, dir: String): DataFrame =
    devCache(s, dir, graft.SourceStamp.table(s, dir, "events")) {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_type", cents($"value").as("v_c"))
      val med = ev.groupBy($"event_type")
        .agg(expr("percentile(v_c, 0.5)").as("med_c"))
      ev.join(med, "event_type")
        .select($"event_type", $"med_c", abs($"v_c" - $"med_c").as("dev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  val q80: Q = (s, dir) => {
    import s.implicits._
    val dev = medDev(s, dir)
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad_c"))
    dev.join(mad, "event_type")
      .groupBy($"event_type")
      .agg(first($"med_c").as("med_c"), first($"mad_c").as("mad_c"),
        sum(when($"dev" > $"mad_c" * 3.0, 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_total"))
      .orderBy($"event_type")
  }
  val q80Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_c
      |  FROM events),
      |med AS (SELECT event_type, quantile_cont(v_c, 0.5) AS med_c
      |  FROM e GROUP BY event_type),
      |dev AS (SELECT e.event_type, ABS(v_c - med_c) AS dev, med_c
      |  FROM e JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad_c
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, ANY_VALUE(d.med_c) AS med_c,
      |  ANY_VALUE(m.mad_c) AS mad_c,
      |  CAST(SUM(CASE WHEN d.dev > m.mad_c * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  COUNT(*) AS n_total
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q81: first_value / nth_value with IGNORE NULLS — the
  // window-completeness pass over the value-position functions q69's
  // lead/lag family doesn't cover. The nullable measure is the
  // purchase-only value (NULL on every other event type), so ignoreNulls
  // does real work: per user in event-time order, the FIRST purchase
  // value seen SO FAR (running frame — NULL until the user first buys)
  // and the user's SECOND purchase value overall (full frame).
  //
  // Scale shape: both frames share one window sort, so Catalyst plans a
  // single WindowExec — and over the user_id-bucketed layout
  // (Bucketed.events) it runs with ZERO exchange. Values pass through
  // row-level (no reduction): hash-exact cross-engine despite doubles.
  // ---------------------------------------------------------------------
  val q81Bench: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Bucketed.events(s, dir)
      .withColumn("pv", when($"event_type" === "purchase", $"value"))
      .select($"user_id", $"event_id", tsUs($"ts").as("ts_us"),
        first($"pv", ignoreNulls = true).over(running).as("first_purchase_so_far"),
        nth_value($"pv", 2, ignoreNulls = true).over(full).as("second_purchase"))
  }
  val q81: Q = (s, dir) => {
    import s.implicits._
    q81Bench(s, dir).orderBy($"user_id", $"event_id")
  }
  val q81Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, ts,
      |    CASE WHEN event_type = 'purchase' THEN value END AS pv
      |  FROM events)
      |SELECT user_id, event_id, ts_us,
      |  FIRST_VALUE(pv IGNORE NULLS) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS first_purchase_so_far,
      |  NTH_VALUE(pv, 2 IGNORE NULLS) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS second_purchase
      |FROM e
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------------
  // q85: HOPPING event-time windows (3-day window, 1-day hop) — the
  // overlapping-window aggregate q16's tumbling day can't express, and
  // the batch form of the sliding windows Structured Streaming runs
  // (identical semantics: `window(ts, "3 days", "1 day")` is the same
  // epoch-aligned assignment in both engines' planners). Each event
  // lands in exactly window/hop = 3 windows.
  //
  // Scale shape: the window assignment plans as an EXPAND (3 rows per
  // event, executor-side, inside the scan's codegen stage — same
  // operator rollup/cube use) followed by ONE hash aggregate on
  // (window, event_type) — low-cardinality keys, so the expansion
  // collapses map-side before the shuffle exactly like q29's vote
  // explode; no window SORT anywhere (this is groupBy, not an analytic
  // window). The oracle replays the same assignment with a
  // generate_series cross join.
  // ---------------------------------------------------------------------
  val q85Bench: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(window($"ts", "3 days", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), money(sum(cents($"value"))).as("total_value"))
      .select(date_format($"w.start", "yyyy-MM-dd").as("w_start"),
        $"event_type", $"n", $"total_value")
  }
  val q85: Q = (s, dir) => {
    import s.implicits._
    q85Bench(s, dir).orderBy($"w_start", $"event_type")
  }
  val q85Sql: String =
    s"""SELECT strftime(date_trunc('day', ts) - k * INTERVAL '1 day', '%Y-%m-%d')
       |    AS w_start,
       |  event_type, COUNT(*) AS n,
       |  SUM(${sqlCents("value")}) / 100.0 AS total_value
       |FROM events, (SELECT unnest(generate_series(0, 2)) AS k) g
       |GROUP BY 1, 2
       |ORDER BY w_start, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q88: exact PEARSON CORRELATION profile — per event_type, the
  // correlation between event value and hour-of-day (does spend follow
  // the clock?), the statistical-profiling step beside q73's constraint
  // audit and q80's robust outliers. Spark's built-in `corr` is a
  // streaming-float aggregate — parallel double sums are
  // order-nondeterministic, so its result is neither run-stable nor
  // engine-comparable. This is the Det-scheme rewrite: the five moments
  // (Σx, Σy, Σx², Σy², Σxy) are EXACT integer sums (value in cents ×
  // hour 0–23; accumulated as DECIMAL so 100 TB row counts can't
  // silently wrap int64 — DuckDB's SUM(BIGINT) widens to HUGEINT, same
  // exactness), combined into corr's numerator/denominator IN INTEGER
  // ARITHMETIC (n·Σxy − Σx·Σy — exact, engine-identical), and only the
  // final three ops are floating: two correctly-rounded IEEE sqrt's and
  // one division, in identical association order both sides.
  //
  // Scale: one scan, one 5-row hash aggregate with map-side partials —
  // the moments are algebraic, so this is the textbook one-pass
  // distributed correlation; nothing materializes per-row.
  // ---------------------------------------------------------------------
  val q88Bench: Q = (s, dir) => {
    import s.implicits._
    val dec = DataTypes.createDecimalType(38, 0)
    // per-row products in LONG (exact: x ≤ ~56k cents, x² ≤ ~3.1e9 —
    // nowhere near 2^63), ONE long→decimal cast each feeding the
    // wrap-proof decimal ACCUMULATOR — the overflow risk lives in the
    // sum across 100 TB of rows, not in a single row's product, so the
    // expensive BigDecimal arithmetic happens once per row per moment
    // instead of per multiplication
    val x = cents($"value")
    val y = hour($"ts").cast("long")
    val agg = t(s, dir, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
        sum((x * x).cast(dec)).as("sxx"), sum((y * y).cast(dec)).as("syy"),
        sum((x * y).cast(dec)).as("sxy"))
    agg.select($"event_type", $"n".cast("long").as("n_events"),
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
          .as("corr_value_hour"))
  }
  val q88: Q = (s, dir) => {
    import s.implicits._
    q88Bench(s, dir).orderBy($"event_type")
  }
  val q88Sql: String =
    s"""WITH m AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
       |  FROM (SELECT event_type, ${sqlCents("value")} AS x,
       |          CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
       |        FROM events)
       |  GROUP BY event_type)
       |SELECT event_type, n AS n_events,
       |  CAST(n * sxy - sx * sy AS DOUBLE) /
       |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
       |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_value_hour
       |FROM m
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q111: SPEARMAN RANK CORRELATION — q88's robust sibling: Pearson
  // answers "is the relation linear", Spearman "is it monotone", the
  // version profiling actually wants on heavy-tailed columns (price vs
  // quantity per return flag). Exact Spearman = Pearson over average
  // ranks; ties make average ranks half-integers, so ranks are DOUBLED
  // to stay integer: r2 = 2·rank_min + (tie_count − 1). Scaling both
  // variables by 2 leaves the correlation untouched, and from there
  // q88's Det machinery applies verbatim — exact long per-row products,
  // DECIMAL accumulators, integer moment combination, and exactly two
  // IEEE sqrts + one division at the end. Spark's built-in corr-of-
  // ranks would be order-nondeterministic twice over.
  //
  // Scale: the price the statistic itself demands — two per-group sort
  // shuffles (one per ranking) before the one-pass moment aggregate;
  // groups are few (3 flags) but large, so the sorts are balanced range
  // partitions, not hot single reducers. The moments still collapse
  // map-side; nothing materializes per-row after the windows.
  // ---------------------------------------------------------------------
  val q111Bench: Q = (s, dir) => {
    import s.implicits._
    val dec = DataTypes.createDecimalType(38, 0)
    val base = t(s, dir, "lineitem").select($"l_returnflag",
      cents($"l_extendedprice").as("xv"), cents($"l_quantity").as("yv"))
    // The tie count is expressed on the SAME window spec as the rank —
    // RANGE BETWEEN CURRENT ROW AND CURRENT ROW over (flag ORDER BY xv)
    // frames exactly the xv peer group, which is the tie count the
    // (flag, xv)-partitioned form computed. Sharing the spec puts rank
    // and count in ONE Window node per variable, so the plan pays 2
    // partition-local sorts instead of 4 (the old interleaved form kept
    // re-sorting between specs: plans/r16/q111_spearman_before.txt
    // nodes 4/6/8/11 — and a merely staged rewrite doesn't survive
    // TransposeWindow, which re-interleaves). Same single hash(flag)
    // exchange; §2.4 "operations keyed the same way share one exchange".
    def dblRank(v: Column): Column = {
      val w = Window.partitionBy($"l_returnflag").orderBy(v)
      (lit(2L) * rank().over(w).cast("long") +
        count(lit(1)).over(
          w.rangeBetween(Window.currentRow, Window.currentRow)) - 1L)
    }
    base.select($"l_returnflag", $"yv", dblRank($"xv").as("x"))
      .select($"l_returnflag", $"x", dblRank($"yv").as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum(($"x" * $"x").cast(dec)).as("sxx"),
        sum(($"y" * $"y").cast(dec)).as("syy"),
        sum(($"x" * $"y").cast(dec)).as("sxy"))
      .select($"l_returnflag", $"n".cast("long").as("n_rows"),
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
          .as("spearman_price_qty"))
  }
  val q111: Q = (s, dir) => {
    import s.implicits._
    q111Bench(s, dir).orderBy($"l_returnflag")
  }
  val q111Sql: String =
    s"""WITH r AS (
       |  SELECT l_returnflag,
       |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY xv)
       |      + COUNT(*) OVER (PARTITION BY l_returnflag, xv) - 1 AS x,
       |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY yv)
       |      + COUNT(*) OVER (PARTITION BY l_returnflag, yv) - 1 AS y
       |  FROM (SELECT l_returnflag, ${sqlCents("l_extendedprice")} AS xv,
       |          ${sqlCents("l_quantity")} AS yv
       |        FROM lineitem)),
       |m AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
       |  FROM r GROUP BY l_returnflag)
       |SELECT l_returnflag, n AS n_rows,
       |  CAST(n * sxy - sx * sy AS DOUBLE) /
       |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
       |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_price_qty
       |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q92: SALTED fact⋈dim join, oracle-proven result-invariant — the
  // [[Salted]] utility run as a real revenue rollup so the DuckDB gate
  // (a plain unsalted join) certifies that salting changes the
  // TOPOLOGY and nothing else. The testdata key isn't skewed; the
  // hot-key spread itself is measured in SaltedJoinSpec — this entry
  // pins the half a spec can't: hash-exact equality against an engine
  // that never saw the salt.
  // ---------------------------------------------------------------------
  val q92Bench: Q = (s, dir) => {
    import s.implicits._
    val fact = t(s, dir, "orders")
      .select($"o_custkey".as("custkey"), cents($"o_totalprice").as("price_c"))
    val dim = t(s, dir, "customer")
      .select($"c_custkey".as("custkey"), $"c_nationkey")
    Salted.join(fact, dim, "custkey", shards = 8)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"), money(sum($"price_c")).as("revenue"))
  }
  val q92: Q = (s, dir) => {
    import s.implicits._
    q92Bench(s, dir).orderBy($"c_nationkey")
  }
  val q92Sql: String =
    s"""SELECT c_nationkey, COUNT(*) AS n_orders,
       |  SUM(${sqlCents("o_totalprice")}) / 100.0 AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  /** name -> query function, assembled by [[graft.SparkEntry]]. */
  val queries: Map[String, Q] = Map(
    "q01_pricing_summary"    -> q01,
    "q02_latest_per_key"     -> q02,
    "q03_topk_per_group"     -> q03,
    "q04_join_agg"           -> q04,
    "q05_regional_revenue"   -> q05,
    "q06_filtered_revenue"   -> q06,
    "q07_semi_join"          -> q07,
    "q08_anti_join"          -> q08,
    "q09_intersect"          -> q09,
    "q10_except"             -> q10,
    "q11_rollup"             -> q11,
    "q12_distinct_agg"       -> q12,
    "q13_case_buckets"       -> q13,
    "q14_date_breakdown"     -> q14,
    "q15_string_funcs"       -> q15,
    "q16_daily_window"       -> q16,
    "q17_running_window"     -> q17,
    "q18_topk_global"        -> q18,
    "q19_argmax_per_group"   -> q19,
    "q20_json_extract"       -> q20,
    "q21_pivot"              -> q21,
    "q26_union_dedup"        -> q26,
    "q27_map_encode"         -> q27,
    "q28_sql_entry"          -> q28,
    "q37_abs_deviation"      -> q37,
    "q38_cube"               -> q38,
    "q39_approx_distinct"    -> q39,
    "q42_rank_ntile"         -> q42,
    "q43_percentiles"        -> q43,
    "q44_subqueries"         -> q44,
    "q45_range_frame"        -> q45,
    "q47_asof_join"          -> q47,
    "q48_range_join"         -> q48,
    "q49_approx_percentile"  -> q49,
    "q66_snapshot_diff"      -> q66,
    "q68_sketch_rollup"      -> q68,
    "q69_analytic_windows"   -> q69,
    "q70_grouping_sets"      -> q70,
    "q72_gapfill"            -> q72,
    "q73_quality_audit"      -> q73,
    "q75_unpivot"            -> q75,
    "q76_lateral_topk"       -> q76,
    "q77_fingerprint"        -> q77,
    "q80_mad_outliers"       -> q80,
    "q81_first_nth_value"    -> q81,
    "q85_hopping_window"     -> q85,
    "q88_corr_profile"       -> q88,
    "q111_spearman"          -> q111,
    "q92_salted_join"        -> q92)

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary"    -> q01Sql,
    "q02_latest_per_key"     -> q02Sql,
    "q03_topk_per_group"     -> q03Sql,
    "q04_join_agg"           -> q04Sql,
    "q05_regional_revenue"   -> q05Sql,
    "q06_filtered_revenue"   -> q06Sql,
    "q07_semi_join"          -> q07Sql,
    "q08_anti_join"          -> q08Sql,
    "q09_intersect"          -> q09Sql,
    "q10_except"             -> q10Sql,
    "q11_rollup"             -> q11Sql,
    "q12_distinct_agg"       -> q12Sql,
    "q13_case_buckets"       -> q13Sql,
    "q14_date_breakdown"     -> q14Sql,
    "q15_string_funcs"       -> q15Sql,
    "q16_daily_window"       -> q16Sql,
    "q17_running_window"     -> q17Sql,
    "q18_topk_global"        -> q18Sql,
    "q19_argmax_per_group"   -> q19Sql,
    "q20_json_extract"       -> q20Sql,
    "q21_pivot"              -> q21Sql,
    "q26_union_dedup"        -> q26Sql,
    "q27_map_encode"         -> q27Sql,
    "q28_sql_entry"          -> q28Sql,
    "q37_abs_deviation"      -> q37Sql,
    // q39/q49/q68 carry BRACKET oracles: the sketch values are not
    // cross-engine comparable, so the Spark side emits exact values +
    // a bound-check boolean and the oracle emits the exacts + TRUE — a
    // hash match proves the estimate landed inside its documented
    // error envelope (accuracy also pinned by ApproxDistinctSpec /
    // ApproxPercentileSpec / SketchRollupSpec).
    "q39_approx_distinct"    -> q39Sql,
    "q49_approx_percentile"  -> q49Sql,
    "q68_sketch_rollup"      -> q68Sql,
    "q38_cube"               -> q38Sql,
    "q42_rank_ntile"         -> q42Sql,
    "q43_percentiles"        -> q43Sql,
    "q44_subqueries"         -> q44Sql,
    "q45_range_frame"        -> q45Sql,
    "q47_asof_join"          -> q47Sql,
    "q48_range_join"         -> q48Sql,
    "q66_snapshot_diff"      -> q66Sql,
    "q69_analytic_windows"   -> q69Sql,
    "q70_grouping_sets"      -> q70Sql,
    "q72_gapfill"            -> q72Sql,
    "q73_quality_audit"      -> q73Sql,
    "q75_unpivot"            -> q75Sql,
    "q76_lateral_topk"       -> q76Sql,
    "q77_fingerprint"        -> q77Sql,
    "q80_mad_outliers"       -> q80Sql,
    "q81_first_nth_value"    -> q81Sql,
    "q85_hopping_window"     -> q85Sql,
    "q88_corr_profile"       -> q88Sql,
    "q111_spearman"          -> q111Sql,
    "q92_salted_join"        -> q92Sql)

  /** Bench-time overrides: same semantics minus determinism-only global
    * sorts (which exist purely for the oracle's ordered hash-compare and
    * would be a cluster-wide sort at scale). Verify always runs the full
    * (sorted) form from [[queries]]. */
  override val benchVariants: Map[String, Q] = Map(
    // the sketch queries bench their raw sketch shapes — the bracket
    // oracle's exact-count join-back exists for Verify only and would
    // bench the EXACT path, not the sketch the entry is about
    "q39_approx_distinct"  -> q39Bench,
    "q49_approx_percentile" -> q49Bench,
    "q68_sketch_rollup"    -> q68Bench,
    "q17_running_window"   -> q17Bench,
    "q19_argmax_per_group" -> q19Bench,
    "q45_range_frame"      -> q45Bench,
    "q76_lateral_topk"     -> q76Bench,
    "q69_analytic_windows" -> q69Bench,
    "q72_gapfill"          -> q72Bench,
    "q81_first_nth_value"  -> q81Bench,
    "q85_hopping_window"   -> q85Bench,
    "q88_corr_profile"     -> q88Bench,
    "q111_spearman"        -> q111Bench,
    "q92_salted_join"      -> q92Bench)
}
