package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{GlobalLimitExec, SortExec, TakeOrderedAndProjectExec}

/** PLAN GOVERNANCE — the pre-flight check a 100 TB cluster runs before
  * admitting a query: walk the physical plan and refuse the shapes that
  * are correct on 60k test rows and catastrophic on a 1000-executor
  * corpus. The engine's own query library is the proof of
  * enforceability: every benched plan passes (GuardRailsSpec runs the
  * checker over ALL of them), because the same hazards the checker
  * rejects are the ones the library was designed around — bounded
  * probe-side cross joins, partitioned windows, top-k instead of global
  * sorts.
  *
  * Checked hazards (each with the scale reasoning in its message):
  *  - CARTESIAN/unconditioned nested-loop joins where BOTH sides can be
  *    large: |A|×|B| rows. Broadcast-side loops are admitted — a
  *    broadcast side is already proven driver-small, the library's
  *    1-row/K-row probe pattern (q24/q53/q78).
  *  - UNPARTITIONED WINDOW over unbounded input: `Window.orderBy`
  *    without partitionBy moves the whole dataset through ONE reducer.
  *    Admitted when the window's input is bounded by a LIMIT (the
  *    library's rank-over-top-20 fusion shape, q101) or by an
  *    aggregation that provably collapsed cardinality first (q107's
  *    per-length maxima).
  *  - GLOBAL SORT with no LIMIT above it and no downstream consumer
  *    that bounds it: a full range-partitioned sort of the corpus as
  *    the query RESULT is almost always a mistake at 100 TB (ordering
  *    for humans happens after a top-k). Flagged, not fatal, by
  *    default: legitimate for final writes clustered by key — callers
  *    opt into strictness.
  *
  * Usage: `GuardRails.audit(df)` returns every hazard;
  * `GuardRails.gate(name, df)` returns those the justified allowlist
  * does not cover (Bench refuses on them, Verify logs them).
  */
object GuardRails {

  final case class Hazard(kind: String, detail: String)

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** True when every row path into `p` is bounded by a limit/top-k, or
    * collapses through an aggregation whose output is grouping-bounded. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.LocalLimitExec => true
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      // grouping by nothing = at most one row per partition
      if a.groupingExpressions.isEmpty => true
    case other if other.children.isEmpty => false
    case other => other.children.forall(bounded)
  }

  /** ORDERED-DOMAIN WALK: a global window is admitted when its input
    * (through transparent unary nodes — project/sort/exchange/filter)
    * is a grouped FINAL aggregation and the window's ORDER BY
    * references only the aggregation's grouping attributes. The
    * aggregation provably collapsed cardinality to the distinct-key
    * domain BEFORE the single-reducer pass, so the window walks a
    * domain, not the corpus — the skyline/cumulative-distribution
    * shape (q107: cummax of per-length maxima over distinct lengths).
    * The residual risk is a corpus-sized grouping key (groupBy doc_id
    * then a global walk would pass this check); that shape is a design
    * smell the checker cannot distinguish from a legitimate
    * high-cardinality domain statically, and it is still strictly
    * tighter than the allowlist it replaces — the admitted plan must
    * actually aggregate first, which the pre-round-10 q107 (window +
    * filter collapse) did not even do. Partial-only aggregates do NOT
    * qualify: a map-side partial max collapses nothing globally, so
    * the walk stops at the first aggregate and requires it to sit
    * above the exchange (Final/Complete mode). */
  @scala.annotation.tailrec
  private def firstHard(p: SparkPlan): SparkPlan = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    case u if u.children.size == 1 &&
      !u.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec] &&
      !u.isInstanceOf[WindowExec] => firstHard(u.children.head)
    case other => other
  }

  /** The input (through transparent unary nodes) is a grouped FINAL
    * aggregation — its cardinality is the distinct-key domain, not the
    * corpus. The shared admission predicate of [[groupedDomainWalk]]
    * and the cartesian check's domain×domain rule. */
  private def groupedDomainSide(p: SparkPlan): Boolean = firstHard(p) match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.nonEmpty &&
        a.aggregateExpressions.forall(ae =>
          ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final ||
          ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete)
    case _ => false
  }

  private def groupedDomainWalk(w: WindowExec): Boolean = {
    firstHard(w.child) match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if groupedDomainSide(a) =>
        val groupAttrs = org.apache.spark.sql.catalyst.expressions.AttributeSet(
          a.groupingExpressions.map(_.toAttribute))
        val orderRefs = org.apache.spark.sql.catalyst.expressions.AttributeSet(
          w.orderSpec.flatMap(_.references))
        orderRefs.subsetOf(groupAttrs)
      case _ => false
    }
  }

  /** Domain bound for the cartesian admission's RUNTIME backstop: an
    * admitted domain×domain product may pair at most this² rows
    * (4096² ≈ 17M — planning-scale pair joins, q108's |sources|² class,
    * never a corpus²). */
  val DomainBound: Int = 4096

  /** RUNTIME CARDINALITY BACKSTOP: the static domain×domain proof
    * ([[groupedDomainSide]]) certifies the SHAPE — each side aggregates
    * before the product — but not the domain's size: `groupBy(doc_id)`
    * on both sides is shaped like `groupBy(source)` and would ride the
    * proof to a corpus² product. So an admitted cartesian side must
    * also CONFIRM its cardinality at gate time: execute the side's own
    * subplan, stopping at [[DomainBound]]+1 rows (`executeTake` — the
    * incremental take that launches partial jobs, so a corpus-sized
    * side costs one aggregate evaluation, not a collect). These are
    * actual runtime rows — the same ground truth AQE replans on — not
    * an estimate; a side the probe cannot execute is refused, never
    * assumed small. The probe costs one extra evaluation of each
    * aggregate side per audit; sides are domain-sized by the time they
    * reach it, and only cartesian-bearing plans (q108's class) pay it. */
  /** MEMOIZED per (canonical plan, source identity): Bench and Verify
    * both gate every plan, so an admitted q108-class query would
    * otherwise pay the probe's aggregate evaluation on every audit of
    * the same plan over the same files. The key carries the side's
    * canonicalized plan (expression-id-free) plus each leaf scan's
    * location and file count, so a plan re-probed after its source
    * tables changed misses the cache honestly; bounded at
    * [[ProbeCacheMax]] entries (cleared wholesale — the working set is
    * a handful of cartesian-bearing plans). */
  private val ProbeCacheMax = 256
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  /** Number of ACTUAL probe executions (cache misses) — the spec pins
    * that a re-audit of an unchanged plan costs zero evaluations. */
  private[plans] val probeRuns = new java.util.concurrent.atomic.AtomicLong(0)

  private def probeKey(p: SparkPlan): String = {
    val srcs = p.collectWithSubqueries {
      // the FULL file list (hashed), not its length: an overwrite that
      // lands the same number of files must MISS the cache — file names
      // here are uuid-staged, so content changes always change the key
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",") + "#" +
          java.util.Arrays.hashCode(
            f.relation.location.inputFiles.asInstanceOf[Array[AnyRef]])
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }
    p.canonicalized.toString + "\n@" + srcs.mkString("|")
  }

  private def domainSmall(p: SparkPlan): Boolean = {
    if (probeCache.size > ProbeCacheMax) probeCache.clear()
    val key = probeKey(p)
    val cached = probeCache.get(key)
    if (cached != null) return cached.booleanValue()
    probeRuns.incrementAndGet()
    // executeTake assumes a row-producing plan with columnar↔row
    // transitions in place, but an AQE fragment (initialPlan) has NONE
    // of them — they are inserted per query stage at execution. A
    // top-level ColumnarToRowExec wrap is not enough (seen at sf10: a
    // columnar scan nested under the row-based aggregate throws
    // ColumnarBatch-as-InternalRow), so run Spark's OWN transition
    // insertion over the whole fragment (empty extension-rule list —
    // the built-in columnar↔row adapters are what we need), exactly
    // what query-stage preparation would do.
    val rows = org.apache.spark.sql.execution
      .ApplyColumnarRulesAndInsertTransitions(Nil, outputsColumnar = false)
      .apply(p)
    scala.util.Try(rows.executeTake(DomainBound + 1).length <= DomainBound) match {
      case scala.util.Success(small) =>
        // only SUCCESSFUL probes memoize — a transient failure must not
        // permanently refuse an admissible plan
        probeCache.putIfAbsent(key, java.lang.Boolean.valueOf(small))
        small
      case scala.util.Failure(_) => false
    }
  }

  /** Every node in the plan INCLUDING subquery plans and plans nested
    * under adaptive nodes — a hazard hidden inside a scalar/IN subquery
    * must not bypass the gate. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case x => x }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.initialPlan)
      case x => Seq(x)
    }

  /** All hazards in the df's physical plan (strict=true also flags
    * unbounded global sorts). Note on BroadcastNestedLoopJoin: an
    * UNCONDITIONED loop join over a broadcast side is admitted — the
    * broadcast build is itself memory-bounded by the engine (it fails
    * loud at build time if the side is large), and the library's
    * 1-row/K-row probe pattern (q24/q53/q110) planfully relies on it;
    * the unbounded×unbounded hazard can only materialize as
    * CartesianProduct, which IS checked. */
  def audit(df: DataFrame, strict: Boolean = false): Seq[Hazard] = {
    val plan = initialPlan(df)
    val nodes = allNodes(plan)
    val hazards = Seq.newBuilder[Hazard]
    // cartesian joins — both sides streamed and unbounded. A cartesian
    // whose BOTH sides are grouped FINAL aggregations is admitted: each
    // side is its distinct-key domain, so the product is domain², not
    // corpus² — the pairwise-over-categories shape (q108's per-source
    // sketch pairs). At small SF the same plan is a BNLJ over a
    // broadcast side (already admitted); AQE flips it to CartesianProduct
    // exactly when the domain outgrows the broadcast threshold, and the
    // admission must not depend on that size estimate. Same residual
    // risk and same tightness argument as [[groupedDomainWalk]].
    nodes.foreach {
      case c: CartesianProductExec if !bounded(c.left) && !bounded(c.right) =>
        val staticOk = groupedDomainSide(c.left) && groupedDomainSide(c.right)
        // static shape proof first (cheap), then the runtime cardinality
        // backstop — a groupBy(corpus-key)² plan passes the shape check
        // but its probe exceeds [[DomainBound]] and is refused here
        if (!staticOk)
          hazards += Hazard("cartesian",
            s"CartesianProduct with both sides unbounded: |A|x|B| rows at scale " +
              s"(condition=${c.condition})")
        else if (!(domainSmall(c.left) && domainSmall(c.right)))
          hazards += Hazard("cartesian",
            s"domain x domain cartesian admission REFUSED at runtime: a side " +
              s"exceeds $DomainBound rows (or could not be probed) — the " +
              s"grouping key is corpus-sized, not a bounded domain " +
              s"(condition=${c.condition})")
      case _ => ()
    }
    // unpartitioned windows over unbounded input
    nodes.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) &&
        !groupedDomainWalk(w) =>
        hazards += Hazard("global-window",
          "Window without PARTITION BY over unbounded input: the whole " +
            "dataset moves through one reducer; partition it, or bound " +
            "the input with a top-k first")
      case _ => ()
    }
    if (strict) {
      // a global sort as the terminal shape with no limit above it
      def hasLimitAbove(p: SparkPlan, target: SparkPlan): Boolean = {
        def path(cur: SparkPlan, acc: List[SparkPlan]): Option[List[SparkPlan]] =
          if (cur.eq(target)) Some(acc)
          else cur.children.view.flatMap(c => path(c, cur :: acc)).headOption
        path(plan, Nil).exists(_.exists {
          case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
          case _ => false
        })
      }
      plan.foreach {
        case s: SortExec if s.global && !bounded(s.child) &&
          !hasLimitAbove(plan, s) =>
          hazards += Hazard("global-sort",
            "global ORDER BY of unbounded data with no LIMIT: a full " +
              "range-partitioned sort of the corpus — order after a " +
              "top-k, or drop the sort (writers don't need it)")
        case _ => ()
      }
    }
    hazards.result()
  }

  /** Queries whose flagged shape is bounded BY CONSTRUCTION in a way a
    * plan walk cannot see — each with the reason the shape is sound at
    * 100 TB (the query's scaladoc carries the full argument). Pinned
    * here so the spec's sweep and the run-time gates ([[gate]], used by
    * graft.Bench / graft.Verify) enforce the same list. */
  val auditedAllowlist: Map[String, String] = Map.empty
  // (q107 was the single entry through round 9; its plan now aggregates
  // per-length maxima BEFORE the global cummax, so [[groupedDomainWalk]]
  // verifies the bound from the plan itself and the list is empty.)

  /** The RUN-TIME gate: hazards for `name`'s plan, empty when the query
    * is on the justified allowlist. Bench refuses to time a violating
    * plan (recorded as an error, nonzero exit); Verify logs it — so a
    * future query cannot get benched un-audited. */
  def gate(name: String, df: DataFrame): Seq[Hazard] =
    if (auditedAllowlist.contains(name)) Seq.empty else audit(df)
}
