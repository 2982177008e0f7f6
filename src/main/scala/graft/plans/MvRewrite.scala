package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.DataType

/** Materialized-view rewrite: answer aggregate queries from a maintained
  * pre-aggregate instead of the raw fact table.
  *
  * The reference pipeline re-aggregates raw data on every dashboard hit
  * (reference: weather_etl.py runs its daily aggregate from scratch each
  * run); at 100 TB the only viable shape is aggregate ONCE into a
  * maintained artifact (graft.queries.Incremental's contract) and answer
  * every compatible query from it. This module supplies the missing
  * half: the QUERY-SIDE rewrite, as a Catalyst [[Rule]] over the
  * optimized logical plan — the user writes the query against the raw
  * table and the plan is substituted, the way Calcite/BigQuery/
  * Snowflake MV rewriting works.
  *
  * Matching is structural, not textual. A registered view is digested
  * into (base relation, grouping expressions, aggregate values), each
  * expression NORMALIZED: project aliases inlined down to the base
  * relation and attributes bound positionally ([[BoundReference]]), so
  * exprId/naming/projection differences between the view's plan and the
  * query's plan cannot produce false negatives, and different base
  * relations cannot produce false positives (leaf match is
  * `sameResult`). A query `Aggregate` rewrites when:
  *
  *  - its base relation is the view's base relation;
  *  - its filters are expressions over the view's GROUPINGS (they move
  *    onto the artifact — a finer filter would need raw rows, so it
  *    correctly fails to match);
  *  - each grouping is an expression over view groupings (equal set →
  *    EXACT hit, a pure projection of the artifact; coarser set →
  *    ROLL-UP, re-aggregating the artifact: count(1) → sum(n),
  *    sum(x) → sum(sum_x), min/max(x) → min/max of the per-group
  *    min/max — the classic distributive-aggregate algebra);
  *  - each aggregate is count(1)/sum/min/max over a value the view
  *    materialized (no DISTINCT, no FILTER clause: neither survives
  *    pre-aggregation).
  *
  * Soundness note on empty groups: a roll-up of an empty grouping set
  * (global aggregate) over an EMPTY artifact would return one null row
  * where the raw query returns one zero-count row, so global aggregates
  * only rewrite when the view is known non-empty — conservatively, we
  * require a non-empty grouping list on the query side.
  *
  * Two deployment modes share the same matcher:
  *  - [[Mv.rewrite]]: explicit, plan-in/plan-out — deterministic,
  *    session-state-free; what q93/q94 run through the correctness gate.
  *  - [[MvRewriteRule]] injected via `spark.experimental
  *    .extraOptimizations` and gated by conf `graft.mv.rewrite` — the
  *    transparent always-on mode, exercised by MvRewriteSpec in a
  *    session it controls (gated so shared Verify/Bench sessions keep
  *    order-independent plans for every OTHER query).
  */
object Mv {

  /** One registered view: digest of its defining aggregate.
    *
    * @param groupings leaf-normalized canonical grouping expr -> artifact column
    * @param values    (agg kind, leaf-normalized canonical input, artifact column);
    *                  kind ∈ count1|sum|min|max, input is Literal(1) for count1
    * @param schema    artifact columns in defining-output order (+ types as
    *                  the defining plan produced them — the parquet roundtrip
    *                  must cast back, e.g. for partition-type inference)
    */
  final case class MvDef(
      name: String,
      path: String,
      leaf: LogicalPlan,
      groupings: Seq[(Expression, String)],
      values: Seq[(String, Expression, String)],
      schema: Seq[(String, DataType)])

  // Session-keyed registry (same lifetime posture as the ARTIFACT-CACHE
  // CONTRACT at graft.SourceStamp: entries live for the session; an MvDef
  // holds only plan metadata, no persisted data, and artifact freshness
  // is owned by the registering module's SourceStamp check — a
  // regenerated dataset rebuilds the artifact under the same path, which
  // the registered digest keeps matching because it names the path, not
  // file identities).
  private val registry = new ConcurrentHashMap[String, Vector[MvDef]]()

  private def key(s: SparkSession): String = ExprBridge.sessionKey(s)

  def registered(s: SparkSession): Vector[MvDef] =
    registry.getOrDefault(key(s), Vector.empty)

  /** Register `defining` (an aggregate over a base table) as maintained
    * at `path`. Idempotent per (session, name). The artifact itself must
    * already exist and hold exactly `defining`'s rows — maintenance is
    * the caller's contract (graft.queries.Materialized builds and
    * stamps it). */
  def register(s: SparkSession, name: String, defining: DataFrame, path: String): Unit =
    synchronized {
      val cur = registered(s)
      if (!cur.exists(d => d.name == name && d.path == path)) {
        val d = digest(name, path, defining.queryExecution.optimizedPlan)
          .getOrElse(throw new IllegalArgumentException(
            s"mv '$name': defining query is not a supported aggregate"))
        registry.put(key(s), cur.filterNot(_.name == name) :+ d)
      }
    }

  /** Install the transparent mode: the rule into the session's user
    * optimizer batch (fires only while conf graft.mv.rewrite=true). */
  def enable(s: SparkSession): Unit = synchronized {
    val ex = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!ex.extraOptimizations.exists(_.isInstanceOf[MvRewriteRule]))
      ex.extraOptimizations = ex.extraOptimizations :+ MvRewriteRule(s)
  }

  /** Explicit mode: rewrite every matching Aggregate in `df`'s plan,
    * returning a DataFrame over the substituted plan (the input plan
    * unchanged where nothing matches). */
  def rewrite(s: SparkSession, df: DataFrame): DataFrame =
    ExprBridge.ofRows(s, rewritePlan(s, df.queryExecution.optimizedPlan))

  private[plans] def rewritePlan(s: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val defs = registered(s)
    if (defs.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        defs.view.flatMap(d => tryRewrite(s, d, agg)).headOption.getOrElse(agg)
    }
  }

  // ----------------------------------------------------------------- //
  // Normalization: expressions over a Project/Filter chain, inlined    //
  // down to the chain's leaf and bound positionally to its output.     //
  // ----------------------------------------------------------------- //

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** Peel Project/Filter down to a leaf. Returns (leaf, rewriter taking
    * expressions over the TOP plan's output to expressions over the
    * leaf's output, leaf-normalized filter conjuncts). */
  private def linearize(p: LogicalPlan)
      : Option[(LogicalPlan, Expression => Expression, Seq[Expression])] = p match {
    case Project(ps, child) =>
      linearize(child).map { case (leaf, f, filts) =>
        val m: Map[ExprId, Expression] =
          ps.map(ne => ne.exprId -> (ne match {
            case a: Alias => a.child
            case e        => e
          })).toMap
        val g: Expression => Expression = e =>
          f(e.transformUp {
            case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
          })
        (leaf, g, filts)
      }
    case Filter(cond, child) =>
      linearize(child).map { case (leaf, f, filts) =>
        (leaf, f, filts ++ conjuncts(cond).map(f))
      }
    case leaf: LeafNode => Some((leaf, identity, Nil))
    case _              => None
  }

  /** Bind `e`'s attributes positionally to `leafOut` and canonicalize —
    * the cross-plan comparable form. None if `e` references anything
    * outside the leaf. */
  private def bind(e: Expression, leafOut: Seq[Attribute]): Option[Expression] = {
    var ok = true
    val b = e.transformUp {
      case a: AttributeReference =>
        val i = leafOut.indexWhere(_.exprId == a.exprId)
        if (i < 0) { ok = false; a }
        else BoundReference(i, a.dataType, nullable = true)
    }
    if (ok && !b.exists(_.isInstanceOf[AttributeReference])) Some(b.canonicalized)
    else None
  }

  /** Digest a defining plan: Aggregate over an unfiltered Project chain
    * over a leaf. */
  private def digest(name: String, path: String, plan: LogicalPlan): Option[MvDef] =
    plan match {
      case Aggregate(_, out, child, _) =>
        linearize(child).flatMap { case (leaf, f, filts) =>
          if (filts.nonEmpty) None // a filtered MV needs containment checks we don't do
          else {
            val leafOut = leaf.output
            val gs = Vector.newBuilder[(Expression, String)]
            val vs = Vector.newBuilder[(String, Expression, String)]
            var ok = true
            out.foreach {
              case a @ Alias(ae: AggregateExpression, _) =>
                aggKind(ae, f, leafOut) match {
                  case Some((kind, in)) => vs += ((kind, in, a.name))
                  case None             => ok = false
                }
              case ne =>
                val e = ne match { case a: Alias => a.child; case x => x }
                bind(f(e), leafOut) match {
                  case Some(c) => gs += ((c, ne.name))
                  case None    => ok = false
                }
            }
            val d = MvDef(name, path, leaf, gs.result(), vs.result(),
              plan.output.map(o => (o.name, o.dataType)))
            if (ok && d.groupings.nonEmpty && d.values.nonEmpty) Some(d) else None
          }
        }
      case _ => None
    }

  /** Classify a supported aggregate call; `in` is its leaf-normalized
    * canonical input (Literal(1) sentinel for count(1)). */
  private def aggKind(ae: AggregateExpression, f: Expression => Expression,
      leafOut: Seq[Attribute]): Option[(String, Expression)] = {
    if (ae.isDistinct || ae.filter.nonEmpty) return None
    ae.aggregateFunction match {
      case c: Count if c.children.sizeIs == 1 && c.children.head.isInstanceOf[Literal] &&
          c.children.head.asInstanceOf[Literal].value != null =>
        Some(("count1", Literal(1)))
      case s: Sum => bind(f(s.child), leafOut).map(("sum", _))
      case m: Min => bind(f(m.child), leafOut).map(("min", _))
      case m: Max => bind(f(m.child), leafOut).map(("max", _))
      case _      => None
    }
  }

  // ----------------------------------------------------------------- //
  // The rewrite attempt                                                 //
  // ----------------------------------------------------------------- //

  private def tryRewrite(s: SparkSession, d: MvDef, agg: Aggregate): Option[LogicalPlan] = {
    val (g2, out2, child) =
      (agg.groupingExpressions, agg.aggregateExpressions, agg.child)
    if (g2.isEmpty) return None // global agg: see soundness note
    linearize(child).flatMap { case (leaf, f, filts) =>
      if (!leaf.sameResult(d.leaf)) None
      else {
        val leafOut = leaf.output
        // fresh artifact scan, columns cast+ordered back to defining shape
        val art = s.read.parquet(d.path)
          .select(d.schema.map { case (n, t) => col(n).cast(t).as(n) }: _*)
          .queryExecution.analyzed
        val artAttr: Map[String, Attribute] = art.output.map(a => a.name -> a).toMap
        val gmap: Map[Expression, Attribute] =
          d.groupings.map { case (c, n) => c -> artAttr(n) }.toMap
        val vmap: Map[(String, Expression), Attribute] =
          d.values.map { case (k, in, n) => (k, in) -> artAttr(n) }.toMap

        /** Express a leaf-level expression in terms of artifact grouping
          * columns (literals pass; anything needing raw rows fails). */
        def inTerms(e: Expression): Option[Expression] =
          bind(e, leafOut).flatMap(gmap.get) match {
            case Some(a) => Some(a)
            case None =>
              if (e.references.isEmpty && e.children.isEmpty) Some(e)
              else if (e.children.isEmpty) None
              else {
                val kids = e.children.map(inTerms)
                if (kids.forall(_.isDefined)) Some(e.withNewChildren(kids.map(_.get)))
                else None
              }
          }

        /** True iff `e` is provably NON-NULL whenever all its inputs are
          * non-null. `nullIntolerant` alone is NOT enough for the
          * IsNotNull transfer: it only gives null-in → null-out, and the
          * transfer needs the converse — a grouping like a non-ANSI
          * `Cast` can return null on a NON-null input (overflow), which
          * would make IsNotNull(grouping) strictly stronger than
          * IsNotNull(col) and silently drop the overflow row. So the
          * transfer path is restricted to a whitelist of expressions
          * total on non-null input (decimal arithmetic excluded: its
          * overflow also nulls under non-ANSI semantics). */
        def totalOnNonNull(e: Expression): Boolean = e match {
          case _: DateFormatClass | _: Concat | _: Upper | _: Lower |
               _: Length | _: Year | _: Month | _: DayOfMonth |
               _: Hour | _: Minute | _: Second | _: TruncDate |
               _: TruncTimestamp | _: Substring => true
          case _: Add | _: Subtract | _: Multiply | _: UnaryMinus |
               _: Abs =>
            // integral/float arithmetic wraps or saturates, never nulls;
            // DecimalType overflow nulls under spark.sql.ansi.enabled=false
            !e.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
          case _ => false
        }

        /** True iff `hay` contains `needle` with every expression on the
          * path null-intolerant (null-in → null-out) AND total on
          * non-null input (non-null-in → non-null-out) — then hay is
          * null EXACTLY when needle is, so IsNotNull transfers through
          * it in both directions, unconditionally. */
        def nullLinked(hay: Expression, needle: Expression): Boolean =
          hay == needle ||
            (hay.nullIntolerant && totalOnNonNull(hay) &&
              hay.children.exists(nullLinked(_, needle)))

        /** The one-directional version (null-in → null-out only): NOT
          * sufficient on its own — see [[totalOnNonNull]] — but sound
          * when a companion conjunct already null-guards the artifact
          * column (the [[translateFilters]] pass-2 rule). */
        def weakNullLinked(hay: Expression, needle: Expression): Boolean =
          hay == needle ||
            (hay.nullIntolerant && hay.children.exists(weakNullLinked(_, needle)))

        /** True iff filter `c` cannot evaluate to TRUE when `a` is null:
          * `a` occurs in `c` under null-intolerant expressions only, so
          * c(a=null) is null and the Filter drops the row. */
        def nullGuards(c: Expression, a: Attribute): Boolean =
          (c eq a) || c.fastEquals(a) ||
            (c.nullIntolerant && c.children.exists(nullGuards(_, a)))

        /** Filter-conjunct translation: [[inTerms]] plus the IsNotNull
          * transfer — the optimizer's InferFiltersFromConstraints adds
          * `isnotnull(base_col)` conjuncts that no grouping equals, but
          * any null-intolerant grouping CONTAINING the column filters the
          * same rows (e.g. isnotnull(ts) ⇔ isnotnull(date_format(ts))). */
        def filterTerms(e: Expression): Option[Expression] = e match {
          case IsNotNull(x) =>
            inTerms(e).orElse {
              bind(x, leafOut).flatMap { xc =>
                gmap.collectFirst {
                  case (gc, a) if nullLinked(gc, xc) => IsNotNull(a)
                }
              }
            }
          case _ => inTerms(e)
        }

        /** Whole-conjunct-set translation. Pass 1 is [[filterTerms]];
          * pass 2 rescues IsNotNull conjuncts whose grouping path is
          * null-intolerant but NOT whitelist-total (e.g. contains a
          * string→timestamp Cast): the transfer is still sound when some
          * pass-1-translated conjunct null-guards the same artifact
          * column, because then BOTH sides already drop the null group —
          * raw: the guarding conjunct over g(x) is null-intolerant, so
          * rows where g(x) is null (whether from null x or a non-null x
          * the path nulls out) never pass; artifact: the translated
          * guard drops the a-null group. Group membership agrees
          * exactly, and the extra IsNotNull(a) is redundant-but-harmless
          * pushdown fuel. */
        def translateFilters(fs: Seq[Expression]): Option[Seq[Expression]] = {
          val pass1 = fs.map(e => e -> filterTerms(e))
          val ok = pass1.collect { case (_, Some(t)) => t }
          val out = pass1.map {
            case (_, some @ Some(_)) => some
            case (IsNotNull(x), None) =>
              bind(x, leafOut).flatMap { xc =>
                gmap.collectFirst {
                  case (gc, a) if weakNullLinked(gc, xc) &&
                    ok.exists(nullGuards(_, a)) => IsNotNull(a)
                }
              }
            case _ => None
          }
          if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
        }

        def mapAgg(ae: AggregateExpression, exact: Boolean): Option[Expression] =
          aggKind(ae, f, leafOut).flatMap(vmap.get).map { a =>
            if (exact) a
            else ae.aggregateFunction match {
              case _: Count | _: Sum => Sum(a).toAggregateExpression()
              case _: Min            => Min(a).toAggregateExpression()
              case _: Max            => Max(a).toAggregateExpression()
              case _                 => throw new IllegalStateException("unreachable")
            }
          }

        /** Translate an output expression: aggregates via [[mapAgg]],
          * everything else as a grouping-derived expression. */
        def xlate(e: Expression, exact: Boolean): Option[Expression] = e match {
          case ae: AggregateExpression => mapAgg(ae, exact)
          case _ =>
            inTerms(f(e)) match {
              case some @ Some(_) => some
              case None if e.children.nonEmpty =>
                val kids = e.children.map(xlate(_, exact))
                if (kids.forall(_.isDefined)) Some(e.withNewChildren(kids.map(_.get)))
                else None
              case None => None
            }
        }

        val g2t = g2.map(g => inTerms(f(g)))
        val ftr = translateFilters(filts)
        if (g2t.exists(_.isEmpty) || ftr.isEmpty) None
        else {
          val base: LogicalPlan =
            if (ftr.get.isEmpty) art
            else Filter(ftr.get.reduce(And), art)
          // EXACT hit iff the query groups at least as fine as the view's
          // full key (every view grouping column appears bare) — then each
          // artifact row IS one result group and aggregates project through.
          val bare = g2t.flatten.collect { case a: Attribute => a.exprId }.toSet
          val exact = d.groupings.forall { case (_, n) => bare(artAttr(n).exprId) }
          val outs = out2.map { ne =>
            val inner = ne match { case a: Alias => a.child; case x => x }
            xlate(inner, exact)
              .map(t => Alias(t, ne.name)(exprId = ne.exprId))
          }
          if (outs.exists(_.isEmpty)) None
          else if (exact) Some(Project(outs.map(_.get), base))
          else Some(Aggregate(g2t.map(_.get), outs.map(_.get), base))
        }
      }
    }
  }
}

/** Transparent mode of [[Mv]]: a user optimizer rule, conf-gated so only
  * sessions that opt in (`SET graft.mv.rewrite=true`) get plans
  * substituted — registered via `spark.experimental.extraOptimizations`
  * ([[Mv.enable]]), the public hook that works on a LIVE session (the
  * driver contract hands this library sessions it didn't build, so
  * SparkSessionExtensions-at-builder-time can't be required). */
case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString("graft.mv.rewrite", "false") != "true") plan
    else Mv.rewritePlan(spark, plan)
}
