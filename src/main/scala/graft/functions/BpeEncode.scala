package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Apply a trained BPE merge table to a '|'-delimited symbol string in
  * ONE expression — the production form of q115's tokenizer apply.
  *
  * Semantics are EXACTLY the chained-replace form it replaces: for each
  * merge (l, r) in training order, one left-to-right non-overlapping
  * literal replace of `"|l|r|"` with `"|lr|"` — the same single pass
  * both Spark's `replace` (UTF8String.replace) and DuckDB's `replace`
  * make, which is what the q112/q115 oracles pinned cross-engine
  * (including the subtle bit: a match consumes its closing delimiter,
  * so '|l|l|l|' merges once, leftmost). Java's literal
  * `String.replace` has identical left-to-right non-overlapping
  * semantics, and UTF-8 is self-synchronizing, so byte-level and
  * char-level search agree on valid strings — the loop below IS the
  * replace chain, just iterated in the JVM instead of stacked in the
  * plan.
  *
  * Why an expression and not a fold of `replace()` columns: plan depth.
  * The chained form adds one Catalyst node per merge — fine at the
  * 5-round test table, fatal at a production 32k-merge vocabulary
  * (analysis, optimization, and codegen all walk a 32k-deep expression
  * tree; codegen splits collapse). Here the merge table is constructor
  * data: plan depth is constant in the vocabulary size, and the
  * per-merge `indexOf` pre-check skips the allocation for the (at
  * large vocabularies, overwhelming) majority of merges a given
  * document never triggers.
  *
  * CodegenFallback for the [[DeflateSize]] reason: the per-row cost IS
  * the merge loop; there is nothing for whole-stage codegen to fuse.
  * Scale shape: pure per-row projection, no shuffle, no state — the
  * merge table rides the closure as planning data (the IVF-centroid
  * class), so encoding 100 TB is embarrassingly parallel.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input (the '|'-delimited symbol " +
        s"encoding), got ${t.sql}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_encode"

  // search/replacement literals derived once per (driver or executor)
  // instance, not per row
  @transient private lazy val searches: Array[String] =
    merges.map { case (l, r) => s"|$l|$r|" }.toArray
  @transient private lazy val repls: Array[String] =
    merges.map { case (l, r) => s"|$l$r|" }.toArray

  override def nullSafeEval(input: Any): Any = {
    var s = input.asInstanceOf[UTF8String].toString
    var i = 0
    while (i < searches.length) {
      // contains() pre-check: replace() always allocates a copy; most
      // merges of a large vocabulary never fire for a given document
      if (s.contains(searches(i))) s = s.replace(searches(i), repls(i))
      i += 1
    }
    UTF8String.fromString(s)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeEncode {
  /** `count_in(bpe_encode(c), "|")` as ONE expression returning LONG —
    * what q115 actually consumes. The length−length(replace(enc,'|',''))
    * form referenced the encoded column twice in an interpreted
    * projection (CodegenFallback disables whole-stage fusion there) and
    * allocated a delimiter-stripped copy of every encoded document just
    * to diff lengths; counting '|' chars directly in the merge loop's
    * result skips both (guide §4: cut per-row work in non-codegen hot
    * paths). Spec-pinned equal to the two-step form in BpeEncodeSpec. */
  def bpeDelimCount(c: Column, merges: Seq[(String, String)]): Column =
    ExprBridge.column(BpeDelimCount(ExprBridge.expression(c), merges))
}

/** [[BpeEncode]] fused with the delimiter count consumers take on its
  * result: identical merge loop, but the final string is never
  * materialized as a column value — the eval returns how many '|'
  * symbols the encoding contains. */
case class BpeDelimCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input (the '|'-delimited symbol " +
        s"encoding), got ${t.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_delim_count"

  @transient private lazy val searches: Array[String] =
    merges.map { case (l, r) => s"|$l|$r|" }.toArray
  @transient private lazy val repls: Array[String] =
    merges.map { case (l, r) => s"|$l$r|" }.toArray

  override def nullSafeEval(input: Any): Any = {
    var s = input.asInstanceOf[UTF8String].toString
    var i = 0
    while (i < searches.length) {
      if (s.contains(searches(i))) s = s.replace(searches(i), repls(i))
      i += 1
    }
    var n = 0L
    var j = 0
    while (j < s.length) { if (s.charAt(j) == '|') n += 1L; j += 1 }
    n
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDelimCount =
    copy(child = newChild)
}
