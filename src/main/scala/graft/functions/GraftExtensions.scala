package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for graft's custom expressions through the PUBLIC
  * extension hook: call `withExtensions(new GraftExtensions)` on a
  * session builder — or set
  * `spark.sql.extensions=graft.functions.GraftExtensions` — and
  * `long_array_dot(a, b)` / `md5_chunks(s)` / `shingles3(tk)` /
  * `json_get_long(s, 'field')` / `count_in_set(tk, array(...))` /
  * `topk_by_score(score, id, k)` become callable from SQL.
  *
  * The DataFrame API path ([[GraftFunctions]] / [[Md5Chunks.md5Chunks]])
  * does not depend on this: the driver contract hands the library
  * arbitrary sessions, so column-level construction must not require
  * session-creation-time registration. This class is for SQL-first
  * deployments that own their session builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // materialized-view substitution (graft.plans.Mv) for sessions built
    // with these extensions; same conf gate (graft.mv.rewrite) as the
    // experimental-methods injection path Mv.enable uses on live sessions
    ext.injectOptimizerRule(s => graft.plans.MvRewriteRule(s))
    ext.injectFunction((
      new FunctionIdentifier("long_array_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "long_array_dot"),
      (args: Seq[Expression]) => LongArrayDot(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("md5_chunks"),
      new ExpressionInfo(classOf[Md5Chunks].getName, "md5_chunks"),
      (args: Seq[Expression]) => Md5Chunks(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (args: Seq[Expression]) => Shingles3(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("json_get_long"),
      new ExpressionInfo(classOf[JsonGetLong].getName, "json_get_long"),
      (args: Seq[Expression]) => args(1) match {
        case Literal(f: UTF8String, StringType) => JsonGetLong(args(0), f.toString)
        case other => throw new IllegalArgumentException(
          s"json_get_long requires a literal field name, got $other")
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (args: Seq[Expression]) => args(2) match {
        case Literal(k: Int, org.apache.spark.sql.types.IntegerType) =>
          TopKByScore(args(0), args(1), k).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"topk_by_score requires a literal int k, got $other")
      }))
    ext.injectFunction((
      new FunctionIdentifier("deflate_size"),
      new ExpressionInfo(classOf[DeflateSize].getName, "deflate_size"),
      (args: Seq[Expression]) => DeflateSize(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[FreqSketch].getName, "freq_sketch"),
      (args: Seq[Expression]) => args(1) match {
        case Literal(k: Int, org.apache.spark.sql.types.IntegerType) =>
          FreqSketch(args(0), k).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"freq_sketch requires a literal int k, got $other")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "bloom_agg"),
      (args: Seq[Expression]) => {
        // SQL numeric literals arrive as int/long/decimal depending on
        // how they were written — accept any foldable numeric
        def asLong(e: Expression): Long = e.eval() match {
          case l: java.lang.Long    => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case o => throw new IllegalArgumentException(
            s"bloom_agg expectedItems must be an integral literal, got $o")
        }
        def asDouble(e: Expression): Double = e.eval() match {
          case d: java.lang.Double => d.doubleValue()
          case f: java.lang.Float  => f.doubleValue()
          case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
          case o => throw new IllegalArgumentException(
            s"bloom_agg fpp must be a numeric literal, got $o")
        }
        if (!args(1).foldable || !args(2).foldable)
          throw new IllegalArgumentException(
            "bloom_agg requires literal (expectedItems, fpp)")
        BloomAgg(args.head, asLong(args(1)), asDouble(args(2)))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("count_in_set"),
      new ExpressionInfo(classOf[CountInSet].getName, "count_in_set"),
      (args: Seq[Expression]) => args(1) match {
        // accept any foldable array<string> (array('a','b') folds here)
        case w if w.foldable && w.dataType == org.apache.spark.sql.types
          .ArrayType(StringType, false) =>
          val arr = w.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          CountInSet(args(0),
            (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString))
        case other => throw new IllegalArgumentException(
          s"count_in_set requires a literal array<string> word set, got $other")
      }))
  }
}
