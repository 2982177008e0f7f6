package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[BpeEncode]]: one expression, spec-pinned EQUAL to the chained
  * `replace()` form it replaces (the q115 contract), with plan size
  * constant in the merge-table length. */
class BpeEncodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** The chained form, verbatim from the pre-expression q115. */
  private def chained(merges: Seq[(String, String)]) = {
    val enc0 = concat(lit("|"), regexp_replace(col("text"), "(.)", "$1|"))
    merges.foldLeft(enc0) { case (c, (l, r)) =>
      call_function("replace", c, lit(s"|$l|$r|"), lit(s"|$l$r|"))
    }
  }

  /** The expression over the '|'-delimited symbol encoding of `text`;
    * the merge pairs apply in the given (training) order. */
  private def encoded(merges: Seq[(String, String)]) =
    org.apache.spark.sql.graft.ExprBridge.column(BpeEncode(
      org.apache.spark.sql.graft.ExprBridge.expression(
        concat(lit("|"), regexp_replace(col("text"), "(.)", "$1|"))), merges))

  test("equals the chained replace form on the trained corpus") {
    val merges = graft.queries.TextOps.bpeMerges(spark, sfDir)
      .map { case (_, l, r, _) => (l, r) }
    assert(merges.nonEmpty, "training must produce merges on the corpus")
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter(!col("text").contains("|"))
    val diff = docs.select(col("doc_id"),
        encoded(merges).as("a"), chained(merges).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.isEmpty, s"mismatch rows: ${diff.head(3).toSeq}")
  }

  test("bpeDelimCount equals count_in(bpe_encode, '|') on corpus and edges") {
    val s = spark
    import s.implicits._
    def twoStep(merges: Seq[(String, String)]) =
      (length(encoded(merges)) -
        length(call_function("replace", encoded(merges), lit("|"), lit(""))))
        .cast("long")
    def fused(merges: Seq[(String, String)]) =
      BpeEncode.bpeDelimCount(
        concat(lit("|"), regexp_replace(col("text"), "(.)", "$1|")), merges)
    val trained = graft.queries.TextOps.bpeMerges(spark, sfDir)
      .map { case (_, l, r, _) => (l, r) }
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter(!col("text").contains("|"))
    val diff = docs.select(fused(trained).as("a"), twoStep(trained).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.isEmpty, s"mismatch rows: ${diff.head(3).toSeq}")
    val edges = Seq("lll", "llll", "ababab", "", "l l l")
      .map(Option(_)) :+ Option.empty[String]
    val merges = Seq(("l", "l"), ("ll", "l"), ("a", "b"))
    val got = edges.toDF("text")
      .select(fused(merges).as("a"), twoStep(merges).as("b"))
      .collect().map(r => (r.get(0), r.get(1)))
    got.foreach { case (a, b) => assert(a === b) }
  }

  test("edge semantics match Spark's replace exactly (overlaps, chains, null)") {
    val s = spark
    import s.implicits._
    // (l,l) on runs pins the consumed-delimiter subtlety: 'lll' merges
    // once leftmost, 'llll' merges once (the second pair's opening
    // delimiter was consumed), 'lllll' merges twice
    val merges = Seq(("l", "l"), ("ll", "l"), ("a", "b"), ("ab", "ab"))
    val texts = Seq("lll", "llll", "lllll", "llllll", "ababab", "abab",
      "a", "", "ab l ll ab", "xyz", "la bl", "l l l")
    val df = (texts.map(Option(_)) :+ Option.empty[String]).toDF("text")
    val got = df.select(encoded(merges).as("a"), chained(merges).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.foreach { case (a, b) => assert(a === b) }
    // and the delimited result is what the consumed-delimiter law says
    val one = Seq("llll").toDF("text")
      .select(encoded(Seq(("l", "l"))).as("a")).head().getString(0)
    assert(one === "|ll|l|l|")
  }

  test("plan size is constant in the merge-table length") {
    val s = spark
    import s.implicits._
    def planSize(n: Int): Int = {
      val merges = (1 to n).map(i => (s"x$i", s"y$i"))
      val df = Seq("some text").toDF("text").select(encoded(merges))
      df.queryExecution.optimizedPlan.expressions
        .map(e => e.collect { case x => x }.size).sum
    }
    assert(planSize(5) === planSize(512),
      "a 100x merge table must not deepen the plan")
    // and q115 itself carries exactly one encode expression, no
    // per-merge replace chain (its two replace()s are the constant
    // countIn helpers, independent of BpeRounds)
    val plan = graft.queries.TextOps.q115Bench(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // textual occurrence count is projection-collapse dependent; what
    // matters is that neither count scales with BpeRounds (the chained
    // form would print one replace per merge)
    val nEncode = "bpe_delim_count".r.findAllIn(plan).size
    assert(nEncode === 1, s"unexpected encode count $nEncode")
    // literal replace() only — regexp_replace is the (constant) char
    // splitter, not part of the merge chain; the fused count leaves just
    // the n_ws countIn helper
    assert("(?<!regexp_)replace\\(".r.findAllIn(plan).size <= 2,
      s"per-merge replace chain leaked back into the plan:\n$plan")
  }
}
