package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.QualityFilter

/** Semantic verification of the trained quality filter (same class as
  * MlSpec per SURVEY.md §7.4.2 — a fitted model has no DuckDB oracle):
  * weak-label construction laws, a held-out AUC floor, and the
  * agreement law between the model and the heuristic it generalizes. */
class MlQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = Tables.t(spark, dir, "documents")

  private lazy val fit = QualityFilter.fit(docs)

  test("weak labels: quartile extremes only, middle band excluded, both classes present") {
    val labeled = QualityFilter.weakLabels(docs)
    val n = docs.count()
    val byLabel = labeled.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val nPos = byLabel.getOrElse(1.0, 0L)
    val nNeg = byLabel.getOrElse(0.0, 0L)
    // quartile cuts with <= / >= semantics: each class holds AT LEAST a
    // quarter (ties can push past), and the ambiguous middle is excluded
    // (strictly fewer labeled rows than documents)
    assert(nPos >= n / 4 && nNeg >= n / 4, s"pos=$nPos neg=$nNeg of $n")
    assert(nPos + nNeg < n, "middle band must be excluded")
  }

  test("held-out AUC floor: the model generalizes the heuristic signal") {
    // the weak signal correlates -0.94 with doc length, which hashed
    // bag-of-words counts encode linearly — 0.85 leaves real slack under
    // the observed ~0.97 while still failing on any regression to chance
    assert(fit.auc >= 0.85, s"held-out AUC=${fit.auc}")
    assert(fit.nTrain > 0 && fit.nHeldOut > 0)
  }

  test("scores are calibrated probabilities over every document") {
    val scored = QualityFilter.score(fit.model, docs)
    assert(scored.count() === docs.count())
    val stats = scored.selectExpr(
      "min(p_quality)", "max(p_quality)",
      "sum(CASE WHEN p_quality >= 0.5 THEN 1 ELSE 0 END)").head()
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0)
    // the filter must neither pass everything nor nothing
    val kept = stats.getLong(2)
    assert(kept > 0 && kept < docs.count(), s"kept=$kept")
  }

  test("agreement law: the model agrees with the heuristic on its confident extremes") {
    val labeled = QualityFilter.weakLabels(docs)
    val scored = QualityFilter.score(fit.model, labeled)
    val agg = scored.selectExpr(
      "sum(CASE WHEN (p_quality >= 0.5) = (label = 1.0) THEN 1 ELSE 0 END)",
      "count(*)").head()
    val agree = agg.getLong(0).toDouble / agg.getLong(1)
    assert(agree >= 0.85, s"agreement with weak labels = $agree")
  }

  test("q120 returns a nonempty strict subset keyed by doc_id") {
    val out = QualityFilter.q120(spark, dir)
    assert(out.columns.toSeq === Seq("doc_id", "p_quality"))
    val n = out.count()
    assert(n > 0 && n < docs.count())
    // selection is a subset of real doc ids
    assert(out.join(docs, "doc_id").count() === n)
  }

  test("model cache: one fit per source stamp (repeated q120 pays scoring only)") {
    val a = QualityFilter.ensureModel(spark, dir)
    val b = QualityFilter.ensureModel(spark, dir)
    assert(a eq b, "second ensureModel must hit the stamp-keyed cache")
    // cold-start reset (the PlanSnapshot contract) rebuilds an equivalent
    // model: deterministic weak labels + seeded split + seeded LR
    graft.SourceStamp.reset(spark)
    val c = QualityFilter.ensureModel(spark, dir)
    assert(!(a eq c))
    assert(math.abs(c.auc - a.auc) <= 1e-12)
  }
}
