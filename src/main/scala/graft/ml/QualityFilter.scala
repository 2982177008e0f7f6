package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MODEL-BASED quality filtering — the trained-classifier half of the
  * corpus quality gate (the fastText-classifier step of public LLM data
  * pipelines: CCNet, LLaMA, GPT-3 all filter crawl text with a linear
  * classifier over bag-of-words features; our q33/q62/q117 cover the
  * HEURISTIC and LM-perplexity halves, this covers the trained half).
  *
  * Weak supervision, not hand labels: the positive/negative sets are the
  * top and bottom quartiles of the heuristic distinct-token-ratio signal
  * (the CCNet construction — "reference corpus vs crawl" — re-expressed
  * over a single corpus by taking the heuristic's confident extremes and
  * excluding the ambiguous middle band). The classifier then generalizes
  * the heuristic to a calibrated probability over every document.
  *
  * 100 TB posture: RegexTokenizer and HashingTF are pure per-row
  * projections (fixed feature dim — no vocabulary build, no broadcast of
  * corpus state); LogisticRegression training is one treeAggregate
  * gradient pass per iteration (executor-side partials, driver holds one
  * dim-sized coefficient vector); scoring broadcasts that same dim-sized
  * vector and is embarrassingly parallel. Nothing anywhere is
  * proportional to corpus size on the driver. In production the fit runs
  * on a SAMPLE (weak labels are quantile-derived, so a deterministic
  * [[graft.queries.LlmOps]]-style hash sample feeds it) and the fitted
  * model scores the full corpus — [[fitSample]] applies exactly that
  * above [[FitCap]] docs, and [[ensureModel]] fits once per source
  * snapshot (stamp-keyed) so repeated runs pay scoring only.
  */
object QualityFilter extends graft.QueryModule {

  /** Fixed hashed-feature dimensionality. 2^12 is ~137x the synthetic
    * vocabulary — collision-sparse — while keeping the model (and its
    * broadcast) at 32 KiB. */
  val Dim: Int = 1 << 12

  private val Seed = 42L

  /** Weak labels from the heuristic's confident extremes: label 1.0 for
    * the top quartile by distinct-token ratio, 0.0 for the bottom
    * quartile, middle band EXCLUDED (ambiguous under the heuristic —
    * training on it would teach the classifier the quantile boundary
    * noise, not the signal). approxQuantile ships two doubles to the
    * driver — bounded planning state, same class as the IVF centroids. */
  def weakLabels(docs: DataFrame): DataFrame = {
    val scored = docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("dr",
        size(array_distinct(col("tk"))).cast("double") / size(col("tk")))
      .drop("tk")
    val Array(q1, q3) =
      scored.stat.approxQuantile("dr", Array(0.25, 0.75), 0.001)
    scored
      .filter(col("dr") <= q1 || col("dr") >= q3)
      .withColumn("label", when(col("dr") >= q3, 1.0).otherwise(0.0))
      .drop("dr")
  }

  /** Tokenize → hash → logistic regression. Bag-of-words ONLY — the
    * model sees term counts, not the engineered ratio the labels came
    * from, so held-out AUC measures real generalization, not leakage. */
  def pipeline(dim: Int = Dim): Pipeline = {
    val tok = new RegexTokenizer()
      .setInputCol("text").setOutputCol("tk").setPattern("\\s+")
    val tf = new HashingTF()
      .setInputCol("tk").setOutputCol("features").setNumFeatures(dim)
    val lr = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(10).setRegParam(1e-3)
    new Pipeline().setStages(Array(tok, tf, lr))
  }

  final case class Fit(model: PipelineModel, auc: Double,
                       nTrain: Long, nHeldOut: Long)

  /** Split the weakly-labeled extremes 0.8/0.2, fit on the large side,
    * report held-out AUC (area under ROC — threshold-free, so the spec
    * floor is insensitive to class balance drift across SFs).
    *
    * The fitted model is roundtripped through MLWriter/MLReader before
    * ANY transform: a freshly-fit LogisticRegressionModel carries a
    * training summary that references the SparkSession, and serializing
    * the scoring closure would drag the session into every task
    * (NotSerializableException on executors). Persistence is the public
    * MLlib API that drops summaries; the roundtrip is model-sized (KBs),
    * once per fit. */
  def fit(docs: DataFrame, dim: Int = Dim): Fit = {
    val labeled = weakLabels(docs)
    val Array(train, heldOut) = labeled.randomSplit(Array(0.8, 0.2), Seed)
    val model = stripSummaries(pipeline(dim).fit(train))
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(heldOut))
    Fit(model, auc, train.count(), heldOut.count())
  }

  /** Save/load the pipeline so the served model holds ONLY coefficients
    * (loaded models have no training summary — the summary-free contract
    * MLlib persistence guarantees). */
  private def stripSummaries(fitted: PipelineModel): PipelineModel = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-quality-model").toString
    fitted.write.overwrite().save(tmp)
    PipelineModel.load(tmp)
  }

  /** Score a corpus: (all input columns, p_quality ∈ [0,1]). Pure
    * projection over one scan — the model travels as a broadcast of one
    * dim-sized vector. */
  def score(model: PipelineModel, docs: DataFrame): DataFrame = {
    val p1 = udfFreeP1(model)
    model.transform(docs)
      .withColumn("p_quality", p1)
      .drop("tk", "features", "rawPrediction", "probability", "prediction")
  }

  /** P(label=1) out of MLlib's probability vector column. Vector is not
    * a SQL type; `vector_to_array` (the MLlib-provided function, not a
    * builder UDF) bridges it. */
  private def udfFreeP1(model: PipelineModel) =
    org.apache.spark.ml.functions.vector_to_array(col("probability"))(1)

  // ---------------------------------------------------------------------
  // q120: the filter as a query — fit on the corpus's weak extremes,
  // score EVERY document, keep those the model calls quality (p >= 0.5).
  // No DuckDB oracle (a trained model is not ANSI SQL): rows-only at the
  // driver; the real verification is MlQualitySpec's held-out AUC floor
  // plus the agreement law (the model must agree with the heuristic on
  // the confident extremes it was trained from).
  // ---------------------------------------------------------------------
  private def docsOf(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "documents")

  /** Fit cap: above this corpus size the fit runs on a deterministic
    * hash sample of ~this many documents. Weak labels are quartile
    * extremes — a 100k-doc sample pins the decision boundary as well as
    * the full corpus does, and the fit cost stops growing with the
    * corpus (the CCNet construction also trains on a bounded reference
    * sample, then scores everything). */
  val FitCap: Long = 100000L

  /** Deterministic hash sample of ≈[[FitCap]] docs when the corpus is
    * bigger (exact corpus below the cap — small SFs fit on everything,
    * so existing AUC floors are untouched). xxhash64 on the key, not
    * `sample()`: reproducible across runs/partitionings, no RNG state. */
  private def fitSample(docs: DataFrame): DataFrame = {
    val n = docs.count() // planning-scale: one count, no data to driver
    if (n <= FitCap) docs
    else {
      val keep = math.max(1L, (1000000L * FitCap) / n)
      docs.filter(pmod(xxhash64(col("doc_id")), lit(1000000L)) < keep)
    }
  }

  /** STAMP-KEYED MODEL CACHE (the artifact-cache contract at
    * [[graft.SourceStamp]]): the classifier is planning state derived from
    * one documents snapshot — fit ONCE per (session, dir, source
    * stamp), score many. Without it every pipeline run re-pays a full
    * LR fit (the r10 bench's 3rd-most-expensive entry was mostly
    * redundant training); with it q120 costs scoring — a broadcast
    * projection. A regenerated source evicts the stale entry. */
  private val modelCache = new graft.StampCache[Fit]()

  /** The corpus's quality model — cached per source stamp. */
  def ensureModel(s: SparkSession, dir: String): Fit =
    modelCache(s, dir, graft.SourceStamp.table(s, dir, "documents")) {
      fit(fitSample(docsOf(s, dir)))
    }

  val q120: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = docsOf(s, dir)
    val f = ensureModel(s, dir)
    score(f.model, docs)
      .select(col("doc_id"), col("p_quality"))
      .filter(col("p_quality") >= 0.5)
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map("q120_quality_filter" -> q120)

  /** No oracle — driver records the weaker rows-only check by omission. */
  val oracles: Map[String, String] = Map.empty

  /** Bench form: cached fit + score, no verify-only global sort — what
    * the bench times is the per-run scoring cost, as in production
    * (the fit amortizes across runs via [[ensureModel]]). */
  override val benchVariants: Map[String, Q] =
    Map("q120_quality_filter" -> ((s: SparkSession, dir: String) => {
      val docs = docsOf(s, dir)
      val f = ensureModel(s, dir)
      score(f.model, docs)
        .select(col("doc_id"), col("p_quality"))
        .filter(col("p_quality") >= 0.5)
    }))
}
