package graft.ml

import scala.util.Random

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.graft.TreeShim
import org.apache.spark.ml.tree.Node
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.weather.Weather

/** The reference's ML half (weather_etl.py:110-172):
  * M1 a seeded 0.9/0.1 split on the driver ~ train_test_split(train_size=0.9,
  *    random_state=365): the same sizes, not the same rows (different RNG)
  * M2 gradient-boosted trees grown on the driver ([[BoostedTrees]]) ~
  *    XGBRegressor().fit, which also trains in process (same model
  *    family; different trees, so equivalence is semantic — R² floor —
  *    not prediction-identical, SURVEY.md §7.4.2)
  * M3 model.transform ~ model.predict
  * M4 R² (RegressionEvaluator("r2")'s definition) ~ model.score
  * M5 latest-per-city + localtime_epoch + 86400 ~ next-day feature shift
  *    (weather_etl.py:159)
  *
  * The fitted model is an MLlib `PipelineModel`: a `StringIndexerModel`
  * for the categorical encode (reference city_map, weather_etl.py:112-122;
  * frequency-descending labels, unseen cities kept), a `VectorAssembler`
  * and a `GBTRegressionModel`, so the model carries its own dictionary
  * and scoring distributes like any MLlib model.
  *
  * Traffic: the fit runs one Spark job, a collect of the feature columns,
  * `city` and the label of every input row, and splits, encodes, trains
  * and scores on the driver. The daily history is one row per city per
  * day, about 31 values a row (8,760 rows for 24 cities over a year).
  * A history too large for the driver fails the collect at
  * `spark.driver.maxResultSize`, not silently. */
object NextDayTemp {

  val labelCol = "temp_c"

  /** All numeric columns except the label (the reference keeps every
    * numeric feature including temp_f, weather_etl.py:111). */
  def featureCols(flat: DataFrame): Array[String] =
    flat.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != labelCol)
      .map(_.name)

  /** M2's boosting: few deep rounds with a large step, 3 trees of depth 5
    * at step 0.5. They were sized when MLlib's `GBTRegressor` ran the
    * fit at one Spark job per tree level; against 20 trees of depth 3 at
    * step 0.1 they kept `r2Train` and the mean held-out R² no lower on the
    * fixture and on generated 24-city histories of 2, 5 and 8 days
    * (CHANGES.md has the table). The driver-side learner keeps them;
    * SCALE.md has its R² against the MLlib fit on the same sets. */
  val boosting: BoostedTrees.Params = BoostedTrees.Params(maxIter = 3, maxDepth = 5, stepSize = 0.5)

  final case class Fit(model: PipelineModel, r2Train: Double, r2Test: Double,
                       nTrain: Long, nTest: Long)

  /** The fit's one Spark job: the feature columns, `city` and the label
    * of every row of `flat`, in that column order. A null or NaN feature
    * or label refuses the fit, naming the column (a `VectorAssembler` in
    * its default `error` mode refuses the same rows). A null `city` is
    * kept: the encode maps it to the unseen-city index. */
  def collectRows(flat: DataFrame): Array[Row] = {
    val feats = featureCols(flat)
    val cols = feats :+ "city" :+ labelCol
    val rows = flat.select(cols.map(col).toIndexedSeq: _*).collect()
    (feats :+ labelCol).foreach { c =>
      val i = cols.indexOf(c)
      val bad = rows.count(r => r.isNullAt(i) || r.getAs[Number](i).doubleValue.isNaN)
      require(bad == 0, s"NextDayTemp.fit: column '$c' is null or NaN in $bad of ${rows.length} rows")
    }
    rows
  }

  /** M1 on the driver: `rows` in a total order of their values,
    * permuted by a `Random(365)`, the first `floor(0.9 n)` for training
    * and the rest for test. The split depends on the rows' values only,
    * not on how they were partitioned or collected. */
  def split(rows: Array[Row]): (Array[Row], Array[Row]) =
    new Random(365).shuffle(rows.sorted(byValues).toSeq).toArray.splitAt(rows.length * 9 / 10)

  private def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (p: String, q: String) => p.compareTo(q)
    case (p: java.lang.Long, q: java.lang.Long) => p.compareTo(q)
    case (p: Number, q: Number) => java.lang.Double.compare(p.doubleValue, q.doubleValue)
  }

  private val byValues: Ordering[Row] = (a, b) =>
    (0 until a.length).iterator.map(i => compareValues(a.get(i), b.get(i))).find(_ != 0).getOrElse(0)

  /** M1+M2+M4: collect, split, encode, fit and score, all on the driver
    * after the one collect. R² is computed on both splits; on tiny data
    * the test split is a handful of rows, so callers should gate on
    * r2Train (the reference's own score is over 3 rows and just as
    * unstable, weather_etl.py:129). */
  def fit(flat: DataFrame): Fit = {
    val feats = featureCols(flat)
    val (train, test) = split(collectRows(flat))
    require(train.nonEmpty, s"NextDayTemp.fit: ${test.length} rows leave no training row")
    // frequency-descending, ties by name: StringIndexer's frequencyDesc
    val labels = train.map(_.getString(feats.length)).filter(_ != null)
      .groupMapReduce(identity)(_ => 1)(_ + _).toSeq
      .sortBy { case (city, n) => (-n, city) }.map(_._1).toArray
    val index = labels.zipWithIndex.toMap
    def x(r: Row): Array[Double] =
      feats.indices.map(i => r.getAs[Number](i).doubleValue).toArray :+
        index.getOrElse(r.getString(feats.length), labels.length).toDouble
    def y(r: Row): Double = r.getAs[Number](feats.length + 1).doubleValue
    val ensemble = BoostedTrees.fit(train.map(x), train.map(y), boosting)
    def r2(rows: Array[Row]): Double =
      if (rows.isEmpty) Double.NaN
      else {
        val ys = rows.map(y)
        val mean = ys.sum / ys.length
        val ssErr = rows.iterator.map(r => math.pow(y(r) - ensemble.predict(x(r)), 2)).sum
        1 - ssErr / ys.iterator.map(v => (v - mean) * (v - mean)).sum
      }
    val stages: Array[Transformer] = Array(
      new StringIndexerModel(labels)
        .setInputCol("city").setOutputCol("city_idx").setHandleInvalid("keep"),
      new VectorAssembler().setInputCols(feats :+ "city_idx").setOutputCol("features"),
      TreeShim.gbtModel(ensemble.trees.map(node).toArray, ensemble.weights.toArray, feats.length + 1))
    Fit(TreeShim.pipelineModel(stages), r2(train), r2(test), train.length, test.length)
  }

  private def node(t: BoostedTrees.Tree): Node = t match {
    case BoostedTrees.Leaf(s) => TreeShim.leaf(s.mean, s.n, s.sum, s.sumSq)
    case BoostedTrees.Split(f, threshold, gain, s, left, right) =>
      TreeShim.split(f, threshold, gain, s.mean, s.n, s.sum, s.sumSq, node(left), node(right))
  }

  /** M5+M3: latest row per city, epoch shifted one day forward, scored.
    * Returns (city, predicted temp, prediction timestamp). */
  def predictNextDay(spark: SparkSession, model: PipelineModel,
                     flat: DataFrame): DataFrame = {
    val latest = Weather.latestPerCity(spark, flat)
    val shifted = latest.withColumn("localtime_epoch", col("localtime_epoch") + 86400L)
    model.transform(shifted)
      .select(col("city"),
        col("prediction").as("predicted_temp_c"),
        timestamp_seconds(col("localtime_epoch")).as("at_ts"))
      .orderBy(col("city"))
  }
}
