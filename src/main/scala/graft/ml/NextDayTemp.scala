package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.weather.Weather

/** The reference's ML half (weather_etl.py:110-172), MLlib-first:
  * M1 randomSplit(0.9/0.1, seed 365) ~ train_test_split(random_state=365)
  * M2 GBTRegressor ~ XGBRegressor (same model family; different trees, so
  *    equivalence is semantic — R² floor — not prediction-identical,
  *    SURVEY.md §7.4.2)
  * M3 model.transform ~ model.predict
  * M4 R² (RegressionEvaluator("r2")'s definition) ~ model.score
  * M5 latest-per-city + localtime_epoch + 86400 ~ next-day feature shift
  *    (weather_etl.py:159)
  *
  * The categorical encode (reference city_map, weather_etl.py:112-122) is
  * a StringIndexer stage — P5's ML-pipeline form — so the fitted model
  * carries its own dictionary instead of a hand-maintained map.
  *
  * Everything is a Pipeline over DataFrames: at scale, fit/transform
  * distribute over executors; nothing here collects feature data to the
  * driver.
  */
object NextDayTemp {

  val labelCol = "temp_c"

  /** All numeric columns except the label (the reference keeps every
    * numeric feature including temp_f, weather_etl.py:111). */
  def featureCols(flat: DataFrame): Array[String] =
    flat.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != labelCol)
      .map(_.name)

  /** The model pipeline over an already-fitted categorical encode.
    * `city_idx` is a nominal feature, so GBT's `maxBins` must cover all
    * its values — the indexer's labels plus the `handleInvalid = keep`
    * bucket — or the fit throws from 32 cities on. */
  def pipeline(flat: DataFrame, indexer: StringIndexerModel): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols(flat) :+ "city_idx").setOutputCol("features")
    val gbt = new GBTRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setMaxIter(20).setMaxDepth(3).setSeed(365)
      .setMaxBins(math.max(32, indexer.labelsArray.head.length + 1))
    new Pipeline().setStages(Array(indexer, assembler, gbt))
  }

  final case class Fit(model: PipelineModel, r2Train: Double, r2Test: Double,
                       nTrain: Long, nTest: Long)

  /** M1: the 0.9/0.1 split of `flat`, seed 365. */
  def split(flat: DataFrame): (DataFrame, DataFrame) = {
    val Array(train, test) = flat.randomSplit(Array(0.9, 0.1), seed = 365)
    (train, test)
  }

  /** M1+M2+M4: split, fit, score. R² is computed on both splits; on tiny
    * data the test split is a handful of rows, so callers should gate on
    * r2Train (the reference's own score is over 3 rows and just as
    * unstable, weather_etl.py:129).
    *
    * Each split is cached for the fit, so the parquet scan runs once per
    * split, not once per job. It is first coalesced to
    * `max(1, ceil(estimated sizeInBytes / spark.sql.files.maxPartitionBytes))`
    * partitions — a split of a few hundred rows fits in one partition, so
    * each of the fit's many small jobs runs one task, while a large input
    * keeps its fan-out. Coalescing after the split leaves its membership
    * unchanged. */
  def fit(flat: DataFrame): Fit = {
    val (train, test) = split(flat)
    val (trainC, testC) = (rightSized(train).cache(), rightSized(test).cache())
    try {
      val indexer = new StringIndexer()
        .setInputCol("city").setOutputCol("city_idx").setHandleInvalid("keep")
        .fit(trainC)
      val model = pipeline(flat, indexer).fit(trainC)
      val Seq((r2Train, nTrain), (r2Test, nTest)) = scoreSplits(model, Seq(trainC, testC))
      Fit(model, r2Train, r2Test, nTrain, nTest)
    } finally {
      trainC.unpersist()
      testC.unpersist()
    }
  }

  /** `df` coalesced to the partitions its estimated size fills at
    * `spark.sql.files.maxPartitionBytes` each, at least one. */
  private def rightSized(df: DataFrame): DataFrame = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perPartition = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val n = ((size + perPartition - 1) / perPartition).max(1).min(Int.MaxValue)
    df.coalesce(n.toInt)
  }

  /** M4 for every split in ONE aggregate over the scored splits: per
    * split its row count n and R² = 1 − SSerr/SStot with SStot =
    * n·var_pop(y), as `RegressionMetrics` defines them. An empty split
    * has n = 0 and R² = NaN. */
  private def scoreSplits(model: PipelineModel, splits: Seq[DataFrame]): Seq[(Double, Long)] = {
    val scored = splits.zipWithIndex.map { case (df, i) =>
      model.transform(df).select(lit(i).as("split"), col(labelCol).as("y"), col("prediction"))
    }.reduce(_ unionByName _)
    val aggs = splits.indices.flatMap { i =>
      val y = when(col("split") === i, col("y"))
      Seq(count(when(col("split") === i, 1)), sum(pow(y - col("prediction"), 2)), var_pop(y))
    }
    val r = scored.agg(aggs.head, aggs.tail: _*).head()
    splits.indices.map { i =>
      val n = r.getLong(3 * i)
      val r2 = if (n == 0) Double.NaN else 1 - r.getDouble(3 * i + 1) / (r.getDouble(3 * i + 2) * n)
      (r2, n)
    }
  }

  /** P10: per-row absolute prediction error (the reference's
    * abs(y_test - predictions) error column, weather_etl.py:135) over a
    * scored frame — a pure projection, no shuffle. */
  def withAbsError(scored: DataFrame): DataFrame =
    scored.withColumn("abs_error", abs(col(labelCol) - col("prediction")))

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
