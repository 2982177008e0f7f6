package graft

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.NextDayTemp
import graft.weather.Weather

/** Semantic verification of the ML pipeline (SURVEY.md §7.4.2): split
  * sizes, R² floor on the training split, and the next-day prediction
  * shape. Predictions are not compared value-for-value with the
  * reference's XGBoost (different trees by construction). */
class MlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val flat =
    Weather.flatten(Weather.readRaw(spark, getClass.getResource("/weather").getPath))

  private lazy val fit = NextDayTemp.fit(flat)

  test("M1 randomSplit partitions the 27 rows ~0.9/0.1") {
    assert(fit.nTrain + fit.nTest === 27)
    assert(fit.nTrain >= 20, s"train split too small: ${fit.nTrain}")
  }

  test("M2/M4 GBT fit reaches the R² floor on the training split") {
    assert(fit.r2Train >= 0.9, s"r2Train=${fit.r2Train}")
  }

  test("P10 abs-error column: non-negative, finite, |label - prediction|") {
    val scored = NextDayTemp.withAbsError(fit.model.transform(flat))
    val rows = scored.select("temp_c", "prediction", "abs_error").collect()
    assert(rows.length === 27)
    rows.foreach { r =>
      val (y, p, e) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(!e.isNaN && e >= 0.0)
      assert(e === math.abs(y - p))
    }
    // the R² floor implies small errors on the training-dominant frame
    assert(rows.map(_.getDouble(2)).max < 10.0)
  }

  test("M3/M5 next-day prediction: one finite row per city, shifted +86400s") {
    val preds = NextDayTemp.predictNextDay(spark, fit.model, flat)
    val rows = preds.collect()
    assert(rows.length === 9)
    assert(rows.map(_.getAs[String]("city")).distinct.length === 9)
    assert(rows.forall(r => !r.getAs[Double]("predicted_temp_c").isNaN))
    // every at_ts is exactly one day after the city's latest observation
    val latestEpochs = Weather.latestPerCity(spark, flat)
      .select("city", "localtime_epoch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    preds.select("city", "at_ts").collect().foreach { r =>
      val expected = latestEpochs(r.getString(0)) + 86400L
      assert(r.getTimestamp(1).getTime / 1000 === expected)
    }
  }

  test("M4 fused scoring equals RegressionEvaluator(r2) and count() over the same splits") {
    val (train, test) = NextDayTemp.split(flat)
    val eval = new RegressionEvaluator()
      .setLabelCol(NextDayTemp.labelCol).setPredictionCol("prediction").setMetricName("r2")
    def close(got: Double, want: Double) =
      assert(got == want || (got.isNaN && want.isNaN) || math.abs(got - want) <= 1e-9,
        s"fused R² $got, evaluator R² $want")
    assert(fit.nTrain === train.count())
    assert(fit.nTest === test.count())
    close(fit.r2Train, eval.evaluate(fit.model.transform(train)))
    if (fit.nTest == 0) assert(fit.r2Test.isNaN)
    else close(fit.r2Test, eval.evaluate(fit.model.transform(test)))
  }

  test("M2 fit with 40 cities: maxBins covers the city index, one prediction per city") {
    // 9 fixture cities, each under 4 labels, plus a 5th label for 4 of them
    val noFifthLabel = flat.select("city").distinct().orderBy("city").limit(5)
      .collect().map(_.getString(0))
    val cities40 = flat.crossJoin(spark.range(5).toDF("k"))
      .filter(col("k") < 4 || !col("city").isin(noFifthLabel: _*))
      .withColumn("city", concat(col("city"), lit("_"), col("k")))
      .drop("k")
    assert(cities40.select("city").distinct().count() === 40)
    val fit40 = NextDayTemp.fit(cities40)
    val preds = NextDayTemp.predictNextDay(spark, fit40.model, cities40).collect()
    assert(preds.length === 40)
    assert(preds.map(_.getAs[String]("city")).distinct.length === 40)
    assert(preds.forall(r => !r.getAs[Double]("predicted_temp_c").isNaN))
  }
}
