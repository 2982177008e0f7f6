package graft

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{BoostedTrees, NextDayTemp}

/** The driver-side learner behind `NextDayTemp.fit`, checked through the
  * MLlib model it returns on a small hand-made frame: three cities, a
  * label driven mostly by `f1`, `f3 = 2 * f1` (every `f1` split has an
  * `f3` twin of equal reduction, so the tie rule decides between them)
  * and an `f2` that matters less. */
class BoostedTreesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val frame: DataFrame = spark.createDataFrame((0 until 30).map { i =>
    val city = if (i < 12) "a" else if (i < 22) "b" else "c"
    val (f1, f2) = ((i * 7 % 30).toDouble, (i * 11 % 13).toLong)
    val y = 10 + 0.5 * f1 + (if (city == "b") 3.0 else 0.0) + 0.25 * (f2 % 4)
    (city, y, f1, f2, 2 * f1)
  }).toDF("city", "temp_c", "f1", "f2", "f3")

  private lazy val fit = NextDayTemp.fit(frame)
  private lazy val gbt = fit.model.stages.last.asInstanceOf[GBTRegressionModel]

  /** The fit's training rows through the model's own encode: (features, label). */
  private lazy val train: Seq[(Array[Double], Double)] =
    fit.model.transform(MlSpec.splitFrames(frame)._1).select("features", "temp_c").collect()
      .map(r => (r.getAs[Vector](0).toArray, r.getDouble(1))).toSeq

  private def leafOf(n: Node, x: Array[Double]): LeafNode = n match {
    case l: LeafNode => l
    case i: InternalNode =>
      val s = i.split.asInstanceOf[ContinuousSplit]
      leafOf(if (x(s.featureIndex) <= s.threshold) i.leftChild else i.rightChild, x)
  }

  private def mean(v: Seq[Double]) = v.sum / v.size
  private def sse(v: Seq[Double]) = { val m = mean(v); v.map(y => (y - m) * (y - m)).sum }

  /** Every leaf of `root` predicts the mean of `target` over the rows that reach it. */
  private def assertLeafMeans(root: Node, target: Seq[(Array[Double], Double)]): Unit = {
    val byLeaf = target.groupBy { case (x, _) => leafOf(root, x) }
    assert(byLeaf.size > 1)
    byLeaf.foreach { case (leaf, rows) =>
      assert(math.abs(leaf.prediction - mean(rows.map(_._2))) <= 1e-9,
        s"leaf ${leaf.prediction}, mean of its ${rows.size} rows ${mean(rows.map(_._2))}")
    }
  }

  test("the fit trains on 27 of the 30 rows with 3 trees weighted 1.0, 0.5, 0.5") {
    assert((fit.nTrain, fit.nTest) === ((27L, 3L)))
    assert(train.size === 27)
    assert(gbt.getNumTrees === 3)
    assert(gbt.treeWeights.toSeq === Seq(1.0, 0.5, 0.5))
    assert(gbt.trees.forall(_.depth <= 5))
  }

  test("the root split is the exhaustive best variance-reduction split, first feature on ties") {
    val ys = train.map(_._2)
    val candidates = for {
      f <- train.head._1.indices
      values = train.map(_._1(f)).distinct.sorted(Ordering.Double.TotalOrdering)
      (a, b) <- values.zip(values.tail)
    } yield {
      val t = (a + b) / 2
      val (l, r) = train.partition(_._1(f) <= t)
      (f, t, sse(ys) - sse(l.map(_._2)) - sse(r.map(_._2)))
    }
    val best = candidates.map(_._3).max
    val (f, t, reduction) = candidates.find(_._3 >= best - 1e-9 * sse(ys)).get
    val root = gbt.trees(0).rootNode.asInstanceOf[InternalNode]
    val split = root.split.asInstanceOf[ContinuousSplit]
    assert((split.featureIndex, split.threshold) === ((f, t)))
    assert(math.abs(root.gain - reduction / train.size) <= 1e-9)
    assert(NextDayTemp.featureCols(frame)(f) === "f1", "f3 ties with f1 and comes later")
  }

  test("tree 0's leaves hold the means of the label over their rows") {
    assertLeafMeans(gbt.trees(0).rootNode, train)
  }

  test("tree 1 fits 2(y - F) with F the weighted tree 0") {
    val f0 = gbt.treeWeights(0)
    val target = train.map { case (x, y) => (x, 2 * (y - f0 * leafOf(gbt.trees(0).rootNode, x).prediction)) }
    assertLeafMeans(gbt.trees(1).rootNode, target)
  }

  test("two fits of one frame, however partitioned, give an identical model") {
    def debug(f: NextDayTemp.Fit) =
      f.model.stages.last.asInstanceOf[GBTRegressionModel].toDebugString
        .replaceAll("uid=\\w+", "uid=") // a fresh random uid per model, as every MLlib fit
    assert(debug(NextDayTemp.fit(frame)) === debug(fit))
    assert(debug(NextDayTemp.fit(frame.repartition(4))) === debug(fit))
  }

  test("the driver's scoring equals fit.model.transform on every row") {
    val ensemble = BoostedTrees.fit(train.map(_._1).toArray, train.map(_._2).toArray, NextDayTemp.boosting)
    val scored = fit.model.transform(frame).select("features", "prediction").collect()
    assert(scored.length === 30)
    scored.foreach { r =>
      val (x, p) = (r.getAs[Vector](0).toArray, r.getDouble(1))
      assert(math.abs(ensemble.predict(x) - p) <= 1e-9, s"driver ${ensemble.predict(x)}, transform $p")
    }
  }

  test("a city unseen in training predicts finite through the keep index") {
    val unseen = fit.model.transform(frame.limit(1).withColumn("city", lit("Atlantis")))
      .select("city_idx", "prediction").head()
    assert(unseen.getDouble(0) === 3.0)
    assert(!unseen.getDouble(1).isNaN && !unseen.getDouble(1).isInfinite)
  }

  test("a null feature refuses the fit with a message naming the column") {
    val withNull = frame.withColumn("f2", when(col("f2") === 3L, lit(null)).otherwise(col("f2")))
    val e = intercept[IllegalArgumentException](NextDayTemp.fit(withNull))
    assert(e.getMessage.contains("'f2'"), e.getMessage)
  }
}
