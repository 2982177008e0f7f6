package org.apache.spark.ml.graft

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.mllib.tree.impurity.VarianceCalculator

/** Constructor bridge into MLlib's fitted-model classes, for trees grown
  * outside MLlib's own `GBTRegressor` (the daily model's driver-side
  * learner, `graft.ml.BoostedTrees`). Tree nodes, splits, tree and
  * ensemble models and `PipelineModel` all have `private[ml]`
  * constructors, so this object lives in the `org.apache.spark.ml`
  * namespace, as `org.apache.spark.sql.graft` does for `private[sql]`.
  * What it builds is the same object graph `GBTRegressor.fit` returns:
  * `transform`, `toDebugString`, `save` and `featureImportances` work
  * on it unchanged. Node statistics are a regression node's
  * `VarianceCalculator` over its rows (count, label sum, sum of
  * squares); a split sends `x(feature) <= threshold` left. */
object TreeShim {

  private def stats(count: Long, sum: Double, sumSq: Double) =
    new VarianceCalculator(Array(count.toDouble, sum, sumSq), count)

  def leaf(prediction: Double, count: Long, sum: Double, sumSq: Double): Node = {
    val s = stats(count, sum, sumSq)
    new LeafNode(prediction, s.calculate(), s)
  }

  def split(feature: Int, threshold: Double, gain: Double,
            prediction: Double, count: Long, sum: Double, sumSq: Double,
            left: Node, right: Node): Node = {
    val s = stats(count, sum, sumSq)
    new InternalNode(prediction, s.calculate(), gain, left, right,
      new ContinuousSplit(feature, threshold), s)
  }

  /** The ensemble predicts `sum_i weights(i) * roots(i)(x)`. */
  def gbtModel(roots: Array[Node], weights: Array[Double], numFeatures: Int): GBTRegressionModel =
    new GBTRegressionModel(Identifiable.randomUID("gbtr"),
      roots.map(r => new DecisionTreeRegressionModel(Identifiable.randomUID("dtr"), r, numFeatures)),
      weights, numFeatures)

  def pipelineModel(stages: Array[Transformer]): PipelineModel =
    new PipelineModel(Identifiable.randomUID("pipeline"), stages)
}
