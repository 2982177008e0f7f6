package graft.ml

/** Gradient-boosted regression trees with squared-error loss, grown
  * exact-greedy in process, for training sets that fit on the driver
  * (the reference's `XGBRegressor().fit`, weather_etl.py:126-127, also
  * trains in process).
  *
  * The boosting is MLlib's `GradientBoostedTrees` for squared error: tree
  * 0 fits the label `y` with weight 1.0; each later tree fits the
  * negative gradient `2(y - F)` of the current ensemble `F` and enters
  * with weight `stepSize`. A tree grows to `maxDepth` levels of splits.
  * A node's split is the best variance reduction over every feature and
  * every midpoint between consecutive distinct values of that feature
  * among the node's rows (all features are ordinal), and goes left on
  * `x <= threshold`. Ties go to the first feature, then the lowest
  * threshold; reductions within rounding of each other (a
  * `1e-12 * sum(target^2)` margin over the node) count as ties. A node
  * with no split that reduces the variance by more than that margin,
  * fewer than two rows, or at `maxDepth`, is a leaf that predicts the
  * mean of its rows. */
object BoostedTrees {

  /** A node's rows: count, target sum and sum of squares. */
  final case class Stats(n: Int, sum: Double, sumSq: Double) {
    def mean: Double = sum / n
  }

  sealed trait Tree {
    def stats: Stats
    def predict(x: Array[Double]): Double
  }

  final case class Leaf(stats: Stats) extends Tree {
    def predict(x: Array[Double]): Double = stats.mean
  }

  /** `gain` is the variance reduction per row of the node (MLlib's
    * `InternalNode.gain` for variance impurity). */
  final case class Split(feature: Int, threshold: Double, gain: Double, stats: Stats,
                         left: Tree, right: Tree) extends Tree {
    def predict(x: Array[Double]): Double =
      if (x(feature) <= threshold) left.predict(x) else right.predict(x)
  }

  final case class Params(maxIter: Int, maxDepth: Int, stepSize: Double)

  final case class Ensemble(trees: Seq[Tree], weights: Seq[Double]) {
    def predict(x: Array[Double]): Double = {
      var f = 0.0
      for (i <- trees.indices) f += trees(i).predict(x) * weights(i)
      f
    }
  }

  /** Fit `p.maxIter` trees to rows `x` (one feature array each, all of
    * one length) and labels `y`. */
  def fit(x: Array[Array[Double]], y: Array[Double], p: Params): Ensemble = {
    require(x.nonEmpty && x.length == y.length, s"${x.length} rows, ${y.length} labels")
    val sorted = x.head.indices.map { f =>
      x.indices.sortBy(i => x(i)(f))(Ordering.Double.TotalOrdering).toArray
    }.toArray
    val f = new Array[Double](y.length)
    val (trees, weights) = (0 until p.maxIter).map { m =>
      val (target, w) =
        if (m == 0) (y, 1.0) else (Array.tabulate(y.length)(i => 2 * (y(i) - f(i))), p.stepSize)
      val t = grow(x, target, sorted, x.indices.toArray, 0, p.maxDepth)
      for (i <- f.indices) f(i) += t.predict(x(i)) * w
      (t, w)
    }.unzip
    Ensemble(trees, weights)
  }

  /** The subtree over `rows` (ascending row ids); `sorted(f)` holds the
    * same rows ordered by feature `f`, ties by row id. */
  private def grow(x: Array[Array[Double]], t: Array[Double], sorted: Array[Array[Int]],
                   rows: Array[Int], depth: Int, maxDepth: Int): Tree = {
    var sum, sumSq = 0.0
    rows.foreach { i => sum += t(i); sumSq += t(i) * t(i) }
    val n = rows.length
    val stats = Stats(n, sum, sumSq)
    val margin = 1e-12 * sumSq
    var best = -1
    var (bestThreshold, bestReduction) = (0.0, margin)
    if (depth < maxDepth && n >= 2) {
      val base = sum * sum / n
      for (f <- sorted.indices) {
        val order = sorted(f)
        var left = 0.0
        for (k <- 0 until n - 1) {
          left += t(order(k))
          val (a, b) = (x(order(k))(f), x(order(k + 1))(f))
          if (a < b) {
            val (nl, right) = (k + 1, sum - left)
            val reduction = left * left / nl + right * right / (n - nl) - base
            if (reduction > bestReduction + (if (best < 0) 0.0 else margin)) {
              best = f
              bestReduction = reduction
              val mid = (a + b) / 2
              bestThreshold = if (mid < b) mid else a
            }
          }
        }
      }
    }
    if (best < 0) Leaf(stats)
    else {
      val goLeft = (i: Int) => x(i)(best) <= bestThreshold
      def side(left: Boolean) = grow(x, t, sorted.map(_.filter(goLeft(_) == left)),
        rows.filter(goLeft(_) == left), depth + 1, maxDepth)
      Split(best, bestThreshold, bestReduction / n, stats, side(left = true), side(left = false))
    }
  }
}
