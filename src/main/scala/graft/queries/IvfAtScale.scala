package graft.queries

/** Production-K IVF measurement: build the trained-centroid index at a
  * caller-chosen K (default 256) over a caller-chosen corpus (default
  * the 10x /tmp/sf1 set), then measure the recall@5 / probe-cost curve
  * over nProbe — the numbers an index operator actually tunes by.
  * Exact ground truth comes from the index itself at nProbe = K (every
  * cell probed = brute force by construction, the same identity
  * IvfRecallSpec asserts), so the measurement needs no second
  * implementation. Prints ONE JSON line.
  *
  * Usage: tools/run.sh graft.queries.IvfAtScale [sfDir] [K] [iters]
  * (SPARK_GRAFT_CPUS cores, else all of them)
  */
object IvfAtScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val k = if (args.length > 1) args(1).toInt else 256
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.conf.set("graft.ivf.k", k.toString)
    spark.conf.set("graft.kmeans.iters", iters.toString)

    val t0 = System.nanoTime()
    LlmOps.ensureIvfIndex(spark, dir)
    val buildSec = (System.nanoTime() - t0) / 1e9

    val probeIds = (0L until 100L by 10L).toSeq
    val probes = graft.Tables.t(spark, dir, "embeddings")
      .filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id", LlmOps.quantize($"embedding").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap

    def topAt(nProbe: Int, pid: Long): (Set[Long], Double) = {
      spark.conf.set("graft.ivf.nprobe", nProbe.toString)
      val s0 = System.nanoTime()
      val ids = LlmOps.ivfSearch(spark, dir, probes(pid), 5, excludeId = pid)
        .collect().map(_.getLong(0)).toSet
      (ids, (System.nanoTime() - s0) / 1e9)
    }
    // exact ground truth: nProbe = K probes every cell
    val exact = probeIds.map(p => p -> topAt(k, p)._1).toMap
    val sweep = Seq(1, 2, 4, 8, 16, 32, 64).filter(_ < k).map { nProbe =>
      val rs = probeIds.map { p =>
        val (got, sec) = topAt(nProbe, p)
        ((exact(p) & got).size, sec)
      }
      (nProbe, rs.map(_._1).sum / (5.0 * probeIds.size),
        rs.map(_._2).sum / probeIds.size)
    }
    spark.conf.unset("graft.ivf.nprobe")
    val curve = sweep.map { case (np, rec, sec) =>
      f""""$np":{"recall5":$rec%.3f,"probe_sec":$sec%.3f}""" }.mkString(",")
    println(s"""{"dir":"$dir","k":$k,"iters":$iters,"build_sec":${math.rint(buildSec * 100) / 100},"nprobe_curve":{$curve}}""")
    spark.stop()
  }
}
