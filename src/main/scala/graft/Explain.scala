package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit main: prints the formatted physical plan of one query (or
  * all). Usage: tools/run.sh graft.Explain [queryName] [sfDir] [--bench]
  * [--exec]. `--bench` explains the BENCH-variant plan (the one Bench
  * times — semantic plan without determinism-only output sorts) instead
  * of the verified plan. `--exec` MATERIALIZES the query (noop sink)
  * first and prints the post-execution adaptive plan — the only view
  * where AQE runtime artifacts (ReusedExchange / stage reuse, skew
  * splits, coalesced partitions) are visible; a static dump showing a
  * duplicated subtree does NOT prove the work runs twice. Used to check
  * scale posture: broadcast sides, PushedFilters, ReadSchema,
  * WholeStageCodegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val bench = args.contains("--bench")
    val exec = args.contains("--exec")
    val rest = args.filterNot(a => a == "--bench" || a == "--exec")
    val name = rest.headOption.getOrElse("all")
    val sfDir = if (rest.length > 1) rest(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val base: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (bench) SparkEntry.benchQueries else SparkEntry.queries.toSeq.sortBy(_._1)
    val qs =
      if (name == "all") base
      else base.filter(_._1 == name)
    if (qs.isEmpty) {
      System.err.println(s"unknown query '$name'; available:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      spark.stop()
      sys.exit(1)
    }
    qs.foreach { case (n, fn) =>
      println(s"===== $n =====")
      try {
        val df = fn(spark, sfDir)
        if (exec) {
          df.write.format("noop").mode("overwrite").save()
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
