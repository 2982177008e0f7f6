package graft

/** Dev-loop utility: run ONE named query (same session config as
  * [[Verify]]) and write its parquet to `<outDir>/<name>/` for a
  * DuckDB compare — the per-query inner loop of tools/check.py. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_out"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    println(s"wrote $outDir/$name")
    spark.stop()
  }
}
