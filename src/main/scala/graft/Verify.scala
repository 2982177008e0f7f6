package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1,
  * naming the failed queries, when any query throws. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    val failed = try dump(spark, sfDir, outDir) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Dump every query's result and oracle_sql.json; returns the names of
    * the queries that threw. */
  private def dump(spark: SparkSession, sfDir: String,
                   outDir: String): Seq[String] = {
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    spark.sparkContext.setLogLevel("WARN")
    // The STATIC oracle SQL pins the IVF/kmeans defaults (q46/q58/q110/
    // q118 interpolate them at compile time) while the DataFrame paths
    // read session confs — a session that re-tunes the knobs would make
    // this gate compare plans built with DIFFERENT parameters and fail
    // for a non-bug reason. Refuse to certify under non-default knobs.
    Seq("graft.ivf.k", "graft.ivf.nprobe", "graft.kmeans.iters").foreach { k =>
      require(spark.conf.getOption(k).isEmpty,
        s"$k is set: the pinned oracles assume the defaults — unset it " +
          "(production sessions may re-tune, but then own the divergence " +
          "from the test oracle)")
    }
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=q107 dumps just the named queries (the
    // driver sets no filter); oracle_sql.json still carries every entry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // advisory here (correctness must still be measured); Bench is
        // the gate that refuses outright
        graft.plans.GuardRails.gate(name, df).foreach(h =>
          System.err.println(s"[guard-rails] $name: [${h.kind}] ${h.detail}"))
        // Default (the driver's gate): ONE ordered output file — the
        // compare is row-order-sensitive. SPARK_GRAFT_VERIFY_PARALLEL=1
        // writes with full parallelism instead (coalesce(1) collapses
        // every pre-shuffle stage into one task — at sf10 that turns a
        // 32-core run into a single-threaded one); the companion
        // check.py --setop mode then compares as multisets in DuckDB.
        if (sys.env.contains("SPARK_GRAFT_VERIFY_PARALLEL"))
          df.write.mode("overwrite").parquet(s"$outDir/$name")
        else
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.toSeq
  }
}
