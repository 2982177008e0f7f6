package graft

import org.apache.spark.sql.functions._
import Bench.time

/** Kappa-loop cost shape at scale ([[graft.queries.Materialized
  * .maintainFromFeed]]): seed a large raw txn table, maintain its daily
  * aggregate from the change feed, and measure the PER-BATCH wall of
  * small update batches against the full-recompute wall — the claim
  * under measurement is per-batch cost ∝ changed data, not table size.
  * After every batch the maintained aggregate is checked EQUAL to a
  * from-scratch recompute. Prints one JSON line.
  *
  * Usage: tools/run.sh graft.BenchKappa [sfDir] [batchRows] [batches]
  *        (defaults /root/testdata/sf0.1, 20000, 5; SPARK_GRAFT_CPUS
  *        cores, else all of them)
  */
object BenchKappa {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchRows = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
    val batches = args.drop(2).headOption.map(_.toInt).getOrElse(5)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.sinks.TxnTable

    val base = "/tmp/graft_bpm_wh/kappa"
    val loc = new org.apache.hadoop.fs.Path(base)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val (rawRoot, aggRoot) = (s"$base/raw", s"$base/agg")

    def agg(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("day", date_format($"ts", "yyyy-MM-dd"))
        .groupBy($"day", $"event_type")
        .agg(count(lit(1)).as("n"), sum(graft.Det.cents($"value")).as("sum_cents"))

    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select($"ts", $"event_type", $"value")
    val nSeed = events.count()

    val seedSec = time {
      TxnTable.overwrite(spark, rawRoot, events.repartition(32))
      TxnTable.overwrite(spark, aggRoot, agg(TxnTable.read(spark, rawRoot)))
    }
    var cursor = TxnTable.versions(spark, rawRoot).last

    // full-recompute baseline (what every trigger would pay WITHOUT IVM)
    val recomputeSec = time { agg(TxnTable.read(spark, rawRoot)).collect() }

    val perBatch = (1 to batches).map { i =>
      val batch = events.orderBy($"ts").limit(batchRows)
        .withColumn("value", $"value" + i) // distinct content per batch
      batch.persist(); batch.count()
      val sec = time {
        TxnTable.appendBatch(spark, rawRoot, batch, i.toLong).foreach { snap =>
          graft.queries.Materialized.maintainFromFeed(
            spark, rawRoot, aggRoot, cursor, snap.version)
          cursor = snap.version
        }
      }
      batch.unpersist()
      sec
    }

    // the maintained aggregate equals the from-scratch recompute
    val want = agg(TxnTable.read(spark, rawRoot)).collect()
      .map(_.toSeq).toSet
    val got = TxnTable.read(spark, aggRoot).collect().map(_.toSeq).toSet
    require(got == want, "maintained aggregate != recompute")

    def f(d: Double) = "%.3f".formatLocal(java.util.Locale.US, d)
    println(s"""{"metric":"kappa","seed_rows":$nSeed,"batch_rows":$batchRows,""" +
      s""""seed_sec":${f(seedSec)},"recompute_sec":${f(recomputeSec)},""" +
      s""""per_batch_sec":[${perBatch.map(f).mkString(",")}],""" +
      s""""median_batch_sec":${f(perBatch.sorted.apply(perBatch.size / 2))},""" +
      s""""equal":true}""")
    spark.stop()
  }
}
