package graft

import org.apache.spark.sql.functions._

/** Micro-bench for the per-file position-delete masking claim
  * ([[graft.sources.GraftPosScan]]): a 1-row merge-on-read DELETE on a
  * multi-file table must read at ~clean-scan speed — only the ONE
  * tombstoned file pays the masking wrapper; every clean file stays on
  * the untouched vectorized path. Prints one JSON line:
  * clean/masked/meta wall times (min of N) over the same aggregate.
  *
  * Usage: tools/run.sh graft.BenchPosMask [rows] [runs]  (default 10M, 3;
  * SPARK_GRAFT_CPUS cores, else all of them)
  */
object BenchPosMask {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(
      "spark.sql.catalog.graft_bpm" -> classOf[graft.sources.GraftCatalog].getName,
      "spark.sql.catalog.graft_bpm.warehouse" -> "/tmp/graft_bpm_wh")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = "/tmp/graft_bpm_wh/db/posmask"
    val loc = new org.apache.hadoop.fs.Path(root)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bpm.db")
    graft.sinks.TxnTable.overwrite(spark, root,
      spark.range(rows).toDF("id")
        .withColumn("v", col("id") * 7L % 1000L)
        .withColumn("s", concat(lit("doc-"), col("id") % 100000L))
        .repartitionByRange(20, col("id")),
      statsCols = Seq("id"))
    graft.sinks.TxnTable.setTableProperty(spark, root,
      graft.sinks.TxnTable.RowLevelModeKey, "merge-on-read")

    def scanAgg(df: org.apache.spark.sql.DataFrame): Unit =
      df.agg(sum($"v"), count(lit(1)), max(length($"s"))).collect()

    def best(f: => Unit): Double = (1 to runs).map(_ => Bench.time(f)).min

    def tbl() = spark.read.format("graft-txn").load(root)

    scanAgg(tbl()) // warm (file listing, codegen)
    val clean = best(scanAgg(tbl()))

    // ONE-row tombstone via SQL UPDATE in MoR mode
    spark.sql(s"UPDATE graft_bpm.db.posmask SET v = v + 1 WHERE id = ${rows / 2}")
    val snap = graft.sinks.TxnTable.latest(spark, root).get
    require(snap.deletes.nonEmpty, "expected a live position tombstone")
    scanAgg(tbl()) // warm the masked plan
    val masked = best(scanAgg(tbl()))

    // the ordinal-exact ROW regime (what every file paid before
    // per-file masking): force it by CONSUMING a metadata column in the
    // aggregate (an unused projection would just prune away)
    def metaAgg(): Unit = spark.read.format("graft-txn").load(root)
      .agg(sum($"v"), count(lit(1)), max(length($"s")),
        countDistinct(expr("_file"))).collect()
    metaAgg()
    val rowRegime = best(metaAgg())

    // WIDESPREAD debt then CONSOLIDATION: tombstones on EVERY file
    // (1% of rows), compactPosDeletes to ONE sidecar. Row-group
    // routing (GraftSidecars.slices) must hold the compacted read at
    // ~the pre-compaction cost — re-reading the whole consolidated set
    // from every masked task would make maintenance slow scans down.
    spark.sql(s"DELETE FROM graft_bpm.db.posmask WHERE id % 100 = 50")
    scanAgg(tbl())
    val spreadPre = best(scanAgg(tbl()))
    graft.sinks.TxnTable.compactPosDeletes(spark, root, targetFiles = 1)
    scanAgg(tbl())
    val spreadCompacted = best(scanAgg(tbl()))

    println(s"""{"metric":"posmask","rows":$rows,"files":${snap.files.size},""" +
      s""""clean_sec":${f(clean)},"one_tombstone_sec":${f(masked)},""" +
      s""""row_regime_sec":${f(rowRegime)},""" +
      s""""spread_pre_sec":${f(spreadPre)},""" +
      s""""spread_compacted_sec":${f(spreadCompacted)},""" +
      s""""compacted_over_pre":${f(spreadCompacted / spreadPre)},""" +
      s""""masked_over_clean":${f(masked / clean)},""" +
      s""""row_over_clean":${f(rowRegime / clean)}}""")
    spark.stop()
  }

  private def f(d: Double): String = "%.3f".formatLocal(java.util.Locale.US, d)
}
