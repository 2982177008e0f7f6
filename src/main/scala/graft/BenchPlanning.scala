package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import Bench.{sec, usedMb}

/** Driver-side PLANNING cost at large file counts — every 100 TB claim
  * eventually meets a manifest with 10⁵–10⁶ entries, and nothing else
  * in the harness measures past a few dozen files. Builds a synthetic
  * N-file table (tiny files; the DATA is irrelevant, the metadata
  * paths are the product) and times each driver-side path:
  *
  *  - `commit_sec`        one commit carrying N files (stats/row-count
  *                        footer fan-out + manifest serialization)
  *  - `manifest_bytes`    the serialized manifest
  *  - `load_sec`          cold manifest parse ([[graft.sinks.TxnTable.latest]])
  *  - `plan_count_sec`    full scan planning (grouped listStatus
  *                        batching + split packing) via `count()`
  *  - `append_sec`        one small append onto the N-file head
  *                        (manifest rewrite at N entries)
  *  - `replace_sec`       a one-file `commitReplace` rebased over a
  *                        concurrent append under snapshot isolation —
  *                        the [[graft.sinks.TxnTable]] admission sweep
  *                        (set build + membership) at N files
  *  - `sidecar_metas_sec` footer fan-out over K position-delete
  *                        sidecars ([[graft.sources.GraftSidecars.metas]], cold)
  *  - `sidecar_plan_count_sec` planning + `count()` of the DSv2 read
  *                        over those K sidecars ([[graft.sources.GraftPosScan]],
  *                        task-side tombstone resolution)
  *
  * Heap deltas are coarse (`used-before` vs `used-after` around the
  * manifest load) but catch order-of-magnitude superlinearity.
  *
  * Usage: tools/run.sh graft.BenchPlanning [files] [sidecars]
  * (default 100000, 1000; sf-independent — generates its own data;
  * SPARK_GRAFT_CPUS cores, else all of them)
  */
object BenchPlanning {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(100000)
    val nSidecars = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val spark = GraftSession.local(
      "spark.sql.catalog.graft_bpl" -> classOf[graft.sources.GraftCatalog].getName,
      "spark.sql.catalog.graft_bpl.warehouse" -> "/tmp/graft_bpl_wh")
    spark.sparkContext.setLogLevel("WARN")
    import graft.sinks.TxnTable

    val root = "/tmp/graft_bpl_wh/db/planning"
    val loc = new Path(root)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bpl.db")

    // ---- build: N files, 10 rows each, id-clustered ----
    val (_, commitSec) = sec {
      TxnTable.overwrite(spark, root,
        spark.range(nFiles.toLong * 10).toDF("id")
          .withColumn("v", col("id") % 997L)
          .repartitionByRange(nFiles, col("id")),
        statsCols = Seq("id"))
    }
    val manifestBytes = fs.listStatus(new Path(s"$root/_txn"))
      .filter(_.getPath.getName.startsWith("v"))
      .map(_.getLen).max
    val segBytes = fs.listStatus(new Path(s"$root/_txn"))
      .filter(_.getPath.getName.startsWith("m_"))
      .map(_.getLen).sum

    // ---- cold manifest parse (fresh JVM state is not available in-
    // process, but dropSegCaches forces the segment fan-out; this is
    // parse + stats-map build, not page cache) ----
    TxnTable.dropSegCaches()
    val heap0 = usedMb()
    val (snap, loadSec) = sec(TxnTable.latest(spark, root).get)
    val heap1 = usedMb()
    require(snap.files.size == nFiles, s"expected $nFiles, got ${snap.files.size}")
    // warm load: what every per-operation latestRequired() pays once
    // the per-JVM segment cache holds the head's segments
    val (_, loadWarmSec) = sec(TxnTable.latest(spark, root).get)

    // ---- full-scan planning: grouped listStatus + split packing ----
    val (n0, planSec) = sec(TxnTable.read(spark, root).count())
    require(n0 == nFiles.toLong * 10, s"bad count $n0")

    // ---- one small append on the N-file head ----
    val (_, appendSec) = sec {
      TxnTable.append(spark, root,
        spark.range(-100L, 0L).toDF("id").withColumn("v", lit(0L))
          .coalesce(1))
    }

    // ---- the snapshot-isolation admission sweep at N files ----
    TxnTable.setTableProperty(spark, root,
      TxnTable.RowLevelIsolationKey, "snapshot")
    val planned = TxnTable.latest(spark, root).get
    val victim = planned.files.head
    val repl = {
      val tmp = "/tmp/graft_bpl_repl"
      spark.read.parquet(s"$root/$victim").withColumn("v", col("v") + 1L)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .filter(_.getPath.getName.startsWith("part-")).head.getPath
      val rel = "data/manual/repl-0.parquet"
      fs.mkdirs(new Path(s"$root/data/manual"))
      require(fs.rename(part, new Path(s"$root/$rel")), "stage failed")
      rel
    }
    TxnTable.append(spark, root, // the head moves: admission must run
      spark.range(-200L, -100L).toDF("id").withColumn("v", lit(0L))
        .coalesce(1))
    val (_, replaceSec) = sec {
      TxnTable.commitReplace(spark, root, planned.version,
        Set(victim), Seq(repl), "update")
    }

    // ---- K sidecars: stage + one commitDelta, then footer fan-out ----
    val head = TxnTable.latest(spark, root).get
    val targets = head.files.take(nSidecars)
    val scTmp = "/tmp/graft_bpl_sc"
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          targets.map(f => org.apache.spark.sql.Row(f, 0L)), 1),
        graft.sources.GraftMetaCols.posDeleteSchema)
      .repartitionByRange(nSidecars, col("_file"))
      .write.mode("overwrite").parquet(scTmp)
    fs.mkdirs(new Path(s"$root/data/sc"))
    val rels = fs.listStatus(new Path(scTmp))
      .filter(_.getPath.getName.startsWith("part-")).zipWithIndex
      .map { case (st, i) =>
        val rel = s"data/sc/del-$i.parquet"
        require(fs.rename(st.getPath, new Path(s"$root/$rel")), "sc stage")
        rel
      }.toSeq
    val (_, deltaSec) = sec {
      TxnTable.commitDelta(spark, root, TxnTable.latest(spark, root).get.version,
        Nil, rels, "delete-mor")
    }
    val (metas, metasSec) = sec(
      graft.sources.GraftSidecars.metas(spark, root, rels))
    require(metas.size == rels.size, "metas fan-out incomplete")

    val (n1, sidecarPlanSec) = sec(
      spark.read.format("graft-txn").load(root).count())

    def f(d: Double): String = "%.3f".formatLocal(java.util.Locale.US, d)
    println(s"""{"metric":"planning","files":$nFiles,""" +
      s""""rows":$n1,"commit_sec":${f(commitSec)},""" +
      s""""manifest_bytes":$manifestBytes,"seg_bytes":$segBytes,""" +
      s""""load_sec":${f(loadSec)},""" +
      s""""load_warm_sec":${f(loadWarmSec)},""" +
      s""""segments":${TxnTable.latest(spark, root).get.segs.size},""" +
      s""""load_heap_mb":${heap1 - heap0},""" +
      s""""plan_count_sec":${f(planSec)},"append_sec":${f(appendSec)},""" +
      s""""replace_sec":${f(replaceSec)},"sidecars":${rels.size},""" +
      s""""delta_commit_sec":${f(deltaSec)},""" +
      s""""sidecar_metas_sec":${f(metasSec)},""" +
      s""""sidecar_plan_count_sec":${f(sidecarPlanSec)}}""")
    spark.stop()
  }
}
