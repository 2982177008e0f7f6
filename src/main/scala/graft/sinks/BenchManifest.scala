package graft.sinks

import org.apache.hadoop.fs.Path
import graft.Bench.{sec, usedMb}

/** MANIFEST-ONLY planning bench at 10⁶ entries — the scale step past
  * [[graft.BenchPlanning]]'s physical 10⁵-file table. The driver-side
  * manifest paths (serialize, segment, parse, SEGMENT-REUSE VERIFY) are
  * the product; physical data files are not needed to measure them, so
  * entries are synthetic: every per-file fact ([[TxnTable.commit]]'s
  * stats / rowCounts maps) is passed in complete, which
  * short-circuits all footer reads by construction. What a run reports:
  *
  *  - `commit_sec`       one commit carrying N synthetic entries
  *                       (manifest serialization + segment writes)
  *  - `manifest_bytes` / `seg_bytes` / `segments`
  *  - `load_sec`         cold parse (segment fan-out, caches dropped)
  *  - `load_warm_sec`    per-operation `latest()` with warm caches
  *  - `append1_sec` / `append2_sec`  one-entry appends on the N-entry
  *                       head — THE number this bench exists for: each
  *                       reusing commit pays the per-segment
  *                       verification compare (value equality against
  *                       the maps it was asked to record) plus one
  *                       existence stat per reused segment; superlinear
  *                       growth here is what would kill million-file
  *                       tables. append2 shows the steady state
  *                       (append1's parse already warmed the hint).
  *
  * Usage: tools/run.sh graft.sinks.BenchManifest [entries]
  * (default 1000000; ~0.5 GB driver heap at the default — run with
  * SPARK_DRIVER_MEM=8g)
  */
object BenchManifest {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val root = "/tmp/graft_bman/t"
    val loc = new Path(root)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)

    def entry(i: Int): String = f"data/b${i / 10000}%03d/part-$i%07d.parquet"
    def statsOf(fls: Seq[String]): Map[String, Map[String, (Long, Long)]] =
      fls.zipWithIndex.map { case (fl, i) =>
        fl -> Map("id" -> (i * 10L, i * 10L + 9L))
      }.toMap
    def countsOf(fls: Seq[String]): Map[String, Long] =
      fls.map(_ -> 10L).toMap

    val files = (0 until n).map(entry)
    val (_, commitSec) = sec {
      TxnTable.commit(spark, root, TxnTable.Snapshot(1L, "overwrite", files,
        statsOf(files), Seq("id"),
        rowCounts = countsOf(files)))
    }
    val manifestBytes = fs.listStatus(new Path(s"$root/_txn"))
      .filter(_.getPath.getName.startsWith("v")).map(_.getLen).max
    val segBytes = fs.listStatus(new Path(s"$root/_txn"))
      .filter(_.getPath.getName.startsWith("m_")).map(_.getLen).sum

    TxnTable.dropSegCaches()
    val heap0 = usedMb()
    val (snap, loadSec) = sec(TxnTable.latest(spark, root).get)
    val heap1 = usedMb()
    require(snap.files.size == n, s"expected $n, got ${snap.files.size}")
    val (_, loadWarmSec) = sec(TxnTable.latest(spark, root).get)

    // one-entry appends via the same full-map commit — measures parse +
    // reuse verification + O(delta) serialization, never a data job
    def appendOnce(v: Long, i: Int): Double = {
      val head = TxnTable.latest(spark, root).get
      val fl = entry(n + i)
      val all = head.files :+ fl
      sec {
        TxnTable.commit(spark, root, head.copy(version = v, op = "append",
          files = all,
          stats = head.stats ++ Map(fl -> Map("id" -> (-10L * i - 9, -10L * i))),
          rowCounts = head.rowCounts ++ Map(fl -> 10L)))
      }._2
    }
    val append1 = appendOnce(2L, 1)
    val append2 = appendOnce(3L, 2)
    val segsAfter = TxnTable.latest(spark, root).get.segs.size

    def f(d: Double): String = "%.3f".formatLocal(java.util.Locale.US, d)
    println(s"""{"metric":"manifest","entries":$n,""" +
      s""""commit_sec":${f(commitSec)},""" +
      s""""manifest_bytes":$manifestBytes,"seg_bytes":$segBytes,""" +
      s""""segments":${snap.segs.size},"segments_after":$segsAfter,""" +
      s""""load_sec":${f(loadSec)},"load_warm_sec":${f(loadWarmSec)},""" +
      s""""load_heap_mb":${heap1 - heap0},""" +
      s""""append1_sec":${f(append1)},"append2_sec":${f(append2)}}""")
    spark.stop()
  }
}
