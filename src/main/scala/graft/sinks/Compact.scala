package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the table-maintenance half of the layout
  * story (Bucketed/ZOrder choose a layout; this keeps it healthy).
  *
  * Every incremental writer (streaming foreachBatch, per-day dynamic
  * partition overwrite, retried tasks) accretes files far below the
  * ~128 MB a parquet scan wants; at 100 TB the symptom is a scan whose
  * task count is file count, not data size, and a NameNode/listing
  * bottleneck. Compaction rewrites a directory to
  * ceil(bytes/targetBytes) files via `coalesce` — a NARROW dependency:
  * merging files needs no row movement between partitions, so no
  * shuffle, no spill, just sequential read + write.
  *
  * The rewrite is write-tmp → delete → rename, in that order, so the
  * data is durable in `<dir>._compact_tmp` before the original is
  * touched; it is NOT transactional against concurrent readers (that
  * is a table-format/txn-log concern — Delta/Iceberg — out of scope
  * for a layout op). Partitioned tables compact per partition
  * directory, which also keeps each rewrite O(partition).
  */
object Compact {

  /** files and bytes before/after a [[compact]] call. */
  final case class Stats(filesBefore: Int, filesAfter: Int, bytes: Long,
                         rewritten: Boolean)

  /** Parquet data files directly under `dir` (ignores _SUCCESS etc.). */
  private def dataFiles(s: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
  }

  /** Rewrite `dir` to ceil(bytes / targetBytes) files if it currently
    * has more; no-op (rewritten = false) when already compact.
    *
    * Crash recovery: a previous call that died between `fs.delete(dir)`
    * and `fs.rename(tmp, dir)` leaves the data ONLY in the tmp dir —
    * entry first completes that rename (instead of unconditionally
    * deleting tmp), so the crash window cannot silently empty the
    * table. A tmp dir beside a still-populated target is a stale
    * leftover from a failure BEFORE the delete and is discarded. */
  def compact(s: SparkSession, dir: String, targetBytes: Long): Stats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val staleTmp = new Path(dir.stripSuffix("/") + "._compact_tmp")
    if (fs.exists(staleTmp)) {
      if (dataFiles(s, dir).isEmpty) {
        if (fs.exists(p)) fs.delete(p, true) // empty/fileless target
        if (!fs.rename(staleTmp, p))
          throw new java.io.IOException(s"recovery rename $staleTmp -> $p failed")
      } else fs.delete(staleTmp, true) // pre-delete leftover: discard
    }
    val files = dataFiles(s, dir)
    val bytes = files.map(f => fs.getFileStatus(f).getLen).sum
    val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (files.size <= want)
      return Stats(files.size, files.size, bytes, rewritten = false)
    val tmp = new Path(dir.stripSuffix("/") + "._compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // coalesce = narrow merge of input splits, no shuffle
    s.read.parquet(dir).coalesce(want)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
    Stats(files.size, dataFiles(s, dir).size, bytes, rewritten = true)
  }

  /** `df` coalesced to the partitions its estimated size fills at
    * `spark.sql.files.maxPartitionBytes` each, at least one — the write
    * side of the same file-size rule: a tiny result is written as one
    * file, not one per plan partition, while a large one keeps its
    * fan-out. A narrow merge, so no shuffle and no change to the rows. */
  def rightSized(df: DataFrame): DataFrame = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perPartition = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val n = ((size + perPartition - 1) / perPartition).max(1).min(Int.MaxValue)
    df.coalesce(n.toInt)
  }
}
