package graft.sinks

import org.apache.spark.sql.DataFrame

/** The file-size rule every writer follows — the write-side half of
  * the layout story (Bucketed/ZOrder choose a layout; this keeps it
  * healthy).
  *
  * Every incremental writer (streaming foreachBatch, per-day dynamic
  * partition overwrite, retried tasks) accretes files far below the
  * ~128 MB a parquet scan wants; at 100 TB the symptom is a scan whose
  * task count is file count, not data size, and a NameNode/listing
  * bottleneck. Writers size their output with [[rightSized]]; the txn
  * format rewrites already-small files transactionally
  * ([[TxnTable.compactTxn]], [[TxnTable.compactWhere]]).
  */
object Compact {

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
