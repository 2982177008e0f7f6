package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata/introspection TABLES over a [[TxnTable]] — the operational
  * surface every production table format exposes (Delta `DESCRIBE
  * HISTORY`, Iceberg's `history`/`files`/`snapshots` metadata tables):
  * audit "who did what when", debug pruning ("which files, what ranges"),
  * and feed retention planning, all as ordinary DataFrames composable
  * with the rest of the engine.
  *
  * Reads ONLY committed manifests via the public snapshot API — metadata
  * scale, zero data-file reads: the driver materializes one row per
  * commit ([[history]]) or one row per (file × recorded column)
  * ([[files]]), both bounded by manifest size, the same planning-state
  * class as every commit operation. At 100 TB the manifest is megabytes
  * while the data is terabytes; these tables never touch the data.
  */
object TxnMeta {

  /** One row per commit, ascending by version (the audit log):
    * `version, ts, op, n_files, n_delete_files, stats_cols, bloom_cols,
    * transforms`. `ts` is the manifest-recorded commit
    * instant (null for legacy manifests without one — file mtimes are
    * deliberately NOT substituted here: history must survive directory
    * copies/restores, and a silently mtime-derived audit row would lie
    * about when the commit happened). */
  def history(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    val rows = TxnTable.versions(s, root).map { v =>
      val sn = TxnTable.snapshot(s, root, v)
      (sn.version, sn.tsMs, sn.op, sn.files.size, sn.deletes.size,
        sn.statsCols, sn.bloomCols, sn.transforms.map(_.name))
    }
    rows.toDF("version", "ts_ms", "op", "n_files", "n_delete_files",
        "stats_cols", "bloom_cols", "transforms")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
      .select("version", "ts", "op", "n_files", "n_delete_files",
        "stats_cols", "bloom_cols", "transforms")
  }

  /** One row per (data file × recorded stats column) of one snapshot —
    * the pruning debugger: `file, bytes, rows, column, lo, hi,
    * has_bloom`. `rows` is the manifest-recorded per-file row count
    * ([[TxnTable.metaCount]]'s input; null for legacy files committed
    * before counts were recorded).
    * Files with no recorded stats contribute one row with a null
    * `column` (visible, never silently dropped — an unpruned file is
    * exactly what this table exists to surface). Hidden-partitioning
    * transform values appear under their derived names (`day_ts`,
    * `bucketN_k`) like any recorded column. Delete files are not
    * data files and are not listed ([[history]] counts them). */
  def files(s: SparkSession, root: String,
            version: Option[Long] = None): DataFrame = {
    import s.implicits._
    val v = version.getOrElse(
      TxnTable.versions(s, root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed snapshot at $root")))
    val sn = TxnTable.snapshot(s, root, v)
    val base = root.stripSuffix("/")
    val fsys = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    val rows = sn.files.flatMap { f =>
      val bytes = fsys.getFileStatus(new Path(s"$base/$f")).getLen
      val rc = sn.rowCounts.get(f)
      val cols = sn.stats.getOrElse(f, Map.empty)
      val blooms = sn.blooms.getOrElse(f, Map.empty).keySet
      if (cols.isEmpty && blooms.isEmpty)
        Seq((f, bytes, rc, Option.empty[String], Option.empty[Long],
          Option.empty[Long], false))
      else
        (cols.keySet ++ blooms).toSeq.sorted.map { c =>
          val st = cols.get(c)
          (f, bytes, rc, Some(c), st.map(_._1), st.map(_._2), blooms.contains(c))
        }
    }
    rows.toDF("file", "bytes", "rows", "column", "lo", "hi", "has_bloom")
  }

  /** One row per ref — tags (immutable version pins) and branches
    * (mutable refs with their own commit line — `version` is the branch
    * HEAD). The refs half of Iceberg's `refs`/`snapshots` metadata
    * surface; manifest-scale, zero data reads. */
  def refs(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    val tagRows = TxnTable.tags(s, root).toSeq.sortBy(_._1)
      .map { case (n, v) => (n, "tag", Some(v)) }
    val branchRows = TxnTable.branches(s, root).keys.toSeq.sorted
      .map(n => (n, "branch", Some(TxnTable.branchHead(s, root, n).version)))
    (tagRows ++ branchRows).toDF("name", "kind", "version")
  }

  /** The table CONTRACT — sidecar properties (row-level mode/isolation,
    * CHECK constraints) — current, or AS OF a retained `version`
    * (replayed from the change log; [[TxnTable.propertiesAt]]):
    * `key, value`. A time-travel read pairs with `properties VERSION
    * AS OF n` to see the constraint set its rows were admitted under.
    * Write-time enforcement always uses the CURRENT contract. */
  def properties(s: SparkSession, root: String,
                 version: Option[Long] = None): DataFrame = {
    import s.implicits._
    val m = version.fold(TxnTable.tableProperties(s, root))(
      TxnTable.propertiesAt(s, root, _))
    m.toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** The property-change AUDIT LOG, ascending: `version, ts, op, key,
    * value` — one row per SET/UNSET, recorded against the head version
    * the change was made at; a SEED row (version 0) freezes the
    * baseline of a table whose properties predate the log. Empty for a
    * never-changed legacy table (there is nothing to attribute). */
  def propertyHistory(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    TxnTable.propertyLog(s, root)
      .map { case (v, ts, op, k, value) => (v, ts, op, k, value) }
      .toDF("version", "ts_ms", "op", "key", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
      .select("version", "ts", "op", "key", "value")
  }

  /** One row per PARTITION — distinct hidden-partitioning transform
    * value tuple — of one snapshot (Iceberg's `partitions` metadata
    * table): `partition, n_files, rows, bytes`. Derived entirely from
    * the manifest: the fan-out records every file's transform value as
    * a point range ([[TxnTable]] transformStats), so the grouping costs
    * zero data reads; `bytes` is one `getFileStatus` per file (the same
    * planning-scale IO the `files` table already pays). `rows` is null
    * when ANY member file predates per-file row counts (a partial sum
    * would lie). Files missing a transform entry (committed before the
    * transform existed) group under a null component, visibly — and an
    * unpartitioned table reports one all-null-partition row: the rollup
    * is still the table's file/row/byte footprint. */
  def partitions(s: SparkSession, root: String,
                 version: Option[Long] = None): DataFrame = {
    import s.implicits._
    val v = version.getOrElse(
      TxnTable.versions(s, root).lastOption.getOrElse(
        throw new IllegalStateException(s"no committed snapshot at $root")))
    val sn = TxnTable.snapshot(s, root, v)
    val base = root.stripSuffix("/")
    val fsys = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    val tnames = sn.transforms.map(_.name)
    val grouped = sn.files.groupBy { f =>
      if (tnames.isEmpty) None
      else Some(tnames.map { t =>
        sn.stats.get(f).flatMap(_.get(t)) match {
          case Some((lo, hi)) if lo == hi => s"$t=$lo"
          case _                          => s"$t=null"
        }
      }.mkString("/"))
    }
    val rows = grouped.toSeq.sortBy(_._1.getOrElse("")).map { case (part, fls) =>
      val counts = fls.map(sn.rowCounts.get)
      val nRows = if (counts.forall(_.isDefined)) Some(counts.flatten.sum)
                  else Option.empty[Long]
      val bytes = fls.map(f =>
        fsys.getFileStatus(new Path(s"$base/$f")).getLen).sum
      (part, fls.size, nRows, bytes)
    }
    rows.toDF("partition", "n_files", "rows", "bytes")
  }
}
