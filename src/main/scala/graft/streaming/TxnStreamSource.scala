package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sinks.TxnTable

/** The txn table as an APPEND-MODE Structured Streaming source — the
  * Delta-streaming-source surface (`spark.readStream.format("graft-txn")
  * .load(root)`): each micro-batch is the rows ADDED by one or more
  * commit windows, in commit order, exactly once across restarts
  * (offsets ARE table versions; a version-pinned window is
  * deterministic, so checkpoint replay re-reads identical batches).
  *
  * Window admission is decided from MANIFEST FACTS, refuse-loud:
  *  - a window that only ADDS data files (no files removed, MoR
  *    delete-file set unchanged) is an append — its new files' rows
  *    emit as written (live deletes never name an append's new
  *    files, so a stream over a MoR table sees effective content);
  *  - a MAINTENANCE commit (`compact` / `compact-deletes` /
  *    `compact-pos-deletes` / `zorder`)
  *    is content-preserving by the writer's commit contract — the op
  *    tag is this format's `dataChange = false` — and emits nothing;
  *  - anything else (overwrite, CoW/MoR delete, restore, row-level
  *    rewrite) CHANGED visible rows: the stream fails loud naming the
  *    version and op, pointing at the two honest alternatives —
  *    `readChangeFeed=true` (the full CDC feed, [[CdcSource]]) or
  *    `skipChangeCommits=true` (Delta's knob: skip such windows,
  *    accepting that the stream reflects inserts only).
  *
  * Options (shared with [[CdcSource]]): `startVersion` (0 = replay
  * history; N = start after N; default = latest at stream start),
  * `maxVersionsPerBatch` (admission control for backlogs).
  *
  * Scale posture: an append window reads exactly the files that window
  * added — a steady-state stream over a 100 TB table costs per-commit
  * deltas, never table scans. The schema is pinned at stream start
  * (windows read under their own recorded schema and cast up, so
  * lossless widening mid-stream is transparent; an incompatible
  * evolution fails the stream and a restart re-pins). Replay needs the
  * checkpointed windows' manifests and files: vacuum retention must
  * outlive checkpoint lag. */
class TxnStreamSource(s: SparkSession, tableRoot: String,
                      startVersion: Option[Long],
                      maxVersionsPerBatch: Option[Long],
                      skipChangeCommits: Boolean) extends Source {
  maxVersionsPerBatch.foreach(m =>
    require(m >= 1, s"maxVersionsPerBatch must be >= 1, got $m"))

  private val pinned: StructType = TxnStreamSource.pinnedSchema(s, tableRoot)
  /** The stream-start STORAGE schema (column-mapping carrier). Physical
    * names are frozen at column birth, so a window committed AFTER a
    * mid-stream rename still reads correctly under the start-time
    * physical schema — the subscriber keeps receiving the names it
    * subscribed to ([[graft.sinks.ColumnMapping]]). */
  private val pinnedStorage: Option[StructType] =
    TxnTable.latest(s, tableRoot).flatMap(_.schema)
  /** Versions <= startV are never emitted. NOTE this re-resolves to the
    * RESTART-time head when no explicit startVersion was given — which
    * is why it must never floor the pacing cursor after restart (the
    * checkpoint-restored offset is the truth; see [[served]]). */
  private val startV: Long = startVersion.getOrElse(
    TxnTable.latest(s, tableRoot).map(_.version).getOrElse(0L))
  /** Highest version already handed to getBatch — the pacing cursor
    * (see [[CdcSource.served]]). None until the first getBatch: a fresh
    * stream anchors batch 0 at startV (empty batch, see getOffset), and
    * a RESTART re-seeds it from the recovery getBatch's end offset —
    * never from the restart-time startV, which would withhold commits
    * made while the query was down until some future commit moved the
    * head (forever, on a quiescent table). */
  private var served: Option[Long] = None

  override def schema: StructType = pinned

  override def getOffset: Option[Offset] = {
    // fresh stream: hand out an EMPTY anchor batch at startV first, so
    // batch 0 is definitionally empty and every data-bearing batch has
    // a checkpoint-persisted START offset — restart recovery of an
    // uncommitted batch can then never mis-derive its lower bound from
    // the restart-time startV (Delta's initial-offset pattern)
    if (served.isEmpty) return Some(LongOffset(startV))
    val head = TxnTable.latest(s, tableRoot).map(_.version).getOrElse(0L)
    val floor = served.get
    val capped = maxVersionsPerBatch.fold(head)(m => math.min(head, floor + m))
    if (capped <= floor) None else Some(LongOffset(capped))
  }

  private def ver(o: Offset): Long = o match {
    case l: LongOffset        => l.offset
    case so: SerializedOffset => LongOffset(so).offset
  }

  /** Rows one commit window added, or None for an admitted-empty
    * window ([[TxnStreamSource.addedFiles]] classifies it). */
  private def perVersion(v: Long): Option[DataFrame] =
    TxnStreamSource.addedFiles(s, tableRoot, v, skipChangeCommits).map { added =>
      import graft.sinks.ColumnMapping
      val cur = TxnTable.snapshot(s, tableRoot, v)
      val base = tableRoot.stripSuffix("/")
      // under a column mapping (at stream start OR introduced
      // mid-stream) the files carry frozen PHYSICAL names: read the
      // window under the START-TIME physical schema (schema-on-read
      // nulls columns a window's files lack), alias back to the
      // pinned logical names last. Unmapped
      // streams keep the exact pre-mapping path. No delete mask: live
      // deletes address rows of files that existed at their own
      // commit, never an append window's new files.
      val mapped = pinnedStorage.exists(ColumnMapping.hasMapping) ||
        cur.schema.exists(ColumnMapping.hasMapping)
      require(!mapped || pinnedStorage.isDefined,
        s"stream over $tableRoot pinned no schema at start but window v$v " +
          "carries a column mapping — restart the stream to re-pin")
      val reader =
        if (mapped) s.read.schema(ColumnMapping.physicalSchema(pinnedStorage.get))
        else cur.schema.fold(s.read)(s.read.schema)
      val rows = reader.parquet(added.map(f => s"$base/$f"): _*)
      if (mapped) ColumnMapping.aliasToLogical(rows, pinnedStorage.get) else rows
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val v1 = start.map(ver).getOrElse(startV)
    val v2 = ver(end)
    served = Some(served.fold(v2)(math.max(_, v2)))
    val windows = ((v1 + 1) to v2).flatMap(perVersion)
    val out = windows.reduceOption(_.unionByName(_)).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[Row], pinned))
    // pin to the stream-start schema (lossless widening casts up; an
    // incompatible evolution fails here, loudly)
    org.apache.spark.sql.graft.StreamingShim.asStreamingBatch(
      out.select(pinned.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
        .toIndexedSeq: _*))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object TxnStreamSource {
  /** Content-preserving ops: the writer's commit contract makes the op
    * tag this format's `dataChange = false`. */
  private val MaintenanceOps =
    Set("compact", "compact-deletes", "compact-pos-deletes", "zorder")

  /** The data files commit window `v` added, classified from the two
    * manifests alone (the one classification both append-mode sources
    * share): an append (no file removed, delete set unchanged) yields
    * its added files, None when it added none; a maintenance commit, or
    * any commit under `skipChangeCommits`, yields None; any other
    * commit changed visible rows and refuses loud. */
  def addedFiles(s: SparkSession, root: String, v: Long,
                 skipChangeCommits: Boolean): Option[Seq[String]] = {
    val cur = TxnTable.snapshot(s, root, v)
    val prev = if (v == 1L) None else Some(TxnTable.snapshot(s, root, v - 1))
    val prevFiles = prev.fold(Set.empty[String])(_.files.toSet)
    val prevDeletes = prev.fold(Set.empty[String])(_.deletes.toSet)
    val removed = prevFiles -- cur.files
    if (removed.isEmpty && prevDeletes == cur.deletes.toSet)
      Some(cur.files.filterNot(prevFiles)).filter(_.nonEmpty)
    else if (MaintenanceOps(cur.op) || skipChangeCommits) None
    else throw new IllegalStateException(
      s"append-mode stream over $root hit a data-changing commit: " +
        s"v$v (op '${cur.op}') removed ${removed.size} file(s) / changed the " +
        "delete set. Read the full change feed with " +
        "option(\"readChangeFeed\", \"true\"), or skip such commits with " +
        "option(\"skipChangeCommits\", \"true\")")
  }

  /** Stream schema: the table's columns pinned from the latest snapshot
    * at stream start, everything nullable (schema-on-read: older files
    * may lack late columns). */
  def pinnedSchema(s: SparkSession, root: String): StructType = {
    val snap = TxnTable.latest(s, root).getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root — create the table before streaming it"))
    // logical view: a mapped table streams under its user-visible names
    // (windows read under the frozen physical schema and alias back)
    val base = snap.schema.map(graft.sinks.ColumnMapping.logicalView)
      .getOrElse(TxnTable.read(s, root).schema)
    StructType(base.fields.map(_.copy(nullable = true)))
  }
}
