package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Lit, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.graft.{ParquetRowWriter, ParquetWriteShim}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.sinks.TxnTable
import graft.sinks.TxnTable.Snapshot

/** SQL UPDATE / MERGE INTO (and subquery DELETE) for graft-txn tables,
  * through Spark's GROUP-BASED row-level-operation framework — the
  * copy-on-write shape Iceberg pioneered on this exact API:
  *
  *  1. Spark rewrites the statement into a `ReplaceData` plan: read the
  *     affected GROUPS (files, for this format), recompute their rows
  *     (update assignments / merge actions applied, untouched rows
  *     carried verbatim), write the replacement.
  *  2. The operation's SCAN decides which files those are. It
  *     implements [[SupportsRuntimeV2Filtering]] on the table's PRIMARY
  *     STATS COLUMN: Spark runs the statement's condition as a
  *     group-discovery subquery (on a normal fully-pushed-down read
  *     scan), hands the matching column values back, and the scan keeps
  *     only files whose recorded min/max range or bloom can contain any
  *     of them — manifest math, the same [[GraftTxnFileIndex.mayMatch]]
  *     proof a SELECT gets, now deciding the REWRITE set. This is the
  *     row-level analog of dynamic partition pruning: `UPDATE t SET …
  *     WHERE id = 7` on a clustered table rewrites the one file holding
  *     id 7 and carries the rest by reference.
  *  3. The WRITE stages the replacement rows as parquet from the
  *     executors (DSv2 write protocol — no driver round-trip; see
  *     [[ParquetWriteShim]]) and commits through
  *     [[TxnTable.commitReplace]]: scanned files out, staged files in,
  *     one atomic version, stats/blooms recomputed for the staged files
  *     only, REFUSED LOUD if the table head moved since planning
  *     (serializable row-level isolation).
  *
  * Soundness invariants, in framework terms:
  *  - the scan NEVER pushes row filters to parquet (no pushdown
  *    interfaces on the builder): a group-based write must receive
  *    every row of every scanned file, matched or not — file-granular
  *    pruning only.
  *  - runtime-filter values it cannot interpret prune NOTHING; if the
  *    filter never fires (conf off, non-translatable condition), every
  *    file is scanned and rewritten — a full-table rewrite is the
  *    correct degenerate case, never an incorrect narrow one.
  *  - MoR-live snapshots refuse at operation build (rewriting a file
  *    without applying its pending deletes would resurrect rows);
  *    `compactDeletes` first.
  *  - staged files keep the table's hidden-partitioning fan-out
  *    ([[GraftFanout]] — bit-exact transform values or flat fallback),
  *    so rewritten files prune as well as appended ones.
  */
class GraftRowLevelOperation(spark: SparkSession, root: String,
                             val snap: Snapshot, cmd: Command,
                             tableSchema: StructType)
    extends RowLevelOperation {

  /** Files the scan will read = files the write will replace. Narrowed
    * by the runtime group filter; defaults to the whole snapshot (the
    * sound full-rewrite fallback). Driver-side state shared between the
    * operation's scan and write — the framework guarantees both come
    * from this one instance, and the scan plans before the write
    * commits. */
  @volatile private[sources] var scannedFiles: Set[String] = snap.files.toSet

  private[sources] def opTag: String = cmd match {
    case Command.DELETE => "delete"
    case Command.UPDATE => "update"
    case Command.MERGE  => "merge"
  }

  override def command(): Command = cmd

  /** The rewrite scan's builder accepts CATALYST filter pushdown purely
    * for FILE-level manifest pruning (everything is returned as
    * residual and nothing reaches parquet — a group-based write must
    * see every row of every scanned file): a file the statement's
    * condition provably cannot match contains no matching rows, so
    * carrying it by reference is exact. This also tells the scan WHICH
    * recorded stats column the statement keys on, so the runtime group
    * filter's single reportable attribute (Spark builds one multi-key
    * IN-subquery over all reported attributes, which does not translate
    * to a V2 runtime predicate — one attribute or none) is the column
    * that will actually prune. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      import graft.sinks.ColumnMapping

      private var cons: Map[String, GraftTxnFileIndex.Constraint] = Map.empty

      private val l2p: Map[String, String] =
        snap.schema.filter(ColumnMapping.hasMapping)
          .fold(Map.empty[String, String])(sc =>
            sc.fields.filterNot(ColumnMapping.isDropped)
              .map(f => f.name -> ColumnMapping.physOf(f)).toMap)

      override def pushFilters(
          filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
        val phys = filters.map(_.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if l2p.contains(a.name) => a.withName(l2p(a.name))
        })
        cons = GraftTxnFileIndex.constraints(phys)
        filters // ALL residual: the scan applies none row-wise
      }

      override def pushedFilters: Array[Predicate] = Array.empty

      override def build(): Scan =
        new GraftRowLevelScan(spark, root, snap, tableSchema,
          GraftRowLevelOperation.this, cons)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          // on a mapped table (renamed/dropped columns) the replacement
          // files must carry the frozen PHYSICAL names — the write
          // schema is renamed positionally (rows are positional, so
          // nothing else changes; [[graft.sinks.ColumnMapping]])
          val writeSchema = GraftRowLevelOperation.physicalize(
            info.schema(), snap)
          val relDir = s"data/${UUID.randomUUID().toString.take(8)}"
          val (factory, conf) = ParquetWriteShim.prepare(spark, writeSchema)
          val fanout = GraftFanout.specs(spark, snap, writeSchema)
          new GraftReplaceBatchWrite(spark, root, GraftRowLevelOperation.this,
            relDir, factory, conf, writeSchema, fanout)
        }
      }
    }
}

/** Hidden-partitioning fan-out for the row-level staged files: the
  * rewritten rows land under the same `<transform>=<value>/` dirs
  * [[TxnTable]]'s `stage` would have produced, so a transformed table
  * keeps its transform-value pruning through SQL UPDATE/MERGE instead
  * of degrading to flat files. The per-row value computation mirrors
  * `Transform.column` EXACTLY via Spark's own primitives —
  * `XXH64.hashLong(v, 42)` for `bucket(n, longCol)` (the seed Spark's
  * `xxhash64(...)` uses, including the null→seed convention) and
  * `DateTimeUtils.microsToDays` under the session zone for
  * `days(tsCol)` — a drifted value would mis-route rows into a dir
  * whose recorded transform stats then prune them away. Any transform
  * this cannot reproduce bit-exactly (non-long bucket source, exotic
  * day source) falls back to FLAT staging for the whole write: weaker
  * pruning, never wrong results. */
private[sources] case class GraftFanout(name: String, kind: String,
                                        param: Int, ordinal: Int,
                                        zoneId: String) {
  def dirOf(row: InternalRow): String = {
    val v: Option[Long] = kind match {
      case "bucket" =>
        val h = if (row.isNullAt(ordinal)) 42L
          else org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(row.getLong(ordinal), 42L)
        Some(((h % param) + param) % param)
      case "day-date" =>
        if (row.isNullAt(ordinal)) None else Some(row.getInt(ordinal).toLong)
      case "day-ts" =>
        if (row.isNullAt(ordinal)) None
        else Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToDays(row.getLong(ordinal),
            java.time.ZoneId.of(zoneId)).toLong)
    }
    s"$name=${v.map(_.toString).getOrElse("__HIVE_DEFAULT_PARTITION__")}"
  }
}

private[sources] object GraftFanout {
  import org.apache.spark.sql.types.{DateType, TimestampType}

  /** All-or-nothing: every table transform must be reproducible from
    * the write schema, else Nil (flat staging). */
  def specs(spark: SparkSession, snap: Snapshot,
            schema: StructType): Seq[GraftFanout] = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val all = snap.transforms.map { t =>
      val ord = schema.fieldNames.indexOf(t.src)
      if (ord < 0) None
      else (t.kind, schema.fields(ord).dataType) match {
        case ("bucket", LongType)   => Some(GraftFanout(t.name, "bucket", t.param, ord, tz))
        case ("day", DateType)      => Some(GraftFanout(t.name, "day-date", 0, ord, tz))
        case ("day", TimestampType) => Some(GraftFanout(t.name, "day-ts", 0, ord, tz))
        case _ => None
      }
    }
    if (all.forall(_.isDefined)) all.flatten else Nil
  }
}

object GraftRowLevelOperation {
  /** Rename a LOGICAL-named schema to the snapshot's frozen physical
    * names, positionally (identity for unmapped tables). Fields not in
    * the mapping — e.g. framework metadata columns — pass through. */
  private[sources] def physicalize(schema: StructType,
                                   snap: Snapshot): StructType =
    snap.schema.filter(graft.sinks.ColumnMapping.hasMapping).fold(schema) { sc =>
      val m = sc.fields.filterNot(graft.sinks.ColumnMapping.isDropped)
        .map(f => f.name -> graft.sinks.ColumnMapping.physOf(f)).toMap
      StructType(schema.fields.map(f =>
        f.copy(name = m.getOrElse(f.name, f.name))))
    }
}

/** The group scan: reads whole files, no row filtering, runtime group
  * filter on the primary stats column (see [[GraftRowLevelOperation]]).
  * Each partition-planning call builds a FRESH vectorized
  * [[ParquetScanBuilder]] scan over the current file set, so the
  * post-filter re-plan can never serve a stale cached partition list. */
class GraftRowLevelScan(spark: SparkSession, root: String, snap: Snapshot,
                        tableSchema: StructType, op: GraftRowLevelOperation,
                        cons: Map[String, GraftTxnFileIndex.Constraint] = Map.empty)
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  /** Statically manifest-pruned by the pushed condition (file granular:
    * a provably-disjoint file has no matching rows and carries), then
    * narrowed further by the runtime group filter. */
  @volatile private var files: Seq[String] =
    if (cons.isEmpty) snap.files
    else snap.files.filter(GraftTxnFileIndex.mayMatch(snap, _, cons))

  op.scannedFiles = files.toSet // static pruning already narrows the commit

  // the parquet bytes carry the frozen PHYSICAL names; the scan reads
  // under them and reports the logical schema (positional rows)
  private val physSchema: StructType =
    GraftRowLevelOperation.physicalize(tableSchema, snap)

  override def readSchema(): StructType = tableSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-txn row-level ${op.opTag} scan of $root@v${snap.version}"

  /** The ONE (logical, physical, isString) stats column the runtime
    * group filter reports — Spark builds a single multi-key
    * IN-subquery over ALL reported attributes, and a multi-key
    * subquery never translates to a V2 runtime predicate (verified
    * against `RowLevelOperationRuntimeGroupFiltering`), so reporting
    * several attributes silently disables runtime filtering. The
    * pushed condition (`cons`) says which recorded column the
    * statement actually keys on — prefer that (long OR string; string
    * values prune via prefix bounds + xxhash64 blooms); fall back to
    * the primary. The runtime filter's attribute speaks LOGICAL, the
    * manifest's metadata PHYSICAL. */
  private def runtimeCol: Option[(String, String, Boolean)] = {
    val candidates = snap.statsCols.flatMap { p =>
      val logical = snap.schema.fold(p)(sc =>
        graft.sinks.ColumnMapping.logicalName(sc, p))
      if (!tableSchema.fieldNames.contains(logical)) None
      else Some((logical, p, GraftRowLevelScan.isStringCol(snap, p)))
    }
    candidates.find { case (_, p, _) => cons.contains(p) }
      .orElse(candidates.headOption)
  }

  override def filterAttributes(): Array[NamedReference] =
    runtimeCol.map { case (l, _, _) => Expressions.column(l) }.toArray

  override def filter(predicates: Array[Predicate]): Unit =
    runtimeCol.foreach { case (logical, phys, isStr) =>
      GraftRowLevelScan.constraintFor(predicates, logical, isStr).foreach { c =>
        files = files.filter(rel =>
          GraftTxnFileIndex.mayMatch(snap, rel, Map(phys -> c)))
        op.scannedFiles = files.toSet
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    op.scannedFiles = files.toSet
    freshScan().planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    freshScan().createReaderFactory()

  private def freshScan(): Batch =
    ParquetScanBuilder(spark,
      new GraftTxnFileIndex(spark, root, snap, physSchema, Some(files)),
      physSchema, physSchema, CaseInsensitiveStringMap.empty()).build().toBatch
}

object GraftRowLevelScan {

  private def litStr(v: Any): Option[String] = v match {
    case lv: V2Lit[_] if lv.dataType() == org.apache.spark.sql.types.StringType =>
      Option(lv.value).map(_.toString) // UTF8String → String
    case _ => None
  }

  private def litLong(v: Any): Option[Long] = v match {
    case lv: V2Lit[_] => lv.dataType() match {
      case LongType    => Some(lv.value.asInstanceOf[Long])
      case IntegerType => Some(lv.value.asInstanceOf[Int].toLong)
      case ShortType   => Some(lv.value.asInstanceOf[Short].toLong)
      case ByteType    => Some(lv.value.asInstanceOf[Byte].toLong)
      case _           => None
    }
    case _ => None
  }

  /** The runtime filter arrives as `col IN (v1, …, vn)` (how
    * `DataSourceV2Strategy.translateRuntimeFilterV2` encodes the
    * group-discovery subquery's values). Anything else → None → no
    * pruning, full rewrite — sound. */
  private[sources] def pointValues(p: Predicate, col: String): Option[Seq[Long]] =
    values(p, col, litLong)

  /** [[pointValues]] for STRING runtime filters: values feed prefix
    * bounds + xxhash64 bloom probes through the Constraint's `spoints`
    * (a NULL literal poisons the list → None → no pruning, sound). */
  private[sources] def stringPointValues(p: Predicate, col: String): Option[Seq[String]] =
    values(p, col, litStr)

  private def values[A](p: Predicate, col: String,
      lit: Any => Option[A]): Option[Seq[A]] = {
    def isCol(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames().toSeq == Seq(col)
        case _ => false
      }
    p.name() match {
      case "IN" if p.children().nonEmpty && isCol(p.children().head) =>
        val vs = p.children().drop(1).toSeq.map(e => lit(e))
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      case "=" if p.children().length == 2 && isCol(p.children().head) =>
        lit(p.children()(1)).map(Seq(_))
      case _ => None
    }
  }

  /** One per-column runtime constraint from the pushed group-filter
    * predicates, or None (no pruning — sound). Long columns get a
    * range + exact point list; string columns an `spoints` list. */
  private[sources] def constraintFor(predicates: Array[Predicate],
      logical: String, isStr: Boolean): Option[GraftTxnFileIndex.Constraint] =
    if (isStr)
      predicates.iterator.flatMap(stringPointValues(_, logical)).nextOption()
        .map(vs => GraftTxnFileIndex.Constraint(spoints = Some(vs)))
    else
      predicates.iterator.flatMap(pointValues(_, logical)).nextOption()
        .map(vs => GraftTxnFileIndex.Constraint(
          lo = if (vs.isEmpty) Long.MinValue else vs.min,
          hi = if (vs.isEmpty) Long.MaxValue else vs.max,
          points = Some(vs)))

  /** Is physical column `pc` a string column of `snap`'s schema? */
  private[sources] def isStringCol(snap: Snapshot, pc: String): Boolean =
    snap.schema.exists(_.fields.exists(f =>
      !graft.sinks.ColumnMapping.isDropped(f) &&
        graft.sinks.ColumnMapping.physOf(f) == pc &&
        f.dataType == org.apache.spark.sql.types.StringType))
}

/** Driver-side write half: collects the staged file names the executors
  * report and commits the group replacement through
  * [[TxnTable.commitReplace]]. */
class GraftReplaceBatchWrite(spark: SparkSession, root: String,
                             op: GraftRowLevelOperation, relDir: String,
                             factory: OutputWriterFactory,
                             conf: SerializableConfiguration,
                             schema: StructType,
                             fanout: Seq[GraftFanout])
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftRowLevelWriterFactory(root.stripSuffix("/"), relDir, factory,
      conf, schema, fanout)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case GraftStagedFiles(rels) => rels }
      .flatten.toSeq
    // CHECK constraints see the rewrite BEFORE it becomes a version: an
    // UPDATE that sets a constrained column to a violating value refuses
    // here and the staged files are aborted — atomic, nothing committed
    try TxnTable.enforceConstraintsStaged(spark, root, op.snap, staged,
      s"SQL ${op.opTag}")
    catch { case e: Throwable => abort(messages); throw e }
    TxnTable.commitReplace(spark, root, op.snap.version, op.scannedFiles,
      staged, op.opTag)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val base = new Path(root.stripSuffix("/"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case GraftStagedFiles(rels) => rels }.flatten
      .foreach(rel => fs.delete(new Path(base, rel), false))
  }
}

case class GraftStagedFiles(rels: Seq[String]) extends WriterCommitMessage

/** Serializable executor half — primitives only (no session, no op). */
class GraftRowLevelWriterFactory(base: String, relDir: String,
                                 factory: OutputWriterFactory,
                                 conf: SerializableConfiguration,
                                 schema: StructType,
                                 fanout: Seq[GraftFanout])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftRowLevelDataWriter(base, relDir,
      s"part-$partitionId-$taskId.parquet",
      factory, conf, schema, fanout, partitionId, taskId)
}

/** One task's parquet writers — one per hidden-partition dir the task's
  * rows fan into (no transforms → exactly one, at the staging root).
  * Every file opens LAZILY on its first row (an empty partition — or an
  * unvisited transform value — stages nothing) at a task-unique name:
  * a retried or speculative attempt writes different file names, and
  * only the attempt whose commit message the driver receives is
  * referenced; orphans are unreferenced data for [[TxnTable.vacuum]].
  * The open-writer count is bounded by the task's DISTINCT transform
  * values, which the group scan keeps small by construction: input
  * splits are the table's own files, themselves fan-out products. */
class GraftRowLevelDataWriter(base: String, relDir: String, fileName: String,
                              factory: OutputWriterFactory,
                              conf: SerializableConfiguration,
                              schema: StructType,
                              fanout: Seq[GraftFanout],
                              partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[String, ParquetRowWriter]

  private def rel(dirs: String): String =
    if (dirs.isEmpty) s"$relDir/$fileName" else s"$relDir/$dirs/$fileName"

  private def writerFor(row: InternalRow): ParquetRowWriter = {
    val dirs = fanout.map(_.dirOf(row)).mkString("/")
    writers.getOrElseUpdate(dirs,
      ParquetWriteShim.open(factory, conf, schema, s"$base/${rel(dirs)}",
        partitionId, taskId))
  }

  /** A `ReplaceData` child emits `[__row_operation, <data cols>]` and —
    * when the operation requests no metadata attributes — Spark's plain
    * `DataWritingSparkTask` hands those rows through UNPROJECTED (the
    * row projection is only applied by the metadata-writing task). The
    * op code is always WRITE (5) or WRITE_WITH_METADATA (6) for a
    * group-based rewrite; anything else would mean a delta write was
    * misrouted here, so refuse rather than write a shifted row. */
  private lazy val shift =
    new org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
      (1 to schema.length).toIndexedSeq)

  override def write(row: InternalRow): Unit =
    if (row.numFields == schema.length) writerFor(row).write(row)
    else {
      require(row.numFields == schema.length + 1 &&
          (row.getInt(0) == 5 || row.getInt(0) == 6),
        s"row-level write expected ${schema.length} data columns or a " +
          s"WRITE-op-prefixed row, got ${row.numFields} fields " +
          s"(op=${if (row.numFields > schema.length) row.getInt(0) else -1})")
      shift.project(row)
      writerFor(shift).write(shift)
    }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    val rels = writers.keys.map(rel).toSeq
    writers.clear()
    GraftStagedFiles(rels)
  }

  override def abort(): Unit = {
    val fs = new Path(base).getFileSystem(ParquetWriteShim.hadoopConf(conf))
    writers.foreach { case (dirs, w) =>
      try w.close() catch { case _: Throwable => () }
      fs.delete(new Path(s"$base/${rel(dirs)}"), false)
    }
    writers.clear()
  }

  override def close(): Unit = {
    writers.values.foreach(_.close())
    writers.clear()
  }
}
