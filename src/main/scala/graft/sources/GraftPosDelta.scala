package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.graft.{ParquetRowWriter, ParquetWriteShim}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sinks.TxnTable
import graft.sinks.TxnTable.Snapshot

/** SQL UPDATE / MERGE / subquery-DELETE as POSITION DELTAS — the
  * merge-on-read half of the row-level cost model, through Spark's
  * DELTA-based row-level framework ([[org.apache.spark.sql.connector
  * .write.SupportsDelta]], the API Iceberg's position-delta writes
  * ride):
  *
  *  1. The operation identifies rows by POSITION: `rowId = (_file,
  *     _pos)`, served by the table's metadata columns
  *     ([[GraftMetaCols]]). Spark rewrites the statement into a
  *     `WriteDelta` plan — read matching rows WITH their ids, split
  *     updates into delete+insert (`representUpdateAsDeleteAndInsert`),
  *     hand each op to the [[DeltaWriter]].
  *  2. The scan ([[GraftPosScan]]) plans ONE partition per data file
  *     and counts row ordinals in file order, so `_pos` is exact by
  *     construction. Nothing is pushed into parquet (row-group or page
  *     skipping would corrupt the ordinals — the statement's condition
  *     evaluates ABOVE the scan); file-LEVEL pruning still fires, from
  *     the pushed predicates against manifest stats and from the
  *     runtime group filter, so a clustered `UPDATE … WHERE id = 7`
  *     reads the one file that can hold id 7.
  *  3. The write stages inserted rows as data parquet (hidden-
  *     partitioning fan-out preserved, [[GraftFanout]]) and deleted ids
  *     as POSITION-DELETE parquet (`_file` STRING root-relative, `_pos`
  *     BIGINT), and commits both through [[TxnTable.commitDelta]]:
  *     every prior data file carries BY REFERENCE — a 10-row UPDATE
  *     against a 1 GB file commits a kilobyte tombstone, not a
  *     rewrite. Serializable: a moved head refuses (tombstone
  *     positions were computed against the planned snapshot).
  *
  * Mode selection is the table property `write.rowlevel.mode`
  * (`merge-on-read` → this; default `copy-on-write` →
  * [[GraftRowLevelOperation]]). Readers merge the tombstones
  * ([[TxnTable.readAsOf]] / the DSv2 scan via [[GraftPosScan]]'s
  * in-reader mask) until `compactDeletes` folds them. */
class GraftPosDeltaOperation(spark: SparkSession, root: String,
                             val snap: Snapshot, cmd: Command,
                             tableSchema: StructType)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  private[sources] def opTag: String = cmd match {
    case Command.DELETE => "delete-mor"
    case Command.UPDATE => "update-mor"
    case Command.MERGE  => "merge-mor"
  }

  override def command(): Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaCols.File),
      Expressions.column(GraftMetaCols.Pos))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftPosScanBuilder(spark, root, snap, tableSchema,
      // the rewrite scan must not serve already-deleted rows (an UPDATE
      // of a tombstoned row would re-insert its updated copy)
      maskLive = true)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val writeSchema = GraftRowLevelOperation.physicalize(info.schema(), snap)
        val relDir = s"data/${UUID.randomUUID().toString.take(8)}"
        // each schema needs its OWN conf: prepareWrite embeds the
        // write schema into the job configuration
        val (dataF, dataConf) = ParquetWriteShim.prepare(spark, writeSchema)
        val (posF, posConf) =
          ParquetWriteShim.prepare(spark, GraftMetaCols.posDeleteSchema)
        val fanout = GraftFanout.specs(spark, snap, writeSchema)
        new GraftPosDeltaWrite(spark, root, GraftPosDeltaOperation.this,
          relDir, dataF, posF, dataConf, posConf, writeSchema, fanout)
      }
    }
}

/** The table's metadata columns: `_file` (root-relative data file path)
  * and `_pos` (row ordinal within the file) — Iceberg's position
  * metadata, the row identity position deltas key on, and a queryable
  * observability surface (`SELECT _file, _pos FROM t` routes the scan
  * through [[GraftPosScan]]). */
object GraftMetaCols {
  val File = "_file"
  val Pos = "_pos"
  val names: Seq[String] = Seq(File, Pos)

  val posDeleteSchema: StructType = StructType(Seq(
    StructField(File, StringType, nullable = false),
    StructField(Pos, LongType, nullable = false)))

  val columns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = File
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "root-relative data file path"
    },
    new MetadataColumn {
      override def name(): String = Pos
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row ordinal within the data file"
    })
}

/** Scan builder for position-aware reads: required-column pruning
  * (metadata columns arrive as ordinary requested fields), catalyst
  * filter "pushdown" that is consumed for manifest file skipping and —
  * on files that carry NO live tombstones — forwarded into the
  * vectorized parquet reader (every filter still reports back as a
  * residual; tombstoned files take none, see [[GraftPosScan]]'s
  * ordinal contract). `streamable`/`options` forward the owning
  * table's resolution context so the change-feed gate and by-name
  * streaming behave identically to the clean-table scan. */
class GraftPosScanBuilder(spark: SparkSession, root: String, snap: Snapshot,
                          tableSchema: StructType, maskLive: Boolean,
                          streamable: Boolean = false,
                          options: CaseInsensitiveStringMap =
                            CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  import graft.sinks.ColumnMapping

  private var required: StructType = tableSchema
  private var cons: Map[String, GraftTxnFileIndex.Constraint] = Map.empty
  private var physFilters: Seq[Expression] = Nil

  private val l2p: Map[String, String] =
    snap.schema.filter(ColumnMapping.hasMapping).fold(Map.empty[String, String])(sc =>
      sc.fields.filterNot(ColumnMapping.isDropped)
        .map(f => f.name -> ColumnMapping.physOf(f)).toMap)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val phys = filters.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if l2p.contains(a.name) => a.withName(l2p(a.name))
    })
    cons = GraftTxnFileIndex.constraints(phys)
    physFilters = phys
    filters // ALL residual: the scan applies none row-wise
  }

  override def pushedFilters: Array[Predicate] = Array.empty

  override def build(): Scan =
    new GraftPosScan(spark, root, snap, required, cons, maskLive,
      streamable, options, physFilters)
}

/** Position-aware scan over a (possibly) tombstone-live snapshot, with
  * PER-FILE masking granularity: a kilobyte of merge-on-read debt must
  * not change the cost class of a terabyte scan, so
  *
  *  - when NO metadata column is requested (the normal DSv2 read of a
  *    pos-delete-live table), the whole scan stays COLUMNAR: clean
  *    files take the untouched vectorized parquet path — split at
  *    `maxSplitBytes`, packed into multi-file partitions, parquet
  *    filter pushdown live — and only files that actually carry live
  *    tombstones are planned one-whole-file-per-partition, each
  *    carrying the delete-sidecar slices that can hold its tombstones
  *    ([[GraftSidecarPartition]] — each task reads only its file's
  *    tombstones, never a table-wide map), masked batch-level by an
  *    index-remapping [[org.apache.spark.sql.vectorized.ColumnVector]]
  *    wrapper (the Iceberg vectorized-delete shape);
  *  - when `_file`/`_pos` ARE requested (the delta rewrite scan, meta
  *    queries), every file is read row-based one-per-partition with
  *    nothing pushed into parquet — exact ordinals by construction.
  *
  * Used by the delta rewrite scan, by DSv2 batch reads of
  * position-delete-live tables, and by any query that references the
  * metadata columns. */
class GraftPosScan(spark: SparkSession, root: String, snap: Snapshot,
                   required: StructType,
                   cons: Map[String, GraftTxnFileIndex.Constraint],
                   maskLive: Boolean,
                   streamable: Boolean = false,
                   options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
                   physFilters: Seq[Expression] = Nil)
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  import graft.sinks.ColumnMapping

  private val base = root.stripSuffix("/")

  // data columns (logical) and requested metadata columns, meta last
  private val (dataCols, metaCols) =
    required.fields.partition(f => !GraftMetaCols.names.contains(f.name))
  require(required.fields.drop(dataCols.length).forall(f =>
    GraftMetaCols.names.contains(f.name)),
    s"metadata columns must trail the data columns, got ${required.simpleString}")

  private val physData: StructType = GraftRowLevelOperation.physicalize(
    StructType(dataCols.toSeq), snap)

  /** Static manifest pruning from the pushed predicates, then narrowed
    * further by the runtime group filter. */
  @volatile private var files: Seq[String] =
    if (cons.isEmpty) snap.files
    else snap.files.filter(GraftTxnFileIndex.mayMatch(snap, _, cons))

  // -- runtime group filtering (the CoW scan's contract, reused): ONE
  // reportable attribute — multi-key IN-subqueries never translate to
  // V2 runtime predicates (see [[GraftRowLevelScan.runtimeCol]]) —
  // chosen as a recorded stats column the PUSHED condition references
  // (long ranges + points, or string prefix bounds + bloom spoints),
  // primary as the fallback -------------------------------------------
  private def runtimeCol: Option[(String, String, Boolean)] = {
    val candidates = snap.statsCols.flatMap { p =>
      val logical = snap.schema.fold(p)(sc => ColumnMapping.logicalName(sc, p))
      if (!required.fieldNames.contains(logical)) None
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
      }
    }

  override def readSchema(): StructType = required

  override def toBatch: Batch = {
    require(!options.getBoolean("readChangeFeed", false),
      "readChangeFeed is a STREAMING option (spark.readStream); for a " +
        "batch change window use TxnTable.changesBetween(root, v1, v2)")
    this
  }

  /** Streaming stays available on a position-delete-live table: the
    * micro-batch source reads COMMIT WINDOWS (added files), never the
    * masked head, so the tombstones are irrelevant to it. Metadata
    * columns are a BATCH-only surface — the stream's rows would come
    * out narrower than this scan's reported schema, so a meta-bearing
    * stream refuses here rather than emitting mismatched rows. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(streamable,
      s"graft-txn:$root was not resolved through the catalog; stream by name")
    require(metaCols.isEmpty,
      s"metadata columns (${metaCols.map(_.name).mkString(", ")}) are a " +
        "batch-only surface: a micro-batch stream reads commit windows, " +
        "where file/ordinal identity of the masked head does not exist — " +
        "drop _file/_pos from the streaming projection")
    new GraftTxnMicroBatchStream(spark, root, snap, physData, options)
  }

  /** Footer metadata of every live delete sidecar (row counts + `_file`
    * bounds) — pure parquet-footer reads, cached per JVM.
    *
    * Tombstones are resolved TASK-side, never on the driver: each
    * tombstoned file's partition carries the delete sidecars whose
    * footer `_file` bounds cover it ([[GraftSidecarPartition]] — the
    * delta writer stages one sidecar per rewrite-scan partition, and
    * that scan is one-partition-per-file, so the candidate set is ~1
    * sidecar), and the TASK resolves its own file's ordinals from them
    * (Iceberg's delete-manifest shape: driver plans by bounds, readers
    * merge their own delete files). The driver holds file-COUNT-scale
    * state (the object a planner holds anyway), never tombstone-scale,
    * and planning launches no Spark job unless a sidecar's bounds are
    * ambiguous. */
  private lazy val sidecars: Seq[GraftSidecars.Meta] =
    if (!maskLive || snap.deletes.isEmpty) Nil
    else GraftSidecars.metas(spark, base, snap.deletes)

  /** The data files carrying live tombstones: sidecars whose footer
    * bounds pin ONE file contribute it directly; only bound-ambiguous
    * sidecars (rare — post-writer-compaction shapes) pay a
    * distinct-`_file` job, whose result is data-file-count-bounded.
    * Computed lazily so runtime group filtering has already narrowed
    * `files` by the time Spark plans partitions. */
  private lazy val tombRels: Set[String] = {
    val (pinned, ambiguous) =
      sidecars.partition(m => m.lo.isDefined && m.lo == m.hi)
    val fromJob =
      if (ambiguous.isEmpty) Nil
      else spark.read
        .parquet(ambiguous.map(m => s"$base/${m.rel}"): _*)
        .select(org.apache.spark.sql.functions.col(GraftMetaCols.File))
        .distinct().collect().map(_.getString(0)).toSeq
    (pinned.map(_.lo.get) ++ fromJob).toSet
  }

  /** The partition for one tombstoned file, routed by ROW GROUP, not
    * whole sidecars: a consolidated `(_file,_pos)`-sorted sidecar
    * covers every tombstoned file at the footer level, but each task's
    * range is trimmed to the contiguous row-group runs whose `_file`
    * bounds admit ITS file ([[GraftSidecars.slices]]) — so maintenance
    * compaction never inflates what a masked task reads. */
  private def maskedPartition(rel: String, fp: FilePartition): InputPartition =
    GraftSidecarPartition(fp, rel,
      sidecars.filter(_.covers(rel)).flatMap(m =>
        GraftSidecars.slices(m, rel).map { case (off, len) =>
          FilePartition(0, Array(PartitionedFile(InternalRow.empty,
            SparkPath.fromPathString(s"$base/${m.rel}"), off, len)))
        }).toArray)

  /** Reader factory over the delete sidecars — the masked tasks' own
    * tombstone resolution reads ride the same vectorized parquet
    * reader as everything else. Null on a tombstone-free scan, which
    * plans no [[GraftSidecarPartition]]. */
  private def sidecarFactory(): PartitionReaderFactory =
    if (sidecars.isEmpty) null
    else ParquetScanBuilder(spark,
      new GraftTxnFileIndex(spark, root, snap, GraftMetaCols.posDeleteSchema,
        Some(snap.deletes)),
      GraftMetaCols.posDeleteSchema, GraftMetaCols.posDeleteSchema,
      CaseInsensitiveStringMap.empty())
      .build().toBatch.createReaderFactory()

  /** Grouped listStatus — one driver call per parent dir, same batching
    * as GraftTxnFileIndex. */
  private def statuses(): Map[String, FileStatus] = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byDir = files.groupBy(f => f.take(f.lastIndexOf('/').max(0)))
    byDir.toSeq.flatMap { case (dir, rels) =>
      val names = rels.map(r => new Path(s"$base/$r").getName -> r).toMap
      fs.listStatus(new Path(s"$base/$dir")).toSeq
        .filter(st => st.isFile && names.contains(st.getPath.getName))
        .map(st => names(st.getPath.getName) -> st)
    }.toMap
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val sts = statuses()
    def wholeFile(rel: String, i: Int): FilePartition =
      FilePartition(i, Array(PartitionedFile(InternalRow.empty,
        SparkPath.fromPathString(s"$base/$rel"), 0, sts(rel).getLen)))
    if (metaCols.isEmpty) {
      // columnar regime: clean files split + packed exactly like the
      // vectorized parquet plan; tombstoned files one-per-partition with
      // their own ordinal slice
      val (tomb, clean) = files.partition(tombRels.contains)
      val totalBytes = clean.map(r => sts(r).getLen).sum
      val maxSplit = FilePartition.maxSplitBytes(spark, totalBytes)
      val splits = clean.flatMap { rel =>
        val st = sts(rel)
        org.apache.spark.sql.execution.PartitionedFileUtil.splitFiles(
          org.apache.spark.sql.execution.datasources.FileStatusWithMetadata(st),
          st.getPath, isSplitable = true, maxSplit, InternalRow.empty)
      }.sortBy(-_.length)
      val cleanParts = FilePartition.getFilePartitions(spark, splits, maxSplit)
      val tombParts = tomb.zipWithIndex.map { case (rel, i) =>
        maskedPartition(rel, wholeFile(rel, cleanParts.length + i))
      }
      (cleanParts ++ tombParts).toArray
    } else
      // ordinal-exact row regime: one whole file per partition; nothing
      // pushed into parquet (row-group skipping would corrupt `_pos`)
      files.zipWithIndex.map { case (rel, i) =>
        val fp = wholeFile(rel, i)
        if (tombRels.contains(rel)) maskedPartition(rel, fp)
        else fp: InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (metaCols.isEmpty) {
      // clean files read through a delegate WITH parquet pushdown (row
      // group / page skipping is free there); tombstoned files through
      // one with NONE — their batch positions must equal file ordinals
      val pushedBuilder = ParquetScanBuilder(spark,
        new GraftTxnFileIndex(spark, root, snap, physData, Some(files)),
        physData, physData, CaseInsensitiveStringMap.empty())
      pushedBuilder.pushFilters(physFilters)
      val cleanDelegate = pushedBuilder.build().toBatch.createReaderFactory()
      val maskDelegate = ParquetScanBuilder(spark,
        new GraftTxnFileIndex(spark, root, snap, physData, Some(files)),
        physData, physData, CaseInsensitiveStringMap.empty())
        .build().toBatch.createReaderFactory()
      new GraftMaskedColumnarFactory(cleanDelegate, maskDelegate,
        sidecarFactory())
    } else {
      val delegate = ParquetScanBuilder(spark,
        new GraftTxnFileIndex(spark, root, snap, physData, Some(files)),
        physData, physData, CaseInsensitiveStringMap.empty())
        .build().toBatch.createReaderFactory()
      new GraftPosReaderFactory(delegate, metaCols.map(_.name).toSeq,
        sidecarFactory())
    }

  override def description(): String =
    s"graft-txn position scan of $root@v${snap.version} " +
      s"(${files.size}/${snap.files.size} files, mask=$maskLive)"
}

/** A whole-file partition of a tombstoned data file: its root-relative
  * path and the delete-sidecar byte ranges whose footer `_file` bounds
  * cover it. The partition carries no ordinals; the TASK reads those
  * ranges (filtering to its own file) and builds the dead-ordinal slice
  * at open time ([[GraftSidecarResolve]]). Driver memory stays
  * file-count-scale no matter how large the tombstone debt grows. */
case class GraftSidecarPartition(inner: FilePartition, rel: String,
                                 sidecars: Array[FilePartition])
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Footer metadata of position-delete sidecars: entry count + `_file`
  * bounds, read from parquet footers only (no data pages). Sidecars
  * are immutable once committed — cached per JVM by absolute path. */
object GraftSidecars {
  /** One row group's byte range and `_file` bounds — `None` bounds
    * when the chunk lacks the statistic (the group then conservatively
    * covers every file). */
  final case class Group(off: Long, len: Long,
                         lo: Option[String], hi: Option[String]) {
    def covers(file: String): Boolean =
      lo.forall(_ <= file) && hi.forall(file <= _)
  }

  /** `lo`/`hi` are the footer min/max of `_file` across row groups —
    * `None` when any chunk lacks the statistic (the sidecar then
    * conservatively covers every file). `groups` carries the same
    * bounds PER ROW GROUP with byte offsets, so a masked task over a
    * consolidated `(_file,_pos)`-sorted sidecar reads only its own
    * file's groups ([[slices]]) instead of the whole tombstone set.
    * Staged rel paths are ASCII, so string order matches parquet's
    * unsigned-byte binary order; a writer configured to truncate
    * footer stats still records valid bounds (parquet increments a
    * truncated max), so `covers` stays conservative, never wrong. */
  final case class Meta(rel: String, len: Long, rows: Long,
                        lo: Option[String], hi: Option[String],
                        groups: Array[Group]) {
    def covers(file: String): Boolean =
      lo.forall(_ <= file) && hi.forall(file <= _)
  }

  /** Byte ranges `(offset, length)` of the contiguous runs of `m`'s
    * row groups whose `_file` bounds cover `file` — what a masked task
    * actually reads of the sidecar. Parquet routes a split to row
    * groups by MIDPOINT (a group is read iff `off + len/2 ∈
    * [start, start+length)`), so a run's range `[off(first),
    * off(last)+len(last))` admits exactly its own groups: the group
    * before the run has its midpoint strictly before `off(first)`,
    * the group after starts at or past the run's end. Whole file when
    * footer blocks are unavailable; EMPTY when the footer proves no
    * group can hold `file` — then the task reads nothing at all. */
  def slices(m: Meta, file: String): Seq[(Long, Long)] =
    if (m.groups.isEmpty) Seq((0L, m.len))
    else {
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = 0
      while (i < m.groups.length) {
        if (m.groups(i).covers(file)) {
          var j = i
          while (j + 1 < m.groups.length && m.groups(j + 1).covers(file))
            j += 1
          val end = m.groups(j).off + m.groups(j).len
          runs += ((m.groups(i).off, end - m.groups(i).off))
          i = j + 1
        } else i += 1
      }
      runs.toSeq
    }

  /** Footer metas, access-order-bounded: sidecars leave the live set
    * on every compaction/vacuum, so an unbounded per-path map would
    * grow for the life of the driver JVM. */
  private val MaxCached = 8192
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Meta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Meta]): Boolean = size() > MaxCached
    })

  /** Footer reads fan out on the common ForkJoin pool (IO-bound,
    * one small read per UNCACHED sidecar) — planning over a
    * thousand-sidecar backlog must not serialize a thousand round
    * trips. Order of the result matches `rels`. */
  def metas(spark: SparkSession, base: String, rels: Seq[String]): Seq[Meta] = {
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.jdk.CollectionConverters._
    rels.asJava.parallelStream().map[Meta](rel => metaOf(conf, base, rel))
      .collect(java.util.stream.Collectors.toList[Meta]).asScala.toSeq
  }

  private def metaOf(conf: org.apache.hadoop.conf.Configuration,
                     base: String, rel: String): Meta = {
    val abs = s"$base/$rel"
    Option(cache.get(abs)).getOrElse {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(abs), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val m = try {
        import scala.jdk.CollectionConverters._
        val groups = r.getFooter.getBlocks.asScala.map { b =>
          val (lo, hi) = b.getColumns.asScala
            .find(_.getPath.toDotString == GraftMetaCols.File) match {
            case Some(c) if c.getStatistics != null &&
                c.getStatistics.hasNonNullValue =>
              val st = c.getStatistics
              (Some(st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8),
                Some(st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
            case _ => (None, None)
          }
          Group(b.getStartingPos, b.getCompressedSize, lo, hi)
        }.toArray
        // file-level bounds: None as soon as ANY group's are unknown
        // (the file then conservatively covers everything)
        val known = groups.forall(g => g.lo.isDefined && g.hi.isDefined)
        Meta(rel, in.getLength, r.getRecordCount,
          if (known) groups.flatMap(_.lo).minOption else None,
          if (known) groups.flatMap(_.hi).maxOption else None,
          groups)
      } finally r.close()
      cache.put(abs, m)
      m
    }
  }
}

/** Task-side tombstone resolution for [[GraftSidecarPartition]]s: read
  * the candidate sidecars through the shared parquet reader factory,
  * keep the ordinals of THIS file, sort and dedupe. Memory is the one
  * file's tombstones. */
object GraftSidecarResolve {
  def dead(factory: PartitionReaderFactory, rel: String,
           sidecars: Array[FilePartition]): Array[Long] = {
    require(factory != null,
      "sidecar partition planned without a sidecar reader factory")
    val relU = UTF8String.fromString(rel)
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    sidecars.foreach { fp =>
      val r = factory.createReader(fp)
      try while (r.next()) {
        val row = r.get()
        if (relU.equals(row.getUTF8String(0))) buf += row.getLong(1)
      } finally r.close()
    }
    val a = buf.result()
    java.util.Arrays.sort(a)
    // writer-level duplicates are legal (overlapping statements)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }
}

/** The one row-wise tombstone mask: reads ONE whole file in ordinal
  * order (nothing pushed into parquet, so reader order IS file order),
  * counts ordinals and skips the sorted `dead` ones. `pos` is the
  * current row's file ordinal. */
class GraftLiveRowReader(inner: PartitionReader[InternalRow], dead: Array[Long])
    extends PartitionReader[InternalRow] {
  private var cur = -1L
  def pos: Long = cur
  override def next(): Boolean = {
    while (inner.next()) {
      cur += 1
      if (java.util.Arrays.binarySearch(dead, cur) < 0) return true
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Row-based reader factory for the ORDINAL-EXACT regime: every
  * partition is one whole file, read through [[GraftLiveRowReader]]
  * (a [[GraftSidecarPartition]] resolves its dead ordinals first; a
  * clean file has none), with the requested metadata columns joined. */
class GraftPosReaderFactory(delegate: PartitionReaderFactory,
                            metaCols: Seq[String],
                            sidecar: PartitionReaderFactory)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (fp, dead) = partition match {
      case GraftSidecarPartition(inner, rel, scs) =>
        (inner, GraftSidecarResolve.dead(sidecar, rel, scs))
      case p: FilePartition => (p, Array.emptyLongArray)
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
    require(fp.files.length == 1 && fp.files.head.start == 0,
      s"position scan plans one whole file per partition, got $fp")
    val abs = fp.files.head.urlEncodedPath
    val rel = GraftPosReaderFactory.RelRe.findFirstMatchIn(abs)
      .map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"not a staged data path: $abs"))
    val relU = UTF8String.fromString(rel)
    val rows = new GraftLiveRowReader(delegate.createReader(fp), dead)
    val meta = new GenericInternalRow(metaCols.length)
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.next()
      override def get(): InternalRow = {
        var i = 0
        while (i < metaCols.length) {
          meta.update(i,
            if (metaCols(i) == GraftMetaCols.File) relU else rows.pos)
          i += 1
        }
        joined(rows.get(), meta)
      }
      override def close(): Unit = rows.close()
    }
  }
}

object GraftPosReaderFactory {
  /** Greedy prefix pins the LAST `/data/` segment — see
    * [[TxnTable.relFileCol]]'s rationale. Decoded: urlEncodedPath is
    * a URI path; staged rel paths contain no chars that url-encode. */
  private[sources] val RelRe = "^.*/(data/.*)$".r
}

/** COLUMNAR factory for the no-metadata-columns regime: clean
  * partitions delegate straight to the vectorized parquet reader (with
  * its pushed filters — zero masking overhead on the clean majority);
  * [[GraftSidecarPartition]]s read through the pushdown-free delegate
  * (batch positions must equal file ordinals) and drop their dead
  * ordinals batch-by-batch via an index-remapping vector wrapper —
  * the whole scan stays inside Spark's columnar execution either way
  * (DSv2 refuses MIXED row/columnar partitions in one scan, so
  * columnar masking is what keeps a one-tombstone table off the
  * row-based path for its thousand clean files). */
class GraftMaskedColumnarFactory(clean: PartitionReaderFactory,
                                 mask: PartitionReaderFactory,
                                 sidecar: PartitionReaderFactory)
    extends PartitionReaderFactory {

  // partition-independent for the parquet factory (conf + schema), so
  // the all-or-nothing columnar contract holds across mixed partitions
  override def supportColumnarReads(partition: InputPartition): Boolean =
    clean.supportColumnarReads(partition match {
      case GraftSidecarPartition(inner, _, _) => inner
      case p => p
    })

  // row fallback (vectorization off / unsupported schema): the
  // delegate's row interface still reads the file in ordinal order
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftSidecarPartition(inner, rel, scs) =>
        new GraftLiveRowReader(mask.createReader(inner),
          GraftSidecarResolve.dead(sidecar, rel, scs))
      case p => clean.createReader(p)
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = partition match {
    case GraftSidecarPartition(inner, rel, scs) =>
      new GraftMaskedBatchReader(mask.createColumnarReader(inner),
        GraftSidecarResolve.dead(sidecar, rel, scs))
    case p => clean.createColumnarReader(p)
  }
}

/** Batch-level tombstone masking: tracks the file ordinal base across
  * batches (the partition is ONE whole file read without parquet
  * pushdown, so batch row order IS file order), and for each batch
  * that intersects the dead set builds a survivor index map and wraps
  * every column in [[GraftMaskedVector]]. Batches with no dead rows
  * pass through untouched — on a table where one file in a thousand
  * carries a tombstone, that is every batch of the other 999. */
class GraftMaskedBatchReader(inner: PartitionReader[ColumnarBatch],
                             dead: Array[Long])
    extends PartitionReader[ColumnarBatch] {

  private var base = 0L
  private var di = 0
  private var out: ColumnarBatch = _

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val lo = base
      base += n
      // dead ordinals in [lo, lo+n): di is monotone (ordinals ascend)
      val dStart = di
      while (di < dead.length && dead(di) < base) di += 1
      if (di == dStart) { out = b; return true } // clean batch, zero copy
      val map = new Array[Int](n - (di - dStart))
      var i = 0; var k = 0; var d = dStart
      while (i < n) {
        if (d < di && dead(d) == lo + i) d += 1
        else { map(k) = i; k += 1 }
        i += 1
      }
      if (k > 0) {
        val cols = Array.tabulate(b.numCols())(c =>
          new GraftMaskedVector(b.column(c), map): ColumnVector)
        out = new ColumnarBatch(cols, k)
        return true
      } // fully-deleted batch: skip to the next one
    }
    false
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = inner.close()
}

/** An index-remapping [[ColumnVector]]: row `i` of the masked view is
  * row `map(i)` of the wrapped vector (Iceberg's vectorized
  * position-delete shape). `getChild` remaps children with the SAME
  * map — correct for structs (per-row aligned) and never consulted for
  * arrays/maps, whose accessors delegate whole (their offsets index
  * the RAW child, which the returned ColumnarArray/Map references
  * directly). Close is a no-op: the delegate parquet reader owns the
  * wrapped vectors' lifecycle. */
class GraftMaskedVector(inner: ColumnVector, map: Array[Int])
    extends ColumnVector(inner.dataType()) {
  override def close(): Unit = ()
  override def hasNull: Boolean = inner.hasNull // hint; over-report is safe
  override def numNulls(): Int = inner.numNulls()
  override def isNullAt(i: Int): Boolean = inner.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(map(i))
  override def getByte(i: Int): Byte = inner.getByte(map(i))
  override def getShort(i: Int): Short = inner.getShort(map(i))
  override def getInt(i: Int): Int = inner.getInt(map(i))
  override def getLong(i: Int): Long = inner.getLong(map(i))
  override def getFloat(i: Int): Float = inner.getFloat(map(i))
  override def getDouble(i: Int): Double = inner.getDouble(map(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    inner.getArray(map(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    inner.getMap(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    inner.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(map(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    inner.getInterval(map(i))
  override def getChild(ordinal: Int): ColumnVector =
    new GraftMaskedVector(inner.getChild(ordinal), map)
}

/** Driver-side delta write: collects staged data + position-delete
  * files and commits one version through [[TxnTable.commitDelta]]. */
class GraftPosDeltaWrite(spark: SparkSession, root: String,
                         op: GraftPosDeltaOperation, relDir: String,
                         dataFactory: OutputWriterFactory,
                         posFactory: OutputWriterFactory,
                         dataConf: SerializableConfiguration,
                         posConf: SerializableConfiguration,
                         dataSchema: StructType,
                         fanout: Seq[GraftFanout])
    extends DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftPosDeltaWriterFactory(root.stripSuffix("/"), relDir,
      dataFactory, posFactory, dataConf, posConf, dataSchema, fanout)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: GraftDeltaStaged => m }
    // CHECK constraints gate the INSERTED half of the delta (tombstones
    // remove rows, which can never violate); refuse-and-abort is atomic
    try TxnTable.enforceConstraintsStaged(spark, root, op.snap,
      staged.flatMap(_.dataRels).toSeq, s"SQL ${op.opTag}")
    catch { case e: Throwable => abort(messages); throw e }
    TxnTable.commitDelta(spark, root, op.snap.version,
      staged.flatMap(_.dataRels).toSeq, staged.flatMap(_.posRels).toSeq,
      op.opTag)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val basePath = new Path(root.stripSuffix("/"))
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: GraftDeltaStaged => m }
      .flatMap(m => m.dataRels ++ m.posRels)
      .foreach(rel => fs.delete(new Path(basePath, rel), false))
  }
}

case class GraftDeltaStaged(dataRels: Seq[String], posRels: Seq[String])
    extends WriterCommitMessage

class GraftPosDeltaWriterFactory(base: String, relDir: String,
                                 dataFactory: OutputWriterFactory,
                                 posFactory: OutputWriterFactory,
                                 dataConf: SerializableConfiguration,
                                 posConf: SerializableConfiguration,
                                 dataSchema: StructType,
                                 fanout: Seq[GraftFanout])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftPosDeltaWriter(base, relDir,
      s"part-$partitionId-$taskId.parquet", dataFactory, posFactory,
      dataConf, posConf, dataSchema, fanout, partitionId, taskId)
}

/** One task's delta writer: inserted rows fan into per-transform-value
  * data parquet (the [[GraftRowLevelDataWriter]] layout), deleted row
  * ids append to ONE position-delete parquet per task (`del-` prefix
  * distinguishes the shape in the staging dir listing; all files open
  * lazily so an all-insert or all-delete task stages only what it
  * used). The framework projects rows for us: `delete` receives the
  * rowId projection `(_file, _pos)`, `insert`/`reinsert` the data
  * projection — updates arrive pre-split
  * (`representUpdateAsDeleteAndInsert`). */
class GraftPosDeltaWriter(base: String, relDir: String, fileName: String,
                          dataFactory: OutputWriterFactory,
                          posFactory: OutputWriterFactory,
                          dataConf: SerializableConfiguration,
                          posConf: SerializableConfiguration,
                          dataSchema: StructType,
                          fanout: Seq[GraftFanout],
                          partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val dataWriters = scala.collection.mutable.LinkedHashMap
    .empty[String, ParquetRowWriter]
  private var posWriter: ParquetRowWriter = _
  private val posRel = s"$relDir/del-$fileName"

  private def rel(dirs: String): String =
    if (dirs.isEmpty) s"$relDir/$fileName" else s"$relDir/$dirs/$fileName"

  private def dataWriterFor(row: InternalRow): ParquetRowWriter = {
    val dirs = fanout.map(_.dirOf(row)).mkString("/")
    dataWriters.getOrElseUpdate(dirs,
      ParquetWriteShim.open(dataFactory, dataConf, dataSchema,
        s"$base/${rel(dirs)}", partitionId, taskId))
  }

  override def insert(data: InternalRow): Unit = dataWriterFor(data).write(data)

  override def reinsert(meta: InternalRow, data: InternalRow): Unit = insert(data)

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (posWriter == null)
      posWriter = ParquetWriteShim.open(posFactory, posConf,
        GraftMetaCols.posDeleteSchema, s"$base/$posRel", partitionId, taskId)
    posWriter.write(id)
  }

  override def update(meta: InternalRow, id: InternalRow, data: InternalRow): Unit = {
    delete(meta, id); insert(data)
  }

  override def write(row: InternalRow): Unit = throw new IllegalStateException(
    "delta writer receives typed ops (insert/delete/update), never raw rows")

  override def commit(): WriterCommitMessage = {
    dataWriters.values.foreach(_.close())
    val dataRels = dataWriters.keys.map(rel).toSeq
    dataWriters.clear()
    val posRels = if (posWriter == null) Nil else { posWriter.close(); Seq(posRel) }
    posWriter = null
    GraftDeltaStaged(dataRels, posRels)
  }

  override def abort(): Unit = {
    val fs = new Path(base).getFileSystem(ParquetWriteShim.hadoopConf(dataConf))
    dataWriters.foreach { case (dirs, w) =>
      try w.close() catch { case _: Throwable => () }
      fs.delete(new Path(s"$base/${rel(dirs)}"), false)
    }
    dataWriters.clear()
    if (posWriter != null) {
      try posWriter.close() catch { case _: Throwable => () }
      fs.delete(new Path(s"$base/$posRel"), false)
      posWriter = null
    }
  }

  override def close(): Unit = {
    dataWriters.values.foreach(_.close())
    dataWriters.clear()
    if (posWriter != null) { posWriter.close(); posWriter = null }
  }
}
