package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.TxnTable
import graft.sinks.TxnTable.Snapshot

/** Scan builder for catalog-resolved (by-name) tables: DELEGATES every
  * pushdown interface of Spark's own [[ParquetScanBuilder]] (catalyst
  * filters, column pruning, aggregate pushdown, variant extraction —
  * the exact set the parquet builder implements, so batch planning is
  * unchanged), and wraps the built scan so it additionally answers
  * `toMicroBatchStream` ([[GraftTxnMicroBatchStream]],
  * `spark.readStream.table(...)`). Delegation instead of inheritance
  * because `ParquetScanBuilder.build()` is typed to return a
  * `ParquetScan` — an override cannot widen it to the wrapper. */
class GraftTxnScanBuilder(spark: SparkSession, root: String, snap: Snapshot,
                          index: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
                          schema: StructType,
                          options: CaseInsensitiveStringMap,
                          // the recorded STORAGE schema when the table
                          // carries a column mapping (renames/drops);
                          // `schema` is then the PHYSICAL scan schema and
                          // this builder translates pushed names both ways
                          mapping: Option[StructType] = None,
                          // only catalog-resolved tables stream
                          streamable: Boolean = true)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  import graft.sinks.ColumnMapping

  private val delegate = ParquetScanBuilder(spark, index, schema, schema, options)

  // set when pruneColumns requests the `_file`/`_pos` METADATA columns
  // ([[GraftMetaCols]]): the vectorized delegate cannot produce row
  // ordinals, so build() routes to the position-aware scan instead
  private var metaRequired: Option[org.apache.spark.sql.types.StructType] = None
  // raw pushed catalyst filters, kept for the position scan's manifest
  // file skipping (the delegate path keeps its own pushed state)
  private var rawFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil

  // logical→physical for live columns (identity when unmapped)
  private val l2p: Map[String, String] = mapping.fold(Map.empty[String, String])(sc =>
    sc.fields.filterNot(ColumnMapping.isDropped)
      .map(f => f.name -> ColumnMapping.physOf(f)).toMap)

  private def physField(f: org.apache.spark.sql.types.StructField) =
    f.copy(name = l2p.getOrElse(f.name, f.name))

  private def physExpr(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if l2p.contains(a.name) => a.withName(l2p(a.name))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.fieldNames.exists(GraftMetaCols.names.contains))
      metaRequired = Some(requiredSchema) // logical names; build() routes
    else delegate.pruneColumns(
      if (l2p.isEmpty) requiredSchema
      else StructType(requiredSchema.fields.map(physField)))

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    rawFilters = filters
    if (l2p.isEmpty) delegate.pushFilters(filters)
    else {
      // push the physical-named forms down (parquet row groups + the
      // manifest file index see file-side names); report the CALLER's
      // logical expressions back as post-scan residuals — for a file
      // source every data filter is re-evaluated above the scan anyway
      // (FileScanBuilder returns all data filters as residuals), and the
      // residual must reference the relation's own attributes
      delegate.pushFilters(filters.map(physExpr))
      filters
    }
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    // aggregate pushdown reads footer stats by NAME — translating the V2
    // aggregate expression tree is not worth the surface; a mapped table
    // just declines (the scan stays correct, the aggregate runs above)
    l2p.isEmpty && delegate.pushAggregation(aggregation)

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    l2p.isEmpty && delegate.supportCompletePushDown(aggregation)

  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] =
    if (l2p.isEmpty) delegate.pushVariantExtractions(extractions)
    else new Array[Boolean](extractions.length) // decline all when mapped

  override def build(): Scan = metaRequired match {
    case Some(req) =>
      // `_file`/`_pos` referenced: the position-aware row-based scan
      // produces exact ordinals; pushed filters still prune FILES
      // against manifest metadata (translated to physical names here)
      new GraftPosScan(spark, root, snap, req,
        GraftTxnFileIndex.constraints(rawFilters.map(physExpr)),
        maskLive = snap.deletes.nonEmpty, streamable = streamable,
        options = options)
    case None =>
      new GraftStreamCapableScan(delegate.build(), spark, root, snap, options,
        mapping, streamable)
  }
}


/** A [[Scan]] that is the wrapped parquet scan for batch and a txn
  * micro-batch stream for streaming. `delegate` is public so plan
  * inspection (tests, tooling) can reach the underlying
  * [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]]
  * with its pushed filters and planned partitions. */
class GraftStreamCapableScan(val delegate: Scan, spark: SparkSession,
                             root: String, snap: Snapshot,
                             options: CaseInsensitiveStringMap,
                             mapping: Option[StructType] = None,
                             streamable: Boolean = true)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  // the delegate reads the PHYSICAL (file-side) names; Spark matches the
  // reported read schema against the relation's LOGICAL attributes by
  // name — rows are positional, so the rename-back is metadata-only
  private val p2l: Map[String, String] = mapping.fold(Map.empty[String, String])(sc =>
    sc.fields.filterNot(graft.sinks.ColumnMapping.isDropped)
      .map(f => graft.sinks.ColumnMapping.physOf(f) -> f.name).toMap)
  override def readSchema(): StructType = {
    val rs = delegate.readSchema()
    if (p2l.isEmpty) rs
    else StructType(rs.fields.map(f => f.copy(name = p2l.getOrElse(f.name, f.name))))
  }
  override def toBatch: Batch = {
    // a BATCH read with the change-feed flag would otherwise silently
    // return the full table instead of changes — the silent-wrong-result
    // class this format refuses loud everywhere. Gated HERE because
    // resolve()/inferSchema also run for the legitimate streaming CDC
    // path (spark.readStream), which never calls toBatch.
    require(!options.getBoolean("readChangeFeed", false),
      "readChangeFeed is a STREAMING option (spark.readStream); for a " +
        "batch change window use TxnTable.changesBetween(root, v1, v2)")
    delegate.toBatch
  }
  override def description(): String = delegate.description()
  /** Planner statistics: the parquet scan's size estimate, upgraded
    * with the EXACT row count from the manifest's per-file counts when
    * the manifest can certify it — no pushed data filters (a filtered
    * scan returns fewer rows than the files hold), no live MoR deletes,
    * a recorded count for every live file (the metaCount rule). Exact
    * cardinality is what lets Spark's planner make the right
    * broadcast/shuffle call for SQL-by-name joins at scale; when the
    * manifest cannot certify, the estimate degrades to Spark's own,
    * never guesses. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base: org.apache.spark.sql.connector.read.Statistics = delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
    val exactRows = delegate match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
          if p.dataFilters.isEmpty && snap.deletes.isEmpty &&
            snap.files.forall(snap.rowCounts.contains) =>
        Some(snap.files.map(snap.rowCounts).sum)
      case _ => None
    }
    exactRows.fold(base) { n =>
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(n)
      }
    }
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(streamable,
      s"graft-txn:$root was not resolved through the catalog; stream by name")
    // mapped tables stream fine: the per-window scans plan under the
    // (pruned) PHYSICAL schema the delegate already carries — frozen
    // physical names make even a mid-stream rename transparent; Spark
    // consumes the rows positionally against this wrapper's logical
    // readSchema()
    new GraftTxnMicroBatchStream(spark, root, snap, delegate.readSchema(), options)
  }
}

/** Version offsets for the txn micro-batch stream (a v2
  * [[org.apache.spark.sql.connector.read.streaming.Offset]]: the
  * checkpointed form is just the version number). */
case class TxnVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The txn table as a DSv2 MICRO-BATCH STREAM — what
  * `spark.readStream.table("graft_cat.db.t")` runs (catalog-resolved
  * tables advertise MICRO_BATCH_READ; the path-based format keeps the
  * v1 source, same split as the write side, so each query's offset
  * scheme is fixed by how it addresses the table).
  *
  * Offsets ARE table versions; each micro-batch plans the parquet files
  * its commit windows ADDED as native vectorized-scan partitions — the
  * window classification is [[graft.streaming.TxnStreamSource]]'s,
  * decided from manifest facts (appends emit, maintenance commits are
  * the format's `dataChange=false` and emit nothing, anything else
  * refuses loud unless `skipChangeCommits`). Live merge-on-read deletes
  * need no mask here: their positions name only files that existed
  * when they committed, never an append window's new files. One
  * deliberate delta from the v1 path source, a scan-level necessity:
  * rows stream through Spark's own `ParquetPartitionReaderFactory`
  * (whole-stage-codegen vectorized batches, zero re-buffering) under
  * the schema pinned at stream start — older files upcast/null-fill
  * exactly as the batch scan does.
  *
  * Options (via `spark.readStream.option(...)`): `startVersion`
  * (default: the resolved snapshot's version — tail-only, the engine's
  * standing default), `maxVersionsPerBatch`, `skipChangeCommits`. */
class GraftTxnMicroBatchStream(spark: SparkSession, root: String,
                               snap: Snapshot, readSchema: StructType,
                               options: CaseInsensitiveStringMap)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def opt(key: String): Option[String] = Option(options.get(key))
  private val startV: Long = opt("startVersion").map(_.toLong).getOrElse(snap.version)
  private val maxPerBatch: Option[Long] = opt("maxVersionsPerBatch").map(_.toLong)
  private val skipChangeCommits: Boolean = opt("skipChangeCommits").exists(_.toBoolean)
  maxPerBatch.foreach(m =>
    require(m >= 1, s"maxVersionsPerBatch must be >= 1, got $m"))

  /** One stateless vectorized reader factory for the whole stream: a
    * parquet reader factory reads whatever FilePartition it is handed,
    * so the per-batch work is only partition PLANNING. */
  private lazy val template: Batch =
    ParquetScanBuilder(spark,
      new GraftTxnFileIndex(spark, root, snap, readSchema),
      readSchema, readSchema, options).build().toBatch

  override def initialOffset(): Offset = TxnVersionOffset(startV)

  override def deserializeOffset(json: String): Offset =
    TxnVersionOffset(json.trim.toLong)

  /** Admission control: the engine hands us the TRUE current position
    * (initial offset on a fresh stream, the checkpoint-restored offset
    * after a restart), so pacing floors at the right cursor with no
    * internal `served` state — a restart mid-backlog catches up in
    * maxVersionsPerBatch-bounded windows instead of one giant batch
    * floored at the restart-time startV. */
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val head = TxnTable.latest(spark, root).map(_.version).getOrElse(0L)
    val floor = start.asInstanceOf[TxnVersionOffset].version
    TxnVersionOffset(maxPerBatch.fold(head)(m =>
      math.max(floor, math.min(head, floor + m))))
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) drives this stream (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val v1 = start.asInstanceOf[TxnVersionOffset].version
    val v2 = end.asInstanceOf[TxnVersionOffset].version
    val added = ((v1 + 1) to v2).flatMap(v =>
      graft.streaming.TxnStreamSource.addedFiles(spark, root, v,
        skipChangeCommits)).flatten
    if (added.isEmpty) Array.empty
    else
      // a fresh per-window scan: partition planning over ONLY the added
      // files (split/coalesced by Spark's own file-partition logic);
      // rows decode through the stream-stable template factory
      ParquetScanBuilder(spark,
        new GraftTxnFileIndex(spark, root, snap, readSchema, Some(added)),
        readSchema, readSchema, options).build().toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    template.createReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"GraftTxnMicroBatchStream($root from v$startV)"
}
