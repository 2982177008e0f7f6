package graft.sources

import java.util


import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.TxnTable
import graft.sinks.TxnTable.Snapshot

/** DataSourceV2 integration for the graft-txn table format — the
  * catalog-surface half of the format (the reference's whole publish
  * stage is "write, register, query BY NAME": weather_etl.py:100-106
  * registers the day's table in a catalog and :144-146 queries it by
  * name; [[graft.sinks.Publish]] covers that for plain parquet, this
  * covers it for the transactional format users would actually
  * register):
  *
  * {{{
  *   spark.read.format("graft-txn").load(root)                  // latest
  *     .option("versionAsOf", 3)      // or time travel by version
  *     .option("timestampAsOf", "1700000000000")        // epoch millis
  *   // plus, through GraftCatalog:
  *   spark.sql("SELECT * FROM graft_cat.db.t VERSION AS OF 3")
  * }}}
  *
  * The scan path is Spark's own vectorized parquet machinery
  * ([[ParquetScanBuilder]] — full filter/column pushdown, whole-stage
  * codegen, the exact physical operator a plain parquet read gets); the
  * format contributes its SNAPSHOT RESOLUTION and its MANIFEST-LEVEL
  * FILE SKIPPING through a [[PartitioningAwareFileIndex]] whose
  * `listFiles` prunes the snapshot's file list against the pushed data
  * filters using recorded per-file [min, max] ranges, bloom filters,
  * and hidden-partitioning transform values — the same metadata
  * [[TxnTable.readPruned]]/[[TxnTable.readPointLookup]] consult, now
  * firing automatically from SQL `WHERE` clauses. At 100 TB this is the
  * difference between "open a million footers" and "open the four files
  * the manifest says can match".
  *
  * SQL writes route THROUGH the txn writer (never around it): INSERT
  * INTO/OVERWRITE via the V1 write bridge, DELETE FROM / TRUNCATE via
  * [[TxnTable.deleteWhereBounded]] with bounds derived from the pushed
  * filters (see [[GraftTxnTableV2]]). A snapshot with LIVE
  * merge-on-read deletes scans through the position-aware
  * [[GraftPosScanBuilder]], which masks them in its readers. Deliberate
  * boundary (refuse-loud, never silent): ALTER TABLE supports the
  * write-path evolution rules
  * (trailing nullable adds, lossless widening) plus metadata-only
  * RENAME/DROP COLUMN through the column mapping — see
  * [[GraftCatalog.alterTable]] — and refuses everything else. */
class GraftTxnSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-txn"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTxnSource.resolve(SparkSession.active, options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    GraftTxnSource.resolve(SparkSession.active,
      new CaseInsensitiveStringMap(properties))

  // ---- streaming (the v1 fallback surface: the batch table does not
  // advertise MICRO_BATCH_READ / STREAMING_WRITE, so Spark routes
  // readStream/writeStream here) --------------------------------------

  import graft.streaming.{CdcSource, TxnStreamSink, TxnStreamSource}

  /** `spark.readStream.format("graft-txn").load(root)` — append-mode by
    * default ([[TxnStreamSource]], the Delta-streaming-source surface);
    * `option("readChangeFeed", "true")` streams the full CDC feed
    * instead ([[CdcSource]], `_change_type`/`_n`/`_commit_version`).
    * Shared options: `startVersion`, `maxVersionsPerBatch`;
    * append-mode only: `skipChangeCommits`. */
  override def sourceSchema(ctx: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val root = GraftTxnSource.streamRoot(parameters)
    val sch =
      if (GraftTxnSource.changeFeed(parameters))
        CdcSource.feedSchema(ctx.sparkSession, root)
      else TxnStreamSource.pinnedSchema(ctx.sparkSession, root)
    (shortName(), sch)
  }

  override def createSource(ctx: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val root = GraftTxnSource.streamRoot(parameters)
    val startVersion = GraftTxnSource.opt(parameters, "startVersion").map(_.toLong)
    val maxPerBatch = GraftTxnSource.opt(parameters, "maxVersionsPerBatch").map(_.toLong)
    if (GraftTxnSource.changeFeed(parameters))
      new CdcSource(ctx.sparkSession, root, startVersion, maxPerBatch)
    else
      new TxnStreamSource(ctx.sparkSession, root, startVersion, maxPerBatch,
        skipChangeCommits =
          GraftTxnSource.opt(parameters, "skipChangeCommits").exists(_.toBoolean))
  }

  /** `df.writeStream.format("graft-txn")` — exactly-once idempotent
    * batch commits, see [[TxnStreamSink]]. Partitioning comes from the
    * TABLE's recorded transform spec, never from the query (a
    * `partitionBy` here would silently disagree with what appends
    * inherit — refuse loud). */
  override def createSink(ctx: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-txn sink partitioning is the table's recorded transform spec " +
        "(set at CREATE TABLE / first append); drop partitionBy(...)")
    val mergeKeys = GraftTxnSource.opt(parameters, "mergeKeys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update() ||
        mergeKeys.nonEmpty,
      "graft-txn sink in Update mode needs row identity: set " +
        "option(\"mergeKeys\", \"k1,k2\") — each micro-batch then UPSERTS " +
        "its keys (idempotent mergeBatch); without keys an update stream " +
        "has no merge-or-replace encoding")
    val root = GraftTxnSource.streamRoot(parameters)
    val streamId = GraftTxnSource.opt(parameters, "streamId")
      .orElse(GraftTxnSource.opt(parameters, "checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-txn sink needs a stable idempotence key: set " +
          "option(\"checkpointLocation\", ...) (every recoverable stream has " +
          "one) or option(\"streamId\", ...) — anonymous streams sharing " +
          "batch-id space would swallow each other's commits"))
    new TxnStreamSink(ctx.sparkSession, root, streamId, outputMode, mergeKeys)
  }
}

object GraftTxnSource {

  /** V1 streaming parameters arrive as a plain Map; match option names
    * case-insensitively like the DSv2 path does. */
  private[sources] def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  private[sources] def streamRoot(parameters: Map[String, String]): String =
    opt(parameters, "path").orElse(opt(parameters, "root")).getOrElse(
      throw new IllegalArgumentException(
        "graft-txn streaming needs a table root: .load(root) / .option(\"path\", root)"))

  private[sources] def changeFeed(parameters: Map[String, String]): Boolean =
    opt(parameters, "readChangeFeed").exists(_.toBoolean)

  /** Resolve (root, version options) → a readable table. One manifest
    * read; the returned table pins that snapshot (snapshot isolation —
    * a concurrent commit never changes what this scan reads).
    *
    * A root with NO committed snapshot resolves to a capability-less
    * placeholder instead of throwing: `writeStream.format("graft-txn")
    * .start(root)` probes the provider for a table BEFORE the sink can
    * create it (DataStreamWriter checks STREAMING_WRITE, then falls
    * back to the V1 sink), and a first-batch-creates-the-table stream
    * is the normal ingest bootstrap. Reads of the placeholder refuse
    * at analysis (it advertises no capabilities and its name carries
    * the diagnosis); time travel on a missing table still throws. */
  private[sources] def resolve(s: SparkSession,
                               options: CaseInsensitiveStringMap): Table = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-txn needs a table root: spark.read.format(\"graft-txn\").load(root)"))
    val versionAsOf = Option(options.get("versionAsOf"))
    val tsAsOf = Option(options.get("timestampAsOf")).map(_.toLong)
    require(versionAsOf.isEmpty || tsAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val snap = (versionAsOf, tsAsOf) match {
      case (Some(ref), _) => Some(resolveRef(s, root, ref)) // must exist
      case (_, Some(ms)) =>
        val v = TxnTable.versionAt(s, root, ms).getOrElse(
          throw new IllegalStateException(
            s"no snapshot at $root as of epoch-ms $ms"))
        Some(TxnTable.snapshot(s, root, v))
      case _ => TxnTable.latest(s, root)
    }
    snap.fold[Table](new GraftTxnUncommittedTable(root))(
      new GraftTxnTableV2(s, root, _))
  }

  /** A version REFERENCE: a numeric version, a tag name, or a branch
    * name (branch → its head: fork content + branch appends). The
    * shared resolution rule for SQL `VERSION AS OF` and the reader
    * option `versionAsOf` — numbers win, unknown names refuse loud. */
  private[sources] def resolveRef(s: SparkSession, root: String,
                                  ref: String): Snapshot =
    scala.util.Try(ref.toLong).toOption match {
      case Some(v) => TxnTable.snapshot(s, root, v)
      case None => TxnTable.tags(s, root).get(ref) match {
        case Some(v) => TxnTable.snapshot(s, root, v)
        case None if TxnTable.branches(s, root).contains(ref) =>
          TxnTable.branchHead(s, root, ref)
        case None => throw new IllegalArgumentException(
          s"version reference '$ref': not a version number, tag, or " +
            s"branch of the table at $root")
      }
    }
}

/** Placeholder for a root with no committed snapshot: advertises NO
  * capabilities, so a batch read refuses at analysis (the name carries
  * the diagnosis) while `writeStream` falls through to the V1 sink,
  * whose first batch creates the table. */
private[sources] class GraftTxnUncommittedTable(root: String) extends Table {
  override def name(): String = s"graft-txn:$root (no committed snapshot)"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.noneOf(classOf[TableCapability])
}

/** One pinned snapshot as a DSv2 [[Table]], readable and SQL-writable:
  * `INSERT INTO` appends through [[TxnTable.appendWithRetry]] (the
  * optimistic-commit writer loop, inheriting the table's recorded
  * column sets and transform spec), `INSERT OVERWRITE` through
  * [[TxnTable.overwrite]] (carrying the metadata column spec forward).
  * The V1 write bridge is deliberate: the commit protocol is
  * DRIVER-side manifest work over files the engine stages — exactly
  * what the InsertableRelation hook hands us, with zero duplication of
  * the staging/stats/conflict machinery.
  *
  * `DELETE FROM … WHERE …` (and `TRUNCATE TABLE`, via the
  * [[org.apache.spark.sql.connector.catalog.SupportsDelete]] default)
  * routes to the copy-on-write [[TxnTable.deleteWhereBounded]]: the
  * pushed V1 filters translate to the predicate, and their top-level
  * conjuncts additionally derive per-stats-column [lo, hi] BOUNDS — by
  * construction every matching row satisfies each conjunct, so the
  * derived range bounds the predicate and the manifest's file skipping
  * applies with zero caller effort: `DELETE … WHERE day = 7` on a
  * day-clustered table rewrites the day-7 files and carries the rest
  * by reference. A filter the translator cannot express refuses the
  * whole statement loud (`canDeleteWhere` false — never a partial or
  * silently-widened delete). */
class GraftTxnTableV2(spark: SparkSession, val root: String, val snap: Snapshot,
                      byName: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String = s"graft-txn:$root@v${snap.version}"

  /** `_file` / `_pos` — row position identity ([[GraftMetaCols]]):
    * what position-delta row-level ops key on, and a queryable
    * observability surface (referencing either routes the scan through
    * the position-aware reader). Hidden from `SELECT *`. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftMetaCols.columns

  override lazy val schema: StructType = {
    val sc = snap.schema.map(graft.sinks.ColumnMapping.logicalView).getOrElse {
      // legacy schema-less manifest: infer from the files' footers once
      require(snap.files.nonEmpty,
        s"snapshot v${snap.version} has no files and no recorded schema")
      spark.read.parquet(snap.files.map(f => s"${root.stripSuffix("/")}/$f"): _*).schema
    }
    // schema-on-read: files predating a column read it as null, and file
    // sources report nullable regardless (Spark's own `read.schema(...)`
    // contract — the V1 path matches)
    StructType(sc.fields.map(_.copy(nullable = true)))
  }

  /** The recorded STORAGE schema when it carries a column mapping
    * (renames/drops — [[graft.sinks.ColumnMapping]]); None for plain
    * tables, which take the exact pre-mapping scan path. */
  private[sources] lazy val mapping: Option[StructType] =
    snap.schema.filter(graft.sinks.ColumnMapping.hasMapping)

  /** `DESCRIBE EXTENDED` surface: the snapshot's operational identity
    * (version, op, file counts, metadata column sets, transform spec)
    * as table properties — read-only diagnostics; the writable subset
    * (`statsCols`/`bloomCols`) evolves via ALTER TABLE SET
    * TBLPROPERTIES ([[GraftCatalog.alterTable]]). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graft-txn")
    m.put("version", snap.version.toString)
    m.put("op", snap.op)
    m.put("n_files", snap.files.size.toString)
    m.put("n_delete_files", snap.deletes.size.toString)
    // surface metadata columns under their user-visible (logical) names
    def logi(cs: Seq[String]): Seq[String] = snap.schema.fold(cs)(sc =>
      cs.map(graft.sinks.ColumnMapping.logicalName(sc, _)))
    m.put("statsCols", logi(snap.statsCols).mkString(","))
    m.put("bloomCols", logi(snap.bloomCols).mkString(","))
    m.put("transforms", snap.transforms.map(_.name).mkString(","))
    // sidecar operational properties (write.rowlevel.mode & co) surface
    // too — SHOW TBLPROPERTIES tells the operator which regime row-level
    // SQL will plan
    TxnTable.tableProperties(spark, root).foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** The STREAMING capabilities (MICRO_BATCH_READ for
    * `readStream.table`, STREAMING_WRITE for `writeStream.toTable`)
    * are advertised ONLY on catalog-resolved instances: the path-based
    * provider keeps the v1 source/sink (checkpoint-keyed batches), so
    * a given query's offset and idempotence-key schemes are fixed by
    * how it addresses the table and can never flip across restarts. */
  override def capabilities(): util.Set[TableCapability] =
    if (byName)
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
    else
      util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // live deletes scan through the position-aware builder, whose
    // readers mask each tombstoned file's ordinals, resolved task-side
    // from its covering sidecars, until compactDeletes folds the debt
    if (snap.deletes.nonEmpty)
      // forward the resolution context: the change-feed gate must see
      // the real options and by-name streaming must stay reachable —
      // a delete-live table streams like a clean one (the micro-batch
      // source reads commit windows, not the masked head)
      return new GraftPosScanBuilder(spark, root, snap, schema,
        maskLive = true, streamable = byName, options = options)
    // a mapped table scans under its PHYSICAL schema (what the parquet
    // bytes say); the builder translates pushed names both ways and the
    // scan reports the logical read schema back to Spark — rows are
    // positional, so the physical/logical split never touches data
    val scanSchema = mapping.fold(schema)(sc => StructType(
      graft.sinks.ColumnMapping.physicalSchema(sc).fields.map(_.copy(nullable = true))))
    val index = new GraftTxnFileIndex(spark, root, snap, scanSchema)
    if (byName || mapping.isDefined) // by-name scans can also stream
      new GraftTxnScanBuilder(spark, root, snap, index, scanSchema, options,
        mapping, streamable = byName)
    else {
      // path tables reach newScanBuilder only from BATCH reads (no
      // MICRO_BATCH_READ capability — path streaming is the V1 source),
      // so the change-feed flag here is a batch read that would
      // silently return the full table instead of changes: refuse with
      // direction. By-name scans gate the same way in
      // [[GraftStreamCapableScan.toBatch]] (their builder also serves
      // the legitimate streaming-CDC path).
      require(!options.getBoolean("readChangeFeed", false),
        "readChangeFeed is a STREAMING option (spark.readStream); for a " +
          "batch change window use TxnTable.changesBetween(root, v1, v2)")
      ParquetScanBuilder(spark, index, schema, schema, options)
    }
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              if (overwrite)
                // carry the table's metadata-column spec forward — an
                // INSERT OVERWRITE replaces content, not the table's
                // pruning contract
                TxnTable.overwrite(spark, root, data,
                  statsCols = snap.statsCols, bloomCols = snap.bloomCols)
              else
                TxnTable.appendWithRetry(spark, root, data)
              ()
            }
          /** `writeStream.toTable` — Complete mode arrives as
            * `truncate()` on this builder and maps onto per-epoch
            * replacement; see [[GraftTxnStreamingWrite]]. */
          override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(byName,
              s"${name()} was not resolved through the catalog; stream by " +
                "name (writeStream.toTable) or use the path sink " +
                "(writeStream.format(\"graft-txn\").start(root))")
            new GraftTxnStreamingWrite(spark, root, snap, info.queryId(),
              info.schema(), replace = overwrite)
          }
        }
    }

  /** SQL UPDATE / MERGE INTO / subquery DELETE — the group-based
    * copy-on-write rewrite, see [[GraftRowLevelOperation]]. Simple
    * translatable DELETEs never reach this path: Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` converts them back to the
    * [[canDeleteWhere]]/[[deleteWhere]] fast path below. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // the table's write.rowlevel.mode property picks the regime:
    // copy-on-write (default — rewrite touched files, merge-free
    // reads) or merge-on-read (position-delta tombstones + new rows —
    // [[GraftPosDeltaOperation]], Iceberg's write.update.mode knob)
    val mor = TxnTable.rowLevelMode(spark, root) == "merge-on-read"
    // fail at plan time, not mid-rewrite: a CoW rewrite replacing a
    // file without applying pending MoR deletes would resurrect rows;
    // a position delta composes with live deletes (its scan masks them)
    if (!mor)
      require(snap.deletes.isEmpty,
        s"snapshot v${snap.version} at $root carries ${snap.deletes.size} live " +
          "merge-on-read delete file(s); row-level SQL ops rewrite whole files " +
          "and would resurrect the deleted rows — run TxnTable.compactDeletes first")
    // NOTE: no mapping guard HERE — the analyzer builds the operation
    // table eagerly for every DELETE, including the simple ones the
    // optimizer later converts back to the metadata-only fast path.
    // Mapped tables are handled where the rewrite WRITES: the write
    // schema is physicalized ([[GraftRowLevelOperation.physicalize]] via
    // newWriteBuilder), so rewritten files keep the frozen physical
    // names.
    () =>
      if (mor) new GraftPosDeltaOperation(spark, root, snap, info.command(), schema)
      else new GraftRowLevelOperation(spark, root, snap, info.command(), schema)
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    // in merge-on-read mode every DELETE routes through the row-level
    // framework (position tombstones); the fast path here is a bounded
    // COPY-ON-WRITE rewrite, the regime the table opted out of
    TxnTable.rowLevelMode(spark, root) != "merge-on-read" &&
      filters.forall(GraftTxnTableV2.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pred = filters.map(f => GraftTxnTableV2.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-txn DELETE cannot translate predicate $f — delete through " +
            "TxnTable.deleteWhere with an explicit Column")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // pushed filters name LOGICAL columns; the recorded stats columns
    // are physical — compare in logical space (deleteWhereBounded
    // translates the derived bounds back)
    val statsLogical = snap.schema.fold(snap.statsCols)(sc =>
      snap.statsCols.map(graft.sinks.ColumnMapping.logicalName(sc, _)))
    TxnTable.deleteWhereBounded(spark, root, pred,
      GraftTxnTableV2.statsBounds(filters, statsLogical))
  }
}

object GraftTxnTableV2 {
  import org.apache.spark.sql.{functions => F, Column}
  import org.apache.spark.sql.{sources => V1}

  /** V1 filter → Column, total over the shapes SQL DELETE pushes; None
    * (→ statement-level refusal) for anything else. Nested or backtick-
    * bearing attribute names are refused rather than guessed at — the
    * V1 dotted encoding is ambiguous. */
  private def colRef(attribute: String): Option[Column] =
    if (attribute.contains('.') || attribute.contains('`')) None
    else Some(F.col(attribute))

  private[sources] def toColumn(f: V1.Filter): Option[Column] = f match {
    case V1.AlwaysTrue()             => Some(F.lit(true))
    case V1.AlwaysFalse()            => Some(F.lit(false))
    case V1.EqualTo(a, v)            => colRef(a).map(_ === F.lit(v))
    case V1.EqualNullSafe(a, v)      => colRef(a).map(_ <=> F.lit(v))
    case V1.GreaterThan(a, v)        => colRef(a).map(_ > F.lit(v))
    case V1.GreaterThanOrEqual(a, v) => colRef(a).map(_ >= F.lit(v))
    case V1.LessThan(a, v)           => colRef(a).map(_ < F.lit(v))
    case V1.LessThanOrEqual(a, v)    => colRef(a).map(_ <= F.lit(v))
    case V1.In(a, vs)                => colRef(a).map(_.isin(vs.toIndexedSeq: _*))
    case V1.IsNull(a)                => colRef(a).map(_.isNull)
    case V1.IsNotNull(a)             => colRef(a).map(_.isNotNull)
    case V1.StringStartsWith(a, v)   => colRef(a).map(_.startsWith(v))
    case V1.StringEndsWith(a, v)     => colRef(a).map(_.endsWith(v))
    case V1.StringContains(a, v)     => colRef(a).map(_.contains(v))
    case V1.And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case V1.Or(l, r)  => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case V1.Not(c)    => toColumn(c).map(!_)
    case _            => None
  }

  private def longLit(v: Any): Option[Long] = v match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _        => None
  }

  /** Derive the [[TxnTable.deleteWhereBounded]] bounds from the pushed
    * filters: each TOP-LEVEL conjunct (the array is a conjunction, and
    * `And` nodes recurse) that pins a RECORDED stats column to an
    * integral range contributes (col, lo, hi). Sound by construction —
    * a matching row satisfies every conjunct, hence sits inside every
    * derived range (equality/range/IN on a non-null literal can never
    * match a null, so min/max excluding nulls is safe). Disjunctions,
    * string/float literals, and null probes derive nothing (full
    * rewrite for their columns — never unsound). */
  private[sources] def statsBounds(filters: Array[V1.Filter],
                                   statsCols: Seq[String]): Seq[(String, Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def add(a: String, lo: Long, hi: Long): Unit =
      if (statsCols.contains(a)) {
        val (l0, h0) = acc.getOrElse(a, (Long.MinValue, Long.MaxValue))
        acc(a) = (l0.max(lo), h0.min(hi))
      }
    def walk(f: V1.Filter): Unit = f match {
      case V1.And(l, r) => walk(l); walk(r)
      case V1.EqualTo(a, v)            => longLit(v).foreach(x => add(a, x, x))
      case V1.EqualNullSafe(a, v) if v != null =>
        longLit(v).foreach(x => add(a, x, x))
      case V1.GreaterThan(a, v)        => longLit(v).foreach(x => add(a, x, Long.MaxValue))
      case V1.GreaterThanOrEqual(a, v) => longLit(v).foreach(x => add(a, x, Long.MaxValue))
      case V1.LessThan(a, v)           => longLit(v).foreach(x => add(a, Long.MinValue, x))
      case V1.LessThanOrEqual(a, v)    => longLit(v).foreach(x => add(a, Long.MinValue, x))
      case V1.In(a, vs) if vs.nonEmpty =>
        val ls = vs.map(longLit)
        if (ls.forall(_.isDefined)) add(a, ls.flatten.min, ls.flatten.max)
      case _ => () // no bound from this conjunct; predicate still exact
    }
    filters.foreach(walk)
    acc.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
  }
}

/** The snapshot's file list as a [[PartitioningAwareFileIndex]], with
  * manifest-level skipping in `listFiles`: Spark pushes the query's
  * data filters down to the index, and every file whose recorded range/
  * bloom/transform metadata PROVES it cannot match is never opened.
  * Absent metadata never skips (sound), non-translatable predicates
  * prune nothing here and still push to the parquet reader.
  *
  * No hive-style partition columns are exposed: hidden partitioning
  * stays hidden (values live in the manifest, not the schema), so
  * `partitionSpec` is empty and ALL filters arrive as data filters —
  * exactly where the manifest metadata applies. */
class GraftTxnFileIndex(spark: SparkSession, root: String, snap: Snapshot,
                        dataSchema: StructType,
                        // row-level ops narrow the listing to the files
                        // their runtime group filter kept; a normal read
                        // lists the whole snapshot
                        liveFiles: Option[Seq[String]] = None)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(dataSchema)) {

  private val base = root.stripSuffix("/")
  private val live: Seq[String] = liveFiles.getOrElse(snap.files)

  /** One driver-side status fetch per live file, grouped by parent dir
    * to batch `listStatus` calls — manifest-scale metadata work (the
    * file LIST is the object a million-file table's planner holds
    * anyway; a production deployment would carry sizes in the manifest
    * and skip even this). */
  private lazy val statuses: Seq[(String, FileStatus)] = {
    val byDir = live.groupBy(f => f.take(f.lastIndexOf('/').max(0)))
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    byDir.toSeq.flatMap { case (dir, rels) =>
      val want = rels.map(r => r -> s"$base/$r").toMap
      val names = want.values.map(p => new Path(p).getName).toSet
      val listed = fs.listStatus(new Path(s"$base/$dir")).toSeq
        .filter(st => st.isFile && names.contains(st.getPath.getName))
        .map(st => st.getPath.getName -> st).toMap
      rels.map(r => r -> listed(new Path(s"$base/$r").getName))
    }
  }

  override def rootPaths: Seq[Path] = Seq(new Path(base))

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach { case (_, st) => m += st.getPath -> st }
    m
  }

  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.map(_._2).groupBy(_.getPath.getParent)
      .map { case (d, sts) => d -> sts.toArray }

  override def refresh(): Unit = () // the snapshot is immutable by design

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cons = GraftTxnFileIndex.constraints(dataFilters)
    val kept = statuses.filter { case (rel, _) =>
      GraftTxnFileIndex.mayMatch(snap, rel, cons)
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
  }
}

object GraftTxnFileIndex {

  /** A provable per-column constraint extracted from pushed filters:
    * an inclusive range and/or an exact point set. Conjunction only —
    * OR branches are not decomposed (they prune nothing here, soundly;
    * the parquet reader still evaluates them).
    *
    * STRING predicates fold into the SAME (lo, hi) axis: a string
    * column's manifest range is `[min lower(v), max upper(v)]` of the
    * order-preserving prefix encoding ([[graft.functions.Utf8Prefix64]]),
    * and every string conjunct contributes the threshold its match
    * PROVABLY implies — `v = s` implies fileLo <= lower(s) AND
    * fileHi >= upper(s), `v >= s` implies fileHi >= upper(s),
    * `v <= s` implies fileLo <= lower(s), `startswith(s)` implies both
    * with the prefix's floor/ceiling. `lo` is thus "file hi must be at
    * least", `hi` is "file lo must be at most" — the exact roles the
    * long path already gives them. `spoints` carries string equality
    * values for the bloom (xxhash64) and bucket-transform probes. */
  private[sources] final case class Constraint(lo: Long = Long.MinValue,
                                               hi: Long = Long.MaxValue,
                                               points: Option[Seq[Long]] = None,
                                               spoints: Option[Seq[String]] = None)

  private def longOf(l: Literal): Option[Long] = l.dataType match {
    case LongType    => Option(l.value).map(_.asInstanceOf[Long])
    case IntegerType => Option(l.value).map(_.asInstanceOf[Int].toLong)
    case ShortType   => Option(l.value).map(_.asInstanceOf[Short].toLong)
    case ByteType    => Option(l.value).map(_.asInstanceOf[Byte].toLong)
    case _           => None
  }

  private def strOf(l: Literal): Option[org.apache.spark.unsafe.types.UTF8String] =
    l.dataType match {
      case org.apache.spark.sql.types.StringType =>
        Option(l.value).map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      case _ => None
    }

  /** Fold the conjunctive filter list into per-column constraints.
    * Every pattern is both-orders (col op lit / lit op col). */
  private[sources] def constraints(filters: Seq[Expression]): Map[String, Constraint] = {
    val acc = scala.collection.mutable.Map.empty[String, Constraint]
    def add(name: String)(f: Constraint => Constraint): Unit =
      acc(name) = f(acc.getOrElse(name, Constraint()))
    import graft.functions.Utf8Prefix64.{lower, prefixCeil, upper}
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a: Attribute, l: Literal) if strOf(l).isDefined =>
        strOf(l).foreach { v =>
          add(a.name)(c => c.copy(lo = c.lo.max(upper(v)), hi = c.hi.min(lower(v)),
            spoints = Some(c.spoints.getOrElse(Seq(v.toString))
              .filter(_ == v.toString))))
        }
      case EqualTo(a: Attribute, l: Literal) => longOf(l).foreach(v =>
        add(a.name)(c => c.copy(lo = c.lo.max(v), hi = c.hi.min(v),
          points = Some(c.points.getOrElse(Seq(v)).filter(_ == v)))))
      case EqualTo(l: Literal, a: Attribute) => walk(EqualTo(a, l))
      case EqualNullSafe(a: Attribute, l: Literal) if l.value != null =>
        walk(EqualTo(a, l))
      case EqualNullSafe(l: Literal, a: Attribute) if l.value != null =>
        walk(EqualTo(a, l))
      case GreaterThan(a: Attribute, l: Literal) =>
        longOf(l).foreach(v => add(a.name)(c => c.copy(lo = c.lo.max(v)))) // conservative: >= v
        strOf(l).foreach(v => add(a.name)(c => c.copy(lo = c.lo.max(upper(v)))))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        longOf(l).foreach(v => add(a.name)(c => c.copy(lo = c.lo.max(v))))
        strOf(l).foreach(v => add(a.name)(c => c.copy(lo = c.lo.max(upper(v)))))
      case LessThan(a: Attribute, l: Literal) =>
        longOf(l).foreach(v => add(a.name)(c => c.copy(hi = c.hi.min(v)))) // conservative: <= v
        strOf(l).foreach(v => add(a.name)(c => c.copy(hi = c.hi.min(lower(v)))))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        longOf(l).foreach(v => add(a.name)(c => c.copy(hi = c.hi.min(v))))
        strOf(l).foreach(v => add(a.name)(c => c.copy(hi = c.hi.min(lower(v)))))
      // prefix probe (LIKE 'p%'): any match extends the prefix, so its
      // encoded upper is >= upper(p) and its encoded lower is <= the
      // prefix's 0xFF-padded ceiling — a two-sided range constraint
      case StartsWith(a: Attribute, l: Literal) => strOf(l).foreach(v =>
        add(a.name)(c => c.copy(lo = c.lo.max(upper(v)),
          hi = c.hi.min(prefixCeil(v.toString)))))
      case GreaterThan(l: Literal, a: Attribute) => walk(LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => walk(LessThanOrEqual(a, l))
      case LessThan(l: Literal, a: Attribute) => walk(GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a: Attribute) => walk(GreaterThanOrEqual(a, l))
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        val longs = vs.map(v => longOf(v.asInstanceOf[Literal]))
        val strs = vs.map(v => strOf(v.asInstanceOf[Literal]))
        if (longs.forall(_.isDefined))
          add(a.name)(c => c.copy(points = Some(
            c.points.fold(longs.flatten)(p => p.intersect(longs.flatten)))))
        else if (strs.forall(_.isDefined)) {
          val ss = strs.flatten.map(_.toString)
          add(a.name)(c => c.copy(spoints = Some(
            c.spoints.fold(ss)(p => p.intersect(ss)))))
        }
      case _ => () // non-translatable: prunes nothing here, still pushed
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** May file `rel` contain a row satisfying `cons`? False only on
    * PROOF of exclusion from recorded metadata. */
  private[sources] def mayMatch(snap: Snapshot, rel: String,
                                cons: Map[String, Constraint]): Boolean =
    cons.forall { case (col, c) =>
      import graft.functions.Utf8Prefix64.{bloomHash, lower, upper}
      val range = snap.stats.get(rel).flatMap(_.get(col))
      val rangeOk = range.forall { case (lo, hi) =>
        val pointOk = c.points.forall(_.exists(v => v >= lo && v <= hi))
        // a present string value s has lower(s) >= fileLo and
        // upper(s) <= fileHi — an IN list survives iff some member may
        val spointOk = c.spoints.forall(_.exists(v =>
          lower(v) >= lo && upper(v) <= hi))
        c.hi >= lo && c.lo <= hi && pointOk && spointOk
      }
      val bloomOk = (c.points, c.spoints) match {
        case (Some(vs), _) => snap.blooms.get(rel).flatMap(_.get(col)).forall { b =>
          val bf = graft.functions.BloomAgg.fromBytes(b)
          vs.exists(bf.mightContainLong)
        }
        // string blooms record xxhash64(col) — probe the same hash
        case (None, Some(vs)) => snap.blooms.get(rel).flatMap(_.get(col)).forall { b =>
          val bf = graft.functions.BloomAgg.fromBytes(b)
          vs.exists(v => bf.mightContainLong(bloomHash(v)))
        }
        case _ => true
      }
      // bucket-transform pruning for point probes — only sound when the
      // probe hashes exactly what the fan-out hashed ([[TxnTable
      // .readSemiPruned]]'s composition rule): xxhash64 is
      // type-dependent, so long probes need a LONG source and string
      // probes a STRING source
      def srcType(dt: org.apache.spark.sql.types.DataType): Boolean =
        // `col` is the SCAN-side (physical) name here — pushed filters
        // on a mapped table arrive pre-translated by the scan builder
        snap.schema.exists(_.fields.exists(f =>
          !graft.sinks.ColumnMapping.isDropped(f) &&
            graft.sinks.ColumnMapping.physOf(f) == col &&
            f.dataType == dt))
      // per-FILE spec identity: the current spec plus retired specs
      // recovered from the file's own entry names — a mixed-spec table
      // (setTransforms under data) prunes each file under its own
      // fan-out ([[TxnTable.bucketSpecsFor]])
      def bucketPrunes(hashes: Seq[Long]): Boolean =
        graft.sinks.TxnTable.bucketSpecsFor(snap, rel, col).forall {
          case (name, param) =>
            snap.stats.get(rel).flatMap(_.get(name)) match {
              case Some((blo, bhi)) if blo == bhi =>
                hashes.exists(h => ((h % param) + param) % param == blo)
              case _ => true // no point entry: cannot prune, keep
            }
        }
      val bucketOk = (c.points, c.spoints) match {
        case (Some(vs), _) =>
          !srcType(LongType) || bucketPrunes(vs.map(
            org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(_, 42L)))
        case (None, Some(vs)) =>
          !srcType(org.apache.spark.sql.types.StringType) ||
            bucketPrunes(vs.map(bloomHash))
        case _ => true
      }
      rangeOk && bloomOk && bucketOk
    }
}
