package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.DefaultValue
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.TxnTable

/** SQL stored procedures for graft-txn table MAINTENANCE — the
  * operational verbs every production table format exposes by name
  * (Iceberg's `CALL cat.system.rewrite_data_files`, Delta's `OPTIMIZE`/
  * `VACUUM` statements), wired through Spark 4's `ProcedureCatalog` so a
  * SQL-only user can run the whole table lifecycle without touching the
  * Scala API:
  *
  * {{{
  *   CALL graft_cat.system.compact(table => 'db.t', target_files => 4)
  *   CALL graft_cat.system.compact_where('db.t', 4, col => 'id', lo => 0, hi => 99)
  *   CALL graft_cat.system.zorder('db.t', 4, 'x', 'y')
  *   CALL graft_cat.system.compact_deletes('db.t')
  *   CALL graft_cat.system.vacuum('db.t', retain_versions => 5)
  *   CALL graft_cat.system.restore('db.t', 3)
  *   CALL graft_cat.system.create_tag('db.t', 'audited', 3)
  *   CALL graft_cat.system.create_branch('db.t', 'experiment')
  *   CALL graft_cat.system.fast_forward('db.t', 'experiment')
  *   CALL graft_cat.system.replay_branch('db.t', 'experiment')
  * }}}
  *
  * Each procedure is a thin SQL face over the SAME public [[TxnTable]]
  * entry point the Scala API uses — one code path for the commit
  * protocol, optimistic retries, stats/bloom carry-over, and the
  * refuse-loud rules, regardless of how the call arrives. Spark invokes
  * [[BoundProcedure.call]] on the DRIVER with the (coerced, defaulted,
  * by-name-resolvable) argument row and renders each returned
  * [[LocalScan]] as the statement's result set — maintenance results
  * (new version, file counts) are a handful of driver-known scalars, so
  * a LocalScan is exact, not a shortcut.
  *
  * Scale posture: procedure bodies are the existing operators —
  * `compact`/`zorder` run distributed rewrites, `vacuum`/`restore`/
  * branch and tag ops are manifest-only driver work. Nothing here adds
  * a driver-side data path. */
object GraftProcedures {

  /** Procedure registry, keyed by lower-case name (the `system`
    * namespace is resolved by [[GraftCatalog.loadProcedure]]). */
  private[sources] def byName(catalog: GraftCatalog): Map[String, UnboundProcedure] =
    all(catalog).map(p => p.name -> p).toMap

  private[sources] def names: Seq[String] = Seq(
    "compact", "compact_where", "zorder", "compact_deletes",
    "rewrite_position_deletes", "vacuum",
    "orphan_files", "maintain_report", "restore", "create_tag",
    "create_branch", "fast_forward", "replay_branch")

  /** Multi-param lambdas do not infer through a curried CONSTRUCTOR's
    * second list; a factory method propagates the expected type. */
  private def proc(catalog: GraftCatalog, name: String, describe: String,
                   params: Seq[ProcedureParameter], resultSchema: StructType)(
                   body: (SparkSession, String, Args) => Any): MaintenanceProcedure =
    new MaintenanceProcedure(catalog, name, describe, params, resultSchema)(body)

  private def all(catalog: GraftCatalog): Seq[MaintenanceProcedure] = Seq(
    proc(catalog, "compact",
      "merge a snapshot's files into target_files (optionally re-clustered " +
        "on sort_cols) and commit one new version",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("target_files", IntegerType, "number of output files"),
        inDefault("sort_cols", StringType, "NULL",
          "comma-separated clustering columns (OPTIMIZE-style; empty = plain merge)")),
      versionFiles) { (s, root, args) =>
      val sortCols = args.str(2).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      TxnTable.compactTxn(s, root, args.int(1), sortCols)
    },

    proc(catalog, "compact_where",
      "PARTIAL compaction: rewrite only the files overlapping a stats " +
        "range and/or under a size threshold (maintenance proportional " +
        "to the ill-maintained region, never the table) and commit one " +
        "new version; no-op when nothing qualifies",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("target_files", IntegerType, "number of rewritten output files"),
        inDefault("col", StringType, "NULL",
          "stats column of the range criterion (requires lo and hi)"),
        inDefault("lo", LongType, "NULL", "range lower bound (inclusive)"),
        inDefault("hi", LongType, "NULL", "range upper bound (inclusive)"),
        inDefault("smaller_than_bytes", LongType, "NULL",
          "rewrite only files under this size (binpack criterion)"),
        inDefault("sort_cols", StringType, "NULL",
          "comma-separated clustering columns for the rewritten region"),
        inDefault("zorder_dims", StringType, "NULL",
          "comma-separated z-order dimensions (>= 2; exclusive with sort_cols)")),
      versionFiles) { (s, root, args) =>
      val bounds = (args.str(2), args.long(3), args.long(4)) match {
        case (Some(c), Some(lo), Some(hi)) => Seq((c, lo, hi))
        case (None, None, None)            => Nil
        case _ => throw new IllegalArgumentException(
          "compact_where: col, lo, hi must be given together")
      }
      def csvAt(i: Int) = args.str(i).toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
      TxnTable.compactWhere(s, root, args.int(1), bounds,
        smallerThanBytes = args.long(5), sortCols = csvAt(6),
        zorderDims = csvAt(7))
    },

    proc(catalog, "zorder",
      "rewrite a snapshot z-ordered on N >= 2 dimensions (round-robin " +
        "Morton interleave - every dim prunes after interleaved appends) " +
        "and commit one new version",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("target_files", IntegerType, "number of output files"),
        in("dims", StringType, "comma-separated z-order dimensions (>= 2)")),
      versionFiles) { (s, root, args) =>
      val dims = args.str(2).toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
      TxnTable.compactZOrderTxn(s, root, args.int(1), dims)
    },

    proc(catalog, "compact_deletes",
      "fold live merge-on-read delete files into a clean copy-on-write " +
        "snapshot (merge-free reads; raw-file paths work again)",
      Seq(in("table", StringType, "table name, e.g. 'db.t'")),
      versionFiles) { (s, root, _) =>
      TxnTable.compactDeletes(s, root)
    },

    proc(catalog, "rewrite_position_deletes",
      "consolidate position-delete SIDECARS into target_files sorted " +
        "ones, dropping dangling entries — data files carry by path " +
        "(O(live tombstones), never a data rewrite; Iceberg's " +
        "rewrite_position_delete_files)",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        inDefault("target_files", IntegerType, "0",
          "number of consolidated sidecars (0 = auto-size by the " +
            "entries-per-sidecar budget)")),
      versionFiles) { (s, root, args) =>
      TxnTable.compactPosDeletes(s, root, args.int(1))
    },

    proc(catalog, "vacuum",
      "drop history (by count via retain_versions, or by age via " +
        "older_than_ms - exactly one; tag/branch-pinned versions are " +
        "kept either way) and delete data files no retained manifest " +
        "references",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        inDefault("retain_versions", IntegerType, "NULL",
          "newest N versions to keep"),
        inDefault("grace_ms", LongType, TxnTable.DefaultVacuumGraceMs.toString,
          "unreferenced files younger than this are presumed in-flight and kept"),
        inDefault("older_than_ms", LongType, "NULL",
          "expire versions committed before this epoch-ms instant " +
            "(undated legacy versions are never age-expired; the " +
            "current version always survives)")),
      new StructType()
        .add("n_versions", IntegerType).add("oldest_version", LongType)
        .add("newest_version", LongType)) { (s, root, args) =>
      val retain = (args.intOpt(1), args.long(3)) match {
        case (Some(r), None) => r
        case (None, Some(cut)) =>
          // commit instants are monotone with version, so age expiry IS
          // a retention count: drop the longest PREFIX of versions
          // provably committed before the cutoff (an undated legacy
          // manifest stops the prefix - never expire what you cannot
          // date); the head always survives
          val vs = TxnTable.versions(s, root)
          val expired = vs.segmentLength(v =>
            TxnTable.snapshot(s, root, v).tsMs.exists(_ < cut))
          math.max(1, vs.size - expired)
        case _ => throw new IllegalArgumentException(
          "vacuum needs exactly one of retain_versions / older_than_ms")
      }
      TxnTable.vacuum(s, root, retain,
        args.long(2).getOrElse(TxnTable.DefaultVacuumGraceMs))
      val vs = TxnTable.versions(s, root)
      InternalRow(vs.size, vs.head, vs.last)
    },

    proc(catalog, "orphan_files",
      "REPORT unreferenced data-pool files older than grace_ms (write-" +
        "attempt debris no manifest or branch can reach) " +
        "- dry-run only, deletes nothing",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        inDefault("grace_ms", LongType, TxnTable.DefaultVacuumGraceMs.toString,
          "unreferenced files younger than this are presumed in-flight and not reported")),
      new StructType().add("file", StringType).add("bytes", LongType)
        .add("modified_ms", LongType)) { (s, root, args) =>
      TxnTable.orphanFiles(s, root,
        args.long(1).getOrElse(TxnTable.DefaultVacuumGraceMs))
        .map { case (rel, bytes, mtime) =>
          InternalRow(UTF8String.fromString(rel), bytes, mtime)
        }.toArray
    },

    proc(catalog, "maintain_report",
      "ADVISE on table maintenance from already-recorded statistics " +
        "(manifest file sizes/row counts, sidecar footer metas, version " +
        "backlog) — one row per check with an observation and the " +
        "recommended procedure; read-only, zero data-page reads",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        inDefault("small_file_bytes", LongType, "33554432",
          "files under this size count as compaction candidates")),
      new StructType()
        .add("check", StringType).add("status", StringType)
        .add("observation", StringType).add("recommendation", StringType)) {
      (s, root, args) =>
      maintainReport(s, root, args.long(1).getOrElse(33554432L))
        .map { case (check, status, obs, rec) =>
          InternalRow(UTF8String.fromString(check),
            UTF8String.fromString(status), UTF8String.fromString(obs),
            UTF8String.fromString(rec))
        }.toArray
    },

    proc(catalog, "restore",
      "commit a new version whose content is an old version's (time " +
        "travel made current; history stays intact)",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("version", LongType, "the version to restore")),
      versionFiles) { (s, root, args) =>
      TxnTable.restore(s, root, args.long(1).get)
    },

    proc(catalog, "create_tag",
      "pin a version under an immutable name (vacuum never drops a " +
        "tagged version)",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("tag", StringType, "tag name"),
        in("version", LongType, "the version to pin")),
      new StructType().add("tag", StringType).add("version", LongType)) {
      (s, root, args) =>
      val v = args.long(2).get
      TxnTable.tagVersion(s, root, args.str(1).get, v)
      InternalRow(UTF8String.fromString(args.str(1).get), v)
    },

    proc(catalog, "create_branch",
      "cut a named mutable branch at a version (default: the current head)",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("branch", StringType, "branch name"),
        inDefault("version", LongType, "NULL", "fork point (default: head)")),
      new StructType().add("branch", StringType).add("fork_version", LongType)) {
      (s, root, args) =>
      TxnTable.createBranch(s, root, args.str(1).get, args.long(2))
      val fork = TxnTable.branches(s, root)(args.str(1).get)
      InternalRow(UTF8String.fromString(args.str(1).get), fork)
    },

    proc(catalog, "fast_forward",
      "advance main to a branch's head (refuses if main moved since the " +
        "fork — diverged history needs replay_branch)",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("branch", StringType, "branch name")),
      versionFiles) { (s, root, args) =>
      TxnTable.fastForward(s, root, args.str(1).get)
    },

    proc(catalog, "replay_branch",
      "re-apply a diverged branch's append commits onto the moved main, " +
        "one commit per branch commit (refuses on overlapping files or " +
        "non-append branch history)",
      Seq(
        in("table", StringType, "table name, e.g. 'db.t'"),
        in("branch", StringType, "branch name")),
      versionFiles) { (s, root, args) =>
      TxnTable.replayBranch(s, root, args.str(1).get)
    })

  /** The advisor's checks — pure functions of planning-scale state the
    * driver holds anyway (manifest lists/row counts, one `listStatus`
    * batch per data dir for sizes, sidecar FOOTER metas — JVM-cached,
    * no data pages). Thresholds are deliberately coarse: the report
    * recommends, the operator decides. Returns
    * `(check, status, observation, recommendation)` rows;
    * status ∈ ok | action. */
  private def maintainReport(s: SparkSession, root: String,
      smallBytes: Long): Seq[(String, String, String, String)] = {
    val snap = TxnTable.latest(s, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val base = root.stripSuffix("/")
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    // grouped listStatus, one driver call per parent dir (the same
    // batching the scan's planner uses)
    val sizes: Seq[Long] = snap.files
      .groupBy(f => f.take(f.lastIndexOf('/').max(0))).toSeq
      .flatMap { case (dir, rels) =>
        val names = rels.map(r =>
          new org.apache.hadoop.fs.Path(s"$base/$r").getName).toSet
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/$dir")).toSeq
          .filter(st => st.isFile && names.contains(st.getPath.getName))
          .map(_.getLen)
      }
    val rows = snap.files.flatMap(snap.rowCounts.get).sum
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String)]

    val small = sizes.count(_ < smallBytes)
    out += (if (small > math.max(8, snap.files.size / 4))
      ("small_files", "action",
        s"$small of ${snap.files.size} data files under $smallBytes B",
        s"CALL system.compact('<table>', ${math.max(1,
          (sizes.sum / math.max(smallBytes * 4, 1L)).toInt)}) or " +
          s"compact_where(smaller_than_bytes => $smallBytes)")
    else ("small_files", "ok",
      s"$small of ${snap.files.size} data files under $smallBytes B", ""))

    if (snap.deletes.nonEmpty) {
      val metas = GraftSidecars.metas(s, base, snap.deletes)
      val entries = metas.map(_.rows).sum
      if (snap.deletes.size > 8)
        out += (("pos_delete_sidecars", "action",
          s"${snap.deletes.size} sidecar files, $entries live entries",
          "CALL system.rewrite_position_deletes('<table>') — " +
            "per-statement sidecars are accumulating"))
      else
        out += (("pos_delete_sidecars", "ok",
          s"${snap.deletes.size} sidecar files, $entries live entries", ""))
      if (rows > 0 && entries * 20 > rows)
        out += (("pos_delete_ratio", "action",
          s"$entries tombstones over $rows rows (> 5%)",
          "CALL system.compact_deletes('<table>') — fold the debt " +
            "into a clean copy-on-write snapshot"))
      else
        out += (("pos_delete_ratio", "ok",
          s"$entries tombstones over $rows rows", ""))
    } else out += (("delete_debt", "ok", "no live delete files", ""))

    val nv = TxnTable.versions(s, root).size
    out += (if (nv > 64)
      ("version_backlog", "action", s"$nv retained versions",
        "CALL system.vacuum('<table>', retain_versions => 48) — " +
          "tag anything history-critical first")
    else ("version_backlog", "ok", s"$nv retained versions", ""))

    // segmented-manifest shape: refs re-chunk automatically at the
    // commit-side bound, so this is observational — the one actionable
    // state is historical-only segments a vacuum would collect
    if (snap.segs.nonEmpty)
      out += (("manifest_segments", "ok",
        s"${snap.segs.size} manifest segment refs over " +
          s"${snap.files.size} file entries (re-chunk bound 64, " +
          "commit-side, automatic)", ""))
    out.toSeq
  }

  // ---- plumbing --------------------------------------------------------

  private val versionFiles: StructType =
    new StructType().add("version", LongType).add("n_files", IntegerType)

  private def in(name: String, dt: DataType, comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).comment(comment).build()

  private def inDefault(name: String, dt: DataType, defaultSql: String,
                        comment: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(new DefaultValue(defaultSql))
      .comment(comment).build()

  /** Typed, null-aware access to the coerced argument row Spark hands
    * [[BoundProcedure.call]] (fields arrive in declared parameter
    * order, already cast to the parameters' types). */
  private[sources] final class Args(row: InternalRow) {
    def str(i: Int): Option[String] =
      if (row.isNullAt(i)) None else Some(row.getUTF8String(i).toString)
    def int(i: Int): Int = {
      require(!row.isNullAt(i), s"argument $i must not be null")
      row.getInt(i)
    }
    def intOpt(i: Int): Option[Int] =
      if (row.isNullAt(i)) None else Some(row.getInt(i))
    def long(i: Int): Option[Long] =
      if (row.isNullAt(i)) None else Some(row.getLong(i))
  }

  /** One maintenance procedure: parameter spec + a driver-side body
    * returning either a committed [[TxnTable.Snapshot]] (rendered as
    * `(version, n_files)`) or a pre-built result row matching
    * `resultSchema`. Bound and unbound are the same object — binding
    * has nothing to specialize, the signature is static. */
  private final class MaintenanceProcedure(
      catalog: GraftCatalog, procName: String, describe: String,
      params: Seq[ProcedureParameter], resultSchema: StructType)(
      body: (SparkSession, String, Args) => Any)
      extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String = describe
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false // mutates table state

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val args = new Args(input)
      val table = args.str(0).getOrElse(
        throw new IllegalArgumentException(s"$procName: table must not be null"))
      val spark = SparkSession.active
      val root = catalog.resolveTableRoot(table)
      val rows = body(spark, root, args) match {
        case snap: TxnTable.Snapshot =>
          Array[InternalRow](InternalRow(snap.version, snap.files.size))
        case r: InternalRow => Array(r)
        case rs: Array[InternalRow] => rs
      }
      util.Collections.singletonList[Scan](
        new MaintenanceResult(resultSchema, rows)).iterator()
    }
  }

  /** Driver-known scalars as the CALL statement's result set. */
  private final class MaintenanceResult(schema: StructType,
                                        out: Array[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = out
  }
}
