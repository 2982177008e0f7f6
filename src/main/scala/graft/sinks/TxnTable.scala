package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal transactional table format — a versioned snapshot log over
  * immutable parquet data files, closing the "no txn-log" caveat that
  * Scd/Incremental each carry in their scaladoc (the reference
  * has no table format at all: its sink is a raw JSON dump to object
  * storage + a Glue catalog pointer, reference: airflow/dags/
  * weather_data_dag.py's load step — atomicity/versioning is exactly
  * what a production user adds first).
  *
  * Layout (all under one table root):
  * {{{
  *   <root>/_txn/v0000000001.txt     snapshot manifests, one per commit
  *   <root>/data/<uuid>/part-*.parquet   immutable data files
  * }}}
  *
  * A manifest is a text file: header line `graft-txn v1 <op>`,
  * optional order-insensitive `#`-tagged metadata lines (`#schema` —
  * the table schema as of the commit, schema-on-read evolution per
  * [[evolve]]; `#ts` — the commit instant; `#delete` — merge-on-read
  * position-delete files, [[PosDeleteCols]]), then one
  * data-file path per line (relative to the table root). A snapshot is
  * the complete file list — never a delta — so a reader resolves ANY
  * version with one small-file read, O(files) not O(history).
  *
  * The four properties a txn log exists for, and how each is carried:
  *
  *  - '''Atomic commit''': writers stage data files first (under a
  *    fresh uuid dir nothing references), then publish by creating the
  *    next manifest with Hadoop `create(path, overwrite = false)`. The
  *    manifest appears all-or-nothing: a crash mid-stage leaves only
  *    unreferenced files (garbage for [[vacuum]], invisible to
  *    readers). The manifest itself is written tmp → atomic rename.
  *  - '''Snapshot isolation''': data files are immutable and a reader
  *    resolves its file list from ONE manifest — concurrent commits
  *    (appends, compactions) never change what an in-flight reader
  *    sees. This is why [[compactTxn]] is safe against live readers:
  *    it never rewrites a file in place.
  *  - '''Optimistic concurrency''': the next version number is the
  *    lock. Two writers racing to commit version N both stage, but
  *    `create(vN, overwrite = false)` succeeds for exactly one; the
  *    loser gets [[TxnConflictException]] and must re-resolve + retry.
  *    Every writer runs that retry through ONE loop, [[retrying]], and
  *    builds its next snapshot from the head it resolved
  *    (`head.copy(...)`), so the fields it does not change carry over.
  *    (On HDFS/ABFS atomic-create-no-overwrite is a filesystem
  *    guarantee; on S3 production systems delegate this one primitive
  *    to a coordinator — same architecture, different lock.)
  *  - '''Time travel''': [[readAsOf]] any retained version;
  *    [[vacuum]] bounds retention by dropping old manifests and then
  *    deleting data files no retained manifest references.
  *
  * Scale posture: the log adds O(1) small-file IO per commit and per
  * read-resolve; data IO is unchanged (readers get the same pruned
  * vectorized parquet scan — [[read]] hands Spark the exact file list).
  * At 100 TB the file LIST is the scaling concern (millions of files →
  * manifest size), which real formats shard into avro manifests +
  * manifest lists (Iceberg) — the single-manifest simplification is
  * deliberate and documented, the commit protocol is the real thing.
  */
object TxnTable {

  /** A commit that cannot land on the current head. `retry = false`
    * marks a verdict that re-resolving the head cannot change (a refused
    * row-level rebase): [[retrying]] rethrows it on the first throw. */
  final class TxnConflictException(msg: String, val retry: Boolean = true)
      extends RuntimeException(msg)

  /** One committed snapshot: `files` are table-root-relative; `stats`
    * optionally carries per-file per-COLUMN (min, max) of the recorded
    * long `statsCols`, written at commit time for manifest-level file
    * skipping on ANY of them ([[readPruned]]); `blooms` likewise per
    * file per recorded `bloomCols` ([[readPointLookup]]); `schema` is
    * the TABLE schema as of this snapshot (schema-on-read: files
    * written before a column existed simply read it as null);
    * `deletes` are merge-on-read position-delete files
    * ([[PosDeleteCols]]). Column ORDER is
    * meaningful: the first stats column is the table's primary
    * clustering column — the one [[compactTxn]] sorts by and the
    * column-less [[readPruned]]/`statsRange` compatibility paths
    * address. */
  final case class Snapshot(version: Long, op: String, files: Seq[String],
                            stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
                            statsCols: Seq[String] = Nil,
                            schema: Option[org.apache.spark.sql.types.StructType] = None,
                            blooms: Map[String, Map[String, Array[Byte]]] = Map.empty,
                            bloomCols: Seq[String] = Nil,
                            tsMs: Option[Long] = None,
                            deletes: Seq[String] = Seq.empty,
                            transforms: Seq[Transform] = Nil,
                            rowCounts: Map[String, Long] = Map.empty,
                            segs: Seq[String] = Nil,
                            delProv: Map[String, Seq[String]] = Map.empty) {
    /** Per-file range of one column (the file-keyed single-column view). */
    def statsOf(col: String): Map[String, (Long, Long)] =
      stats.flatMap { case (f, m) => m.get(col).map(f -> _) }
  }

  /** HIDDEN PARTITIONING (Iceberg-style partition transform): a derived
    * partition value recorded in the MANIFEST, not the schema — writers
    * cluster staged files by it automatically and each staged file's
    * transform value range lands in the manifest from the PATH alone
    * (zero data reads), so pruning on the transform is
    * layout-independent: it keeps working after appends interleave the
    * source column's raw ranges, because each file is split by
    * transform value at write time. Queries never see the column (it is
    * derived, never stored — the "hidden" in hidden partitioning);
    * pruning addresses it through [[readPruned]] by its derived name.
    *
    *  - `day(src)`   — epoch-day of a timestamp/date column; name
    *    `day_src`. The time-partitioning every fact table wants.
    *  - `bucket(n, src)` — `pmod(xxhash64(src), n)`; name
    *    `bucketN_src`. Point-lookup pruning on an unsorted key: an
    *    equality probe reads 1/n of the files regardless of layout.
    *
    * Cite: Iceberg partition-spec transforms (public spec §Partitioning
    * — identity/bucket/truncate/year/month/day/hour); same contract,
    * text-manifest envelope. */
  final case class Transform(kind: String, src: String, param: Int) {
    require(kind == "day" || kind == "bucket", s"unknown transform kind '$kind'")
    require(kind != "bucket" || param >= 1, s"bucket($param): need n >= 1")
    /** The derived column name per-file stats are recorded under. */
    def name: String = kind match {
      case "day"    => s"day_$src"
      case "bucket" => s"bucket${param}_$src"
    }
    /** The derived LONG value for a row of `df`. */
    private[sinks] def column: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions._
      kind match {
        case "day" => datediff(col(src).cast("date"),
          to_date(lit("1970-01-01"))).cast("long")
        case "bucket" => pmod(xxhash64(col(src)), lit(param.toLong))
      }
    }
  }
  object Transform {
    def day(src: String): Transform = Transform("day", src, 0)
    def bucket(n: Int, src: String): Transform = Transform("bucket", src, n)
  }

  private val Header = "graft-txn v1"
  // '#' cannot start a data-file path (paths are data/<uuid>/part-*)
  private val SchemaTag = "#schema\t"
  // commit wall-clock (epoch ms), for timestamp-based time travel
  private val TsTag = "#ts\t"
  // merge-on-read deletes: one `#delete` line per position-delete file.
  // Older manifests also carry `#delcol` with the delete key columns;
  // the parser accepts only the position key `_file _pos` there
  private val DelColTag = "#delcol\t"
  private val DeleteTag = "#delete\t"
  // recorded metadata column SETS, in priority order (first = primary
  // clustering column). Older manifests lack these tags; the reader
  // falls back to deriving them from the per-file fields.
  private val StatsColsTag = "#statscols\t"
  private val BloomColsTag = "#bloomcols\t"
  // hidden-partitioning transforms, one `kind:param:src` per tab-
  // separated field ([[Transform]]); carried by every commit like the
  // column sets
  private val TransformsTag = "#transforms\t"
  // CONSOLIDATION PROVENANCE: `#delprov\t<rel>\t<from...>` — the
  // delete files a [[compactPosDeletes]] output sidecar folded,
  // verbatim and complete. Makes "the delete set was preserved" a
  // MANIFEST FACT, so a row-level statement can rebase over concurrent
  // delete-file maintenance ([[admissibleUnderSnapshot]]) instead of
  // refusing on content it cannot re-derive. Unknown-#-line to old
  // readers; carried only while the sidecar is in the delete set.
  private val DelProvTag = "#delprov\t"

  /** SCHEMA EVOLUTION: the table schema after committing `incoming`
    * rows — prior columns keep their position, genuinely new columns
    * append. A shared name keeps its type EXCEPT for lossless WIDENING
    * (int→long, float→double and the integer chain below): an incoming
    * wider type widens the table schema in place, and readers cast old
    * files' narrower values up on read (the manifest records the new
    * schema; [[readAsOf]] pins every scan to it, and Spark's parquet
    * readers perform the INT32-under-LongType style promotion — the
    * same manifest-rule-not-reader-rewrite mechanics as Iceberg
    * `union_by_name` / Delta type widening). NARROWING is refused:
    * writers produce table-typed (or wider) data, a long column never
    * silently becomes int. Any other type change is refused outright
    * (silent coercion is how tables rot). An incoming frame MISSING
    * prior columns is fine (its files read those columns as null —
    * schema on read, the same contract parquet gives every warehouse
    * format). */
  /** from -> to is lossless: every `from` value is exactly
    * representable as a `to` value. */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
  }

  private[sinks] def evolve(prior: Option[org.apache.spark.sql.types.StructType],
                     incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = prior match {
    case None => incoming
    case Some(p) =>
      val evolved = p.fields.map { pf =>
        incoming.fields.find(_.name == pf.name) match {
          case Some(f) if f.dataType == pf.dataType => pf
          case Some(f) if widens(pf.dataType, f.dataType) =>
            pf.copy(dataType = f.dataType) // widen in place, keep position
          case Some(f) =>
            throw new IllegalArgumentException(
              s"schema evolution cannot change column '${f.name}': " +
                s"${pf.dataType.simpleString} -> ${f.dataType.simpleString} " +
                "(only lossless widening - byte/short/int->long, " +
                "float->double - is allowed; narrowing and other changes " +
                "are refused)")
          case None => pf
        }
      }
      org.apache.spark.sql.types.StructType(
        evolved ++ incoming.fields.filterNot(f => p.fieldNames.contains(f.name)))
  }

  /** [[evolve]] under a column mapping: refuses reserved (tombstone-
    * prefixed) incoming names and allocates fresh PHYSICAL names to
    * genuinely-new columns whose name collides with a physical name the
    * table already used (the re-added-after-drop case — without the
    * fresh name, old files' orphaned values would resurrect). Identical
    * to [[evolve]] for unmapped tables. */
  private def evolveM(prior: Option[org.apache.spark.sql.types.StructType],
                      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    ColumnMapping.requireNoReserved(incoming)
    ColumnMapping.allocate(prior, evolve(prior, incoming))
  }

  /** V1 boundary for the write paths that stage files OUTSIDE
    * [[stage]] (executor-staged row-level/streaming writes) or
    * replay raw files across schema epochs: they would need the
    * logical→physical rename threaded through machinery that does not
    * yet carry it, so a table with renamed/dropped columns refuses loud
    * instead of corrupting the mapping. */
  private def requireUnmapped(snap: Snapshot, what: String): Unit =
    snap.schema.foreach(sc => require(!ColumnMapping.hasMapping(sc),
      s"$what does not support a table with renamed/dropped columns yet " +
        s"(snapshot v${snap.version} carries a column mapping); use the " +
        "TxnTable Scala API (append/merge/delete/compact), which does"))

  private def fs(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/" + f"v$v%010d.txt")

  private val ManifestRe = "^v(\\d{10})\\.txt$".r

  /** All committed versions, ascending. */
  def versions(s: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(s"${root.stripSuffix("/")}/_txn")
    val f = fs(s, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(v) => Some(v.toLong)
      case _             => None
    }).sorted
  }

  // ---- segmented manifests -------------------------------------------
  /** Above this many file entries a commit writes a SEGMENTED manifest:
    * immutable `_txn/m_<id>.txt` segment files each holding a bounded
    * run of entry lines, referenced IN ORDER from the version file as
    * `@seg\t<name>\t<count>` items mixed freely with inline entry
    * lines. A commit then reuses by REFERENCE every parent segment
    * whose files survive contiguously with identical metadata — an
    * append writes O(delta) bytes (its own entries + a small ref list),
    * not O(table files), and a manifest load resolves refs through a
    * per-JVM cache of parsed segments, so repeated planning loads cost
    * O(new entries). Iceberg's manifest-list / manifest-file shape,
    * re-expressed in the text-native encoding; tables at or under the
    * threshold keep the single-file inline manifest byte-identically.
    * Reuse is VERIFIED per entry against the metadata this commit was
    * asked to record (never assumed from lineage), so the reuse hint
    * ([[lastSegs]]) can be stale or wrong without ever corrupting a
    * manifest — it only costs reuse. */
  val SegmentEntriesKey = "spark.graft.manifest.segmentEntries"
  private def segmentEntries(s: SparkSession): Int =
    s.conf.get(SegmentEntriesKey, "10000").toInt
  /** Past this many refs a commit re-chunks into fresh right-sized
    * segments — LSM-style amortization: ~1/64 of commits pay the O(N)
    * rewrite that keeps every later read's ref fan-out bounded. */
  private val MaxSegRefs = 64
  private val SegTag = "@seg\t"
  private val SegNameRe = "^m_[0-9a-f]{16}\\.txt$".r
  private def segPath(root: String, name: String): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/$name")

  /** One parsed per-file manifest entry: (path, range stats, blooms,
    * row count). */
  private type Entry = (String, Map[String, (Long, Long)],
    Map[String, Array[Byte]], Option[Long])

  /** Parsed-segment cache. Segments are immutable (uuid-named, written
    * create-no-overwrite, never rewritten), so cached parses never go
    * stale; bounded by approximate RETAINED BYTES (path chars, stat
    * map slots, decoded bloom arrays — a bloom-heavy table's
    * entries weigh hundreds of bytes each, so an entry-count budget
    * would silently pin GBs of driver heap), LRU. */
  private object SegCache {
    private val Budget = 128L << 20 // ~bytes of retained entries
    private def weigh(es: IndexedSeq[Entry]): Long = {
      var t = 0L
      es.foreach { e =>
        t += 64L + 2L * e._1.length + 64L * e._2.size
        e._3.valuesIterator.foreach(b => t += 48L + b.length)
      }
      t
    }
    private var total = 0L
    private val map =
      new java.util.LinkedHashMap[String, (IndexedSeq[Entry], Long)](
        64, 0.75f, true)
    def get(k: String): Option[IndexedSeq[Entry]] =
      synchronized(Option(map.get(k)).map(_._1))
    def put(k: String, v: IndexedSeq[Entry]): Unit = synchronized {
      if (!map.containsKey(k)) {
        val w = weigh(v)
        map.put(k, (v, w))
        total += w
        val it = map.entrySet().iterator()
        while (total > Budget && it.hasNext) {
          val e = it.next()
          if (e.getKey != k) { total -= e.getValue._2; it.remove() }
        }
      }
    }
    def clear(): Unit = synchronized { map.clear(); total = 0L }
  }

  /** Measurement/test hook: drop the parsed-segment cache and reuse
    * hints so the next manifest load pays the COLD path (segment fan-
    * out) and the next commit re-verifies reuse from disk. */
  private[graft] def dropSegCaches(): Unit = {
    SegCache.clear()
    SnapCache.clear()
    lastSegs.clear()
  }

  /** Reuse hint: the most recently parsed or committed manifest's
    * segment refs, per table root. A hint only — every reuse is
    * verified entry-by-entry at commit time. */
  private val lastSegs =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private def rootKey(root: String): String = root.stripSuffix("/")

  private def segEntries(s: SparkSession, root: String,
                         name: String): IndexedSeq[Entry] = {
    require(SegNameRe.matches(name), s"corrupt manifest: bad segment ref '$name'")
    val key = segPath(root, name).toString
    SegCache.get(key).getOrElse {
      val es = readSmallFile(s, root, segPath(root, name))
        .split("\n").toIndexedSeq.filter(_.nonEmpty).map(parseEntry)
      SegCache.put(key, es)
      es
    }
  }

  /** Parsed-SNAPSHOT cache. Version files are immutable once published
    * (create-no-overwrite CAS) — but a table DROPPED and RECREATED at
    * the same root reuses version paths, and a vacuumed version must
    * keep FAILING like an uncached read, so every hit is validated by
    * ONE stat against the recorded (length, mtime) of the file the
    * parse read (µs locally, one HEAD on an object store — against the
    * multi-second map assembly a million-entry parse costs, which every
    * operation's `latest()` would otherwise re-pay). Bounded by total
    * cached file entries, LRU. */
  private object SnapCache {
    private val Budget = 4000000L
    private val map =
      new java.util.LinkedHashMap[String, (Snapshot, Long, Long)](
        16, 0.75f, true)
    // Incremental weight accounting: `total` is maintained on put/remove
    // instead of re-summed over every cached snapshot per put (the
    // re-sum was O(cache entries) per COMMIT — fine at 64 tables,
    // measurable for a long-lived driver touching thousands).
    private var total = 0L
    private def weight(e: (Snapshot, Long, Long)): Long =
      e._1.files.size.toLong.max(1L)
    def get(k: String): Option[(Snapshot, Long, Long)] =
      synchronized(Option(map.get(k)))
    def put(k: String, v: Snapshot, len: Long, mtime: Long): Unit =
      synchronized {
        val prev = map.put(k, (v, len, mtime))
        if (prev != null) total -= weight(prev)
        total += weight((v, len, mtime))
        val it = map.entrySet().iterator()
        while (total > Budget && it.hasNext) {
          val e = it.next()
          if (e.getKey != k) { total -= weight(e.getValue); it.remove() }
        }
      }
    def clear(): Unit = synchronized { map.clear(); total = 0L }
  }

  /** Read one manifest. `refreshHint` only from [[latest]]: a time-
    * travel / branch / vacuum parse must not swap the commit-side
    * segment-reuse hint away from the head's refs. */
  def snapshot(s: SparkSession, root: String, version: Long): Snapshot =
    snapshot(s, root, version, refreshHint = false)
  private def snapshot(s: SparkSession, root: String, version: Long,
                       refreshHint: Boolean): Snapshot = {
    val p = manifestPath(root, version)
    val key = p.toString
    val st =
      try Some(fs(s, root).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    SnapCache.get(key) match {
      case Some((snap, len, mtime)) if st.exists(x =>
          x.getLen == len && x.getModificationTime == mtime) =>
        if (refreshHint) lastSegs.put(rootKey(root), snap.segs)
        snap
      case _ =>
        // missing or changed-on-disk (drop/recreate): re-read — a
        // vacuumed version surfaces the same missing-manifest error an
        // uncached read always threw
        val snap = parseManifest(s, root, version,
          readSmallFile(s, root, p), s"v$version", refreshHint)
        st.foreach(x => SnapCache.put(key, snap, x.getLen,
          x.getModificationTime))
        snap
    }
  }

  private def readSmallFile(s: SparkSession, root: String, p: Path): String = {
    val in = fs(s, root).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Parse one per-file entry line: `relpath` + optional tab-separated
    * metadata fields — `<col>:<min>:<max>` range stats, `rows:<n>`,
    * and/or `bloom:<col>:<base64>`, any number of each (readers of
    * older, field-less manifests interoperate: unknown absence = no
    * pruning). */
  private def parseEntry(l: String): Entry = {
    val fields = l.split("\t")
    val stat = Map.newBuilder[String, (Long, Long)]
    val bloom = Map.newBuilder[String, Array[Byte]]
    var rows: Option[Long] = None
    fields.drop(1).foreach {
      case b if b.startsWith("bloom:") =>
        val Array(_, c, b64) = b.split(":", 3)
        bloom += c -> java.util.Base64.getDecoder.decode(b64)
      // `rows:<n>` (exactly one colon) — a stats entry for a column
      // literally NAMED "rows" serializes with two colons, so the
      // encodings cannot collide
      case rc if rc.startsWith("rows:") && rc.count(_ == ':') == 1 =>
        rows = Some(rc.stripPrefix("rows:").toLong)
      // `nulls:<col>:<n>` — a per-file null count older commits
      // recorded and nothing read; skipped. "nulls" stays a RESERVED
      // stats-column name (rejected at serialize time), so such a
      // field is never a range.
      case nl if nl.startsWith("nulls:") && nl.count(_ == ':') == 2 =>
      case st =>
        val Array(c, lo, hi) = st.split(":")
        stat += c -> (lo.toLong, hi.toLong)
    }
    (fields.head, stat.result(), bloom.result(), rows)
  }

  private def parseManifest(s: SparkSession, root: String, version: Long,
                            text: String, what: String,
                            refreshHint: Boolean = false): Snapshot = {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head.startsWith(Header),
      s"corrupt manifest $what: bad header")
    // optional '#'-tagged metadata lines after the header — order-
    // insensitive so old readers/writers interoperate with new tags
    val schema = lines.find(_.startsWith(SchemaTag)).map { l =>
      org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix(SchemaTag))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val tsMs = lines.find(_.startsWith(TsTag)).map(_.stripPrefix(TsTag).toLong)
    lines.find(_.startsWith(DelColTag)).foreach { l =>
      val keyCols = l.stripPrefix(DelColTag).split("\t").toSeq.filter(_.nonEmpty)
      require(keyCols == PosDeleteCols,
        s"manifest $what at $root carries equality delete files keyed " +
          s"on '${keyCols.mkString(",")}'; only position deletes " +
          s"(${PosDeleteCols.mkString(",")}) are readable — rebuild the table")
    }
    val deletes = lines.filter(_.startsWith(DeleteTag))
      .map(_.stripPrefix(DeleteTag))
    def colsTag(tag: String): Option[Seq[String]] = lines.find(_.startsWith(tag))
      .map(_.stripPrefix(tag).split("\t").toSeq.filter(_.nonEmpty))
    // item lines, in file order: inline per-file entries mixed with
    // `@seg\t<name>\t<count>` segment refs ([[segmentedManifest]])
    val items = lines.tail.filterNot(_.startsWith("#"))
    val refs = items.filter(_.startsWith(SegTag)).map { l =>
      val Array(_, name, n) = l.split("\t", 3)
      (name, n.toInt)
    }
    // cold segments fan out on a SMALL DEDICATED pool — a 64-ref load
    // must not serialize 64 round trips, but blocking Hadoop reads on
    // ForkJoin.commonPool would starve unrelated parallel work on
    // small-CPU hosts and wrap segment require/IO failures in
    // ForkJoin exceptions (changing the error shape for corrupt refs);
    // failures rethrow as-is from the first failed segment
    locally {
      val missing = refs.map(_._1)
        .filter(n => SegCache.get(segPath(root, n).toString).isEmpty)
      if (missing.size > 1) {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(8, missing.size))
        try {
          val futs = missing.map(n => pool.submit(
            new java.util.concurrent.Callable[Unit] {
              def call(): Unit = { segEntries(s, root, n); () }
            }))
          futs.foreach(fu =>
            try fu.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            })
        } finally pool.shutdownNow()
      }
    }
    val entries = items.flatMap { l =>
      if (l.startsWith(SegTag)) {
        val Array(_, name, n) = l.split("\t", 3)
        val es = segEntries(s, root, name)
        require(es.size == n.toInt,
          s"corrupt manifest $what: segment $name holds ${es.size} " +
            s"entries, ref expects $n")
        es
      } else Seq(parseEntry(l))
    }
    // legacy manifests (no cols tags) derive the column sets from the
    // per-file fields — single-column by construction there
    val statsCols = colsTag(StatsColsTag).getOrElse(
      entries.flatMap(_._2.keys).distinct)
    val bloomCols = colsTag(BloomColsTag).getOrElse(
      entries.flatMap(_._3.keys).distinct)
    val transforms = colsTag(TransformsTag).getOrElse(Nil).map { t =>
      val Array(kind, param, src) = t.split(":", 3)
      Transform(kind, src, param.toInt)
    }
    val delSet = deletes.toSet
    val delProv = lines.filter(_.startsWith(DelProvTag)).flatMap { l =>
      val fields = l.stripPrefix(DelProvTag).split("\t").toSeq
      // tolerate (and drop) prov for a sidecar no longer in the set
      if (fields.size >= 2 && delSet.contains(fields.head))
        Some(fields.head -> fields.tail)
      else None
    }.toMap
    // refresh the commit-side reuse hint from HEAD parses only —
    // time-travel / branch / vacuum walks parse historical versions whose refs would
    // swap the hint away from the head between a committer's latest()
    // and its manifest build (reuse lost at best; combined with a
    // vacuumed re-chunk orphan, a dangling ref at worst — the commit
    // side also stats every reused segment for exactly that reason)
    if (refreshHint)
      lastSegs.put(rootKey(root), refs.map(_._1))
    Snapshot(version, lines.head.stripPrefix(Header).trim, entries.map(_._1),
      entries.collect { case (f, st, _, _) if st.nonEmpty => f -> st }.toMap,
      statsCols,
      schema,
      entries.collect { case (f, _, bl, _) if bl.nonEmpty => f -> bl }.toMap,
      bloomCols,
      tsMs, deletes, transforms,
      entries.collect { case (f, _, _, Some(n)) => f -> n }.toMap,
      segs = refs.map(_._1),
      delProv = delProv)
  }

  def latest(s: SparkSession, root: String): Option[Snapshot] =
    versions(s, root).lastOption.map(snapshot(s, root, _, refreshHint = true))

  /** [[latest]] or a clear error — the single head resolution every
    * read/write path starts from. Each public entry point resolves the
    * snapshot ONCE and threads it through (a concurrent commit between
    * two `latest()` calls inside one operation would otherwise mix two
    * versions' metadata, and every extra call pays a manifest
    * read+parse). */
  private def latestRequired(s: SparkSession, root: String): Snapshot =
    latest(s, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))

  /** The current table as a DataFrame — Spark gets the snapshot's exact
    * file list, so pruning/pushdown work as on any parquet scan. An
    * empty table (no snapshot yet, or an overwrite with 0 files) is an
    * error: schema-less empty reads have no principled schema. */
  def read(s: SparkSession, root: String): DataFrame =
    readAsOf(s, root, versions(s, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))

  /** Time travel: the table exactly as of `version`. With a recorded
    * schema the read is pinned to it (columns absent from older files
    * come back null); schema-less legacy snapshots infer from footers.
    * A snapshot carrying merge-on-read position-delete files (SQL
    * row-level statements in `merge-on-read` mode, [[deleteKeysMor]])
    * masks the deleted (file, row ordinal) pairs at read time. Those
    * positions were resolved against the data when the delete
    * committed, so rows a later version appended are never masked: the
    * read equals what a copy-on-write delete at the same version gives.
    * The merge is paid by readers until [[compactDeletes]] folds it in. */
  def readAsOf(s: SparkSession, root: String, version: Long): DataFrame =
    readSnap(s, root, snapshot(s, root, version))

  /** The read of ONE resolved snapshot (shared by [[readAsOf]] and
    * [[readSemiPruned]]'s fallback): schema-pinned file-list scan plus the merge-on-read
    * position mask when delete files are live. */
  private def readSnap(s: SparkSession, root: String, snap: Snapshot): DataFrame = {
    if (snap.files.isEmpty) {
      // an empty snapshot WITH a recorded schema is a principled read
      // (a just-created table, or a delete that emptied it); only the
      // schema-less empty read has no answer
      val sc = snap.schema.getOrElse(throw new IllegalStateException(
        s"snapshot v${snap.version} has no data files and no recorded schema"))
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        ColumnMapping.logicalView(sc))
    }
    // files hold PHYSICAL column names (frozen at column birth —
    // [[ColumnMapping]]); the scan pins the physical schema, the MoR
    // merge runs in physical space (delete files were written physical
    // too), and the result is aliased back to the logical names last.
    // Unmapped tables: physicalSchema == schema, alias is the identity.
    val data = scanFiles(s, root, snap, snap.files)
    val merged = maskDeletes(s, root, snap, data)
    snap.schema.fold(merged)(sc => ColumnMapping.aliasToLogical(merged, sc))
  }

  /** The columns of every merge-on-read delete file — POSITION deletes
    * (Iceberg's position-delete shape): each row is `(_file:
    * root-relative data file path, _pos: row ordinal within that
    * file)`. SQL row-level statements in `merge-on-read` mode
    * ([[commitDelta]]) and [[deleteKeysMor]] both write them. */
  private[graft] val PosDeleteCols: Seq[String] = Seq("_file", "_pos")

  /** Root-relative data-file path of a scanned row, derived from the
    * parquet metadata column: every staged path starts with `data/`
    * (stage() invariant), transform values can never be named `data`,
    * and the greedy prefix pins the LAST `/data/` occurrence, so a root
    * path that itself contains "data" cannot confuse it. */
  private[graft] def relFileCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    regexp_extract(col("_metadata.file_path"), "^.*/(data/.*)$", 1)
  }

  /** Apply the snapshot's merge-on-read deletes to a scan (`df` must
    * come from [[scanFiles]]): anti-join on the row's (root-relative
    * file, row ordinal) derived from the parquet metadata columns. The
    * join is global over whatever files the caller scanned, which is
    * what makes masking safe on any SUBSET of the snapshot's files
    * ([[compactWhere]]): idempotent and per-row, never per-file-set (a
    * position entry for a file outside the subset simply matches
    * nothing). */
  private def maskDeletes(s: SparkSession, root: String, snap: Snapshot,
                          df: DataFrame): DataFrame =
    if (snap.deletes.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val dels = readFiles(s, root, snap.deletes)
        .select(col("_file").as("_del_file"), col("_pos").as("_del_pos"))
        .distinct()
      val withId = df.withColumn("_gmask_file", relFileCol)
        .withColumn("_gmask_pos", col("_metadata.row_index"))
      withId.join(dels,
        withId("_gmask_file") === dels("_del_file") &&
          withId("_gmask_pos") === dels("_del_pos"), "left_anti")
        .drop("_gmask_file", "_gmask_pos")
    }

  /** Schema-pinned raw scan of `files`: pinned to the snapshot's
    * PHYSICAL schema (what the parquet bytes actually say — for a table
    * that never renamed/dropped a column this IS the recorded schema).
    * The result carries physical names; callers surfacing it to users
    * alias back via [[ColumnMapping.aliasToLogical]]. */
  private def scanFiles(s: SparkSession, root: String, snap: Snapshot,
                        files: Seq[String]): DataFrame =
    readPinned(s, root, files, snap.schema.map(ColumnMapping.physicalSchema))

  /** The boundary translation every column-name-taking entry point
    * runs its argument through: user-facing logical name → recorded
    * physical name. Identity for unmapped tables and for
    * transform-derived names. */
  private def physCol(snap: Snapshot, col: String): String =
    snap.schema.fold(col)(sc => ColumnMapping.physName(sc, col))

  /** Is physical column `pc` string-typed in the recorded schema? String
    * stats/blooms live in an ENCODED envelope ([[graft.functions
    * .Utf8Prefix64]] prefix bounds, xxhash64 blooms) — the long-typed
    * probe and metadata-aggregate entry points must refuse them rather
    * than compare raw longs against encodings (a wrong skip / a wrong
    * value, the silent class this format refuses loud). */
  private def isStringCol(snap: Snapshot, pc: String): Boolean =
    snap.schema.exists(_.fields.exists(f =>
      !ColumnMapping.isDropped(f) && ColumnMapping.physOf(f) == pc &&
        f.dataType == org.apache.spark.sql.types.StringType))

  private def requireNotString(snap: Snapshot, pc: String,
                               what: String, instead: String): Unit =
    require(!isStringCol(snap, pc),
      s"$what: '$pc' is a string column — its manifest metadata is " +
        s"prefix-encoded; use $instead")

  /** Rename a LOGICAL-named frame to the physical names before
    * staging. Identity for unmapped tables. */
  private def toPhys(df: DataFrame, snap: Snapshot): DataFrame =
    snap.schema.fold(df)(sc => ColumnMapping.toPhysical(df, sc))

  /** The version current as of wall-clock `epochMs`: the newest commit
    * whose recorded timestamp is ≤ the asked instant. Commit timestamps
    * live IN the manifest (not file mtimes — copies, backups and
    * restores of the directory must not rewrite history); legacy
    * manifests without one fall back to the manifest file's mtime. */
  def versionAt(s: SparkSession, root: String, epochMs: Long): Option[Long] =
    versions(s, root).reverse.find(commitTs(s, root, _) <= epochMs)

  /** One manifest's commit instant WITHOUT a full snapshot parse —
    * versionAt scans potentially many manifests and must not pay
    * schema-JSON + base64-bloom decoding per candidate. */
  private def commitTs(s: SparkSession, root: String, v: Long): Long = {
    val f = fs(s, root)
    val p = manifestPath(root, v)
    val in = f.open(p)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    text.split("\n").find(_.startsWith(TsTag))
      .map(_.stripPrefix(TsTag).toLong)
      .getOrElse(f.getFileStatus(p).getModificationTime)
  }

  /** Stage `df` as immutable parquet files under data/<uuid>/, return
    * their root-relative paths. Nothing references them until commit.
    * With `transforms`, the write FANS OUT by the derived partition
    * values (`partitionBy` on the derived columns, which parquet then
    * does NOT store — derived, never materialized), so every staged
    * file holds exactly ONE value per transform and its value is
    * recoverable from the path with zero data reads
    * ([[transformStats]]). `rel` is the staging dir, fresh by default
    * ([[withStagingDir]] passes its own). */
  private def stage(s: SparkSession, root: String, df: DataFrame,
                    transforms: Seq[Transform] = Nil,
                    rel: String = newStagingDir()): Seq[String] = {
    val dir = s"${root.stripSuffix("/")}/$rel"
    val f = fs(s, root)
    if (transforms.isEmpty) {
      df.write.mode("errorifexists").parquet(dir)
      f.listStatus(new Path(dir)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => s"$rel/${st.getPath.getName}")
    } else {
      transforms.foreach(t => require(df.columns.contains(t.src),
        s"transform ${t.name} needs source column '${t.src}'"))
      val withT = transforms.foldLeft(df)((d, t) =>
        d.withColumn(t.name, t.column))
      withT.write.mode("errorifexists")
        .partitionBy(transforms.map(_.name): _*).parquet(dir)
      val it = f.listFiles(new Path(dir), true)
      val out = Seq.newBuilder[String]
      val prefix = new Path(dir).toUri.getPath.stripSuffix("/") + "/"
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          out += s"$rel/${st.getPath.toUri.getPath.stripPrefix(prefix)}"
      }
      out.result()
    }
  }

  /** `staged` minus its zero-row parts, deleted here: Spark writes a
    * schema-only part for an empty result or union branch, and a commit
    * must not reference one. Counts come from the cached footers
    * [[commit]] reads anyway; an unreadable footer keeps its file. */
  private def dropEmptyParts(s: SparkSession, root: String,
                             staged: Seq[String]): Seq[String] = {
    prewarmFooters(s, root, staged)
    val (empty, kept) = staged.partition(footerRows(s, root, _).contains(0L))
    empty.foreach(p => fs(s, root).delete(new Path(root, p), false))
    kept
  }

  /** A fresh root-relative staging dir name, `data/<uuid>`. */
  private def newStagingDir(): String =
    s"data/${java.util.UUID.randomUUID().toString.take(8)}"

  /** Per-file transform stats from the staged PATHS alone: each
    * `name=value` segment a [[stage]] fan-out produced becomes a
    * `(value, value)` range entry under the transform's derived name —
    * manifest-level pruning metadata at zero data-read cost. A null
    * source value lands in the hive default partition and gets no
    * entry (that file is then never skipped — sound). */
  private def transformStats(staged: Seq[String], transforms: Seq[Transform])
      : Map[String, Map[String, (Long, Long)]] =
    if (transforms.isEmpty) Map.empty
    else staged.flatMap { file =>
      val entries = transforms.flatMap { t =>
        file.split("/").collectFirst {
          case seg if seg.startsWith(t.name + "=") =>
            seg.stripPrefix(t.name + "=")
        }.filter(_ != "__HIVE_DEFAULT_PARTITION__")
          .flatMap(v => scala.util.Try(v.toLong).toOption)
          .map(v => t.name -> (v, v))
      }.toMap
      if (entries.isEmpty) None else Some(file -> entries)
    }.toMap

  /** Per-file metadata a commit records for the files it adds: range
    * stats and blooms. */
  private type FileMeta = (Map[String, Map[String, (Long, Long)]],
    Map[String, Map[String, Array[Byte]]])

  /** [[fileMeta]] of freshly staged files plus their path-derived
    * [[transformStats]]. */
  private def stagedMeta(s: SparkSession, root: String, staged: Seq[String],
                         statsCols: Seq[String], bloomCols: Seq[String],
                         transforms: Seq[Transform]): FileMeta = {
    val (st, bl) = fileMeta(s, root, staged, statsCols, bloomCols)
    (mergeStats(st, transformStats(staged, transforms)), bl)
  }

  /** The head an append builds on when the table has no commit yet. */
  private val EmptyHead = Snapshot(0L, "", Nil)

  /** The next version of `head` with `files` added — the append shape;
    * every other field carries over. */
  private def appended(head: Snapshot, op: String, files: Seq[String],
                       meta: FileMeta,
                       rowCounts: Map[String, Long] = Map.empty): Snapshot =
    head.copy(version = head.version + 1, op = op, files = head.files ++ files,
      stats = head.stats ++ meta._1, blooms = head.blooms ++ meta._2,
      rowCounts = head.rowCounts ++ rowCounts)

  /** The next version of `head` keeping only its `carry` files, plus the
    * rewritten `files` — the copy-on-write shape; every other field
    * carries over. */
  private def partialRewrite(head: Snapshot, op: String, carry: Seq[String],
                             files: Seq[String], meta: FileMeta): Snapshot = {
    val keep = carry.toSet
    head.copy(version = head.version + 1, op = op, files = carry ++ files,
      stats = head.stats.view.filterKeys(keep).toMap ++ meta._1,
      blooms = head.blooms.view.filterKeys(keep).toMap ++ meta._2)
  }

  /** The next version after `head` whose content is `staged` alone — the
    * full-rewrite shape (compaction, delete fold): a FRESH snapshot, so
    * nothing of the old content (delete files, provenance) survives. */
  private def fullRewrite(s: SparkSession, root: String, head: Snapshot,
      op: String, staged: Seq[String], statsCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): Snapshot = {
    val (st, bl) = stagedMeta(s, root, staged, statsCols, head.bloomCols,
      head.transforms)
    Snapshot(head.version + 1, op, staged, st, statsCols, schema, bl,
      head.bloomCols, transforms = head.transforms)
  }

  /** Deep per-file merge of two stats maps (column maps union per file). */
  private def mergeStats(a: Map[String, Map[String, (Long, Long)]],
                         b: Map[String, Map[String, (Long, Long)]])
      : Map[String, Map[String, (Long, Long)]] =
    (a.keySet ++ b.keySet).map(f =>
      f -> (a.getOrElse(f, Map.empty) ++ b.getOrElse(f, Map.empty))).toMap

  /** Per-file commit metadata — [min, max] range stats and/or bloom
    * filters ([[graft.functions.BloomAgg]]) over the table's recorded
    * column SETS — the same economics as Iceberg manifests, which record
    * all tracked columns' stats from the write pass.
    *
    * Range stats come from the staged files' cached parquet footers
    * ([[FooterRange]]) whenever the footer proves them: a byte, short,
    * int or long column maps its footer min/max exactly (the cast to
    * long commutes with min and max), a string column through the
    * monotone [[graft.functions.Utf8Prefix64]] bounds of its footer
    * min/max. Every other (file, column) — a missing or partial
    * statistic (parquet drops min/max past 4 KB), INT96, float,
    * decimal, date or timestamp — and every bloom column fall back to
    * ONE groupBy(input_file_name) aggregate over just the files that
    * need it, carrying every such column's partials and merging
    * map-side; a commit whose footers prove everything launches no job
    * here. Every read is pinned to the first staged file's footer
    * schema ([[footerSchema]]), so no schema-inference job either.
    *
    * Bloom size calculus the caller owns: ~1.2 B per expected item at
    * 3% fpp, base64 in the manifest — right for point-lookup keys with
    * bounded per-file cardinality; a million-key file wants the filter
    * in a sidecar, which is where real formats keep it (the protocol
    * here is the point, not the envelope).
    *
    * Robust to evolution edges: a staged set that lacks a metadata
    * column entirely (an old-shape append — [[evolve]] allows it), or a
    * file whose column is all null, simply gets NO entry for that
    * column — absent metadata means "never skip this file", which is
    * always sound. */
  private def fileMeta(s: SparkSession, root: String, staged: Seq[String],
                       statsCols: Seq[String], bloomCols: Seq[String])
      : FileMeta = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min, xxhash64}
    import org.apache.spark.sql.types._
    if (staged.isEmpty || (statsCols.isEmpty && bloomCols.isEmpty))
      return (Map.empty, Map.empty)
    // every read pinned to ONE schema, the first staged file's
    val pinned = staged.headOption.flatMap(footerSchema(s, root, _))
    val schema = pinned.getOrElse(readPinned(s, root, staged, None).schema)
    val present = schema.fieldNames.toSet
    val sCols = statsCols.filter(present.contains)
    val bCols = bloomCols.filter(present.contains)
    if (sCols.isEmpty && bCols.isEmpty) return (Map.empty, Map.empty)
    // STRING columns record TRUNCATED BOUNDS in the same long envelope
    // ([[graft.functions.Utf8Prefix64]] — order-preserving 8-byte UTF-8
    // prefix; the upper bound increments when truncated, Iceberg's
    // lower/upper-bound semantics) and hash into their blooms with
    // Spark's own xxhash64 so probes re-derive the same value; every
    // other representable type keeps the integral cast (soundness note:
    // a float/double/decimal truncated toward zero still lands inside
    // any integral probe range that its row satisfies, so recorded
    // [min,max] of casts never mis-skips an integral probe).
    (sCols ++ bCols).distinct.foreach(c => require(
      metaRepresentable(schema(c).dataType),
      s"stats/bloom column '$c' has type ${schema(c).dataType.sql}, which " +
        "manifest range/bloom metadata cannot represent — declare a " +
        "numeric, boolean, date/timestamp, or string column instead"))
    def isStr(c: String): Boolean = schema(c).dataType == StringType
    // (file, column) -> the range its footer proves (None: all null; a
    // column the file lacks reads as null)
    val footerTyped = sCols.filter(c => schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    })
    prewarmFooters(s, root, staged)
    val proven: Map[(String, String), Option[(Long, Long)]] = (for {
      f <- staged
      c <- footerTyped
      m <- footerMeta(s, root, f)
      r <- if (!m.cols.contains(c)) Some(None)
           else m.ranges.get(c).filter(_.str == isStr(c)).map(_.range)
    } yield (f, c) -> r).toMap
    val aggCols = sCols.filter(c => staged.exists(f => !proven.contains((f, c))))
    val aggFiles =
      if (bCols.nonEmpty) staged
      else staged.filter(f => aggCols.exists(c => !proven.contains((f, c))))
    def loExpr(c: String) =
      if (isStr(c)) graft.functions.Utf8Prefix64.lowerCol(col(c)) else col(c).cast("long")
    def hiExpr(c: String) =
      if (isStr(c)) graft.functions.Utf8Prefix64.upperCol(col(c)) else col(c).cast("long")
    def hashExpr(c: String) =
      if (isStr(c)) xxhash64(col(c)) else col(c).cast("long")
    val aggs =
      aggCols.flatMap(c => Seq(min(loExpr(c)).as(s"lo_$c"),
        max(hiExpr(c)).as(s"hi_$c"))) ++
      bCols.map(c => graft.functions.BloomAgg
        .bloomAgg(hashExpr(c), BloomItemsPerFile, BloomFpp).as(s"bf_$c"))
    val rows =
      if (aggFiles.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else readPinned(s, root, aggFiles, pinned).groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    // input_file_name is a URI; staged paths are root-relative
    def fileOf(uri: String): Option[String] = staged.find(uri.endsWith)
    val aggStats: Map[(String, String), (Long, Long)] = rows.flatMap { r =>
      fileOf(r.getString(0)).toSeq.flatMap { f =>
        aggCols.zipWithIndex.flatMap { case (c, i) =>
          // all-null column in a file -> null min/max -> no entry
          if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
          else Some((f, c) -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        }
      }
    }.toMap
    val stats = staged.map { f =>
      f -> sCols.flatMap(c =>
        proven.getOrElse((f, c), aggStats.get((f, c))).map(c -> _)).toMap
    }.filter(_._2.nonEmpty).toMap
    val bloomBase = 1 + 2 * aggCols.size
    val blooms = rows.flatMap { r =>
      fileOf(r.getString(0)).map { f =>
        f -> bCols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getAs[Array[Byte]](bloomBase + i)).map(c -> _)
        }.toMap
      }
    }.filter(_._2.nonEmpty).toMap
    (stats, blooms)
  }

  private val BloomItemsPerFile = 10000L
  private val BloomFpp = 0.03

  /** Can the manifest's range/bloom metadata represent a column of type
    * `t`? Integral/boolean/date/timestamp cast to long exactly;
    * float/double/decimal truncate toward zero (still sound for
    * integral probes, see [[fileMeta]]); strings carry truncated prefix
    * bounds + hashed blooms. Everything else (binary, arrays, structs,
    * maps, variants) refuses at commit — the alternative is the silent
    * no-op this rule replaced. */
  private def metaRepresentable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType | TimestampNTZType | FloatType |
           DoubleType | StringType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Footer-level metadata of one data file: record count, the leaf
    * columns the footer carries, per-column [[FooterRange]]s where
    * every chunk proves one, and the source of
    * the file's Spark schema ([[footerSchema]]). Data files are
    * immutable, so this never changes — cached per JVM keyed by
    * absolute path; one footer read per file per process lifetime, no
    * data pages touched. */
  private final case class FooterMeta(rows: Long, cols: Set[String],
                                      ranges: Map[String, FooterRange],
                                      schema: Either[org.apache.parquet.schema.MessageType, String])

  /** A top-level column's [min, max] as its footer statistics prove it,
    * in the manifest's long envelope: `str` columns carry the
    * [[graft.functions.Utf8Prefix64]] bounds of the footer's min and
    * max, signed INT32/INT64 columns the values themselves. Both maps
    * are monotone, so this is exactly the aggregate of [[fileMeta]] over
    * the rows. `range` None: every value is null. */
  private final case class FooterRange(str: Boolean, range: Option[(Long, Long)])

  private val footerMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, FooterMeta]()

  /** A parquet file's [[FooterMeta]] — pure metadata, the same numRows /
    * min/max statistics parquet writers record for every
    * engine's pushdown. None if the footer is unreadable (the file then
    * gets no manifest count and metadata aggregates refuse). */
  private def footerMeta(s: SparkSession, root: String, file: String): Option[FooterMeta] = {
    val abs = s"${root.stripSuffix("/")}/$file"
    Option(footerMetaCache.get(abs)).orElse {
      val m = scala.util.Try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(abs), s.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val cols = Set.newBuilder[String]
          // None = some chunk proves no range (no kind, no statistic)
          val ranges = scala.collection.mutable.HashMap[String, Option[FooterRange]]()
          r.getFooter.getBlocks.asScala.foreach { b =>
            b.getColumns.asScala.foreach { c =>
              val name = c.getPath.toDotString
              cols += name
              val cr = chunkRange(c)
              ranges(name) = ranges.get(name).fold(cr)(prev => for {
                a <- prev; x <- cr
              } yield FooterRange(a.str, (a.range ++ x.range).reduceOption((p, q) =>
                (math.min(p._1, q._1), math.max(p._2, q._2)))))
            }
          }
          val fm = r.getFooter.getFileMetaData
          val key = Option(fm.getKeyValueMetaData.get(SparkSchemaKey))
          FooterMeta(r.getRecordCount, cols.result(),
            ranges.collect { case (k, Some(v)) => k -> v }.toMap,
            // interned: every file a write staged carries the same JSON
            key.map(_.intern()).toRight(fm.getSchema))
        } finally r.close()
      }.toOption
      m.foreach(footerMetaCache.put(abs, _))
      m
    }
  }

  /** The footer key under which Spark's parquet writer stores the row
    * schema (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One column chunk's [[FooterRange]], None when the chunk cannot
    * prove one: a nested or repeated leaf, a type whose long envelope
    * is not the raw statistic (unsigned, INT96, float, decimal, date,
    * timestamp, non-string binary), or a statistic that is missing or
    * partial — parquet drops min/max past 4 KB, so a long string's
    * chunk records only its null count. */
  private def chunkRange(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[FooterRange] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    import org.apache.parquet.schema.Type.Repetition.REPEATED
    val t = c.getPrimitiveType
    val str: Option[Boolean] = (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case _ if c.getPath.size != 1 || t.getRepetition == REPEATED => None
      case (INT32 | INT64, null)                                   => Some(false)
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned => Some(false)
      case (BINARY, _: StringLogicalTypeAnnotation)                => Some(true)
      case _                                                       => None
    }
    val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
    str.filter(_ => st != null).flatMap { isStr =>
      if (st.hasNonNullValue) Some(FooterRange(isStr, Some(
        if (isStr) {
          def utf8(v: Any) = org.apache.spark.unsafe.types.UTF8String.fromBytes(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
          (graft.functions.Utf8Prefix64.lower(utf8(st.genericGetMin)),
            graft.functions.Utf8Prefix64.upper(utf8(st.genericGetMax)))
        } else {
          def long(v: Any) = v.asInstanceOf[Number].longValue
          (long(st.genericGetMin), long(st.genericGetMax))
        })))
      else if (st.isNumNullsSet && st.getNumNulls == c.getValueCount)
        Some(FooterRange(isStr, None))
      else None
    }
  }

  /** The Spark schema of an internal file as its footer records it —
    * the schema Spark's non-merging parquet inference reads from the
    * same footer (the writer's row-schema key, else the converted
    * parquet schema), with no inference job. None for an unreadable
    * footer or a key this JSON parser does not read. */
  private def footerSchema(s: SparkSession, root: String, file: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    footerMeta(s, root, file).flatMap(_.schema.fold(
      ps => Some(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(s.sessionState.conf).convert(ps)),
      json => scala.util.Try(DataType.fromJson(json)).toOption.collect {
        case st: StructType => st
      }))
  }

  /** Raw scan of internal files — data files or position sidecars —
    * pinned to the first file's [[footerSchema]], the file
    * Spark's own inference would touch. Inference would cost a Spark job
    * per read; an unreadable first footer falls back to it. */
  private[graft] def readFiles(s: SparkSession, root: String,
                               files: Seq[String]): DataFrame =
    readPinned(s, root, files, files.headOption.flatMap(footerSchema(s, root, _)))

  /** Raw scan of root-relative `files` under `schema`; None infers it. */
  private def readPinned(s: SparkSession, root: String, files: Seq[String],
                         schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val base = root.stripSuffix("/")
    schema.fold(s.read)(s.read.schema).parquet(files.map(f => s"$base/$f"): _*)
  }

  private def footerRows(s: SparkSession, root: String, file: String): Option[Long] =
    footerMeta(s, root, file).map(_.rows)

  /** Warm the footer cache for `files` on the common ForkJoin pool —
    * the commit path completes row counts for EVERY carried file, and
    * a 10⁵-file commit must not serialize 10⁵ footer round trips on the
    * driver (measured: the dominant commit cost before this existed —
    * see `graft.BenchPlanning`). IO-bound, one small read per UNCACHED
    * file; cached files cost a map probe. */
  private def prewarmFooters(s: SparkSession, root: String,
                             files: Seq[String]): Unit = {
    val base = root.stripSuffix("/")
    val missing = files.filter(f => !footerMetaCache.containsKey(s"$base/$f"))
    if (missing.length > 1) {
      import scala.jdk.CollectionConverters._
      missing.asJava.parallelStream().forEach(f => { footerMeta(s, root, f); () })
    }
  }

  /** Complete `known` to a count for every file in `files` via cached
    * footer reads — the backfill that makes every NEW commit carry full
    * row counts even on tables whose older manifests predate them. */
  private def completeCounts(s: SparkSession, root: String, files: Seq[String],
                             known: Map[String, Long]): Map[String, Long] = {
    prewarmFooters(s, root, files.filterNot(known.contains))
    files.flatMap(f =>
      known.get(f).orElse(footerRows(s, root, f)).map(f -> _)).toMap
  }

  /** The optimistic-retry loop every writer runs around [[commit]]:
    * re-runs `body` only when it loses a commit race
    * ([[TxnConflictException]] with `retry`), at most `attempts` runs in
    * all, then rethrows the last conflict. Any other exception — a
    * refused rebase included — propagates on its first throw. `body`
    * re-resolves the head itself; work staged once lives outside it. */
  private[sinks] def retrying[A](attempts: Int)(body: => A): A = {
    require(attempts >= 1, "need at least one attempt")
    @scala.annotation.tailrec
    def run(attempt: Int): A = {
      val out =
        try Some(body)
        catch { case e: TxnConflictException if e.retry && attempt < attempts => None }
      out match {
        case Some(a) => a
        case None    => run(attempt + 1)
      }
    }
    run(1)
  }

  /** Attempt budget of the writer paths: metadata commits, appends,
    * MoR deletes and delete-file maintenance. */
  private val WriterAttempts = 5

  /** Attempt budget of a row-level commit under snapshot isolation (a
    * rebase re-validates per attempt); serializable isolation gets 1. */
  private val RowLevelAttempts = 12

  /** Publish `next` as version `next.version` — tmp write + atomic rename
    * into the create-no-overwrite slot. Throws [[TxnConflictException]]
    * if a concurrent writer took the slot first. Writers build `next`
    * from the head they resolved (`head.copy(version = head.version + 1,
    * op = ..., <the fields that change>)`), so every field they leave
    * alone carries forward; `tsMs` and `segs` are this commit's own. */
  private[sinks] def commit(s: SparkSession, root: String, next: Snapshot,
                            branch: Option[String] = None): Snapshot = {
    val v = next.version
    val f = fs(s, root)
    val dst = branch.fold(manifestPath(root, v))(branchManifestPath(root, _, v))
    f.mkdirs(dst.getParent)
    if (f.exists(dst))
      throw new TxnConflictException(s"version $v already committed at $root")
    val tmp = new Path(dst.getParent,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val snap = next.copy(tsMs = Some(System.currentTimeMillis()),
      // every commit carries a complete per-file row-count map (passed-in
      // counts first, cached footer reads for the rest) — the metadata
      // COUNT(*) ([[metaCount]]) then works on any table from its next
      // commit onward, including tables whose older manifests predate
      // row-count recording
      rowCounts = completeCounts(s, root, next.files, next.rowCounts),
      // provenance lives only while its sidecar is in the delete set
      delProv = next.delProv.view.filterKeys(next.deletes.toSet).toMap,
      segs = Nil)
    // at or under the segment threshold the single-file inline manifest
    // is written byte-identically to every prior round — INCLUDING a
    // table that SHRANK back under it (a segmented parent never forces
    // refs on an under-threshold child); past it, segment with
    // parent-ref reuse
    val segTarget = segmentEntries(s)
    val (text, segNames) =
      if (snap.files.size <= segTarget) (serializeManifest(snap), Nil)
      else segmentedManifest(s, root, snap, segTarget)
    val out = f.create(tmp, false)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // ATOMIC no-overwrite publish — the commit protocol's CAS. On a
    // POSIX local filesystem rename() silently REPLACES an existing
    // destination, so exists()+rename is a raceable window in which two
    // writers both "win" a version slot and one manifest is silently
    // lost (a real lost append, caught by the isolation race spec):
    // publish via hard LINK there — link() fails with EEXIST atomically
    // in the kernel, a true compare-and-swap. HDFS-like filesystems
    // keep rename (their rename refuses an existing destination).
    // Scheme via getUri — the base FileSystem.getScheme() throws
    // UnsupportedOperationException on filesystems that never
    // overrode it, and this branch pick must work on ALL of them.
    val published =
      if (f.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath),
            java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath))
          f.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !f.exists(dst) && f.rename(tmp, dst)
    if (!published) {
      f.delete(tmp, false)
      throw new TxnConflictException(s"lost commit race for version $v at $root")
    }
    lastSegs.put(rootKey(root), segNames)
    snap.copy(segs = segNames)
  }

  /** Refuse a snapshot the manifest encoding cannot carry — commit (and
    * the staged-append envelope) is the choke point. */
  private def requireEncodable(snap: Snapshot): Unit = {
    (snap.statsCols ++ snap.bloomCols).foreach(c => require(
      !c.contains("\t") && !c.contains(":") && !c.contains("\n"),
      s"metadata column name '$c' collides with the manifest encoding"))
    // "nulls" is reserved: a stats column so named would serialize as
    // `nulls:<lo>:<hi>`, indistinguishable from the per-file null-count
    // field `nulls:<col>:<n>` of older manifests, which the parser skips
    require(!snap.statsCols.contains("nulls"),
      "'nulls' is a reserved stats-column name in the manifest encoding")
    // refuse-or-record: a declared metadata column whose type the
    // manifest encoding cannot represent refuses HERE instead of
    // silently recording nothing — the silent no-op made every probe on
    // such a column a full-manifest scan while looking indexed.
    // Representable: integral/boolean/date/timestamp (exact long
    // casts), float/double/decimal (truncated casts, sound for integral
    // probes — see [[fileMeta]]), and string (truncated prefix bounds /
    // hashed blooms). Transform-derived names (day_x / bucketN_x) are
    // long by construction and absent from the schema; columns a
    // schema-less legacy manifest can't type pass (absent metadata
    // never skips).
    snap.schema.foreach { sc =>
      (snap.statsCols ++ snap.bloomCols).distinct.foreach { c =>
        sc.fields.find(f => ColumnMapping.physOf(f) == c).foreach(f =>
          require(metaRepresentable(f.dataType),
            s"stats/bloom column '$c' has type ${f.dataType.sql}, which " +
              "manifest range/bloom metadata cannot represent — declare a " +
              "numeric, boolean, date/timestamp, or string column instead"))
      }
    }
  }

  /** Manifest text: header, the `#`-tagged metadata lines, then `items`
    * (inline entry lines and/or segment refs) in file order. */
  private def manifestText(snap: Snapshot, items: Seq[String]): String = {
    val delLines = snap.deletes.map(DeleteTag + _) ++
      snap.deletes.flatMap(d => snap.delProv.get(d).filter(_.nonEmpty)
        .map(from => DelProvTag + d + "\t" + from.mkString("\t")))
    val colLines =
      (if (snap.statsCols.nonEmpty) Seq(StatsColsTag + snap.statsCols.mkString("\t"))
       else Seq.empty) ++
      (if (snap.bloomCols.nonEmpty) Seq(BloomColsTag + snap.bloomCols.mkString("\t"))
       else Seq.empty) ++
      (if (snap.transforms.nonEmpty) Seq(TransformsTag + snap.transforms
        .map(t => s"${t.kind}:${t.param}:${t.src}").mkString("\t"))
       else Seq.empty)
    val lines = snap.tsMs.map(TsTag + _).toSeq ++
      snap.schema.map(sc => SchemaTag + sc.json).toSeq ++
      colLines ++ delLines ++ items
    s"$Header ${snap.op}\n" + lines.mkString("\n") + "\n"
  }

  /** The single-file inline manifest of `snap`. */
  private def serializeManifest(snap: Snapshot): String = {
    requireEncodable(snap)
    manifestText(snap, snap.files.map(entryLine(snap, _)))
  }

  /** Serialize ONE per-file entry line ([[parseEntry]]'s inverse).
    * EVERY recorded per-file field is persisted, not just the current
    * column lists' — an append that overrides statsCols/bloomCols must
    * not silently discard prior files' recorded metadata for the
    * previously-recorded columns (absent entries are sound — the files
    * are then always kept — but a silent pruning regression). The
    * column lists say what NEW writes record; the per-file fields say
    * what IS recorded. Current columns first (reader-friendly), then
    * any carried extras in sorted order for byte-stable manifests. */
  private def entryLine(snap: Snapshot, file: String): String = {
    val fileStats = snap.stats.getOrElse(file, Map.empty)
    val fileBlooms = snap.blooms.getOrElse(file, Map.empty)
    (fileStats.keys ++ fileBlooms.keys).foreach(c => require(
      !c.contains("\t") && !c.contains(":") && !c.contains("\n") && c != "nulls",
      s"metadata column name '$c' collides with the manifest encoding"))
    def ordered(recorded: Seq[String], present: Iterable[String]): Seq[String] =
      recorded.filter(present.toSet) ++
        present.toSeq.filterNot(recorded.toSet).sorted
    val statF = ordered(snap.statsCols, fileStats.keys).map { c =>
      val (lo, hi) = fileStats(c); s"$c:$lo:$hi" }
    val bloomF = ordered(snap.bloomCols, fileBlooms.keys).map(c =>
      s"bloom:$c:${java.util.Base64.getEncoder.encodeToString(fileBlooms(c))}")
    // per-file row count first (reader-friendly: fixed position when
    // present); absent for legacy files — metadata aggregates then
    // answer None rather than guess ([[metaCount]])
    val rowsF = snap.rowCounts.get(file).map(n => s"rows:$n").toSeq
    (file +: (rowsF ++ statF ++ bloomF)).mkString("\t")
  }

  /** The parsed form of `file`'s entry in `snap`. */
  private def entryOf(snap: Snapshot, file: String): Entry =
    (file, snap.stats.getOrElse(file, Map.empty),
      snap.blooms.getOrElse(file, Map.empty), snap.rowCounts.get(file))

  /** Does segment entry `e` record EXACTLY the metadata `snap` asks to
    * persist for its file? The correctness anchor of segment reuse: a
    * ref is emitted only when the parsed segment round-trips to the
    * intended entries. */
  private def entryMatches(e: Entry, snap: Snapshot): Boolean = {
    val (f, st, bl, rw) = e
    st == snap.stats.getOrElse(f, Map.empty) &&
      rw == snap.rowCounts.get(f) && {
        val b2 = snap.blooms.getOrElse(f, Map.empty)
        bl.keySet == b2.keySet &&
          bl.forall { case (c, v) => java.util.Arrays.equals(v, b2(c)) }
      }
  }

  /** Build the SEGMENTED manifest text for `snap`: reuse every parent
    * segment whose file list survives as a contiguous run of the new
    * file order with entry-identical metadata; the uncovered remainder
    * is written as fresh right-sized segments (large runs) or inline
    * lines (small runs). Returns (version-file text, refs in order).
    * Side effect: writes the new segment files (immutable,
    * create-no-overwrite) — orphaned by a lost commit race, they are
    * collected by [[vacuum]]'s grace-guarded segment sweep. */
  private def segmentedManifest(s: SparkSession, root: String,
      snap: Snapshot, segTarget: Int): (String, Seq[String]) = {
    requireEncodable(snap)
    val files = snap.files
    val idx: Map[String, Int] = files.iterator.zipWithIndex.toMap
    // a duplicate path would make run-mapping ambiguous; the commit
    // validation refuses it upstream, so just disable reuse then
    val hint =
      if (idx.size == files.size)
        Option(lastSegs.get(rootKey(root))).getOrElse(Nil)
      else Nil
    final case class Run(start: Int, len: Int, name: String)
    val fsys = fs(s, root)
    val candidate = hint.flatMap { name =>
      val es =
        try segEntries(s, root, name)
        catch { case scala.util.control.NonFatal(_) => IndexedSeq.empty }
      // the hint segment was written by a PARENT commit, and SegCache
      // verification alone cannot prove the file still exists — a
      // re-chunk orphan can stay cached (entries matching!) after
      // vacuum reclaimed it, and publishing a ref to it would make the
      // table unreadable from fresh JVMs. One stat per hint segment
      // (≤ MaxSegRefs) buys the existence fact from disk.
      if (es.isEmpty || !fsys.exists(segPath(root, name))) None
      else {
        val pos = es.map(e => idx.getOrElse(e._1, -1))
        val start = pos.head
        val contiguous = start >= 0 &&
          pos.iterator.zipWithIndex.forall { case (p, k) => p == start + k }
        if (contiguous && es.forall(entryMatches(_, snap)))
          Some(Run(start, es.size, name))
        else None
      }
    }
    // a stale hint could in principle carry overlapping runs — keep a
    // non-overlapping prefix in file order
    val sorted = candidate.sortBy(_.start)
    val runs0 = sorted.foldLeft(Seq.empty[Run]) { (acc, r) =>
      if (acc.nonEmpty && r.start < acc.last.start + acc.last.len) acc
      else acc :+ r
    }
    // ref-count bound: past MaxSegRefs the manifest re-chunks from
    // scratch — the amortized rewrite that keeps read fan-out bounded
    val runs = if (runs0.size >= MaxSegRefs) Nil else runs0
    // fresh-segment size: at least segTarget, but scaled so a re-chunk
    // of an N-file table lands at ≤ MaxSegRefs/2 refs — a table past
    // MaxSegRefs*segTarget files must NOT re-chunk into >= MaxSegRefs
    // segments, or reuse stays disabled and every later append pays
    // the full O(N) rewrite (the amortization this feature exists for)
    val chunk = math.max(segTarget.toLong,
      2L * files.size / MaxSegRefs + 1).toInt
    val newSegs = Seq.newBuilder[String]
    val items = Seq.newBuilder[String]
    def writeSegment(range: Range): Unit = {
      val name = "m_" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(16) + ".txt"
      val lines = range.map(i => entryLine(snap, files(i)))
      val out = fsys.create(segPath(root, name), false)
      try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      SegCache.put(segPath(root, name).toString,
        range.map(i => entryOf(snap, files(i))).toIndexedSeq)
      newSegs += name
      items += s"$SegTag$name\t${range.size}"
    }
    def emitGap(from: Int, until: Int): Unit = if (until > from) {
      val len = until - from
      if (len <= segTarget / 2)
        (from until until).foreach(i => items += entryLine(snap, files(i)))
      else (from until until by chunk).foreach(a =>
        writeSegment(a until math.min(a + chunk, until)))
    }
    var pos = 0
    runs.foreach { r =>
      emitGap(pos, r.start)
      newSegs += r.name
      items += s"$SegTag${r.name}\t${r.len}"
      pos = r.start + r.len
    }
    emitGap(pos, files.size)
    (manifestText(snap, items.result()), newSegs.result())
  }

  private def nextVersion(s: SparkSession, root: String): Long =
    versions(s, root).lastOption.getOrElse(0L) + 1

  /** CREATE TABLE: commit an EMPTY v1 carrying the schema and the
    * table's metadata-column/transform spec — the catalog-first flow
    * (`CREATE TABLE` then append) every SQL user expects, and what
    * [[graft.sources.GraftCatalog]] runs for `spark.sql("CREATE TABLE
    * graft_cat.db.t ...")`. Later [[append]]s inherit the recorded
    * statsCols/bloomCols/transforms exactly as they inherit them from
    * any other prior snapshot; reading the empty table yields an empty
    * DataFrame with the recorded schema. */
  def createEmpty(s: SparkSession, root: String,
                  schema: org.apache.spark.sql.types.StructType,
                  statsCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  transforms: Seq[Transform] = Nil): Snapshot = {
    require(latest(s, root).isEmpty, s"table already exists at $root")
    transforms.foreach(t => require(schema.fieldNames.contains(t.src),
      s"transform ${t.name} needs source column '${t.src}'"))
    commit(s, root, Snapshot(1L, "create", Seq.empty, statsCols = statsCols,
      schema = Some(schema), bloomCols = bloomCols, transforms = transforms))
  }

  /** ALTER TABLE: commit a METADATA-ONLY new version — same files, same
    * stats/blooms/deletes/transforms — with an evolved schema and/or
    * replaced metadata-column sets (`statsCols`/`bloomCols`).
    *
    * Schema changes are the format's write-path evolution rules applied
    * from DDL instead of from an append ([[evolve]] validates): ADD a
    * trailing NULLABLE column (older files read it as null — the same
    * schema-on-read every reader already honors) or LOSSLESSLY WIDEN a
    * column in place (byte/short/int→long, float→double; the vectorized
    * parquet reader upcasts the old physical types). RENAME and DROP are
    * metadata-only through the COLUMN MAPPING ([[ColumnMapping]]:
    * physical names freeze at birth, drops tombstone, reborn names get
    * fresh physical identities — the Iceberg/Delta column-mapping
    * semantics). Narrowing and reorders still refuse loud.
    *
    * Replacing `statsCols`/`bloomCols` changes what FUTURE appends
    * record; existing files keep (only) their recorded entries, so
    * pruning on a newly-added column simply cannot skip old files —
    * absent metadata never skips, the standing soundness rule.
    *
    * Metadata-only, optimistic-retry through [[retrying]]. */
  def alterTable(s: SparkSession, root: String,
                 newSchema: Option[org.apache.spark.sql.types.StructType] = None,
                 newStatsCols: Option[Seq[String]] = None,
                 newBloomCols: Option[Seq[String]] = None,
                 renames: Seq[(String, String)] = Nil,
                 drops: Seq[String] = Nil): Snapshot =
    retrying(WriterAttempts) {
      val cur = latestRequired(s, root)
      var storage = cur.schema
      if (renames.nonEmpty || drops.nonEmpty) {
        var sc = storage.getOrElse(throw new IllegalStateException(
          s"table at $root has no recorded schema to alter — append once first"))
        // RENAME COLUMN: logical name changes, the physical (file) name
        // freezes to the birth name — metadata-only, zero data movement
        // ([[ColumnMapping]]; Iceberg/Delta column-mapping semantics)
        sc = renames.foldLeft(sc) { case (x, (from, to)) =>
          ColumnMapping.rename(x, from, to) }
        // DROP COLUMN: the field becomes a reader-stripped tombstone.
        // Columns the table's METADATA still depends on refuse loud —
        // dropping them would orphan the pruning contracts (clear them
        // first: ALTER ... SET TBLPROPERTIES)
        drops.foreach { d =>
          val p = ColumnMapping.physName(sc, d)
          require(!cur.statsCols.contains(p) && !cur.bloomCols.contains(p),
            s"DROP COLUMN $d: it is a recorded stats/bloom column — " +
              "remove it from statsCols/bloomCols first")
          require(!cur.transforms.exists(_.src == p),
            s"DROP COLUMN $d: it is a hidden-partitioning transform source")
        }
        sc = drops.foldLeft(sc)(ColumnMapping.drop)
        storage = Some(sc)
      }
      newSchema.foreach { target =>
        val prior = storage.getOrElse(throw new IllegalStateException(
          s"table at $root has no recorded schema to evolve — append once first"))
        if (!ColumnMapping.hasMapping(prior)) {
          // evolve() IS the validator: it keeps prior fields in place
          // (widening in-place, refusing other type changes) and
          // appends genuinely-new fields — a target it does not
          // round-trip is a drop/rename/reorder in disguise
          val evolved = evolve(Some(prior), target)
          require(evolved == target,
            s"ALTER TABLE can only add trailing nullable columns or widen " +
              s"losslessly; requested schema ${target.simpleString} does not " +
              s"round-trip evolution from ${prior.simpleString} " +
              s"(got ${evolved.simpleString})")
          target.fields.filterNot(f => prior.fieldNames.contains(f.name))
            .foreach(f => require(f.nullable,
              s"added column '${f.name}' must be nullable: existing files " +
                "have no values for it"))
          storage = Some(target)
        } else {
          // mapped table: the caller's target is the LOGICAL view — the
          // round-trip check runs in logical space, then adds/widens are
          // grafted back onto the storage schema (tombstones and
          // mapping metadata intact, reborn names freshly allocated)
          val lv = ColumnMapping.logicalView(prior)
          val evolvedL = evolve(Some(lv), target)
          require(evolvedL == target,
            s"ALTER TABLE can only add trailing nullable columns or widen " +
              s"losslessly; requested schema ${target.simpleString} does not " +
              s"round-trip evolution from ${lv.simpleString} " +
              s"(got ${evolvedL.simpleString})")
          val lvNames = lv.fieldNames.toSet
          val added = target.fields.filterNot(f => lvNames.contains(f.name))
          added.foreach(f => require(f.nullable,
            s"added column '${f.name}' must be nullable: existing files " +
              "have no values for it"))
          ColumnMapping.requireNoReserved(target)
          val widened = prior.fields.map { f =>
            if (ColumnMapping.isDropped(f)) f
            else target.fields.find(_.name == f.name) match {
              case Some(tf) if tf.dataType != f.dataType =>
                f.copy(dataType = tf.dataType)
              case _ => f
            }
          }
          storage = Some(ColumnMapping.allocate(Some(prior),
            org.apache.spark.sql.types.StructType(widened ++ added)))
        }
      }
      // caller-passed metadata columns are logical; translate against
      // the post-change schema (inherited sets stay physical as-is)
      def xlate(cs: Seq[String]): Seq[String] = storage.fold(cs)(sc =>
        cs.map(ColumnMapping.physName(sc, _)))
      // widening a BUCKET-transform source changes the fan-out hash
      // basis (xxhash64 of an int and of a long differ): files written
      // under the old type carry bucket entries a new-type probe would
      // WRONG-SKIP, and new appends would mix hash bases under one
      // entry name — refuse (re-create the spec after a clustering
      // rewrite instead)
      for {
        tgt <- storage; prior <- cur.schema
      } {
        val priorTypes = prior.fields
          .map(f => ColumnMapping.physOf(f) -> f.dataType).toMap
        tgt.fields.foreach { f =>
          val p = ColumnMapping.physOf(f)
          if (priorTypes.get(p).exists(_ != f.dataType))
            require(!cur.transforms.exists(t => t.kind == "bucket" && t.src == p),
              s"cannot widen '${f.name}': it is a bucket-transform source — " +
                "the fan-out hash is type-dependent, so existing files' " +
                "bucket entries would wrong-skip probes of the widened type")
        }
      }
      val cols = newStatsCols.map(xlate).getOrElse(cur.statsCols)
      val bcols = newBloomCols.map(xlate).getOrElse(cur.bloomCols)
      // transform-DERIVED names (day_x / bucketN_x) are legitimate stats
      // columns too — the fan-out records them ([[transformStats]])
      val tableCols = storage.map(sc =>
        ColumnMapping.physicalSchema(sc).fieldNames.toSet ++
          cur.transforms.map(_.name))
      (cols ++ bcols).foreach(c => require(tableCols.forall(_.contains(c)),
        s"metadata column '$c' is not a table column"))
      commit(s, root, cur.copy(version = cur.version + 1, op = "alter",
        statsCols = cols, schema = storage, bloomCols = bcols))
    }

  /** Append `df` to the table (creates it at v1 if absent). With
    * `statsCols` (LONG columns, first = primary clustering column),
    * per-file per-column min/max are computed once at write time and
    * recorded in the manifest — prior files keep their recorded stats —
    * enabling [[readPruned]] file skipping on any of them; `bloomCols`
    * likewise for [[readPointLookup]] equality probes. Passing Nil
    * inherits the table's recorded column sets. */
  def append(s: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             transforms: Seq[Transform] = Nil): Snapshot = {
    val head = latest(s, root).getOrElse(EmptyHead)
    // transforms are a TABLE property (like Iceberg's partition spec):
    // set at creation or via the explicit-arg first use, inherited by
    // every later append — an append cannot silently change them
    val trs =
      if (transforms.isEmpty) head.transforms
      else { require(head.transforms.isEmpty || head.transforms == transforms,
        s"table already partitions by ${head.transforms.map(_.name).mkString(",")}; " +
          "appends inherit the transform spec")
        transforms }
    enforceConstraints(s, root, df, "append")
    // schema first, stage second: the evolved schema carries the column
    // mapping (incl. fresh physical names for reborn columns), and the
    // staged parquet must be written under the PHYSICAL names
    val evolved = evolveM(head.schema, df.schema)
    val staged = stage(s, root, ColumnMapping.toPhysical(df, evolved), trs)
    val cols = appendMetaCols(statsCols, head.statsCols, evolved)
    val bcols = appendMetaCols(bloomCols, head.bloomCols, evolved)
    commit(s, root, appended(head, "append", staged,
        stagedMeta(s, root, staged, cols, bcols, trs))
      .copy(statsCols = cols, schema = Some(evolved), bloomCols = bcols,
        transforms = trs))
  }

  /** An append's metadata columns: the caller's (LOGICAL, translated to
    * physical) or else the table's inherited set — already physical, and
    * never re-translated (a reborn column's logical name may equal an
    * old physical name). */
  private def appendMetaCols(asked: Seq[String], inherited: Seq[String],
      evolved: org.apache.spark.sql.types.StructType): Seq[String] =
    if (asked.nonEmpty) asked.map(ColumnMapping.physName(evolved, _))
    else inherited

  /** [[append]] with bounded optimistic-concurrency retries through
    * [[retrying]], the one loop every writer runs around the commit
    * race: data files are staged ONCE (they are version-independent —
    * nothing references them until a manifest does), then each lost
    * [[TxnConflictException]] re-resolves the new head and re-commits
    * the same staged files on top of it. The loser of a race never
    * re-reads or re-writes data; it pays one small-file manifest write
    * per attempt. `maxAttempts` is the one settable attempt budget. */
  def appendWithRetry(s: SparkSession, root: String, df: DataFrame,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      maxAttempts: Int = WriterAttempts): Snapshot = {
    // metadata columns + transforms resolve against the FIRST head seen;
    // staged file metadata is computed ONCE (it depends only on the
    // staged files, not the version we land on) — a retry re-reads
    // manifests, never data
    val first = latest(s, root).getOrElse(EmptyHead)
    enforceConstraints(s, root, df, "append")
    val evolved0 = evolveM(first.schema, df.schema)
    val staged = stage(s, root, ColumnMapping.toPhysical(df, evolved0),
      first.transforms)
    val cols = appendMetaCols(statsCols, first.statsCols, evolved0)
    val bcols = appendMetaCols(bloomCols, first.bloomCols, evolved0)
    val meta = stagedMeta(s, root, staged, cols, bcols, first.transforms)
    retrying(maxAttempts) {
      val head = latest(s, root)
        .getOrElse(EmptyHead.copy(transforms = first.transforms))
      val evolved = evolveM(head.schema, df.schema)
      // the staged parquet was written under evolved0's physical names;
      // a concurrent rename/drop that remaps any of this frame's
      // columns makes the staged bytes wrong for the new head — refuse
      // loud rather than commit files the mapping no longer describes
      require(df.columns.forall(c => ColumnMapping.physName(evolved, c) ==
          ColumnMapping.physName(evolved0, c)),
        "concurrent RENAME/DROP COLUMN moved this append's columns " +
          "between stage and commit — re-run the append")
      commit(s, root, appended(head, "append", staged, meta)
        .copy(statsCols = cols, schema = Some(evolved), bloomCols = bcols))
    }
  }

  /** Exactly-once streaming append: the op field carries the micro-batch
    * id, so a replayed foreachBatch (at-least-once by contract) finds its
    * own commit in the log and no-ops instead of double-appending —
    * the txn log is what upgrades the sink to exactly-once, the same
    * mechanism (idempotent commits keyed by batch id) Delta's streaming
    * sink uses. Returns None on a replay that was already committed.
    * The already-committed probe reads O(versions) small manifests;
    * production formats cache the latest-seen batch id per stream in
    * the snapshot itself — same contract, one read.
    *
    * `streamId` scopes the idempotence key to ONE streaming query
    * (Delta's txnAppId): two different streams both restarting from
    * batch 0 into the same table must not mistake each other's commits
    * for their own replays. Empty (the default, and the pre-existing
    * on-disk tag format) is only safe when a single stream owns the
    * table. */
  def appendBatch(s: SparkSession, root: String, df: DataFrame,
                  batchId: Long,
                  statsCols: Seq[String] = Nil,
                  streamId: String = ""): Option[Snapshot] = {
    val opTag =
      if (streamId.isEmpty) s"append-batch:$batchId"
      else s"append-batch:$streamId:$batchId"
    val vs = versions(s, root)
    if (vs.exists(v => snapshot(s, root, v).op == opTag)) None
    else {
      val head = vs.lastOption.map(snapshot(s, root, _)).getOrElse(EmptyHead)
      enforceConstraints(s, root, df, s"streaming $opTag")
      val evolved = evolveM(head.schema, df.schema)
      val staged = stage(s, root, ColumnMapping.toPhysical(df, evolved),
        head.transforms)
      val cols = appendMetaCols(statsCols, head.statsCols, evolved)
      Some(commit(s, root, appended(head, opTag, staged,
          stagedMeta(s, root, staged, cols, head.bloomCols, head.transforms))
        .copy(statsCols = cols, schema = Some(evolved))))
    }
  }

  /** A REPLACE inherits the prior snapshot's statsCols/bloomCols — but
    * those are PHYSICAL names under the prior column mapping, and the
    * replacement is recorded under the new content's own (logical)
    * names with the mapping reset. Translate each inherited name to its
    * prior logical name and keep it only if the new schema still has
    * that column; anything else would be a dead name that fileMeta
    * silently never records (pruning quietly stops) and future appends
    * inherit. */
  private def replaceMetaCols(prior: Option[Snapshot], inherited: Seq[String],
                              newSchema: org.apache.spark.sql.types.StructType): Seq[String] = {
    val p2l: Map[String, String] =
      prior.flatMap(_.schema).fold(Map.empty[String, String])(sc =>
        sc.fields.filterNot(ColumnMapping.isDropped)
          .map(f => ColumnMapping.physOf(f) -> f.name).toMap)
    inherited.map(c => p2l.getOrElse(c, c)).distinct
      .filter(newSchema.fieldNames.contains)
  }

  /** Exactly-once table REPLACEMENT keyed by batch id — the commit
    * shape of an idempotent MERGE job (e.g. an SCD-2 merge of
    * `graft.queries.Scd.scd2Apply`'s output): the new snapshot replaces the
    * table content; a replayed batch finds its own commit in the log
    * and no-ops (returns None) instead of double-applying the merge. */
  def replaceBatch(s: SparkSession, root: String, df: DataFrame,
                   batchId: Long,
                   statsCols: Seq[String] = Nil,
                   streamId: String = ""): Option[Snapshot] = {
    val opTag =
      if (streamId.isEmpty) s"replace-batch:$batchId"
      else s"replace-batch:$streamId:$batchId"
    val vs = versions(s, root)
    if (vs.exists(v => snapshot(s, root, v).op == opTag)) None
    else {
      // replacement rebuilds file metadata under the table's columns;
      // like [[overwrite]] it RESETS any column-mapping history — the
      // new content is written and recorded under `df`'s own names
      val prior = vs.lastOption.map(snapshot(s, root, _))
      enforceConstraints(s, root, df, s"streaming $opTag")
      val trs = prior.map(_.transforms).getOrElse(Nil)
      ColumnMapping.requireNoReserved(df.schema)
      val staged = stage(s, root, df, trs)
      val cols = if (statsCols.nonEmpty) statsCols
        else replaceMetaCols(prior, prior.map(_.statsCols).getOrElse(Nil), df.schema)
      val bcols = replaceMetaCols(prior, prior.map(_.bloomCols).getOrElse(Nil), df.schema)
      val (st, bl) = stagedMeta(s, root, staged, cols, bcols, trs)
      Some(commit(s, root, Snapshot(vs.lastOption.getOrElse(0L) + 1, opTag,
        staged, st, cols, Some(df.schema), bl, bcols, transforms = trs)))
    }
  }

  /** Commit a micro-batch whose files the DSv2 STREAMING WRITE protocol
    * already staged from the executors (`sources/GraftStreamingWrite
    * .scala` — not [[stage]]): the pre-staged twin of [[appendBatch]] /
    * [[replaceBatch]], same idempotence contract ((streamId, batchId)
    * in the op tag; a replayed epoch returns None and the CALLER
    * deletes its freshly-staged orphans). Metadata for the staged files
    * is computed here from the footers exactly as any append's would
    * be; the recorded schema evolves against `stagedSchema` (append) or
    * is replaced by it (replace — the Complete-mode shape, which also
    * drops any live MoR delete set with the content it masked).
    * Commit-race retries are pure manifest work — the staged files
    * never move. */
  private[graft] def commitStagedBatch(s: SparkSession, root: String,
      staged: Seq[String], batchId: Long, streamId: String,
      stagedSchema: org.apache.spark.sql.types.StructType,
      replace: Boolean,
      stagedPhys: Option[Seq[String]] = None): Option[Snapshot] = {
    require(streamId.nonEmpty, "streaming-write commits need a stream id")
    val opTag = (if (replace) "replace-batch" else "append-batch") +
      s":$streamId:$batchId"
    retrying(WriterAttempts) {
      val vs = versions(s, root)
      if (vs.exists(v => snapshot(s, root, v).op == opTag)) None
      else {
        val prior = vs.lastOption.map(snapshot(s, root, _))
        val head = prior.getOrElse(EmptyHead)
        // the replace path resets the mapping, so inherited metadata
        // columns must be translated off the prior physical names
        val cols =
          if (replace) replaceMetaCols(prior, head.statsCols, stagedSchema)
          else head.statsCols
        val bcols =
          if (replace) replaceMetaCols(prior, head.bloomCols, stagedSchema)
          else head.bloomCols
        val meta = stagedMeta(s, root, staged, cols, bcols, head.transforms)
        if (replace)
          Some(commit(s, root, Snapshot(head.version + 1, opTag, staged,
            meta._1, cols, Some(stagedSchema), meta._2, bcols,
            transforms = head.transforms)))
        else {
          // appends: evolve under the column mapping; the executors
          // staged the files under `stagedPhys` (the stream-start
          // physical names — frozen, so a mid-stream RENAME is harmless),
          // and a drop/re-add that MOVED one of this stream's columns
          // must refuse rather than land rows in a dead physical column
          val evolved = evolveM(head.schema, stagedSchema)
          stagedPhys.foreach { sp =>
            require(stagedSchema.fieldNames.toSeq
                .map(c => ColumnMapping.physName(evolved, c)) == sp,
              "a concurrent DROP/re-ADD moved this stream's columns — restart " +
                "the streaming query to re-pin the mapping")
          }
          // a caller that did NOT declare its staged names keeps the old
          // protection: its files carry logical names, unsound once mapped
          if (stagedPhys.isEmpty)
            prior.foreach(requireUnmapped(_, "the DSv2 streaming append"))
          Some(commit(s, root, appended(head, opTag, staged, meta)
            .copy(schema = Some(evolved))))
        }
      }
    }
  }

  /** Replace the table content with `df`. Old snapshots stay readable
    * (their files are immutable) until [[vacuum]]. `statsCols` /
    * `bloomCols` as in [[append]]. */
  def overwrite(s: SparkSession, root: String, df: DataFrame,
                statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil): Snapshot = {
    val head = latest(s, root).getOrElse(EmptyHead)
    // an overwrite REPLACES the table's content and its column-mapping
    // history with it: every new file is written under `df`'s own names
    // (they become the fresh physical names), and no old file survives
    // to need the old mapping — time travel still reads prior versions
    // under their own recorded schemas
    ColumnMapping.requireNoReserved(df.schema)
    enforceConstraints(s, root, df, "overwrite")
    val staged = stage(s, root, df, head.transforms)
    val (st, bl) = stagedMeta(s, root, staged, statsCols, bloomCols,
      head.transforms)
    commit(s, root, Snapshot(head.version + 1, "overwrite", staged, st,
      statsCols, Some(df.schema), bl, bloomCols, transforms = head.transforms))
  }

  /** Record (or evolve to) a hidden-partitioning [[Transform]] spec on
    * an EXISTING table — metadata-only commit, zero data movement:
    * files written before the spec simply have no transform entries and
    * are never skipped (sound), new appends fan out and record theirs,
    * and a clustering [[compactTxn]] retrofits the old files. The same
    * late-binding contract as Iceberg partition-spec evolution. */
  def setTransforms(s: SparkSession, root: String,
                    transforms: Seq[Transform]): Snapshot = {
    require(transforms.nonEmpty, "setTransforms needs at least one transform")
    require(transforms.map(_.name).distinct.size == transforms.size,
      "duplicate transform names")
    val cur = latestRequired(s, root)
    cur.schema.foreach(sc => transforms.foreach(t =>
      require(ColumnMapping.logicalView(sc).fieldNames.contains(t.src),
        s"transform ${t.name} needs source column '${t.src}'")))
    // transforms address file contents: record the PHYSICAL source name
    val trsP = cur.schema.fold(transforms)(sc =>
      transforms.map(t => t.copy(src = ColumnMapping.physName(sc, t.src))))
    commit(s, root, cur.copy(version = cur.version + 1, op = "set-transforms",
      transforms = trsP))
  }

  // ---------------------------------------------------------------------
  // Named TAGS — immutable version pointers (`prod-2024-05`,
  // `audit-baseline`): SQL reads them through `VERSION AS OF '<tag>'`
  // ([[graft.sources.GraftTxnSource]]), `CALL <catalog>.system.create_tag` writes
  // them, and vacuum retains every tagged version until [[dropTag]].
  // ---------------------------------------------------------------------

  private def tagPath(root: String, name: String): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/tag-$name.txt")

  private val TagRe = "^tag-([A-Za-z0-9_\\-.]+)\\.txt$".r

  /** Pin `name` to `version` — immutable (re-tagging a name refuses).
    * The version must exist; vacuum keeps it alive until [[dropTag]]. */
  def tagVersion(s: SparkSession, root: String, name: String,
                 version: Long): Unit = {
    require(name.matches("[A-Za-z0-9_\\-.]+"),
      s"tag name '$name' must be [A-Za-z0-9_.-]+")
    snapshot(s, root, version) // must exist (and parse)
    val f = fs(s, root)
    val p = tagPath(root, name)
    if (f.exists(p))
      throw new IllegalStateException(s"tag '$name' already exists at $root")
    val out = f.create(p, false)
    try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** All tags, name -> version. */
  def tags(s: SparkSession, root: String): Map[String, Long] = {
    val dir = new Path(s"${root.stripSuffix("/")}/_txn")
    val f = fs(s, root)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case TagRe(n) => Some(n ->
        readSmallFile(s, root, st.getPath).trim.toLong)
      case _ => None
    }).toMap
  }

  /** Remove tag `name` — the one way to release the tagged version to
    * vacuum's retention; a missing tag is a no-op. */
  def dropTag(s: SparkSession, root: String, name: String): Unit =
    fs(s, root).delete(tagPath(root, name), false)

  // ---------------------------------------------------------------------
  // BRANCHES — named MUTABLE refs with their own commit line (tags are
  // the immutable half): an integration/experiment branch takes appends
  // OUTSIDE the main version line, auditors read it in place, and a
  // clean fast-forward publishes its head as main's next version
  // (Iceberg branch refs / Delta's shadow-table pattern, text-manifest
  // envelope). Branch manifests are self-contained (full file list, like
  // every manifest here), live under `_txn/branches/<name>/`, and are
  // numbered CONTINUING from the fork version — so "branch history" =
  // main history up to the fork, branch manifests after. Data files all
  // share the table's immutable `data/` pool; vacuum treats every
  // branch-referenced file as live. Divergence is refused, not merged:
  // fastForward requires main's head to still BE the fork point — the
  // linear-history contract; a diverged branch is re-cut, its appends
  // replayed (merge-by-replay is the caller's policy decision).
  // ---------------------------------------------------------------------

  private def branchRefPath(root: String, name: String): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/branchref-$name.txt")

  private def branchManifestPath(root: String, name: String, v: Long): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/branches/$name/" + f"v$v%010d.txt")

  private val BranchRefRe = "^branchref-([A-Za-z0-9_\\-.]+)\\.txt$".r

  /** Cut branch `name` at `version` (default: current head). Metadata
    * only — no data or manifest copies: the fork-point manifest already
    * IS the branch's initial state. */
  def createBranch(s: SparkSession, root: String, name: String,
                   version: Option[Long] = None): Unit = {
    require(name.matches("[A-Za-z0-9_\\-.]+"),
      s"branch name '$name' must be [A-Za-z0-9_.-]+")
    val v = version.getOrElse(latestRequired(s, root).version)
    snapshot(s, root, v) // must exist (and parse)
    val f = fs(s, root)
    val p = branchRefPath(root, name)
    if (f.exists(p))
      throw new IllegalStateException(s"branch '$name' already exists at $root")
    val out = f.create(p, false)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** All branches, name -> fork version. */
  def branches(s: SparkSession, root: String): Map[String, Long] = {
    val dir = new Path(s"${root.stripSuffix("/")}/_txn")
    val f = fs(s, root)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case BranchRefRe(n) => Some(n ->
        readSmallFile(s, root, st.getPath).trim.toLong)
      case _ => None
    }).toMap
  }

  private def branchFork(s: SparkSession, root: String, name: String): Long =
    branches(s, root).getOrElse(name,
      throw new NoSuchElementException(s"no branch '$name' at $root"))

  /** The branch's own committed versions (after the fork), ascending. */
  def branchVersions(s: SparkSession, root: String, name: String): Seq[Long] = {
    val dir = new Path(s"${root.stripSuffix("/")}/_txn/branches/$name")
    val f = fs(s, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(v) => Some(v.toLong)
      case _             => None
    }).sorted
  }

  /** The branch head snapshot: its newest own commit, or the fork-point
    * main snapshot for a branch with no commits yet. */
  def branchHead(s: SparkSession, root: String, name: String): Snapshot = {
    val fork = branchFork(s, root, name)
    branchVersions(s, root, name).lastOption match {
      case Some(v) => parseManifest(s, root, v,
        readSmallFile(s, root, branchManifestPath(root, name, v)),
        s"branch $name v$v")
      case None => snapshot(s, root, fork)
    }
  }

  /** Append to the BRANCH head — main's version line never moves. Same
    * staging/metadata mechanics as [[append]] (shared data pool,
    * inherited column sets and transform spec, schema evolution off the
    * branch head). */
  def appendToBranch(s: SparkSession, root: String, name: String,
                     df: DataFrame): Snapshot = {
    val head = branchHead(s, root, name)
    val evolved = evolveM(head.schema, df.schema)
    val staged = stage(s, root, ColumnMapping.toPhysical(df, evolved),
      head.transforms)
    commit(s, root, appended(head, "branch-append", staged,
        stagedMeta(s, root, staged, head.statsCols, head.bloomCols,
          head.transforms)).copy(schema = Some(evolved)),
      branch = Some(name))
  }

  /** Publish the branch head as MAIN's next version — valid only while
    * main's head still IS the fork point (nothing to merge; the commit
    * is a pure pointer advance, Iceberg's fast-forward). A main that
    * moved since the fork refuses loud: divergence is a policy decision
    * (re-cut and replay), never a silent merge. The branch ref stays —
    * drop it separately ([[dropBranch]]) once the audit trail is done. */
  def fastForward(s: SparkSession, root: String, name: String): Snapshot = {
    val fork = branchFork(s, root, name)
    val head = latestRequired(s, root)
    if (head.version != fork)
      throw new TxnConflictException(
        s"main advanced to v${head.version} since branch '$name' forked at " +
          s"v$fork - diverged; re-cut the branch and replay its commits")
    val bh = branchHead(s, root, name)
    commit(s, root, bh.copy(version = head.version + 1, op = s"fast-forward:$name"))
  }

  /** DIVERGENCE RECOVERY — re-apply the branch's own commits onto a
    * main that moved past the fork: what [[fastForward]]'s refusal
    * message tells the caller to do, as an API (Iceberg's cherry-pick,
    * per branch commit, same linear-history contract). Each branch
    * commit's FILE DELTA (the files it added over its predecessor) is
    * committed onto main's current head in branch order, one main
    * version per branch commit (`replay:<name>` ops — the audit trail
    * keeps the branch's commit granularity). Data files are never
    * copied or re-staged: branch appends live in the shared immutable
    * pool, so replay is pure manifest work, and each replayed file
    * carries its recorded stats/blooms forward.
    *
    * Replay REFUSES (exact-or-refuse, nothing silent) when:
    *  - a branch commit is not a pure append (it removed files or
    *    changed the MoR delete set — compaction/delete semantics
    *    cannot be mechanically replayed onto different content);
    *  - a branch-added file is already referenced by main's head
    *    (overlapping-file conflict: a partial fast-forward or a
    *    duplicated replay would double-count rows).
    *
    * Same optimistic retry as every writer ([[retrying]]): a lost
    * commit race re-resolves the new head and re-commits the SAME
    * delta on top of it — no data re-reads, one manifest write per
    * attempt. The branch ref stays for the audit trail; [[dropBranch]]
    * it once done. Schema evolution composes: each replayed commit
    * evolves main's schema with the branch commit's, exactly as a
    * fresh append of those rows would — and across COLUMN-MAPPED lines
    * (main renamed/dropped since the fork) it composes by frozen
    * PHYSICAL identity ([[composeReplaySchema]]): main's logical names
    * win, drops of branch-written columns refuse. */
  def replayBranch(s: SparkSession, root: String, name: String): Snapshot = {
    val fork = branchFork(s, root, name)
    val vs = branchVersions(s, root, name)
    if (vs.isEmpty) return latestRequired(s, root) // nothing to replay
    // branch commit deltas, oldest first, verified pure-append
    val chain = vs.foldLeft((snapshot(s, root, fork), Seq.empty[(Snapshot, Seq[String])])) {
      case ((prev, acc), v) =>
        val cur = parseManifest(s, root, v,
          readSmallFile(s, root, branchManifestPath(root, name, v)),
          s"branch $name v$v")
        val prevSet = prev.files.toSet
        val removed = prev.files.filterNot(cur.files.toSet)
        require(removed.isEmpty,
          s"branch '$name' v$v removed ${removed.size} file(s) — not a pure " +
            "append; replay refuses (re-run the compaction/delete on main instead)")
        require(cur.deletes == prev.deletes,
          s"branch '$name' v$v changed the MoR delete set — replay refuses")
        (cur, acc :+ (cur, cur.files.filterNot(prevSet)))
    }._2
    val main = latestRequired(s, root)
    require(main.version > fork,
      s"main still sits at fork v$fork — use fastForward, not replay")
    val allAdded = chain.flatMap(_._2)
    val overlap = allAdded.filter(main.files.toSet)
    require(overlap.isEmpty,
      s"main already references ${overlap.size} branch file(s) " +
        s"(e.g. ${overlap.head}) — duplicated replay would double-count rows")
    def ofAdded[V](m: Map[String, V], added: Seq[String]): Map[String, V] =
      added.flatMap(f => m.get(f).map(f -> _)).toMap
    chain.map { case (bc, added) =>
      retrying(WriterAttempts) {
        val head = latestRequired(s, root)
        // re-checked per attempt: a racing writer may have published
        // these very files (e.g. a concurrent replay of the same branch)
        val dup = added.filter(head.files.toSet)
        require(dup.isEmpty,
          s"main now references ${dup.size} branch file(s) (e.g. " +
            s"${dup.head}) — a concurrent replay/fast-forward won the race")
        commit(s, root, appended(head, s"replay:$name", added,
            (ofAdded(bc.stats, added), ofAdded(bc.blooms, added)),
            ofAdded(bc.rowCounts, added))
          .copy(schema = bc.schema.map(sc => composeReplaySchema(head.schema, sc))
            .orElse(head.schema)))
      }
    }.last
  }

  /** Schema composition for [[replayBranch]] when either line carries a
    * COLUMN MAPPING ([[ColumnMapping]]): physical identities are frozen
    * at birth, so the branch commit's schema composes onto the moved
    * main's by PHYSICAL name, never logical — main's logical names win
    * (it may have renamed since the fork; the branch's files store the
    * same frozen physical names either way), branch-new columns append
    * under their own names, and anything ambiguous refuses loud
    * (exact-or-refuse):
    *  - the branch writes a column main has DROPPED (tombstoned
    *    physical): replaying would silently hide the appended data;
    *  - a branch-new column's logical name collides with a live main
    *    column of DIFFERENT physical identity: the branch's files
    *    physically carry that name and existing bytes cannot be
    *    reallocated;
    *  - a non-widening type mismatch (same lattice as [[evolve]]).
    * Unmapped-on-both-sides takes [[evolve]] unchanged (byte-identical
    * to pre-mapping replay). */
  private def composeReplaySchema(
      prior: Option[org.apache.spark.sql.types.StructType],
      bcSc: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import ColumnMapping._
    val p = prior.getOrElse(return bcSc)
    if (!hasMapping(p) && !hasMapping(bcSc)) return evolve(prior, bcSc)
    val liveLogical = p.fields.filterNot(isDropped).map(_.name).toSet
    var fields = p.fields.toVector
    val extra = Vector.newBuilder[org.apache.spark.sql.types.StructField]
    bcSc.fields.filterNot(isDropped).foreach { bf =>
      val bp = physOf(bf)
      fields.indexWhere(f => physOf(f) == bp) match {
        case i if i >= 0 =>
          val hf = fields(i)
          require(!isDropped(hf),
            s"replayBranch: branch writes column '${bf.name}' (physical " +
              s"'$bp') which main has dropped — replay refuses rather than " +
              "silently hide the appended data")
          if (hf.dataType != bf.dataType) {
            if (widens(hf.dataType, bf.dataType))
              fields = fields.updated(i, hf.copy(dataType = bf.dataType))
            else require(widens(bf.dataType, hf.dataType),
              s"replayBranch: column '${hf.name}' (physical '$bp') is " +
                s"${hf.dataType.simpleString} on main vs " +
                s"${bf.dataType.simpleString} on the branch — not a " +
                "lossless widening either way")
            // main already wider: keep it, branch files upcast on read
          }
        case _ =>
          require(!liveLogical.contains(bf.name),
            s"replayBranch: branch-new column '${bf.name}' collides with a " +
              "live main column of different physical identity — replay " +
              "refuses (rename one side first)")
          // main's existing files have no values for it
          extra += bf.copy(nullable = true)
      }
    }
    org.apache.spark.sql.types.StructType(fields ++ extra.result())
  }

  /** Delete the branch ref and its manifests. Data files are shared
    * with the main pool and untouched — the next [[vacuum]] reclaims
    * any that only the branch referenced. */
  def dropBranch(s: SparkSession, root: String, name: String): Unit = {
    val f = fs(s, root)
    f.delete(branchRefPath(root, name), false)
    f.delete(new Path(s"${root.stripSuffix("/")}/_txn/branches/$name"), true)
  }

  /** Transactional compaction: rewrite the current snapshot to
    * `targetFiles` files and commit the SAME rows as a new version —
    * in-flight readers of any prior version are untouched (nothing is
    * rewritten in place). coalesce = narrow
    * merge, no shuffle. Zero-row parts are dropped before commit. */
  def compactTxn(s: SparkSession, root: String, targetFiles: Int,
                 sortCols: Seq[String] = Nil): Snapshot = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val cur = latest(s, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    // With sortCols this is OPTIMIZE-style RECLUSTERING, not just a file
    // merge: range-partition + in-partition sort gives files DISJOINT
    // spans of the sort key, which is what turns the manifest's per-file
    // [min, max] from decoration into an index — after appends have
    // interleaved key ranges, readPruned degrades to reading everything
    // until a clustering compaction narrows the spans again.
    val arranged =
      if (sortCols.isEmpty) read(s, root).coalesce(targetFiles)
      else {
        import org.apache.spark.sql.functions.col
        read(s, root)
          .repartitionByRange(targetFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      }
    // compaction preserves the transform fan-out (a compacted file must
    // still hold one transform value for path-derived pruning to hold)
    val staged = dropEmptyParts(s, root,
      stage(s, root, toPhys(arranged, cur), cur.transforms))
    // rewritten files get fresh stats/blooms under the table's columns
    commit(s, root, fullRewrite(s, root, cur, "compact", staged, cur.statsCols,
      cur.schema.orElse(Some(arranged.schema))))
  }

  /** PARTIAL (scoped) compaction — the 100 TB form of [[compactTxn]]:
    * rewrite ONLY the files a selection criterion picks, carry every
    * other file by reference with its recorded metadata untouched. A
    * full-table rewrite stops being an option once the table is large;
    * maintenance must be proportional to the ILL-MAINTAINED REGION
    * (Delta's `OPTIMIZE ... WHERE`, Iceberg's `rewrite_data_files`
    * filter), not to the table.
    *
    * Selection is conjunctive — a file is rewritten iff it satisfies
    * EVERY given criterion:
    *  - `bounds` (col, lo, hi): the file's recorded [min, max] of the
    *    stats column OVERLAPS the range. Files with no recorded range
    *    are INCLUDED — absent metadata never exempts a file from
    *    maintenance, the write-side mirror of the read-side "absent
    *    metadata never skips" rule (and rewriting is how such a file
    *    GAINS stats).
    *  - `smallerThanBytes`: the file is under the size threshold — the
    *    binpack small-file criterion (one `getFileStatus` per candidate;
    *    metadata-proportional, no data reads).
    * At least one criterion is required (a criterion-less call is a
    * full rewrite — say so explicitly via [[compactTxn]]).
    *
    * Live MoR deletes are allowed, unlike the full compact's fold: the
    * selected files are read WITH the delete mask applied (rewritten
    * files shed their dead rows), and the delete files STAY in the
    * manifest for the carried files. Their positions name only files
    * that existed when they committed, so they mask nothing in the
    * rewritten files — the visible content is unchanged,
    * which also keeps the op's `compact` classification honest for the
    * change feed and streaming sources (maintenance commits emit
    * nothing).
    *
    * The rewritten region reclusters with ONE of `sortCols`
    * (range-partition + sort, [[compactTxn]]'s strategy) or
    * `zorderDims` (>= 2 dims, [[compactZOrderTxn]]'s Morton interleave;
    * the dims join the recorded stats columns so the region prunes on
    * them from this commit on) — Iceberg's `rewrite_data_files`
    * sort/zorder strategies under a filter.
    *
    * No-op (no commit, current head returned) when the selection is
    * empty, or picks a single file with no reclustering requested. */
  def compactWhere(s: SparkSession, root: String, targetFiles: Int,
                   bounds: Seq[(String, Long, Long)] = Nil,
                   smallerThanBytes: Option[Long] = None,
                   sortCols: Seq[String] = Nil,
                   zorderDims: Seq[String] = Nil): Snapshot = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    require(bounds.nonEmpty || smallerThanBytes.nonEmpty,
      "compactWhere needs a selection criterion (bounds and/or " +
        "smallerThanBytes); a full rewrite is compactTxn")
    require(sortCols.isEmpty || zorderDims.isEmpty,
      "compactWhere takes ONE clustering strategy: sortCols or zorderDims")
    require(zorderDims.isEmpty || zorderDims.size >= 2,
      "z-order needs >= 2 dimensions; one dimension is sortCols")
    val cur = latestRequired(s, root)
    // long bounds against prefix-encoded string stats would silently
    // exempt files from the maintenance scope — refuse, use the
    // encoded range explicitly via Utf8Prefix64 if string-scoped
    // maintenance is really wanted
    bounds.foreach { case (c, _, _) => requireNotString(cur, physCol(cur, c),
      "compactWhere(bounds)", "smallerThanBytes or a long-keyed bound") }
    val physBounds = bounds.map { case (c, lo, hi) => (physCol(cur, c), lo, hi) }
    val f = fs(s, root)
    val base = root.stripSuffix("/")
    val selected = cur.files.filter { fn =>
      (physBounds.isEmpty || !provablyDisjoint(cur, fn, physBounds)) &&
        smallerThanBytes.forall(t =>
          f.getFileStatus(new Path(s"$base/$fn")).getLen < t)
    }
    if (selected.isEmpty ||
        (selected.size == 1 && sortCols.isEmpty && zorderDims.isEmpty))
      return cur
    val carrySet = cur.files.toSet -- selected
    val carry = cur.files.filter(carrySet)
    import org.apache.spark.sql.functions.col
    val subset = maskDeletes(s, root, cur, scanFiles(s, root, cur, selected))
    val logical = cur.schema.fold(subset)(
      sc => ColumnMapping.aliasToLogical(subset, sc))
    val arranged =
      if (zorderDims.nonEmpty)
        logical
          .withColumn("_zorder",
            graft.queries.ZOrder.zvalueN(
              zorderDims.map(graft.queries.ZOrder.zdim(logical, _))))
          .repartitionByRange(targetFiles, col("_zorder"))
          .sortWithinPartitions(col("_zorder"))
          .drop("_zorder")
      else if (sortCols.isEmpty) logical.coalesce(targetFiles)
      else logical.repartitionByRange(targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val staged = dropEmptyParts(s, root,
      stage(s, root, toPhys(arranged, cur), cur.transforms))
    // z-dims join the recorded stats columns (physical names) so the
    // rewritten region prunes on them from this commit on; carried
    // files simply lack the entries (absent metadata never skips)
    val statsCols =
      (cur.statsCols ++ zorderDims.map(physCol(cur, _))).distinct
    commit(s, root, partialRewrite(cur, "compact", carry, staged,
        stagedMeta(s, root, staged, statsCols, cur.bloomCols, cur.transforms))
      .copy(statsCols = statsCols))
  }

  /** OPTIMIZE ZORDER: transactional reclustering on TWO dimensions at
    * once — the multi-column half of the layout problem [[compactTxn]]'s
    * single-key sort cannot solve. Range-partitioning on `dimA` makes
    * files disjoint in `dimA` but each file still spans all of `dimB`;
    * interleaving the two keys' bits ([[graft.queries.ZOrder.zvalue]],
    * pure codegen'd shift/mask — no UDF) and range-partitioning on the
    * z-value gives every file one contiguous z-range = one RECTANGLE in
    * (dimA, dimB) space, so the manifest's per-file [min, max] prunes
    * predicates on EITHER dimension. Same snapshot contract as
    * [[compactTxn]]: same rows, new version, in-flight readers of prior
    * versions untouched, live MoR deletes folded, transform fan-out
    * preserved. Both dims join the table's recorded stats columns so
    * [[readPruned]] skips on them from this commit on. Dim contract is
    * zvalue's: small non-negative ints (ids, days, bucket ordinals —
    * low 16 bits); rank-bucket real-valued dims first. */
  def compactZOrderTxn(s: SparkSession, root: String, targetFiles: Int,
                       dimA: String, dimB: String): Snapshot =
    compactZOrderTxn(s, root, targetFiles, Seq(dimA, dimB))

  /** N-dimensional form: the cluster key is the round-robin Morton
    * interleave of ALL `dims` ([[graft.queries.ZOrder.zvalueN]] — each
    * dimension's bit budget shrinks as 63/n, the curve's inherent
    * trade: more dimensions prune, each more coarsely). */
  def compactZOrderTxn(s: SparkSession, root: String, targetFiles: Int,
                       dims: Seq[String]): Snapshot = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val cur = latestRequired(s, root)
    import org.apache.spark.sql.functions.col
    cur.schema.foreach(sc => dims.foreach(d =>
      require(ColumnMapping.logicalView(sc).fieldNames.contains(d),
        s"z-order needs column '$d'")))
    val base0 = read(s, root)
    val arranged = base0
      .withColumn("_zorder", graft.queries.ZOrder.zvalueN(
        dims.map(graft.queries.ZOrder.zdim(base0, _))))
      .repartitionByRange(targetFiles, col("_zorder"))
      .sortWithinPartitions(col("_zorder"))
      .drop("_zorder")
    val staged = stage(s, root, toPhys(arranged, cur), cur.transforms)
    // the z-dims join the recorded stats columns under their PHYSICAL names
    val statsCols = (cur.statsCols ++ dims.map(physCol(cur, _))).distinct
    commit(s, root, fullRewrite(s, root, cur, "zorder", staged, statsCols,
      cur.schema.orElse(Some(arranged.schema))))
  }

  /** Targeted MERGE (upsert): apply `changes` by `keyCols` — a change
    * row REPLACES every current row with equal keys, or INSERTS if none
    * exists. The CDC-apply shape (Delta/Iceberg `MERGE INTO`), committed
    * as one atomic snapshot.
    *
    * File skipping as in [[deleteWhere]]: with `statsRange` bounding the
    * CHANGES' keys on the PRIMARY stats column, only files whose
    * [min, max] overlap are rewritten (survivors anti-joined against the
    * change keys, then unioned with the changes); everything else
    * carries over by reference. Same caller contract: a range that does
    * not bound the change keys leaves stale rows alive in carried files
    * (the update half applies only to touched files). `changes` must
    * have the table's schema; key equality is null-safe exact. The
    * rewrite is staged once; zero-row parts are dropped before commit. */
  def mergeInto(s: SparkSession, root: String, changes: DataFrame,
                keyCols: Seq[String],
                statsRange: Option[(Long, Long)] = None): Snapshot = {
    val cur = latestRequired(s, root)
    mergeIntoImpl(s, root, cur, changes, keyCols, primaryBounds(cur, statsRange))
  }

  /** Exactly-once keyed MERGE per micro-batch — the Update-mode
    * streaming sink's commit shape ([[graft.streaming.TxnStreamSink]]):
    * each batch UPSERTS its rows by `keyCols` (replace-or-insert, the
    * [[mergeInto]] semantics) as one `merge-batch:(streamId, batchId)`
    * commit; a replayed batch finds its own commit and no-ops. A
    * stateful aggregation (sessionization, running top-k) can thus sink
    * updated keys WITHOUT Complete-mode full rewrites: the rewrite is
    * bounded to the files whose recorded key range overlaps THIS
    * batch's keys when the merge key is a recorded stats column (long
    * via raw bounds, string via the prefix encoding — sound only when
    * the batch carries no null keys, checked in the same small agg);
    * everything else carries by reference. A first batch on an empty
    * root creates the table. */
  def mergeBatch(s: SparkSession, root: String, df: DataFrame,
                 batchId: Long, keyCols: Seq[String],
                 streamId: String = ""): Option[Snapshot] = {
    require(keyCols.nonEmpty, "mergeBatch needs at least one key column")
    val opTag =
      if (streamId.isEmpty) s"merge-batch:$batchId"
      else s"merge-batch:$streamId:$batchId"
    val vs = versions(s, root)
    if (vs.exists(v => snapshot(s, root, v).op == opTag)) return None
    val prior = vs.lastOption.map(snapshot(s, root, _))
    prior match {
      case None =>
        // first batch: the merge degenerates to creating the table — but
        // later batches' BOUNDED-rewrite contract needs the merge keys
        // recorded as stats columns from file one, so record every
        // representable key now (a sink-created table would otherwise
        // rewrite the whole table every trigger)
        val keyStats = keyCols.filter(k =>
          df.schema.fieldNames.contains(k) &&
            metaRepresentable(df.schema(k).dataType))
        val staged = stage(s, root, df)
        val (st, bl) = fileMeta(s, root, staged, keyStats, Nil)
        Some(commit(s, root, Snapshot(1L, opTag, staged, st, keyStats,
          Some(df.schema), bl)))
      case Some(cur) =>
        import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
        // EVERY merge key that is a recorded stats column contributes a
        // [lo, hi] carve-out (a matching row equals the change row on
        // every key, so each key's range bounds the rewrite and a file
        // ANY bound proves disjoint carries by reference) — an Update
        // stream keyed (user, day) on a day-clustered table rewrites
        // only the day's files. Encodings mirror fileMeta's exactly:
        // string via the order-preserving prefix, everything else via
        // the long cast. A key with ANY null in the batch contributes
        // no bound (null-safe matches live outside recorded ranges);
        // the other keys still bound soundly.
        val stattable = keyCols.filter(k =>
          cur.statsCols.contains(physCol(cur, k)) &&
            df.schema.fieldNames.contains(k) &&
            metaRepresentable(df.schema(k).dataType))
        val bounds: Seq[(String, Long, Long)] =
          if (stattable.isEmpty) Nil
          else {
            def isStr(k: String) =
              df.schema(k).dataType == org.apache.spark.sql.types.StringType
            def loE(k: String) =
              if (isStr(k)) graft.functions.Utf8Prefix64.lowerCol(col(k))
              else col(k).cast("long")
            def hiE(k: String) =
              if (isStr(k)) graft.functions.Utf8Prefix64.upperCol(col(k))
              else col(k).cast("long")
            val aggs = stattable.flatMap(k => Seq(
              min(loE(k)).as(s"lo_$k"), max(hiE(k)).as(s"hi_$k"),
              count(when(col(k).isNull, lit(1))).as(s"n_$k")))
            val r = df.agg(aggs.head, aggs.tail: _*).head
            stattable.flatMap { k =>
              if (r.isNullAt(r.fieldIndex(s"lo_$k")) || // empty batch
                  r.getAs[Long](s"n_$k") > 0L)          // null keys
                None
              else Some((k, r.getAs[Long](s"lo_$k"), r.getAs[Long](s"hi_$k")))
            }
          }
        Some(mergeIntoImpl(s, root, cur, df, keyCols,
          bounds.map { case (c, lo, hi) => (physCol(cur, c), lo, hi) },
          opTag = opTag))
    }
  }

  private def mergeIntoImpl(s: SparkSession, root: String, cur: Snapshot,
                            changes: DataFrame, keyCols: Seq[String],
                            bounds: Seq[(String, Long, Long)],
                            opTag: String = "merge"): Snapshot = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    requireNoMor(cur, "mergeInto")
    // survivors come FROM the table (already admitted); only the change
    // set carries new values that can violate
    enforceConstraints(s, root, changes, opTag)
    val (carry, touch) =
      if (bounds.isEmpty) (Seq.empty[String], cur.files)
      else cur.files.partition(provablyDisjoint(cur, _, bounds))
    val evolved = evolveM(cur.schema, changes.schema)
    val rewritten =
      if (touch.isEmpty) changes
      else {
        import org.apache.spark.sql.functions.col
        // schema-pinned read: a change set keyed on a post-evolution
        // column must see null (not AnalysisException) in older files.
        // The scan is physical-named; the merge runs in LOGICAL space
        // (keys and changes are user-facing), then restages physical.
        val existing = cur.schema.fold(
          scanFiles(s, root, cur, touch))(sc =>
          ColumnMapping.aliasToLogical(scanFiles(s, root, cur, touch), sc))
        // null-SAFE key equality (<=>): a null-keyed change row must
        // REPLACE a null-keyed current row, not duplicate beside it —
        // usingColumns anti-join would treat null != null
        val ch = changes.select(keyCols.map(col): _*).dropDuplicates(keyCols)
        val cond = keyCols.map(k => existing(k) <=> ch(k)).reduce(_ && _)
        val survivors = existing.join(ch, cond, "left_anti")
        survivors.unionByName(changes, allowMissingColumns = true)
      }
    val staged = dropEmptyParts(s, root, stage(s, root,
      Compact.rightSized(ColumnMapping.toPhysical(rewritten, evolved)), cur.transforms))
    commit(s, root, partialRewrite(cur, opTag, carry, staged,
        stagedMeta(s, root, staged, cur.statsCols, cur.bloomCols, cur.transforms))
      .copy(schema = Some(evolved)))
  }

  /** Raw-file code paths (pruned reads, copy-on-write rewrites) bypass
    * [[readAsOf]]'s position mask and would silently resurrect MoR-deleted
    * rows — they refuse until the deletes are folded in.
    * ([[changesBetween]] is the exception: it diffs EFFECTIVE content,
    * folding delete files in as delete events.) */
  private def requireNoMor(snap: Snapshot, what: String): Unit =
    require(snap.deletes.isEmpty,
      s"$what reads data files directly and snapshot v${snap.version} carries " +
        s"${snap.deletes.size} merge-on-read delete file(s) - run " +
        "compactDeletes (or compactTxn) first")

  /** BUCKET SPECS applicable to file `rel` for point probes on
    * (physical) column `col`: the table's CURRENT spec plus any
    * RETIRED spec recovered from the file's own recorded entry names —
    * the derived name `bucket<N>_<src>` SELF-DESCRIBES its transform
    * (kind, param, source), so a file fanned out under an older spec
    * keeps pruning under that spec after [[setTransforms]] replaced it:
    * per-file spec identity (Iceberg's spec-id semantics) with zero
    * manifest changes. Names that are real table columns are excluded
    * — only [[transformStats]] writes non-column entry names, so the
    * pattern + not-a-column test is exact. */
  private[graft] def bucketSpecsFor(snap: Snapshot, rel: String,
                                    col: String): Seq[(String, Int)] = {
    val current = snap.transforms.collect {
      case t if t.kind == "bucket" && t.src == col => (t.name, t.param)
    }
    // a legacy schema-less manifest cannot prove an entry name is not a
    // real column — recover nothing there (sound: fewer skips)
    val retired = snap.schema.map(sc =>
      ColumnMapping.physicalSchema(sc).fieldNames.toSet).fold(
      Seq.empty[(String, Int)]) { cols =>
      val pat = s"^bucket(\\d+)_${java.util.regex.Pattern.quote(col)}$$".r
      snap.stats.getOrElse(rel, Map.empty).keys.toSeq.collect {
        case n @ pat(p) if !cols.contains(n) && !current.exists(_._1 == n) =>
          (n, p.toInt)
      }
    }
    current ++ retired
  }

  /** Multi-column skip decision: a file is PROVABLY untouched when ANY
    * bounded column's recorded [min, max] is disjoint from its bound —
    * the intersection semantics of a conjunctive predicate. A column
    * without recorded stats for a file proves nothing (kept — skipping
    * must never be unsound). */
  private def provablyDisjoint(snap: Snapshot, f: String,
                               bounds: Seq[(String, Long, Long)]): Boolean =
    bounds.exists { case (c, lo, hi) =>
      snap.stats.get(f).flatMap(_.get(c))
        .exists { case (fLo, fHi) => fHi < lo || fLo > hi }
    }

  /** Manifest-level FILE SKIPPING: the table restricted to files whose
    * recorded [min, max] of stats column `col` intersects [lo, hi] —
    * decided from the manifest ALONE (no footer reads, no listing: at
    * 100 TB this is the difference between planning over metadata and
    * opening a million files). Any RECORDED column can prune — the
    * clustered primary gives tight disjoint spans after a clustering
    * [[compactTxn]]; secondary columns prune exactly as well as their
    * values correlate with file layout (e.g. an ingest-time column on
    * append-ordered files), which is Iceberg's multi-column min/max
    * contract too. Files without recorded stats for `col` are always
    * kept (skipping must never be unsound), and the returned frame
    * still carries the residual predicate's correctness: callers apply
    * their own filter on top, as with any coarse index. */
  def readPruned(s: SparkSession, root: String, col: String,
                 lo: Long, hi: Long): DataFrame = {
    val snap = latestRequired(s, root)
    requireNotString(snap, physCol(snap, col),
      "readPruned(lo: Long, hi: Long)", "readPruned(lo: String, hi: String)")
    readPrunedAt(s, root, snap, physCol(snap, col), lo, hi)
  }

  /** [[readPruned]] on a STRING stats column: files whose recorded
    * truncated bounds ([[graft.functions.Utf8Prefix64]]) may contain a
    * value in `[lo, hi]` (inclusive, Spark's binary string order). A
    * value v in the range has `lower(v) <= lower(hi)` and
    * `upper(v) >= ... >= lower(lo)`, so a file is provably clear when
    * `fileLo > lower(hi)` or `fileHi < lower(lo)` — the long path with
    * the probe ends encoded. */
  def readPruned(s: SparkSession, root: String, col: String,
                 lo: String, hi: String): DataFrame = {
    import graft.functions.Utf8Prefix64
    val snap = latestRequired(s, root)
    val pc = physCol(snap, col)
    require(isStringCol(snap, pc),
      s"readPruned(lo: String, hi: String): '$col' is not a string column")
    readPrunedAt(s, root, snap, pc, Utf8Prefix64.lower(lo), Utf8Prefix64.lower(hi))
  }

  private def readPrunedAt(s: SparkSession, root: String, snap: Snapshot,
                           col: String, lo: Long, hi: Long): DataFrame = {
    requireNoMor(snap, "readPruned")
    require(snap.files.nonEmpty, s"snapshot v${snap.version} has no data files")
    val kept = snap.files.filter(f =>
      snap.stats.get(f).flatMap(_.get(col))
        .forall { case (fLo, fHi) => fHi >= lo && fLo <= hi })
    val raw =
      if (kept.nonEmpty) scanFiles(s, root, snap, kept)
      else // everything pruned: zero rows, schema from one footer
        scanFiles(s, root, snap, Seq(snap.files.head)).limit(0)
    snap.schema.fold(raw)(sc => ColumnMapping.aliasToLogical(raw, sc))
  }

  /** [[readPruned]] on the PRIMARY (first-recorded) stats column — the
    * column choice and the file filter come from the SAME resolved
    * snapshot. */
  def readPruned(s: SparkSession, root: String, lo: Long, hi: Long): DataFrame = {
    val snap = latestRequired(s, root)
    snap.statsCols.headOption.foreach(requireNotString(snap, _,
      "readPruned(lo: Long, hi: Long)", "readPruned(col, lo: String, hi: String)"))
    readPrunedAt(s, root, snap, snap.statsCols.headOption.getOrElse(""), lo, hi)
  }

  /** BLOOM-pruned POINT LOOKUP: the table restricted to files whose
    * per-file bloom filter on `col` might contain `value` — the
    * complement of [[readPruned]]'s range stats: min/max prunes range
    * predicates on the CLUSTERED column, blooms prune equality probes
    * on ANY recorded column regardless of layout (the "find this user /
    * this digest" shape that at 100 TB is otherwise a full scan on an
    * unsorted key). False positives only cost an extra file read — the
    * caller's residual filter keeps correctness; files without a filter
    * for `col` are always kept (skipping must never be unsound). */
  def readPointLookup(s: SparkSession, root: String, col: String,
                      value: Long): DataFrame = {
    val snap = latestRequired(s, root)
    requireNotString(snap, physCol(snap, col),
      "readPointLookup(value: Long)", "readPointLookup(value: String)")
    readPointLookupAt(s, root, snap, physCol(snap, col), value)
  }

  /** [[readPointLookup]] on a STRING bloom column: string blooms record
    * `xxhash64(col)` ([[fileMeta]]), so the probe hashes the same way
    * ([[graft.functions.Utf8Prefix64.bloomHash]]) — an equality probe
    * on an unsorted string key ("this URL host / this language") reads
    * only the files whose filter might contain it. */
  def readPointLookup(s: SparkSession, root: String, col: String,
                      value: String): DataFrame = {
    val snap = latestRequired(s, root)
    val pc = physCol(snap, col)
    require(isStringCol(snap, pc),
      s"readPointLookup(value: String): '$col' is not a string column")
    readPointLookupAt(s, root, snap, pc,
      graft.functions.Utf8Prefix64.bloomHash(value))
  }

  private def readPointLookupAt(s: SparkSession, root: String, snap: Snapshot,
                                col: String, value: Long): DataFrame = {
    requireNoMor(snap, "readPointLookup")
    require(snap.files.nonEmpty, s"snapshot v${snap.version} has no data files")
    val kept = snap.files.filter(f =>
      snap.blooms.get(f).flatMap(_.get(col)).forall(b =>
        graft.functions.BloomAgg.fromBytes(b).mightContainLong(value)))
    val raw =
      if (kept.nonEmpty) scanFiles(s, root, snap, kept)
      else scanFiles(s, root, snap, Seq(snap.files.head)).limit(0)
    snap.schema.fold(raw)(sc => ColumnMapping.aliasToLogical(raw, sc))
  }

  /** [[readPointLookup]] on the PRIMARY (first-recorded) bloom column —
    * column choice and file filter from the SAME resolved snapshot. */
  def readPointLookup(s: SparkSession, root: String, value: Long): DataFrame = {
    val snap = latestRequired(s, root)
    snap.bloomCols.headOption.foreach(requireNotString(snap, _,
      "readPointLookup(value: Long)", "readPointLookup(col, value: String)"))
    readPointLookupAt(s, root, snap, snap.bloomCols.headOption.getOrElse(""), value)
  }

  // ---------------------------------------------------------------------
  // Metadata-only aggregates — COUNT(*)/MIN/MAX answered from the
  // MANIFEST alone, zero data reads, zero Spark jobs. The operational
  // primitive every table format serves (Iceberg answers count/min/max
  // from manifest stats; Delta from the transaction log): at 100 TB a
  // row count or a freshness watermark (max of an event-time column)
  // must not cost a million-file scan. EXACT-OR-REFUSE: the answer is
  // either precisely what scanning would return, or None — a file
  // without a recorded count (legacy manifest), or a file without that
  // column's stats entry, refuses rather than guess.
  // ---------------------------------------------------------------------

  /** Exact COUNT(*) of snapshot `version` (default: latest) from the
    * manifest's per-file row counts. None if any live file lacks a
    * recorded count (a fresh commit — even a metadata-only one —
    * backfills counts, see [[commit]]). */
  def metaCount(s: SparkSession, root: String,
                version: Option[Long] = None): Option[Long] = {
    val snap = version.fold(latestRequired(s, root))(snapshot(s, root, _))
    val counts = snap.files.flatMap(snap.rowCounts.get)
    if (counts.size != snap.files.size) None
    // live deletes keep COUNT(*) exact: each distinct live tombstone
    // (file, pos) masks exactly ONE existing row (positions are unique
    // per immutable file), so the count is the per-file sum minus the
    // live tombstones — Iceberg's metadata-count rule for position
    // deletes. Tombstones referencing files no longer in the snapshot
    // mask nothing and are excluded. Reads the (small) delete parquet,
    // never a data file.
    else if (snap.deletes.isEmpty) Some(counts.sum)
    else {
      import org.apache.spark.sql.functions.col
      val live = snap.files.toSet
      val masked = readFiles(s, root, snap.deletes)
        .select(col("_file"), col("_pos")).distinct()
        .filter(col("_file").isInCollection(live)).count()
      Some(counts.sum - masked)
    }
  }

  /** Exact MIN/MAX of recorded stats column `col` at snapshot `version`
    * (default: latest) from the manifest's per-file ranges. The per-file
    * stats are exact (written from the data at commit time, nulls
    * excluded — matching SQL MIN/MAX semantics), so the fold over files
    * is exact. None when the manifest cannot certify exactness: MoR
    * deletes live (the min row may be deleted), or a live file without
    * an entry for `col` — which deliberately includes the all-null file
    * (the manifest does not distinguish "all null" from "not recorded",
    * and guessing is how metadata lies). */
  def metaMinMax(s: SparkSession, root: String, col0: String,
                 version: Option[Long] = None): Option[(Long, Long)] = {
    val snap = version.fold(latestRequired(s, root))(snapshot(s, root, _))
    val col = physCol(snap, col0)
    // string stats are TRUNCATED prefix encodings — folding them would
    // return encoded longs as if they were values (and a truncated max
    // is not the max). Exact-or-refuse: refuse.
    requireNotString(snap, col, "metaMinMax", "a data-path MIN/MAX")
    if (snap.deletes.nonEmpty || snap.files.isEmpty) None
    else {
      val (present, absent) = snap.files.partition(f =>
        snap.stats.get(f).exists(_.contains(col)))
      // a file with a recorded ZERO row count provably contributes
      // nothing (a CoW delete can legitimately stage an empty part) —
      // only a NON-empty file without an entry forces the refusal
      val ranges = present.flatMap(f => snap.stats.get(f).flatMap(_.get(col)))
      if (ranges.isEmpty || !absent.forall(f => snap.rowCounts.get(f).contains(0L)))
        None
      else Some((ranges.map(_._1).min, ranges.map(_._2).max))
    }
  }

  /** RUNTIME JOIN PRUNING — the manifest-level analog of dynamic
    * partition pruning: given the small side of a join (`keys`, one
    * column), read only the files whose recorded range/bloom metadata
    * says they MAY contain one of the keys, then semi-join for
    * exactness. At 100 TB this is the star-join fast path — a dimension
    * filter that selects 50 keys prunes a million-file fact table to
    * the handful of files those keys can live in, at driver-side
    * metadata cost, before a single data byte moves. The keys side is
    * evaluated ONCE (distinct, null-dropped, capped at `maxKeys`); a
    * bigger-than-cap key set falls back honestly to the unpruned
    * semi-join (pruning is an optimization, never a requirement —
    * same contract as Spark's own DPP, which also guards on the
    * build-side size). Result rows are EXACTLY the rows whose `col` is
    * in `keys`: manifest pruning is may-contain, the broadcast
    * semi-join does the exact membership. */
  def readSemiPruned(s: SparkSession, root: String, col: String,
                     keys: DataFrame, maxKeys: Int = 100000): DataFrame = {
    require(keys.columns.length == 1,
      s"keys side must have exactly one column, got ${keys.columns.mkString(",")}")
    val snap = latestRequired(s, root)
    requireNoMor(snap, "readSemiPruned")
    require(snap.files.nonEmpty, s"snapshot v${snap.version} has no data files")
    import org.apache.spark.sql.functions.{broadcast, col => c}
    // STRING keys refuse: the long cast below would silently null every
    // one (an empty, WRONG result), and no registered caller probes by
    // string. A plain left_semi join is exact for them.
    require(keys.schema.fields.head.dataType != org.apache.spark.sql.types.StringType,
      s"readSemiPruned: key column '${keys.columns.head}' is a string — " +
        "only integral keys are probed; use a plain left_semi join")
    val kDf = keys.select(c(keys.columns.head).cast("long").as("_probe_k"))
      .filter(c("_probe_k").isNotNull).distinct()
    val collected = kDf.limit(maxKeys + 1).collect().map(_.getLong(0))
    val colP = physCol(snap, col) // manifest metadata is physical-named
    def semi(data: DataFrame): DataFrame =
      data.join(broadcast(kDf), data(col) === kDf("_probe_k"), "left_semi")
    def logical(raw: DataFrame): DataFrame =
      snap.schema.fold(raw)(sc => ColumnMapping.aliasToLogical(raw, sc))
    if (collected.length > maxKeys)
      return semi(readSnap(s, root, snap)) // honest fallback, still exact —
      // same resolved snapshot, no second manifest parse
    // HIDDEN-PARTITIONING COMPOSITION: a bucket transform over the probe
    // column lets the driver derive each key's bucket with Spark's own
    // hash (XXH64 seed 42 = the xxhash64 SQL function [[Transform]]
    // fans out with) and prune on the per-file (v, v) transform entries
    // — point probes keep ~1/n of the files on an UNSORTED layout,
    // where raw min/max ranges prune nothing. Only sound when the
    // probe value is exactly what the fan-out hashed: the source column
    // must be LONG (the hash is type-dependent); anything else skips
    // the transform check (absent metadata never skips — sound).
    val srcIsLong = snap.schema.exists(sc =>
      ColumnMapping.logicalView(sc).fields.exists(f =>
        f.name == col && f.dataType == org.apache.spark.sql.types.LongType))
    def bucketOf(param: Int, k: Long): Long = {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k, 42L)
      ((h % param) + param) % param
    }
    val kept = snap.files.filter { f =>
      val range = snap.stats.get(f).flatMap(_.get(colP))
      val bloom = snap.blooms.get(f).flatMap(_.get(colP))
        .map(graft.functions.BloomAgg.fromBytes)
      // per-file spec identity (current + retired fan-outs,
      // [[bucketSpecsFor]]): mixed-spec tables prune each file under
      // its own transform
      val specs = bucketSpecsFor(snap, f, colP)
      collected.exists(k =>
        range.forall { case (lo, hi) => lo <= k && k <= hi } &&
          bloom.forall(_.mightContainLong(k)) &&
          (!srcIsLong || specs.forall { case (name, param) =>
            snap.stats.get(f).flatMap(_.get(name)).forall { case (lo, hi) =>
              val v = bucketOf(param, k); lo <= v && v <= hi
            }
          }))
    }
    if (kept.isEmpty)
      semi(logical(scanFiles(s, root, snap, Seq(snap.files.head)).limit(0)))
    else semi(logical(scanFiles(s, root, snap, kept)))
  }

  /** CHANGE DATA FEED: the row-level difference between two committed
    * versions — what a downstream consumer (an incremental materializer,
    * a cache invalidator, a replication target) applies to catch up from
    * v1 to v2 without rereading the table.
    *
    * Computed from ONLY the files that entered or left the manifest
    * between the versions: a file carried across versions cancels
    * exactly, so it is never read — at 100 TB the feed for a targeted
    * delete/merge costs a few files, not a table scan (same
    * metadata-first economics as [[deleteWhere]]'s pruning). Rows from
    * added files count +1, rows from removed files −1, and the per-row
    * MULTISET net decides the emission: net > 0 → `insert`, net < 0 →
    * `delete`, net = 0 (the row moved files, e.g. compaction) → nothing.
    * `_n` carries |net| so duplicate rows keep their multiplicity; a
    * pure compaction between v1 and v2 therefore yields an EMPTY feed.
    *
    * Both sides read under v2's recorded schema (schema-on-read: a
    * column added after v1 compares as null in removed files — the same
    * value v2 readers see). Updates appear as delete+insert pairs on the
    * key, which is the fallback CDC encoding every feed consumer
    * handles.
    *
    * MERGE-ON-READ NATIVE: live position-delete files are part of the
    * versioned state — a delete file IS a set of delete rows, so the
    * feed folds them in rather than refusing (the one raw-file path
    * that can, because the diff is computed against EFFECTIVE content,
    * not raw files):
    *  - data files added/removed between the versions contribute only
    *    their EFFECTIVE rows (positions live at that version masked
    *    out) — a row that was already MoR-deleted at v1 and whose file
    *    is removed by v2 emits nothing, exactly as readers saw it;
    *  - a delete file that appears between v1 and v2 emits `delete`
    *    events carrying the PRE-IMAGE: its new positions (minus those
    *    already dead at v1) semi-join the carried data files — the
    *    only case where carried files are read;
    *  - a delete file that disappears while its data files carry
    *    (a [[restore]] to a pre-delete version) emits the resurrected
    *    rows as `insert`s — the inverted feed of the mistake;
    *  - [[compactDeletes]] rewrites every file while removing the
    *    delete files, and the effective-content diff cancels to an
    *    EMPTY feed, same as any compaction.
    * When the delete-file set is unchanged between the versions
    * (appends while deletes are live — the common CDC window), carried
    * files are still never read: the position diff is empty by
    * file-list identity, from the manifests alone. */
  def changesBetween(s: SparkSession, root: String, v1: Long, v2: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(v1 <= v2, s"changesBetween: v1=$v1 must be <= v2=$v2")
    val s1 = snapshot(s, root, v1)
    val s2 = snapshot(s, root, v2)
    val base = root.stripSuffix("/")
    val f1 = s1.files.toSet
    val f2 = s2.files.toSet
    val added = s2.files.filterNot(f1).map(f => s"$base/$f")
    val removed = (f1 -- f2).toSeq.sorted.map(f => s"$base/$f")
    val carried = s2.files.filter(f1).map(f => s"$base/$f")
    // raw file reads are PHYSICAL-named; each side aliases back to v2's
    // logical names before the union
    val reader = s2.schema.fold(s.read)(sc =>
      s.read.schema(ColumnMapping.physicalSchema(sc)))
    def logical(df: DataFrame): DataFrame =
      s2.schema.fold(df)(sc => ColumnMapping.aliasToLogical(df, sc))
    def positionsOf(files: Seq[String]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(readFiles(s, root, files)
        .select(col("_file").as("_del_file"), col("_pos").as("_del_pos")).distinct())
    lazy val d1 = positionsOf(s1.deletes)
    lazy val d2 = positionsOf(s2.deletes)
    // deletes address rows by (file, ordinal): the join id comes from
    // the parquet metadata columns of the scanned side
    def withPosId(df: DataFrame): DataFrame = df
      .withColumn("_gcdc_file", relFileCol)
      .withColumn("_gcdc_pos", col("_metadata.row_index"))
    def dataCond(df: DataFrame, k: DataFrame) =
      df("_gcdc_file") === k("_del_file") && df("_gcdc_pos") === k("_del_pos")
    def minusPositions(df: DataFrame, dels: Option[DataFrame]): DataFrame =
      dels.fold(df) { k =>
        val d = withPosId(df)
        d.join(k, dataCond(d, k), "left_anti").drop("_gcdc_file", "_gcdc_pos")
      }
    def positionDiff(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] =
      a.map(aa => b.fold(aa)(bb => aa.join(bb,
        aa("_del_file") === bb("_del_file") && aa("_del_pos") === bb("_del_pos"),
        "left_anti")))
    def side(df: DataFrame, sign: Int): DataFrame =
      df.withColumn("_sign", lit(sign.toLong))
    val sides = Seq.newBuilder[DataFrame]
    if (added.nonEmpty)
      sides += side(logical(minusPositions(reader.parquet(added: _*), d2)), 1)
    if (removed.nonEmpty)
      sides += side(logical(minusPositions(reader.parquet(removed: _*), d1)), -1)
    // carried data files matter ONLY when the delete-file set changed —
    // decided from the manifests, so the common live-delete CDC window
    // (appends on top of an unchanged delete set) stays carried-file-free
    if (carried.nonEmpty && s1.deletes.toSet != s2.deletes.toSet) {
      lazy val carriedDf = withPosId(reader.parquet(carried: _*))
      def probe(dels: Option[DataFrame], sign: Int): Unit = dels.foreach { k =>
        sides += side(logical(
          carriedDf.join(k, dataCond(carriedDf, k), "left_semi")
            .drop("_gcdc_file", "_gcdc_pos")), sign)
      }
      // positions only enter D through files, so D2∖D1 lives in the NEW
      // delete files (minus positions v1 already had) — changed files
      // are all that is read beyond the probe of carried data
      probe(positionDiff(positionsOf(s2.deletes.filterNot(s1.deletes.toSet)), d1), -1)
      probe(positionDiff(positionsOf(s1.deletes.filterNot(s2.deletes.toSet)), d2), 1)
    }
    sides.result().reduceOption(_.unionByName(_)) match {
      case None => // identical file sets: an empty feed with the v2 shape
        readAsOf(s, root, v2).limit(0)
          .withColumn("_change_type", lit(""))
          .withColumn("_n", lit(0L))
      case Some(all) =>
        val dataCols = all.columns.filterNot(_ == "_sign").map(col(_))
        all.groupBy(dataCols: _*)
          .agg(sum(col("_sign")).as("_net"))
          .filter(col("_net") =!= 0L)
          .withColumn("_change_type",
            when(col("_net") > 0, "insert").otherwise("delete"))
          .withColumn("_n", abs(col("_net")))
          .drop("_net")
    }
  }

  /** Copy-on-write DELETE: commit a new snapshot without the rows
    * matching `predicate` (the GDPR / right-to-be-forgotten shape, and
    * the row-level correction every warehouse table eventually needs).
    *
    * Cost is proportional to the data that CHANGES, not the table: when
    * the caller bounds the predicate on the table's stats column via
    * `statsRange`, the manifest's per-file [min, max] decides from
    * metadata alone which files could hold matching rows — only those
    * are read and rewritten (minus matches); every other file carries
    * over into the new snapshot by reference, unread and unwritten. At
    * 100 TB a targeted delete touches a handful of files, not the
    * corpus. Files without recorded stats are always rewritten —
    * skipping must never be unsound.
    *
    * Caller contract (same as Iceberg's metadata-pruned deletes):
    * `statsRange` must BOUND the predicate — every row the predicate
    * matches has its stats column inside [lo, hi]. A narrower range
    * silently leaves matching rows alive in carried files. Omit it to
    * rewrite every file (always sound). The rewrite is staged once and
    * its zero-row parts are dropped before commit.
    *
    * Prior snapshots still read the deleted rows (immutable files,
    * snapshot isolation) until [[vacuum]] reclaims them — which is also
    * the compliance horizon: vacuum, not delete, is the point at which
    * the bytes are gone. */
  def deleteWhere(s: SparkSession, root: String,
                  predicate: org.apache.spark.sql.Column,
                  statsRange: Option[(Long, Long)] = None): Snapshot = {
    val cur = latestRequired(s, root)
    deleteWhereImpl(s, root, cur, predicate, primaryBounds(cur, statsRange))
  }

  /** The bound used by the single-range compatibility signatures: the
    * caller's [lo, hi] applied to the PRIMARY stats column of the SAME
    * snapshot the operation runs against (no recorded columns → no
    * bound → every file rewritten, always sound). */
  private def primaryBounds(snap: Snapshot,
      statsRange: Option[(Long, Long)]): Seq[(String, Long, Long)] =
    statsRange.toSeq.flatMap { case (lo, hi) =>
      snap.statsCols.headOption.map(c => (c, lo, hi))
    }

  /** [[deleteWhere]] with MULTI-COLUMN bounds: each (column, lo, hi)
    * entry asserts every predicate-matching row has that RECORDED stats
    * column inside [lo, hi] (the conjunctive form of the single-range
    * caller contract); a file ANY bound proves disjoint carries over by
    * reference — strictly more skipping than the primary-column-only
    * range whenever a second column correlates with layout. */
  def deleteWhereBounded(s: SparkSession, root: String,
                         predicate: org.apache.spark.sql.Column,
                         bounds: Seq[(String, Long, Long)]): Snapshot = {
    val cur = latestRequired(s, root)
    // long bounds against a string column's prefix-encoded stats would
    // narrow the rewrite set wrongly (rows silently kept undeleted)
    bounds.foreach { case (c, _, _) => requireNotString(cur, physCol(cur, c),
      "deleteWhereBounded", "deleteWhere (unbounded, still exact)") }
    deleteWhereImpl(s, root, cur, predicate,
      bounds.map { case (c, lo, hi) => (physCol(cur, c), lo, hi) })
  }

  private def deleteWhereImpl(s: SparkSession, root: String, cur: Snapshot,
                              predicate: org.apache.spark.sql.Column,
                              bounds: Seq[(String, Long, Long)]): Snapshot = {
    requireNoMor(cur, "deleteWhere (copy-on-write)")
    val (carry, touch) =
      if (bounds.isEmpty) (Seq.empty[String], cur.files)
      else cur.files.partition(provablyDisjoint(cur, _, bounds))
    val staged =
      if (touch.isEmpty) Seq.empty[String]
      else {
        // schema-pinned read: predicates on post-evolution columns see
        // null in older files instead of failing to resolve. The
        // predicate is user-facing (LOGICAL names) — filter on the
        // aliased view, restage under the physical names.
        val touched = scanFiles(s, root, cur, touch)
        val rest = cur.schema.fold(touched)(
            sc => ColumnMapping.aliasToLogical(touched, sc))
          .filter(org.apache.spark.sql.functions.not(predicate))
        dropEmptyParts(s, root,
          stage(s, root, Compact.rightSized(toPhys(rest, cur)), cur.transforms))
      }
    commit(s, root, partialRewrite(cur, "delete", carry, staged,
      stagedMeta(s, root, staged, cur.statsCols, cur.bloomCols, cur.transforms)))
  }

  /** Commit a ROW-LEVEL-OPERATION result (SQL UPDATE / MERGE INTO /
    * group-based DELETE arriving through the DataSourceV2 row-level
    * framework, `sources/GraftRowLevel.scala`): the files the
    * operation's scan READ are replaced by the staged files carrying
    * the rewritten rows; every other file carries over by reference
    * with its recorded stats/blooms intact — the copy-on-write group
    * commit, same shape as [[deleteWhere]]'s. `staged` was written by
    * the write protocol's executors (not [[stage]]), so its metadata is
    * computed here from the footers exactly as any append's would be.
    *
    * Conflict stance is REFUSE-LOUD on any head movement: the rewritten
    * rows were computed against `expectedVersion`'s snapshot, and
    * admitting a commit over a moved head would silently drop or
    * resurrect whatever the concurrent writer touched (Iceberg's
    * serializable-isolation default for row-level ops). The caller
    * (Spark's statement execution) surfaces the conflict; re-running
    * the statement re-plans against the new head. */
  /** Can a row-level result planned against `planned` commit safely on
    * top of `cur` under SNAPSHOT isolation? Proven from manifest +
    * sidecar-footer facts alone (Iceberg's conflicting-files /
    * conflicting-delete-files validation for its snapshot isolation
    * level), where `touched` is the set of data files the statement
    * actually rewrites or tombstones:
    *
    *  - every TOUCHED file is still present in `cur` (committed file
    *    paths are immutable, so presence = byte identity — the staged
    *    replacement rows and tombstone ordinals stay valid). Planned
    *    files the statement did NOT touch may be freely rewritten,
    *    compacted, or removed by concurrent commits: the carry list is
    *    taken from `cur`, so their replacements flow through untouched
    *    — two row-level ops on DISJOINT file sets both commit;
    *  - the delete set either did not move, or GREW by position
    *    sidecars whose footer `_file` bounds provably exclude every
    *    touched file (a concurrent MoR statement on other files; a
    *    stat-less delete file conservatively covers everything and
    *    refuses). Tombstones landing ON a touched file
    *    refuse — admitting them would resurrect the concurrently
    *    deleted rows through our rewrite;
    *  - schema / transforms / metadata-column lists are unchanged.
    *
    * Appends and disjoint writers were never seen by the statement's
    * predicate — exactly snapshot semantics. Cross-file write skew
    * (the concurrent writer moved rows INTO our predicate's range in a
    * file we never touched) is admitted, as snapshot isolation allows;
    * the serializable default refuses all head movement. */
  /** None = admissible; Some(reason) = the clause that refused — the
    * reason rides the TxnConflictException so a refused rebase is
    * diagnosable from the error alone (which matters for rare
    * under-load refusals a retry then hides). */
  private def admissibleUnderSnapshot(s: SparkSession, root: String,
      planned: Snapshot, cur: Snapshot,
      touched: Set[String]): Option[String] = {
    val curFiles = cur.files.toSet // set first: million-file lists
    val gone = touched.filterNot(curFiles.contains)
    if (gone.nonEmpty)
      return Some(s"${gone.size} touched file(s) rewritten/removed by " +
        s"the concurrent commit (e.g. ${gone.head}; touched ${touched.size} " +
        s"of ${planned.files.size} planned — touched == planned means the " +
        "conservative covers-everything superset: sidecar content past the " +
        "exact-read cap)")
    if (cur.schema != planned.schema) return Some("schema changed")
    if (cur.transforms != planned.transforms) return Some("transforms changed")
    if (cur.statsCols != planned.statsCols) return Some("statsCols changed")
    if (cur.bloomCols != planned.bloomCols) return Some("bloomCols changed")
    if (cur.deletes == planned.deletes) None
    else {
      val plannedD = planned.deletes.toSet
      // CONSOLIDATED sidecars whose recorded provenance is a subset of
      // the planned delete set folded only content the statement's
      // plan already masked with — a pure representation change
      // ([[compactPosDeletes]]' delProv). Anything they folded BEYOND
      // the planned set is a concurrent statement's tombstones hiding
      // inside a consolidation; such a sidecar is treated as NEW and
      // must pass the disjointness check below like any other.
      val consFromPlanned = cur.delProv.view
        .filterKeys(cur.deletes.contains)
        .filter { case (_, from) => from.forall(plannedD.contains) }
        .toMap
      val foldedIntact = consFromPlanned.valuesIterator.flatten.toSet
      // every planned delete file must either survive verbatim or be
      // provably folded into a surviving consolidated sidecar —
      // otherwise the statement's masking basis was rewritten by
      // content we cannot re-derive: refuse
      val missing = planned.deletes.filterNot(cur.deletes.contains)
      if (!missing.forall(foldedIntact.contains))
        Some("the delete set shrank/rewrote (concurrent delete compaction " +
          "without folded-intact provenance)")
      else {
        val newOnes = cur.deletes
          .filterNot(plannedD).filterNot(consFromPlanned.keySet)
        val overlapping = graft.sources.GraftSidecars
          .metas(s, root.stripSuffix("/"), newOnes)
          .filter(m => touched.exists(m.covers))
        if (overlapping.isEmpty) None
        else Some(s"concurrent sidecar(s) cover touched file(s): " +
          overlapping.take(2).map(m => s"${m.rel} [${m.lo.getOrElse("?")}" +
            s"..${m.hi.getOrElse("?")}]").mkString(", ") +
          (if (overlapping.head.lo.isEmpty)
            " — unknown bounds cover everything" else ""))
      }
    }
  }

  private def rowLevelIsolation(s: SparkSession, root: String): String =
    tableProperties(s, root).getOrElse(RowLevelIsolationKey, "serializable")

  private def staleConflict(root: String, opTag: String, expected: Long,
                            cur: Long, what: String,
                            refusal: Option[String]): Nothing =
    throw new TxnConflictException(
      s"row-level $opTag planned against v$expected but $root is at " +
        s"v$cur — $what; re-run the statement (pure-append and disjoint-file " +
        s"concurrency can rebase under $RowLevelIsolationKey=snapshot)" +
        refusal.fold("")(r => s"; rebase refused because $r"), retry = false)

  /** A row-level commit's attempt budget: a lost slot race re-validates
    * against the new head only where a rebase is allowed at all. */
  private def rowLevelAttempts(rebase: Boolean): Int =
    if (rebase) RowLevelAttempts else 1

  private[graft] def commitReplace(s: SparkSession, root: String,
      expectedVersion: Long, scanned: Set[String], staged: Seq[String],
      opTag: String): Snapshot = {
    val rebase = rowLevelIsolation(s, root) == "snapshot"
    // the PLANNED snapshot is only needed for the snapshot-isolation
    // rebase check; under the serializable default the head must still
    // BE expectedVersion, so the current snapshot (version-checked
    // below) supplies the pinned metadata columns — no historical
    // manifest read, and a mid-statement vacuum of the planned version
    // surfaces as the intended TxnConflictException, never as a
    // missing-manifest error
    lazy val planned = snapshot(s, root, expectedVersion)
    // staged-file metadata is version-independent (it reads only the
    // staged parquet; the metadata-column lists cannot have changed on
    // any head this commit is willing to land on — the version check
    // pins them) — computed ONCE, so a lost slot race retries at
    // manifest-write speed instead of re-running a Spark job while the
    // appenders it is racing keep winning
    var meta: Option[FileMeta] = None
    retrying(rowLevelAttempts(rebase)) {
      val cur = latestRequired(s, root)
      requireNoMor(cur, s"SQL $opTag (row-level rewrite)")
      // mapped tables are fine here: the row-level write physicalizes its
      // schema (GraftRowLevelOperation.physicalize), so `staged` already
      // carries the frozen physical names like any [[stage]] product
      if (cur.version != expectedVersion) {
        val refusal =
          if (rebase) admissibleUnderSnapshot(s, root, planned, cur, scanned)
          else Some("isolation is serializable")
        if (refusal.isDefined)
          staleConflict(root, opTag, expectedVersion, cur.version,
            "the rewrite was computed from a stale snapshot", refusal)
      }
      if (meta.isEmpty) meta = Some(stagedMeta(s, root, staged, cur.statsCols,
        cur.bloomCols, cur.transforms))
      commit(s, root, partialRewrite(cur, opTag, cur.files.filterNot(scanned),
        staged, meta.get))
    }
  }

  /** Commit a POSITION-DELTA result (SQL UPDATE / MERGE / DELETE
    * arriving through the DataSourceV2 delta framework,
    * `sources/GraftPosDelta.scala`, on a table whose
    * `write.rowlevel.mode` property is `merge-on-read`): `posDeletes`
    * are freshly staged position-delete parquet files (`_file` root-
    * relative path, `_pos` row ordinal — [[PosDeleteCols]]) and
    * `addedData` the staged inserted/updated rows. EVERY prior data
    * file carries by reference with its metadata untouched — that is
    * the point: a 10-row UPDATE against a 1 GB file commits a
    * kilobyte tombstone, not a rewrite ([[compactDeletes]] folds the
    * debt in a maintenance window; the CoW path remains the default
    * mode and the read-merge-free regime).
    *
    * SERIALIZABLE by default, like [[commitReplace]]: refuses if the
    * head moved past the planned version (the tombstone positions were
    * computed against that snapshot's files; a racing compaction could
    * have rewritten them, and silently re-pointing tombstones is how
    * deleted rows resurrect). Under `write.rowlevel.isolation =
    * snapshot`, provably safe concurrency REBASES instead
    * ([[admissibleUnderSnapshot]] — appends cannot move a file's
    * ordinals, and commits touching provably disjoint files cannot
    * invalidate this statement's tombstones). */
  private[graft] def commitDelta(s: SparkSession, root: String,
      expectedVersion: Long, addedData: Seq[String],
      posDeletes: Seq[String], opTag: String): Option[Snapshot] = {
    if (addedData.isEmpty && posDeletes.isEmpty) return None // matched 0 rows
    val rebase = rowLevelIsolation(s, root) == "snapshot"
    // planned loaded lazily and staged metadata memoized across slot-
    // race retries, exactly as [[commitReplace]]: the serializable
    // default never reads the historical manifest, and the rebase path
    // computes the staged-file Spark job once
    lazy val planned = snapshot(s, root, expectedVersion)
    // the files this statement TOUCHES: the EXACT distinct `_file`
    // values of its own staged sidecars — self-sufficient admission.
    // Footer `_file` bounds are the wrong basis here: an UNSORTED
    // sidecar (multi-partition statement, or a scan whose file pruning
    // a session conf defeated) records bounds that lexicographically
    // cover files it holds no tombstone for, and a sidecar lacking the
    // stats covers everything — either way a genuinely disjoint rebase
    // gets refused for files the statement never touched. The staged
    // sidecars are this statement's fresh kilobyte-scale output, so
    // the exact set costs one small scan, paid once (lazy), only on
    // the rebase path, only when the head actually moved. Capped loud:
    // past the cap the conservative footer-bounds superset returns.
    lazy val touched: Set[String] = {
      val base = root.stripSuffix("/")
      val cap = 100000
      val rows = readFiles(s, root, posDeletes)
        .select(org.apache.spark.sql.functions.col("_file"))
        .distinct().limit(cap + 1).collect()
      if (rows.length <= cap) rows.map(_.getString(0)).toSet
      else { // conservative superset from footer bounds (old behavior)
        val sm = graft.sources.GraftSidecars.metas(s, base, posDeletes)
        planned.files.filter(f => sm.exists(_.covers(f))).toSet
      }
    }
    var meta: Option[FileMeta] = None
    retrying(rowLevelAttempts(rebase)) {
      val cur = latestRequired(s, root)
      if (cur.version != expectedVersion) {
        val refusal =
          if (rebase) admissibleUnderSnapshot(s, root, planned, cur, touched)
          else Some("isolation is serializable")
        if (refusal.isDefined)
          staleConflict(root, opTag, expectedVersion, cur.version,
            "the tombstone positions were computed from a stale snapshot",
            refusal)
      }
      if (meta.isEmpty) meta = Some(stagedMeta(s, root, addedData,
        cur.statsCols, cur.bloomCols, cur.transforms))
      Some(commit(s, root, appended(cur, opTag, addedData, meta.get)
        .copy(deletes = cur.deletes ++ posDeletes)))
    }
  }

  /** MERGE-ON-READ delete by key — the counterpart of the
    * copy-on-write [[deleteWhere]] that rewrites no data file: resolve
    * `keys` against the head in one pass (the head's data files scanned
    * with their (file, row ordinal), null-safe semi-joined to the keys
    * on every key column), stage the matched positions as
    * position-delete files — the same shape SQL row-level statements
    * write in `merge-on-read` mode — and commit them beside the head's
    * live deletes. Readers mask the positions ([[readAsOf]]) until
    * [[compactDeletes]] folds them in. CoW pays the rewrite at delete
    * time for merge-free reads; MoR pays a data scan and a kilobyte
    * tombstone at delete time and a per-read mask after.
    *
    * The delete reads the data AS OF ITS COMMIT: a lost commit race
    * re-resolves the keys against the new head, so racing-appended rows
    * with a deleted key are deleted too, while a row appended after the
    * commit is never masked — the same table [[deleteWhere]] on the
    * keys would give. No commit (the head is returned) when no live
    * row matches. Raw-file code paths (readPruned / readPointLookup /
    * CoW deleteWhere / mergeInto) REFUSE while MoR deletes are live
    * ([[changesBetween]] instead folds the delete files in as delete
    * events). Time travel is unchanged — an old version without the
    * delete files still reads the deleted rows, and [[vacuum]] treats
    * delete files as referenced data. */
  def deleteKeysMor(s: SparkSession, root: String, keyCol: String,
                    keys: DataFrame): Snapshot =
    deleteKeysMor(s, root, Seq(keyCol), keys)

  /** Composite-key form: `keys` carries one row per deleted key tuple
    * over `keyCols`; rows matching EVERY component (null-safe) are
    * deleted. */
  def deleteKeysMor(s: SparkSession, root: String, keyCols: Seq[String],
                    keys: DataFrame): Snapshot = {
    require(keyCols.nonEmpty, "deleteKeysMor needs at least one key column")
    require(keyCols.distinct == keyCols,
      s"duplicate delete key columns: $keyCols")
    import org.apache.spark.sql.functions.col
    retrying(WriterAttempts) {
      val cur = latestRequired(s, root)
      cur.schema.foreach(sc => keyCols.foreach(c =>
        require(ColumnMapping.logicalView(sc).fieldNames.contains(c),
          s"delete column '$c' is not a table column")))
      if (cur.files.isEmpty) cur
      else withStagingDir(s, root) { rel =>
        // data files hold PHYSICAL names; the keys probe them there. A
        // semi-join needs no distinct keys. Rows a live delete already
        // masks may match again: a duplicate tombstone is legal, every
        // mask dedups
        val keyColsP = keyCols.map(physCol(cur, _))
        val ks = keys.select(keyCols.map(col): _*)
          .toDF(keyColsP.map("_gdel_key_" + _): _*)
        val data = scanFiles(s, root, cur, cur.files).select(
          relFileCol.as("_gdel_file") +: col("_metadata.row_index").as("_gdel_pos") +:
            keyColsP.map(col): _*)
        // right-sized like every writer's output: a small table's
        // tombstones land in one sidecar, not one per scan partition
        val hits = Compact.rightSized(data.join(ks,
            keyColsP.map(c => data(c) <=> ks("_gdel_key_" + c)).reduce(_ && _),
            "left_semi")
          .select(col("_gdel_file").as("_file"), col("_gdel_pos").as("_pos")))
          .sortWithinPartitions(PosDeleteCols.map(col): _*)
        val staged = dropEmptyParts(s, root, stageDeleteFiles(s, root, rel, hits))
        if (staged.isEmpty) cur
        else commit(s, root, cur.copy(version = cur.version + 1,
          op = "delete-mor", deletes = cur.deletes ++ staged))
      }
    }
  }

  /** Fold live merge-on-read delete files into the data: ONE rewrite of
    * the merged table, after which the snapshot carries no delete files
    * and every raw-file reader works again — the compaction bill CoW
    * would have paid per delete, paid once per maintenance window. */
  def compactDeletes(s: SparkSession, root: String): Snapshot =
    retrying(WriterAttempts) {
      val cur = latestRequired(s, root)
      if (cur.deletes.isEmpty) cur
      else withStagingDir(s, root) { rel =>
        // the masked view IS the new content — resolved against
        // THIS head, so unlike append retries the staged
        // result is STALE after a lost race (a racing append's rows
        // would be silently dropped by re-committing it): every attempt
        // re-reads and re-stages from the new head, and a lost
        // attempt's rewrite is deleted with its staging dir. The price
        // of losing a race here is a full rewrite — which is the
        // operation's own cost, and why maintenance compaction runs in
        // a quiet window.
        val merged = readAsOf(s, root, cur.version)
        val staged = stage(s, root, toPhys(merged, cur), cur.transforms, rel)
        commit(s, root, fullRewrite(s, root, cur, "compact-deletes", staged,
          cur.statsCols, cur.schema.orElse(Some(merged.schema))))
      }
    }

  /** Run one staging attempt in a fresh `data/<uuid>` dir — `body` gets
    * its root-relative name and commits. If the attempt fails (a lost
    * commit race included) the dir is deleted with everything staged in
    * it: on a lost race its content is stale against the new head, on
    * any other failure it would leak until [[orphanFiles]]. */
  private[sinks] def withStagingDir[A](s: SparkSession, root: String)(
      body: String => A): A = {
    val rel = newStagingDir()
    try body(rel)
    catch {
      case scala.util.control.NonFatal(e) =>
        fs(s, root).delete(new Path(s"${root.stripSuffix("/")}/$rel"), true)
        throw e
    }
  }

  /** Write `df` under staging dir `rel` as delete files: parquet parts
    * renamed `del-*`, the prefix that marks the sidecar shape in dir
    * listings (the delta writer's own staging uses it too). */
  private def stageDeleteFiles(s: SparkSession, root: String, rel: String,
      df: DataFrame, options: Map[String, String] = Map.empty): Seq[String] = {
    val dir = new Path(s"${root.stripSuffix("/")}/$rel")
    val f = fs(s, root)
    df.write.mode("errorifexists").options(options).parquet(dir.toString)
    f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val to = new Path(dir, s"del-${st.getPath.getName}")
        require(f.rename(st.getPath, to), s"could not stage delete file ${st.getPath}")
        s"$rel/${to.getName}"
      }
  }

  /** Auto-sizing budget for [[compactPosDeletes]] (`targetFiles = 0`):
    * consolidated sidecars hold at most this many entries each. */
  private val MaxSidecarEntries = 4000000L

  /** Parquet row-group size (bytes) of [[compactPosDeletes]]' output.
    * Small groups (default 1 MiB) keep per-group `_file` footer bounds
    * tight — the scan's row-group routing is what keeps a masked
    * task's sidecar read file-sized on a consolidated sidecar. */
  val CompactBlockBytesKey = "spark.graft.posDeletes.compactBlockBytes"

  /** Rewrite the POSITION-DELETE SIDECARS only — never a data file
    * (Iceberg's `rewrite_position_delete_files` action, the maintenance
    * op between "do nothing" and [[compactDeletes]]'s full fold): merge
    * the accumulated per-statement sidecars into `targetFiles`
    * consolidated ones, deduped, DROPPING dangling entries (tombstones
    * whose data file left the snapshot — a partial compaction rewrote
    * it), clustered and sorted by `(_file, _pos)` so each sidecar's
    * footer `_file` bounds stay tight and the scan's candidate pruning
    * keeps routing each masked task to one sidecar.
    *
    * Why it exists: every MoR UPDATE/DELETE stages its own kilobyte
    * sidecars, so a busy table accumulates thousands; folding them into
    * the data ([[compactDeletes]]) costs a full rewrite, while THIS op
    * costs O(live tombstones) — metadata-scale — and keeps the scan's
    * task-side resolution cheap. Data files carry BY REFERENCE with
    * stats/blooms/row counts untouched; visible content is unchanged, so the commit
    * classifies as maintenance (`compact-pos-deletes`) and the change
    * feed emits nothing. Retries on a lost commit race by re-resolving
    * against the new head ([[retrying]] — a consolidation
    * staged against a stale snapshot could resurrect a racing
    * statement's deletes). No-op on a tombstone-free table. */
  def compactPosDeletes(s: SparkSession, root: String,
                        targetFiles: Int = 0): Snapshot = {
    require(targetFiles >= 0,
      s"targetFiles must be positive (or 0 = auto-size), got $targetFiles")
    import org.apache.spark.sql.functions.{broadcast, col}
    retrying(WriterAttempts) {
      val cur = latestRequired(s, root)
      if (cur.deletes.isEmpty) cur
      else {
        val base = root.stripSuffix("/")
        // auto-size from the live entry count (footer metas — cached,
        // no data pages) so per-sidecar coverage stays bounded however
        // large the debt: maintenance must never produce a sidecar whose
        // footer bounds force every masked task through the whole set
        val nFiles =
          if (targetFiles > 0) targetFiles
          else {
            val entries = graft.sources.GraftSidecars
              .metas(s, base, cur.deletes).map(_.rows).sum
            math.max(1L, (entries + MaxSidecarEntries - 1) /
              MaxSidecarEntries).toInt
          }
        // live entries only: semi-join against the snapshot's file list
        // (driver-held anyway; broadcast — file-count-scale)
        val liveDf = s.createDataFrame(
          s.sparkContext.parallelize(cur.files.map(org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_live_file",
              org.apache.spark.sql.types.StringType, nullable = false))))
        val consolidated = s.read
          .parquet(cur.deletes.map(f => s"$base/$f"): _*)
          .select(col("_file"), col("_pos")).distinct()
          .join(broadcast(liveDf), col("_file") === col("_live_file"),
            "left_semi")
          .repartitionByRange(nFiles, col("_file"), col("_pos"))
          .sortWithinPartitions(col("_file"), col("_pos"))
        withStagingDir(s, root) { rel =>
          val staged: Seq[String] =
            if (consolidated.isEmpty) Nil // every entry was dangling
            else {
              // SMALL row groups (1 MiB buffered): the scan routes each
              // masked task to the row-group runs whose footer `_file`
              // bounds admit its file, so tight groups — a handful of
              // data files each — are what keep a consolidated sidecar's
              // per-task read file-sized, not debt-sized
              val blockBytes = s.conf.getOption(CompactBlockBytesKey)
                .map(_.toLong).getOrElse(1L << 20)
              stageDeleteFiles(s, root, rel, consolidated,
                Map("parquet.block.size" -> blockBytes.toString))
            }
          commit(s, root, cur.copy(version = cur.version + 1,
            op = "compact-pos-deletes", deletes = staged,
            // provenance: each consolidated sidecar records the delete
            // files it folded — "the delete set was preserved" becomes a
            // manifest fact, so a row-level statement planned against
            // the pre-consolidation snapshot can REBASE over this
            // maintenance commit instead of refusing on content
            // equality it cannot re-derive ([[admissibleUnderSnapshot]])
            delProv = staged.map(_ -> cur.deletes).toMap))
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Table PROPERTIES — a small operational key=value bag in a `_txn`
  // sidecar (`props.txt`). DELIBERATELY un-versioned: properties are
  // write-behavior configuration (which DELETE/UPDATE regime to plan),
  // not content — time travel and restore must not flip a table's
  // operational mode, and every recorded property applies to writes
  // FROM NOW ON. Known keys are validated at set time; unknown keys
  // refuse loud.
  // ---------------------------------------------------------------------

  /** `write.rowlevel.mode`: how SQL UPDATE/MERGE/subquery-DELETE plans —
    * `copy-on-write` (default; rewrite touched files, merge-free reads)
    * or `merge-on-read` (commit position-delete tombstones + new rows,
    * readers merge until [[compactDeletes]] — Iceberg's
    * `write.update.mode` knob, one knob for all three commands). */
  val RowLevelModeKey = "write.rowlevel.mode"

  /** `write.rowlevel.isolation`: what a SQL UPDATE/MERGE/DELETE does
    * when the head moved past its planned snapshot — `serializable`
    * (default: refuse, re-run the statement) or `snapshot` (REBASE over
    * concurrent commits that are provably SAFE by manifest + footer
    * facts — pure appends, and row-level/compaction commits whose
    * touched files and new tombstones are disjoint from everything
    * this statement rewrites or masks
    * ([[admissibleUnderSnapshot]]); anything else still
    * refuses). Iceberg's `write.update.isolation-level` knob: appended
    * rows were never seen by the statement's predicate (snapshot
    * semantics) and cannot invalidate scanned files or tombstone
    * positions, so a busy ingest table can take row-level repairs
    * without retry storms. */
  val RowLevelIsolationKey = "write.rowlevel.isolation"

  private def propsPath(root: String): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/props.txt")

  /** The torn-update intent file: `props.txt.next` only ever exists as
    * a FULLY-WRITTEN replacement (it is renamed into place from a uuid
    * temp), so its presence means a [[setTableProperty]] crashed between
    * "delete old" and "rename new" — [[tableProperties]] read-repairs by
    * finishing the swap rather than silently reverting to defaults
    * (a lost `write.rowlevel.mode` would flip the table's row-level
    * regime without anyone asking). */
  private def propsNextPath(root: String): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/props.txt.next")

  def tableProperties(s: SparkSession, root: String): Map[String, String] = {
    val f = fs(s, root)
    val p = propsPath(root)
    val next = propsNextPath(root)
    if (f.exists(next)) { // finish a torn swap: next is complete by construction
      f.delete(p, false)
      if (!f.rename(next, p) && !f.exists(p))
        throw new IllegalStateException(s"could not repair $p from $next")
    }
    if (!f.exists(p)) Map.empty
    else readSmallFile(s, root, p).split("\n").toSeq.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
  }

  def setTableProperty(s: SparkSession, root: String,
                       key: String, value: String): Unit = {
    key match {
      case RowLevelModeKey => require(
        value == "copy-on-write" || value == "merge-on-read",
        s"$RowLevelModeKey must be copy-on-write or merge-on-read, got '$value'")
      case RowLevelIsolationKey => require(
        value == "serializable" || value == "snapshot",
        s"$RowLevelIsolationKey must be serializable or snapshot, got '$value'")
      case k if k.startsWith(ConstraintKeyPrefix) =>
        validateConstraint(s, root, k, value)
      case other => throw new IllegalArgumentException(
        s"unknown table property '$other' — known: $RowLevelModeKey, " +
          s"$RowLevelIsolationKey, $ConstraintKeyPrefix<name> " +
          "(statsCols/bloomCols are ALTER TABLE SET TBLPROPERTIES surfaces " +
          "that version through the manifest, not sidecar properties)")
    }
    val head = latestRequired(s, root) // a table must exist to configure
    val before = tableProperties(s, root) // also repairs
    writeProps(s, root, before + (key -> value))
    logPropChanges(s, root, head.version, before,
      Seq(("SET", key, value)))
  }

  /** Crash-safe publish: uuid temp → rename to the `.next` intent file
    * (atomic; `.next` is thus always complete) → delete current →
    * rename `.next` into place. A crash at any point leaves either the
    * old file, or a complete `.next` that [[tableProperties]] repairs
    * forward — never a silent revert to defaults. */
  private def writeProps(s: SparkSession, root: String,
                         all: Map[String, String]): Unit = {
    val f = fs(s, root)
    val next = propsNextPath(root)
    val tmp = new Path(propsPath(root).getParent,
      s".tmp-props-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    try out.write(all.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.delete(next, false) // stale intent was consumed by tableProperties
    if (!f.rename(tmp, next))
      throw new IllegalStateException(s"could not stage $next")
    f.delete(propsPath(root), false)
    if (!f.rename(next, propsPath(root)))
      throw new IllegalStateException(s"could not write ${propsPath(root)}")
  }

  private[graft] def rowLevelMode(s: SparkSession, root: String): String =
    tableProperties(s, root).getOrElse(RowLevelModeKey, "copy-on-write")

  // ---------------------------------------------------------------------
  // Versioned property HISTORY — the table-contract log. Write-time
  // semantics are UNCHANGED (writes consult `props.txt`, the current
  // contract; time travel and restore never flip a table's operational
  // mode), but every change is RECORDED against the head version it
  // was made at, in an append-only dir of immutable one-change files
  // (`_txn/props/change-*.txt` — one file per change, no filesystem
  // append() dependency, crash-safe via tmp+rename). That gives time
  // travel a contract AS OF version N ([[propertiesAt]], CHECK
  // constraints included) and an audit meta table
  // ([[TxnMeta.propertyHistory]]) without touching the hot
  // [[tableProperties]] read path. A table whose properties predate
  // the log gets a SEED baseline (recorded at version 0: the earliest
  // per-version attribution is unknown, so the baseline is treated as
  // having always held — exactly the legacy fallback's answer).
  // ---------------------------------------------------------------------

  private def propsLogDir(root: String): Path =
    new Path(s"${root.stripSuffix("/")}/_txn/props")

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
  private def dec(v: String): String =
    java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)

  /** One parsed change record: (headVersion, tsMs, op, key, value).
    * op ∈ SEED | SET | UNSET (value empty for UNSET). */
  private[sinks] def propertyLog(s: SparkSession, root: String)
      : Seq[(Long, Long, String, String, String)] = {
    val f = fs(s, root)
    val dir = propsLogDir(root)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("change-"))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        readSmallFile(s, root, st.getPath).split("\n").toSeq
          .filter(_.nonEmpty).map { l =>
            val p = l.split("\t", -1)
            require(p.length == 5, s"corrupt property-log line in ${st.getPath}")
            (p(0).toLong, p(1).toLong, p(2), dec(p(3)), dec(p(4)))
          }
      }
      .sortBy(e => (e._1, e._2))
  }

  /** Record property changes against head version `head` (plus a SEED
    * baseline the first time a pre-log table is changed). Written
    * AFTER the `props.txt` swap succeeds: a crash in between loses
    * only the audit row, never the contract itself. */
  private def logPropChanges(s: SparkSession, root: String, head: Long,
      before: Map[String, String],
      changes: Seq[(String, String, String)]): Unit = {
    val f = fs(s, root)
    val dir = propsLogDir(root)
    f.mkdirs(dir)
    val now = System.currentTimeMillis()
    val seed =
      if (before.nonEmpty && propertyLog(s, root).isEmpty)
        before.toSeq.sortBy(_._1).map { case (k, v) =>
          s"0\t$now\tSEED\t${enc(k)}\t${enc(v)}"
        }
      else Nil
    val lines = seed ++ changes.map { case (op, k, v) =>
      s"$head\t$now\t$op\t${enc(k)}\t${enc(v)}"
    }
    val name = s"change-${"%020d".format(head)}-$now-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.txt"
    val tmp = new Path(dir, s".tmp-$name")
    val out = f.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, new Path(dir, name)))
      throw new IllegalStateException(s"could not record property change $name")
  }

  /** The table contract AS OF `version`: replay the change log up to
    * and including that version. A legacy table with NO log answers
    * with its current properties for every version (the log cannot
    * reconstruct what it never saw — same answer the SEED baseline
    * freezes in once the table is first changed post-upgrade). */
  def propertiesAt(s: SparkSession, root: String,
                   version: Long): Map[String, String] = {
    val log = propertyLog(s, root)
    if (log.isEmpty) tableProperties(s, root)
    else log.filter(_._1 <= version).foldLeft(Map.empty[String, String]) {
      case (m, (_, _, op, k, v)) =>
        if (op == "UNSET") m - k else m + (k -> v)
    }
  }

  // ---------------------------------------------------------------------
  // Table CONSTRAINTS — Delta-shaped CHECK invariants enforced at write
  // time (`delta.constraints.<name>` semantics): property key
  // `constraint.<name>`, value a boolean SQL expression over LOGICAL
  // column names (NOT NULL is spelled `col IS NOT NULL`). SQL-standard
  // CHECK null semantics: a row passes when the expression is TRUE or
  // UNKNOWN; only a provable FALSE violates. ADD validates the CURRENT
  // table content first (a constraint the head already violates refuses
  // at set time); every subsequent write of NEW rows — append / overwrite
  // / merge / streaming batch / row-level SQL — validates its batch
  // BEFORE committing and refuses ATOMICALLY (nothing staged survives a
  // violation). Un-versioned like every sidecar property: constraints
  // survive compaction, restore, and branch replay by construction, and
  // a RESTORE to a pre-constraint version is not re-validated (the
  // contract gates writes from now on — Delta's behavior).
  // ---------------------------------------------------------------------

  val ConstraintKeyPrefix = "constraint."

  /** Recorded CHECK constraints: name → boolean SQL expression. */
  def constraints(s: SparkSession, root: String): Map[String, String] =
    tableProperties(s, root).collect {
      case (k, v) if k.startsWith(ConstraintKeyPrefix) =>
        k.drop(ConstraintKeyPrefix.length) -> v
    }

  def addConstraint(s: SparkSession, root: String,
                    name: String, expression: String): Unit =
    setTableProperty(s, root, s"$ConstraintKeyPrefix$name", expression)

  /** Remove a sidecar property (constraints; the row-level mode resets
    * to its default). Same crash-safe publish as [[setTableProperty]]. */
  def unsetTableProperty(s: SparkSession, root: String, key: String): Unit = {
    require(key == RowLevelModeKey || key == RowLevelIsolationKey ||
      key.startsWith(ConstraintKeyPrefix),
      s"unknown table property '$key'")
    val head = latestRequired(s, root)
    val before = tableProperties(s, root)
    writeProps(s, root, before - key)
    logPropChanges(s, root, head.version, before,
      Seq(("UNSET", key, "")))
  }

  /** ADD-time validation: name well-formed, expression parses and
    * resolves boolean against the table's logical schema, and the
    * CURRENT content satisfies it (one `LIMIT 1` violation probe —
    * Delta's ADD CONSTRAINT scan). */
  private def validateConstraint(s: SparkSession, root: String,
                                 key: String, expression: String): Unit = {
    import org.apache.spark.sql.{functions => F}
    val name = key.drop(ConstraintKeyPrefix.length)
    require(name.nonEmpty && name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"constraint name '$name' must be [A-Za-z][A-Za-z0-9_]*")
    val df = read(s, root) // merges MoR deletes: validate EFFECTIVE content
    val bad =
      try df.filter(!F.coalesce(F.expr(expression).cast(
          org.apache.spark.sql.types.BooleanType), F.lit(true)))
        .limit(1).collect()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"constraint '$name' ($expression) does not resolve as a boolean " +
            s"expression over the table's columns: ${e.getMessage}") }
    require(bad.isEmpty,
      s"cannot add constraint '$name' CHECK ($expression): existing rows " +
        s"violate it, e.g. ${bad.head}")
  }

  /** Refuse-loud CHECK enforcement on a write batch (LOGICAL names),
    * BEFORE any staging — a violating batch commits nothing. One
    * `LIMIT 1` job over the batch, only when constraints exist. */
  private[graft] def enforceConstraints(s: SparkSession, root: String,
                                        df: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.{functions => F}
    val cs = constraints(s, root)
    if (cs.isEmpty) return
    val names = cs.keys.toSeq
    val flags = cs.toSeq.map { case (n, e) =>
      F.coalesce(F.expr(e).cast(org.apache.spark.sql.types.BooleanType),
        F.lit(true)).as(n) }
    val viol =
      try df.select(flags: _*)
        .where(names.map(n => !F.col(n)).reduce(_ || _)).limit(1).collect()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$what to $root cannot evaluate CHECK constraint(s) " +
            s"${names.mkString(", ")} against this batch (a constrained " +
            s"column must be present): ${e.getMessage}") }
    viol.headOption.foreach { r =>
      val broken = names.filter(n => !r.getAs[Boolean](n))
      throw new IllegalArgumentException(
        s"$what to $root violates CHECK constraint(s) " +
          broken.map(n => s"'$n' (${cs(n)})").mkString(", ") +
          " — no rows were committed")
    }
  }

  /** [[enforceConstraints]] over already-STAGED physical files (the
    * row-level SQL paths, whose writes happen in executors before the
    * commit): read the staged bytes back under logical names and refuse
    * BEFORE the manifest commit — the caller aborts the staged files. */
  private[graft] def enforceConstraintsStaged(s: SparkSession, root: String,
      snap: Snapshot, rels: Seq[String], what: String): Unit = {
    if (rels.isEmpty || constraints(s, root).isEmpty) return
    val df0 = scanFiles(s, root, snap, rels)
    enforceConstraints(s, root,
      snap.schema.fold(df0)(sc => ColumnMapping.aliasToLogical(df0, sc)), what)
  }

  /** RESTORE — roll the table back to `toVersion` as a NEW commit (the
    * warehouse-standard undo for a bad load): the restored manifest is a
    * verbatim copy of the target snapshot's file list, stats, blooms,
    * and schema, so the operation is METADATA-ONLY — zero data movement
    * at any table size — and history is linear and preserved: the bad
    * versions stay time-travelable until [[vacuum]], and
    * [[changesBetween]] across the restore commit yields exactly the
    * rows it undid (the feed of the mistake, inverted). Restoring
    * forward (to a version newer than a prior restore's target) is the
    * same operation — any retained version is a valid target. Only
    * versions still within the vacuum retention window can be restored:
    * vacuum drops old manifests AND their unreferenced files, at which
    * point this throws on the missing manifest rather than committing a
    * snapshot with dangling file references. */
  def restore(s: SparkSession, root: String, toVersion: Long): Snapshot = {
    val snap = snapshot(s, root, toVersion)
    commit(s, root, snap.copy(version = nextVersion(s, root),
      op = s"restore:$toVersion"))
  }

  /** Retention: keep the newest `retainVersions` manifests, drop older
    * ones, then delete every data file (and empty uuid dir) that no
    * retained manifest references. Time travel older than the horizon
    * is gone by design — that is what vacuum means. */
  /** Default in-flight grace for [[vacuum]]: unreferenced files younger
    * than this are presumed to be a concurrent writer's staged-but-not-
    * yet-committed data and are left alone. */
  val DefaultVacuumGraceMs: Long = 30L * 60L * 1000L

  private val StagedMarkerRe = "^staged-[a-f0-9]+\\.txt$".r

  /** Every data-pool file some retained manifest can still reach:
    * `keep` versions' files AND their MoR delete files (vacuuming
    * one would silently resurrect its deleted rows), and branch
    * commits' files (shared-pool paths only the branch manifests know
    * about). Returns (data+delete files, manifest segments). */
  private def referencedFiles(s: SparkSession, root: String,
                              keep: Seq[Long]): (Set[String], Set[String]) = {
    val branchRefs = branches(s, root)
    val snaps = keep.map(v => snapshot(s, root, v)) ++
      branchRefs.keys.flatMap(b => branchVersions(s, root, b).map { v =>
        parseManifest(s, root, v,
          readSmallFile(s, root, branchManifestPath(root, b, v)),
          s"branch $b v$v")
      })
    (snaps.flatMap(sn => sn.files ++ sn.deletes).toSet,
      snaps.flatMap(_.segs).toSet)
  }

  /** REPORT-ONLY orphan scan (Iceberg's `remove_orphan_files` dry-run
    * semantic, distinct from [[vacuum]]'s history expiry): data-pool
    * files that NO reachable manifest references — not any version's,
    * not a branch's — and that are older than
    * `graceMs` (younger unreferenced files are presumed to be a
    * concurrent writer's staged-but-not-yet-committed data, the same
    * in-flight guard vacuum applies). These are write-attempt debris:
    * speculative/retried task outputs, aborted row-level rewrites,
    * crashed stream epochs. Returns (relative path, bytes, mtime-ms),
    * deterministically ordered. Driver-side manifest + listing work —
    * no data reads. */
  def orphanFiles(s: SparkSession, root: String,
                  graceMs: Long = DefaultVacuumGraceMs): Seq[(String, Long, Long)] = {
    val f = fs(s, root)
    val (live, _) = referencedFiles(s, root, versions(s, root))
    val horizon = System.currentTimeMillis() - graceMs
    val base = root.stripSuffix("/")
    val dataDir = new Path(s"$base/data")
    if (!f.exists(dataDir)) return Nil
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = f.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val rel = "data/" + st.getPath.toUri.getPath
          .stripPrefix(dataDir.toUri.getPath.stripSuffix("/") + "/")
        if (!live.contains(rel) && st.getModificationTime <= horizon)
          out += ((rel, st.getLen, st.getModificationTime))
      }
    }
    out.result().sortBy(_._1)
  }

  def vacuum(s: SparkSession, root: String, retainVersions: Int,
             graceMs: Long = DefaultVacuumGraceMs): Unit = {
    require(retainVersions >= 1, "must retain at least the current version")
    val f = fs(s, root)
    val vs = versions(s, root)
    val (dropByAge, keepByAge) = vs.splitAt(math.max(0, vs.size - retainVersions))
    // a tagged version is pinned history — retention by count never
    // drops it (Iceberg's tag-retention contract). A
    // branch FORK version is pinned the same way: an empty branch's
    // head IS the fork manifest, and every branch manifest chains off
    // its content — dropBranch first.
    val branchRefs = branches(s, root)
    val pinned = tags(s, root).values.toSet ++ branchRefs.values
    val keep = dropByAge.filter(pinned) ++ keepByAge
    val drop = dropByAge.filterNot(pinned)
    val (live, liveSegs) = referencedFiles(s, root, keep)
    drop.foreach(v => f.delete(manifestPath(root, v), false))
    // manifest SEGMENTS referenced by no retained manifest (any branch
    // included) are garbage — the same grace guard as data
    // files protects a concurrent committer's segments written just
    // before its version-file CAS. So are `staged-<id>.txt` markers,
    // left by the write-audit-publish commits older tables may hold:
    // nothing reads them, and their unpublished files go with the
    // unreferenced data below.
    locally {
      val horizon0 = System.currentTimeMillis() - graceMs
      val txnDir = new Path(s"${root.stripSuffix("/")}/_txn")
      f.listStatus(txnDir).toSeq
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && st.getModificationTime <= horizon0 &&
            (SegNameRe.matches(n) && !liveSegs.contains(n) ||
              StagedMarkerRe.matches(n))
        }
        .foreach(st => f.delete(st.getPath, false))
    }
    val base = root.stripSuffix("/")
    val dataDir = new Path(s"$base/data")
    // A file referenced by NO retained manifest is garbage — unless it
    // is younger than graceMs: a concurrent writer stages files BEFORE
    // publishing the manifest that references them, so an unreferenced
    // young file may be an in-flight commit, and deleting it would make
    // that writer publish a manifest of dead paths. Same guard every
    // production format applies (Delta's retention check); pass
    // graceMs = 0 only when no writer can be in flight (tests, offline
    // maintenance windows).
    val horizon = System.currentTimeMillis() - graceMs
    if (f.exists(dataDir)) {
      f.listStatus(dataDir).toSeq.filter(_.isDirectory).foreach { d =>
        val rel = s"data/${d.getPath.getName}"
        // RECURSIVE walk: hidden-partition fan-out ([[stage]] with
        // transforms) nests parts under <transform>=<value>/ subdirs —
        // a one-level listing would see no parquet at the top, judge
        // the staging dir empty, and recursively delete LIVE files
        val it = f.listFiles(d.getPath, true)
        val parts = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) parts += st
        }
        val prefix = d.getPath.toUri.getPath.stripSuffix("/") + "/"
        val (alive, dead) = parts.result().partition(st =>
          live.contains(s"$rel/${st.getPath.toUri.getPath.stripPrefix(prefix)}") ||
            st.getModificationTime > horizon)
        dead.foreach(st => f.delete(st.getPath, false))
        // no live data left → drop the dir (sidecars like _SUCCESS/.crc
        // must not keep an orphaned staging dir alive)
        if (alive.isEmpty) f.delete(d.getPath, true)
      }
    }
  }
}
