package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cheap source fingerprinting for derived artifacts, and the one
  * build-once mechanism built on it.
  *
  * ARTIFACT-CACHE CONTRACT. Every build-once artifact in this codebase
  * (the bucketed layouts, the IVF index, Incremental's maintained
  * table, Materialized's view, Txn's demo logs, and the per-session
  * in-memory artifacts: signatures, dev subtree, CC labels, BPE vocab
  * and merges, IVF centroids and probes, the quality model) is a
  * materialization of a source dataset AS OF build time. Its validity
  * is decided by a fingerprint of the source's file listing
  * (name + length + mtime per data file: one `getFileStatus`/
  * `listStatus` call, no data read), never by path or existence, so
  * data regenerated under an existing path triggers a rebuild instead
  * of silently serving stale results:
  *
  *  - on-disk artifacts go through [[ensure]]: under a reentrant lock
  *    per artifact directory, a directory whose `_source_stamp` marker
  *    (underscore prefix, invisible to Spark's file-listing scans)
  *    differs from the current stamp is deleted and rebuilt, and the
  *    marker is written LAST. It is the build's commit marker: a build
  *    that throws leaves no marker, so the next call rebuilds;
  *  - in-memory artifacts live in a [[StampCache]]: keyed by (session,
  *    dir, stamp), built on a miss, superseded stamps evicted and
  *    released (unpersisted) on the next access, and every cache is
  *    cleared by [[reset]].
  *
  * At 100 TB the stamp call is one object-store LIST per ensure, noise
  * against any real query, and the semantics match what production
  * formats get from snapshot ids: artifact validity is decided by the
  * source's version, not by "did someone remember to clear caches".
  * SourceStampSpec proves both paths.
  */
object SourceStamp {

  /** Fingerprint of one or more source paths (files or directories):
    * sorted `name:len:mtime` of each data file. */
  def stamp(s: SparkSession, paths: Seq[String]): String = {
    val lines = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Seq(s"$p:absent")
      else {
        val st = fs.getFileStatus(path)
        if (st.isFile) Seq(s"${path.getName}:${st.getLen}:${st.getModificationTime}")
        else fs.listStatus(path).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      }
    }
    lines.sorted.mkString("\n")
  }

  /** Stamp of one testdata table of `sfDir`. */
  def table(s: SparkSession, sfDir: String, name: String): String =
    stamp(s, Seq(s"${sfDir.stripSuffix("/")}/$name.parquet"))

  private def marker(artifactDir: String): Path =
    new Path(s"${artifactDir.stripSuffix("/")}/_source_stamp")

  /** True iff `artifactDir` carries a marker equal to `st`. */
  def isCurrent(s: SparkSession, artifactDir: String, st: String): Boolean =
    recorded(s, artifactDir).contains(st)

  /** The marker's recorded stamp, if any — for incremental maintainers
    * that DIFF the recorded listing against the current one (the stamp
    * is the sorted per-file listing, so set-difference of its lines IS
    * the file-level delta). */
  def recorded(s: SparkSession, artifactDir: String): Option[String] = {
    val m = marker(artifactDir)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Record `st` as `artifactDir`'s source version (call AFTER a
    * successful build). */
  def write(s: SparkSession, artifactDir: String, st: String): Unit = {
    val m = marker(artifactDir)
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(m, true)
    try out.write(st.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Runs `body` holding `artifactDir`'s lock (reentrant): builds and
    * incremental maintenance of one artifact never interleave, while
    * different artifacts build concurrently. */
  def locked[T](artifactDir: String)(body: => T): T =
    locks.computeIfAbsent(artifactDir.stripSuffix("/"), _ => new AnyRef)
      .synchronized(body)

  /** Build-once for an on-disk artifact: unless `artifactDir`'s marker
    * equals `st` (and `valid`, a check the marker cannot cover, such as
    * the per-JVM catalog registration of a table, holds), delete the
    * directory, run `build`, then write the marker. */
  def ensure(s: SparkSession, artifactDir: String, st: String,
             valid: => Boolean = true)(build: => Unit): Unit =
    locked(artifactDir) {
      if (!(valid && isCurrent(s, artifactDir, st))) {
        val dir = new Path(artifactDir)
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) fs.delete(dir, true)
        build
        write(s, artifactDir, st)
      }
    }

  private val caches = new java.util.concurrent.CopyOnWriteArrayList[StampCache[_]]()

  private[graft] def register(c: StampCache[_]): Unit = caches.add(c): Unit

  /** Drop every in-memory artifact and unpersist all cached plans: the
    * cold-start planning state. A warm, materialized cache legitimately
    * plans with fewer exchanges than a cold one (InMemoryTableScan
    * exposes its build-side partitioning only once built), so anything
    * that pins plan shapes (PlanSnapshot generation, PlanSnapshotSpec)
    * resets first, or its signatures depend on which suites ran before
    * it in the JVM. Artifacts rebuild lazily on next use. */
  def reset(s: SparkSession): Unit = {
    caches.forEach(_.clear())
    s.sharedState.cacheManager.clearCache()
  }
}

/** An in-memory build-once artifact per (session, dir, source stamp),
  * under the contract at [[SourceStamp]]. `release` frees a superseded
  * value (e.g. unpersists a persisted DataFrame). */
final class StampCache[V](release: V => Unit = (_: V) => ()) {
  private val map = new ConcurrentHashMap[(SparkSession, String, String), V]()
  SourceStamp.register(this)

  /** The artifact for `dir` as of stamp `st`; entries of the same
    * session and dir under another stamp are evicted and released. */
  def apply(s: SparkSession, dir: String, st: String)(build: => V): V = {
    map.entrySet().removeIf { e =>
      val (ks, kd, kst) = e.getKey
      val stale = ks == s && kd == dir && kst != st
      if (stale) release(e.getValue)
      stale
    }
    map.computeIfAbsent((s, dir, st), _ => build)
  }

  private[graft] def clear(): Unit = map.clear()
}
