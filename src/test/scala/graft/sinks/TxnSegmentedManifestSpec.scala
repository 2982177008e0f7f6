package graft.sinks

import java.nio.file.Files

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.GraftCatalog

/** SEGMENTED manifests ([[TxnTable.segmentedManifest]]): past
  * `spark.graft.manifest.segmentEntries` file entries, a commit writes
  * immutable `_txn/m_<id>.txt` segment files and a small version file
  * referencing them in order — an append then costs O(delta) manifest
  * bytes, not O(table files), which is what survives a million-file
  * table (Iceberg's manifest-list shape; see
  * `core/src/main/java/org/apache/iceberg/ManifestLists.java` for the
  * public model). Contract under test: byte-level reuse really happens
  * (appends re-reference the parent's segment names; the version file
  * stays small), reads are value-identical to the inline encoding on
  * every surface (snapshot parse round-trip, stats, counts,
  * blooms), a row-level rewrite breaks ONLY the touched segment, the
  * ref-count bound re-chunks, vacuum collects orphaned segments but
  * never referenced ones, and small tables keep the single-file inline
  * manifest byte-identically (zero new files). */
class TxnSegmentedManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated() // mutates session confs

  private def freshRoot(): String =
    Files.createTempDirectory("graft_segman").toString + "/t"

  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def segFiles(root: String): Seq[String] = {
    val dir = new Path(s"$root/_txn")
    val f = hfs(root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("m_") && n.endsWith(".txt")).sorted
  }

  private def manifestLen(root: String, v: Long): Long =
    hfs(root).getFileStatus(
      new Path(s"$root/_txn/" + f"v$v%010d.txt")).getLen

  /** Run `body` with the segment threshold forced low so spec-scale
    * tables segment. */
  private def segmented[A](threshold: Int)(body: => A): A = {
    spark.conf.set(TxnTable.SegmentEntriesKey, threshold.toString)
    try body
    finally spark.conf.unset(TxnTable.SegmentEntriesKey)
  }

  private def nFiles(n: Int, from: Long = 0L) =
    spark.range(from, from + n * 10L).toDF("id")
      .withColumn("v", col("id") * 3L)
      .repartitionByRange(n, col("id"))

  test("past the threshold a commit segments; an append reuses every " +
      "parent segment by name and writes O(delta) manifest bytes") {
    segmented(20) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(50), statsCols = Seq("id"))
      val v1 = TxnTable.latest(spark, root).get
      assert(v1.files.size === 50)
      assert(v1.segs.nonEmpty, "50 files over threshold 20 must segment")
      assert(segFiles(root).toSet === v1.segs.toSet)
      val v1Len = manifestLen(root, v1.version)

      // a 1-file append: every parent segment rides along BY NAME, the
      // new entry lands inline (delta below segTarget/2), and the
      // version file is a ref list — far smaller than the inline
      // manifest it replaces
      TxnTable.append(spark, root, nFiles(1, from = 10000L))
      val v2 = TxnTable.latest(spark, root).get
      assert(v2.files.size === 51)
      assert(v2.segs === v1.segs, "append must reuse the parent's segments")
      // the entry payload lives in the segments; BOTH version files are
      // small ref lists — O(delta + refs), not O(files)
      val segBytes = v1.segs.map(n =>
        hfs(root).getFileStatus(new Path(s"$root/_txn/$n")).getLen).sum
      val v2Len = manifestLen(root, v2.version)
      assert(v2Len * 5 < segBytes,
        s"version file $v2Len B should be a small fraction of the " +
          s"$segBytes B of segment payload")
      assert(v1Len * 5 < segBytes, s"segmenting commit's version file " +
        s"$v1Len B should be a ref list, not the payload")

      // round-trip: a fresh parse equals the committed snapshot on
      // every recorded surface
      val re = TxnTable.snapshot(spark, root, v2.version)
      assert(re.files === v2.files)
      assert(re.stats === v2.stats)
      assert(re.rowCounts === v2.rowCounts)
      assert(re.segs === v2.segs)
      assert(TxnTable.read(spark, root).count() === 510L)
      assert(TxnTable.metaCount(spark, root) === Some(510L))
    }
  }

  test("a row-level rewrite breaks only the touched segment; the rest " +
      "carry by reference") {
    segmented(20) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(50), statsCols = Seq("id"))
      val v1 = TxnTable.latest(spark, root).get
      assert(v1.segs.size >= 2)
      // delete rows confined to ONE file (ids 0..9 live in the first
      // id-range file) — with the stats range supplied, the CoW rewrite
      // replaces that file only and carries the other 49
      TxnTable.deleteWhere(spark, root, col("id") < 5,
        statsRange = Some((0L, 4L)))
      val v2 = TxnTable.latest(spark, root).get
      val reused = v2.segs.toSet.intersect(v1.segs.toSet)
      assert(reused.nonEmpty,
        "untouched segments must survive a one-file rewrite by name")
      assert(v1.segs.toSet.diff(v2.segs.toSet).size <= 1,
        "at most the touched segment may be dropped")
      assert(TxnTable.read(spark, root).count() === 495L)
      assert(TxnTable.read(spark, root).agg(min("id")).head.getLong(0) === 5L)
    }
  }

  test("blooms and carried metadata survive the segment round-trip " +
      "bit-exactly") {
    segmented(10) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(25), statsCols = Seq("id"),
        bloomCols = Seq("v"))
      val committed = TxnTable.latest(spark, root).get
      assert(committed.segs.nonEmpty)
      val re = TxnTable.snapshot(spark, root, committed.version)
      assert(re.blooms.keySet === committed.blooms.keySet)
      re.blooms.foreach { case (file, m) =>
        m.foreach { case (c, bytes) =>
          assert(java.util.Arrays.equals(bytes, committed.blooms(file)(c)),
            s"bloom bytes drifted for $file/$c")
        }
      }
      // the bloom actually prunes through the segmented manifest
      assert(TxnTable.read(spark, root).where(col("v") === 30L)
        .count() === 1L)
    }
  }

  test("the ref-count bound re-chunks: many tiny appends never " +
      "accumulate unbounded segment refs") {
    segmented(2) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(4), statsCols = Seq("id"))
      (0 until 70).foreach(i =>
        TxnTable.append(spark, root, nFiles(1, from = 20000L + i * 100)))
      val head = TxnTable.latest(spark, root).get
      assert(head.files.size === 74)
      assert(head.segs.size < 70,
        s"70 appends left ${head.segs.size} refs — the re-chunk bound " +
          "never fired")
      assert(TxnTable.read(spark, root).count() === 740L)
    }
  }

  test("vacuum collects segments referenced by no retained manifest, " +
      "never live ones; time travel works until then") {
    segmented(10) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(30), statsCols = Seq("id"))
      val v1 = TxnTable.latest(spark, root).get
      // a compaction rewrites everything: v1's segments become
      // historical-only
      TxnTable.compactTxn(spark, root, targetFiles = 25,
        sortCols = Seq("id"))
      val v2 = TxnTable.latest(spark, root).get
      assert(v2.segs.nonEmpty && v2.segs.toSet.intersect(v1.segs.toSet).isEmpty)
      // both generations readable pre-vacuum (segments immutable)
      assert(TxnTable.readAsOf(spark, root, v1.version).count() === 300L)
      assert(TxnTable.read(spark, root).count() === 300L)

      // plus one hand-planted orphan (a lost commit race's debris)
      val orphan = "m_deadbeefdeadbeef.txt"
      val f = hfs(root)
      val o = f.create(new Path(s"$root/_txn/$orphan"), false)
      try o.write("data/nope.parquet\trows:1\n".getBytes("UTF-8"))
      finally o.close()

      TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
      val left = segFiles(root).toSet
      assert(left === v2.segs.toSet,
        s"vacuum must keep exactly the head's segments, left $left")
      assert(TxnTable.read(spark, root).count() === 300L)
    }
  }

  test("at or under the threshold nothing changes: inline manifest, " +
      "zero segment files") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, nFiles(6), statsCols = Seq("id"))
    TxnTable.append(spark, root, nFiles(2, from = 5000L))
    val head = TxnTable.latest(spark, root).get
    assert(head.segs.isEmpty)
    assert(segFiles(root).isEmpty)
    assert(TxnTable.read(spark, root).count() === 80L)
  }

  test("segmented manifests under REAL concurrency: appender threads " +
      "race disjoint CoW updaters; nothing lost, every statement lands") {
    segmented(8) {
      val cat = "graft_segr_cat"
      val w = Files.createTempDirectory("graft_segr").toString
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      val root = s"$w/db/segrace"
      TxnTable.overwrite(spark, root,
        spark.range(1, 321).toDF("id").withColumn("v", col("id") * 10L)
          .repartitionByRange(16, col("id")),
        statsCols = Seq("id"))
      TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
        "snapshot")
      assert(TxnTable.latest(spark, root).get.segs.nonEmpty)

      // four disjoint quarters of the id space — each updater's
      // BETWEEN stats-prunes to its own files, racing the appenders
      val quarters = Seq((1L, 80L), (81L, 160L), (161L, 240L), (241L, 320L))
      val nAppenders = 2
      val perThread = 3
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(nAppenders + quarters.size)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (0 until nAppenders).foreach { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try (0 until perThread).foreach { k =>
              val lo = 10000L + t * 1000 + k * 100
              TxnTable.appendWithRetry(spark, root,
                spark.range(lo, lo + 5).toDF("id")
                  .withColumn("v", col("id") * 10L),
                maxAttempts = 30)
            } catch { case e: Throwable => failures.add(e) }
          }
        })
      }
      quarters.foreach { case (lo, hi) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            try (0 until perThread).foreach { _ =>
              spark.sql(s"UPDATE $cat.db.segrace SET v = v + 1 " +
                s"WHERE id BETWEEN $lo AND $hi")
            } catch { case e: Throwable => failures.add(e) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(240, TimeUnit.SECONDS))
      assert(failures.isEmpty, s"racing writer failed: ${failures.peek()}")

      val got = TxnTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to 320L).foreach(i => assert(got(i) === i * 10 + perThread,
        s"id $i: got ${got(i)}"))
      val appended = for {
        t <- 0 until nAppenders; k <- 0 until perThread
        i <- (10000L + t * 1000 + k * 100) until (10000L + t * 1000 + k * 100 + 5)
      } yield i
      appended.foreach(i => assert(got(i) === i * 10, s"appended id $i"))
      assert(got.size === 320 + appended.size)
      // the head's manifest round-trips: a cold parse agrees with the
      // in-memory view after 18 racing commits' worth of segment churn
      val head = TxnTable.latest(spark, root).get
      TxnTable.dropSegCaches()
      val cold = TxnTable.snapshot(spark, root, head.version)
      assert(cold.files === head.files && cold.stats === head.stats)
      assert(TxnTable.read(spark, root).count() === got.size.toLong)
    }
  }

  test("a table that shrinks back under the threshold heals to an " +
      "inline manifest") {
    segmented(20) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(50), statsCols = Seq("id"))
      assert(TxnTable.latest(spark, root).get.segs.nonEmpty)
      TxnTable.compactTxn(spark, root, targetFiles = 3, sortCols = Seq("id"))
      val head = TxnTable.latest(spark, root).get
      assert(head.files.size === 3)
      assert(head.segs.isEmpty,
        "3 files under threshold 20 must fall back to inline entries")
      assert(TxnTable.read(spark, root).count() === 500L)
    }
  }

  test("shrinking into (segTarget/2, segTarget] also heals inline — the " +
      "under-threshold contract holds on every shrink size") {
    segmented(20) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(50), statsCols = Seq("id"))
      assert(TxnTable.latest(spark, root).get.segs.nonEmpty)
      // 15 files: over segTarget/2 (the gap-inlining cutoff) but at or
      // under segTarget — the commit-site decision, not the gap length,
      // must pick the encoding, or an under-threshold table keeps a
      // refs-based manifest
      TxnTable.compactTxn(spark, root, targetFiles = 15, sortCols = Seq("id"))
      val head = TxnTable.latest(spark, root).get
      assert(head.files.size === 15)
      assert(head.segs.isEmpty,
        s"15 files under threshold 20 must write inline, got refs ${head.segs}")
      assert(TxnTable.read(spark, root).count() === 500L)
    }
  }

  test("a stale reuse hint pointing at a DELETED segment file never " +
      "publishes a dangling ref — existence is re-proven from disk") {
    segmented(10) {
      val root = freshRoot()
      TxnTable.overwrite(spark, root, nFiles(30), statsCols = Seq("id"))
      val v1 = TxnTable.latest(spark, root).get
      assert(v1.segs.nonEmpty)
      // simulate the advisory's race: the segment's parse is still
      // cached (entries match!) but the file left the disk — a
      // vacuumed re-chunk orphan swapped in by a concurrent parse.
      // Deleting a LIVE segment also breaks v1 for cold readers; this
      // spec only ever reads the post-append head cold.
      val victim = v1.segs.head
      assert(hfs(root).delete(new Path(s"$root/_txn/$victim"), false))
      TxnTable.append(spark, root, nFiles(1, from = 90000L))
      val head = TxnTable.latest(spark, root).get
      assert(!head.segs.contains(victim),
        "the commit reused a segment that no longer exists on disk")
      // the proof that matters: a FRESH JVM (cold caches) can read the
      // new head — no ref resolves to a missing file
      TxnTable.dropSegCaches()
      val cold = TxnTable.snapshot(spark, root, head.version)
      assert(cold.files.size === 31)
      assert(TxnTable.read(spark, root).count() === 310L)
    }
  }

  test("re-chunk sizes segments so reuse survives past " +
      "MaxSegRefs*segTarget files — no every-commit O(N) rewrite") {
    segmented(2) {
      val root = freshRoot()
      // 160 files at segTarget=2 is past the MaxSegRefs(64)*segTarget
      // thrash point: a re-chunk into N/segTarget=80 segments would hit
      // the ref bound immediately and disable reuse on every later
      // commit. Right-sized re-chunking must land well under the bound.
      TxnTable.overwrite(spark, root, nFiles(160), statsCols = Seq("id"))
      val v1 = TxnTable.latest(spark, root).get
      assert(v1.segs.nonEmpty)
      assert(v1.segs.size <= 32,
        s"re-chunk landed ${v1.segs.size} refs — must stay ≤ MaxSegRefs/2")
      TxnTable.append(spark, root, nFiles(1, from = 90000L))
      val v2 = TxnTable.latest(spark, root).get
      assert(v2.segs.toSet.intersect(v1.segs.toSet) === v1.segs.toSet,
        "the append must reuse every parent segment — reuse was disabled")
      assert(TxnTable.read(spark, root).count() === 1610L)
    }
  }
}
