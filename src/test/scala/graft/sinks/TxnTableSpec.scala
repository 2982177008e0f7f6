package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The four txn-log properties TxnTable exists for: append/overwrite
  * versioning with time travel, snapshot isolation across compaction,
  * optimistic-concurrency conflict on a taken version slot, and vacuum
  * retention (referenced files survive, unreferenced files go, travel
  * past the horizon fails). The end-to-end maintenance == recompute
  * contract is the driver-checked q82 oracle. */
class TxnTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_spec").toString + "/tbl"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def df(ids: Int*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10)
  }

  test("append/overwrite version history with time travel") {
    val root = freshRoot()
    val v1 = TxnTable.overwrite(spark, root, df(1, 2))
    val v2 = TxnTable.append(spark, root, df(3))
    val v3 = TxnTable.overwrite(spark, root, df(9))
    assert(Seq(v1.version, v2.version, v3.version) === Seq(1L, 2L, 3L))
    assert(TxnTable.versions(spark, root) === Seq(1L, 2L, 3L))
    assert(rows(TxnTable.read(spark, root)) === rows(df(9)))
    assert(rows(TxnTable.readAsOf(spark, root, 2)) === rows(df(1, 2, 3)))
    assert(rows(TxnTable.readAsOf(spark, root, 1)) === rows(df(1, 2)))
  }

  test("compactTxn preserves rows, shrinks files, keeps prior snapshots intact") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1, 2).repartition(4))
    TxnTable.append(spark, root, df(3, 4).repartition(4))
    val before = TxnTable.latest(spark, root).get
    assert(before.files.size > 1)
    val compacted = TxnTable.compactTxn(spark, root, targetFiles = 1)
    assert(compacted.files.size === 1)
    assert(rows(TxnTable.read(spark, root)) === rows(df(1, 2, 3, 4)))
    // snapshot isolation: a reader pinned to v2 sees the SAME files/rows
    assert(TxnTable.snapshot(spark, root, before.version).files === before.files)
    assert(rows(TxnTable.readAsOf(spark, root, before.version)) === rows(df(1, 2, 3, 4)))
  }

  test("commit into a taken version slot raises TxnConflictException") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    // a racing writer resolved latest=v1 and committed v2 first:
    TxnTable.append(spark, root, df(2))
    // our writer, still believing latest=v1, stages then tries v2 — the
    // create-no-overwrite slot must reject it
    val ex = intercept[TxnTable.TxnConflictException] {
      TxnTable.commit(spark, root, TxnTable.Snapshot(2L, "append", Seq.empty))
    }
    assert(ex.getMessage.contains("version 2"))
    // the loser's failed commit must not have corrupted the winner's
    assert(rows(TxnTable.read(spark, root)) === rows(df(1, 2)))
  }

  test("vacuum drops unreferenced files and old manifests, keeps retained versions readable") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1, 2)) // v1 — will fall off
    TxnTable.overwrite(spark, root, df(3))    // v2
    TxnTable.append(spark, root, df(4))       // v3 (shares v2's files)
    // graceMs = 0: no writer is in flight in this test
    TxnTable.vacuum(spark, root, retainVersions = 2, graceMs = 0L)
    assert(TxnTable.versions(spark, root) === Seq(2L, 3L))
    // v2 and v3 still read exactly their snapshots (v3 references v2's
    // files — shared files must survive the vacuum of v1)
    assert(rows(TxnTable.readAsOf(spark, root, 2)) === rows(df(3)))
    assert(rows(TxnTable.read(spark, root)) === rows(df(3, 4)))
    // v1's files are gone from disk
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
    val liveNow = (TxnTable.snapshot(spark, root, 2).files ++
      TxnTable.snapshot(spark, root, 3).files).toSet
    val onDisk = dataDirs.flatMap(d => fs.listStatus(d.getPath))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => s"data/${st.getPath.getParent.getName}/${st.getPath.getName}")
      .toSet
    assert(onDisk === liveNow, "vacuum must delete exactly the unreferenced files")
    intercept[Exception](TxnTable.readAsOf(spark, root, 1))
  }

  test("manifest stats enable file skipping; pruning is sound and survives compaction") {
    val root = freshRoot()
    // three commits, disjoint id ranges, one file each
    TxnTable.overwrite(spark, root,
      df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(10, 11).coalesce(1))   // inherits statsCol
    TxnTable.append(spark, root, df(20, 21, 22).coalesce(1))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.statsCols.headOption === Some("id"))
    assert(snap.files.size === 3 && snap.stats.size === 3)
    assert(snap.statsOf("id").values.toSet === Set((1L, 3L), (10L, 11L), (20L, 22L)))

    // [10, 12] overlaps exactly one file — the scan must touch only it
    val pruned = TxnTable.readPruned(spark, root, 10L, 12L)
    assert(pruned.inputFiles.length === 1)
    assert(rows(pruned.filter(col("id").between(10, 12))) === rows(df(10, 11)))
    // boundary overlap keeps the file ([3, 9] touches the 1..3 file)
    assert(TxnTable.readPruned(spark, root, 3L, 9L).inputFiles.length === 1)
    // a range beyond every file prunes all: zero rows, schema intact
    val none = TxnTable.readPruned(spark, root, 100L, 200L)
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "v"))

    // compaction rewrites files AND their stats; skipping still sound
    TxnTable.compactTxn(spark, root, targetFiles = 1)
    val after = TxnTable.latest(spark, root).get
    assert(after.statsOf("id").values.toSet === Set((1L, 22L)))
    assert(rows(TxnTable.readPruned(spark, root, 10L, 12L)
      .filter(col("id").between(10, 12))) === rows(df(10, 11)))
  }

  test("multi-column manifest stats + blooms: a SECOND column prunes to " +
    "one file; both recorded in one commit") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // three single-file commits, disjoint on BOTH id and grp, with a
    // bloom on a third column (uid) — all from the one fileMeta job
    def df3(g: Long, u: Long, ids: Long*) =
      ids.map(i => (i, g, u, i * 10)).toDF("id", "grp", "uid", "v")
    TxnTable.overwrite(spark, root, df3(100L, 7L, 1L, 2L).coalesce(1),
      statsCols = Seq("id", "grp"), bloomCols = Seq("uid"))
    TxnTable.append(spark, root, df3(200L, 8L, 10L, 11L).coalesce(1))
    TxnTable.append(spark, root, df3(300L, 9L, 20L, 21L).coalesce(1))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.statsCols === Seq("id", "grp") && snap.bloomCols === Seq("uid"))
    assert(snap.stats.values.forall(_.keySet === Set("id", "grp")))

    // the PRIMARY column prunes (compat overload addresses it)
    assert(TxnTable.readPruned(spark, root, 10L, 11L).inputFiles.length === 1)
    // the SECOND column prunes to one file through the manifest alone
    val byGrp = TxnTable.readPruned(spark, root, "grp", 200L, 200L)
    assert(byGrp.inputFiles.length === 1)
    assert(rows(byGrp.select(col("id"), col("v"))) === rows(df(10, 11)))
    // and a range matching nothing prunes everything, schema intact
    assert(TxnTable.readPruned(spark, root, "grp", 500L, 600L).count() === 0)

    // bloom point lookup on the third column
    val hit = TxnTable.readPointLookup(spark, root, "uid", 8L)
    assert(hit.inputFiles.length === 1)
    assert(rows(hit.select(col("id"), col("v"))) === rows(df(10, 11)))

    // a clustering compaction keeps BOTH columns' fresh stats
    TxnTable.compactTxn(spark, root, targetFiles = 3, sortCols = Seq("id"))
    val after = TxnTable.latest(spark, root).get
    assert(after.statsCols === Seq("id", "grp"))
    assert(after.stats.values.forall(_.keySet === Set("id", "grp")))
    assert(TxnTable.readPruned(spark, root, "grp", 300L, 300L)
      .inputFiles.length === 1)
  }

  test("multi-column bounds: a second column carries files the primary " +
    "range cannot prune") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    def df3(g: Long, ids: Long*) =
      ids.map(i => (i, g, i * 10)).toDF("id", "grp", "v")
    // ids INTERLEAVE across files (primary range prunes nothing), grp is
    // disjoint per file (the second bound carries 2 of 3)
    TxnTable.overwrite(spark, root, df3(100L, 1L, 20L, 40L).coalesce(1),
      statsCols = Seq("id", "grp"))
    TxnTable.append(spark, root, df3(200L, 2L, 21L, 41L).coalesce(1))
    TxnTable.append(spark, root, df3(300L, 3L, 22L, 42L).coalesce(1))
    val before = TxnTable.latest(spark, root).get

    val after = TxnTable.deleteWhereBounded(spark, root,
      col("id") === 21L && col("grp") === 200L,
      Seq(("id", 21L, 21L), ("grp", 200L, 200L)))
    // the grp=100 and grp=300 files carry BY REFERENCE
    val carried = before.files.filter(f =>
      before.statsOf("grp")(f) match { case (lo, hi) => hi < 200 || lo > 200 })
    assert(carried.size === 2)
    carried.foreach(f => assert(after.files.contains(f),
      s"grp-disjoint file $f must carry over unrewritten"))
    assert(TxnTable.read(spark, root).count() === 8L)
    assert(!TxnTable.read(spark, root).filter($"id" === 21L).head(1).nonEmpty)

    // same bounds shape on the merge path: mergeBatch bounds the rewrite
    // by every stats-recorded key (id=22 and grp=300 here), so only the
    // grp=300 file is rewritten; the other two carry by reference
    val before2 = TxnTable.latest(spark, root).get
    val after2 = TxnTable.mergeBatch(spark, root,
      Seq((22L, 300L, 777L)).toDF("id", "grp", "v"), batchId = 1L,
      keyCols = Seq("id", "grp")).get
    val carried2 = before2.files.filter(f =>
      before2.statsOf("grp")(f) match { case (lo, hi) => hi < 300 || lo > 300 })
    carried2.foreach(f => assert(after2.files.contains(f),
      s"grp-disjoint file $f must carry over unrewritten"))
    assert(TxnTable.read(spark, root).filter($"id" === 22L)
      .head().getLong(2) === 777L)
  }

  test("deleteWhere rewrites only stats-overlapping files; carried files " +
    "are untouched by path identity; prior snapshots keep the rows") {
    val root = freshRoot()
    // three single-file commits with disjoint id ranges
    TxnTable.overwrite(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(10, 11).coalesce(1))
    TxnTable.append(spark, root, df(20, 21, 22).coalesce(1))
    val before = TxnTable.latest(spark, root).get

    // delete ids [10, 11] — bounded on the stats column: only the middle
    // file overlaps, the other two must carry over BY REFERENCE
    val after = TxnTable.deleteWhere(spark, root,
      col("id").between(10, 11), Some((10L, 11L)))
    assert(after.op === "delete")
    val carried = before.files.filter(f =>
      before.statsOf("id")(f) match { case (lo, hi) => hi < 10 || lo > 11 })
    carried.foreach(f => assert(after.files.contains(f),
      s"non-overlapping file $f must carry over unrewritten"))
    // carried files keep their recorded stats verbatim
    carried.foreach(f => assert(after.stats(f) === before.stats(f)))
    // the overlapping file is gone from the new snapshot (fully deleted)
    assert(!after.files.exists(before.statsOf("id").get(_).contains((10L, 11L))))
    assert(rows(TxnTable.read(spark, root)) === rows(df(1, 2, 3, 20, 21, 22)))
    // snapshot isolation: the pre-delete version still reads every row
    assert(rows(TxnTable.readAsOf(spark, root, before.version)) ===
      rows(df(1, 2, 3, 10, 11, 20, 21, 22)))

    // partial delete within a file: survivors are rewritten, stats fresh
    val after2 = TxnTable.deleteWhere(spark, root,
      col("id") === 21, Some((21L, 21L)))
    assert(rows(TxnTable.read(spark, root)) === rows(df(1, 2, 3, 20, 22)))
    val rewritten = after2.files.filterNot(after.files.contains)
    assert(rewritten.nonEmpty && rewritten.forall(f =>
      after2.statsOf("id")(f)._1 >= 20L && after2.statsOf("id")(f)._2 <= 22L))

    // no statsRange: still correct (every file rewritten)
    TxnTable.deleteWhere(spark, root, col("id") < 3)
    assert(rows(TxnTable.read(spark, root)) === rows(df(3, 20, 22)))

    // unbounded predicate + empty result: delete everything touched.
    // A 0-file snapshot WITH a recorded schema reads as empty (the
    // CREATE TABLE contract); only the schema-less empty read refuses.
    val snapAll = TxnTable.deleteWhere(spark, root, lit(true))
    assert(snapAll.files.isEmpty)
    val emptied = TxnTable.read(spark, root)
    assert(emptied.count() === 0L)
    assert(emptied.columns.toSeq === Seq("id", "v"))
  }

  test("mergeInto upserts by key, rewrites only overlapping files") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(10, 11).coalesce(1))
    TxnTable.append(spark, root, df(20, 21).coalesce(1))
    val before = TxnTable.latest(spark, root).get

    // update id=10 (v: 100 -> 777), insert id=12 — keys bounded to [10, 12]
    val s = spark
    import s.implicits._
    val changes = Seq((10, 777), (12, 120)).toDF("id", "v")
    val after = TxnTable.mergeInto(spark, root, changes,
      keyCols = Seq("id"), statsRange = Some((10L, 12L)))
    assert(after.op === "merge")
    // the 1..3 and 20..21 files carry over by reference, stats verbatim
    val carried = before.files.filter(f =>
      before.statsOf("id")(f) match { case (lo, hi) => hi < 10 || lo > 12 })
    assert(carried.size === 2)
    carried.foreach { f =>
      assert(after.files.contains(f), s"$f must carry over")
      assert(after.stats(f) === before.stats(f))
    }
    assert(rows(TxnTable.read(spark, root)) ===
      rows(df(1, 2, 3, 11, 20, 21)) + Seq[Any](10, 777) + Seq[Any](12, 120))
    // prior snapshot unchanged (snapshot isolation)
    assert(rows(TxnTable.readAsOf(spark, root, before.version)) ===
      rows(df(1, 2, 3, 10, 11, 20, 21)))
    // replaying the same merge converges to the same table content
    TxnTable.mergeInto(spark, root, changes, Seq("id"), Some((10L, 12L)))
    assert(rows(TxnTable.read(spark, root)) ===
      rows(df(1, 2, 3, 11, 20, 21)) + Seq[Any](10, 777) + Seq[Any](12, 120))
    // pure insert outside every file's span: every stats-bearing file
    // carries over (a 0-row staged part has no stats and is always
    // "touched" — sound, and it simply disappears)
    val ins = TxnTable.mergeInto(spark, root,
      Seq((50, 500)).toDF("id", "v"), Seq("id"), Some((50L, 50L)))
    val prev = TxnTable.snapshot(spark, root, ins.version - 1)
    prev.files.filter(prev.stats.contains)
      .foreach(f => assert(ins.files.contains(f), s"$f must carry over"))
  }

  test("clustering compaction restores disjoint file spans for skipping") {
    val root = freshRoot()
    // interleaved appends: every file spans nearly the whole id range,
    // so stats-based skipping can prune nothing
    TxnTable.overwrite(spark, root, df(1, 20, 40).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(2, 21, 41).coalesce(1))
    TxnTable.append(spark, root, df(3, 22, 42).coalesce(1))
    assert(TxnTable.readPruned(spark, root, 20L, 22L).inputFiles.length === 3,
      "interleaved layout: nothing skippable")
    // OPTIMIZE-style recluster: 3 files, range-partitioned on id
    TxnTable.compactTxn(spark, root, targetFiles = 3, sortCols = Seq("id"))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.files.size === 3)
    // spans are now disjoint…
    val spans = snap.files.map(snap.statsOf("id")(_)).sortBy(_._1)
    spans.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping spans after recluster: $spans")
    }
    // …and the same point-range read touches a single file, same rows
    val pruned = TxnTable.readPruned(spark, root, 20L, 22L)
    assert(pruned.inputFiles.length === 1, s"spans: $spans")
    assert(rows(pruned.filter(col("id").between(20, 22))) ===
      rows(df(20, 21, 22)))
  }

  test("schema evolution: appended column reads null for old files, " +
    "types locked, time travel keeps the old shape") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1, 2))              // (id, v)
    val evolved = Seq((3, 30, "x"), (4, 40, "y")).toDF("id", "v", "tag")
    TxnTable.append(spark, root, evolved)                  // (id, v, tag)
    val snap = TxnTable.latest(spark, root).get
    assert(snap.schema.map(_.fieldNames.toSeq) === Some(Seq("id", "v", "tag")))
    // old files read the new column as null; new files carry it
    val now = TxnTable.read(spark, root)
    assert(now.columns.toSeq === Seq("id", "v", "tag"))
    assert(rows(now) === Set(
      Seq(1, 10, null), Seq(2, 20, null), Seq(3, 30, "x"), Seq(4, 40, "y")))
    // time travel to v1 shows the PRE-evolution schema
    assert(TxnTable.readAsOf(spark, root, 1).columns.toSeq === Seq("id", "v"))
    // appending the OLD shape into the evolved table is fine (nulls)
    TxnTable.append(spark, root, df(5))
    assert(rows(TxnTable.read(spark, root).filter($"id" === 5)) ===
      Set(Seq(5, 50, null)))
    // changing a column's type is refused loudly
    val bad = Seq((9, "not-an-int")).toDF("id", "v")
    intercept[IllegalArgumentException](TxnTable.append(spark, root, bad))
    // mergeInto with an evolving change set: survivors gain the column
    TxnTable.mergeInto(spark, root,
      Seq((2, 21, "z", true)).toDF("id", "v", "tag", "fresh"), Seq("id"))
    val merged = TxnTable.read(spark, root)
    assert(merged.columns.toSeq === Seq("id", "v", "tag", "fresh"))
    assert(rows(merged.filter($"id" === 2)) === Set(Seq(2, 21, "z", true)))
    assert(rows(merged.filter($"id" === 1)) === Set(Seq(1, 10, null, null)))
  }

  test("appendBatch is exactly-once under at-least-once replay") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    assert(TxnTable.appendBatch(spark, root, df(2), batchId = 0L).isDefined)
    // the replay foreachBatch's contract allows: same batch id again
    assert(TxnTable.appendBatch(spark, root, df(2), batchId = 0L).isEmpty)
    assert(rows(TxnTable.read(spark, root)) === rows(df(1, 2)))
    assert(TxnTable.versions(spark, root) === Seq(1L, 2L))
    // the next real batch commits normally
    assert(TxnTable.appendBatch(spark, root, df(3), batchId = 1L).isDefined)
    assert(rows(TxnTable.read(spark, root)) === rows(df(1, 2, 3)))
  }

  test("per-file blooms prune point lookups on an unclustered key; " +
    "carried through delete and refreshed by compaction") {
    val root = freshRoot()
    // three single-file commits; ids deliberately interleaved so RANGE
    // stats could prune nothing — the bloom is what carries the lookup
    TxnTable.overwrite(spark, root, df(1, 500, 900).coalesce(1),
      bloomCols = Seq("id"))
    TxnTable.append(spark, root, df(2, 501, 901).coalesce(1)) // inherits bloomCol
    TxnTable.append(spark, root, df(3, 502, 902).coalesce(1))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.bloomCols.headOption === Some("id"))
    assert(snap.blooms.size === 3)

    // id=501 lives in exactly one file — the lookup must touch only it
    // (a 3%-fpp bloom over 3 items makes a false positive negligible)
    val hit = TxnTable.readPointLookup(spark, root, 501L)
    assert(hit.inputFiles.length === 1)
    assert(rows(hit.filter(col("id") === 501)) === rows(df(501)))
    // an absent key prunes everything
    assert(TxnTable.readPointLookup(spark, root, 12345L).inputFiles.length <= 1)
    assert(TxnTable.readPointLookup(spark, root, 12345L)
      .filter(col("id") === 12345).count() === 0)

    // delete keeps carried files' blooms usable
    TxnTable.deleteWhere(spark, root, col("id") === 3)
    val afterDel = TxnTable.readPointLookup(spark, root, 501L)
    assert(rows(afterDel.filter(col("id") === 501)) === rows(df(501)))

    // compaction rebuilds blooms for the rewritten files
    TxnTable.compactTxn(spark, root, targetFiles = 2)
    val compacted = TxnTable.latest(spark, root).get
    assert(compacted.blooms.size === compacted.files.size)
    assert(rows(TxnTable.readPointLookup(spark, root, 900L)
      .filter(col("id") === 900)) === rows(df(900)))
  }

  test("vacuum grace window spares a concurrent writer's staged files") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    // simulate an in-flight writer: stage data with NO manifest yet by
    // writing directly under data/ (exactly what stage() does first)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inflight = s"$root/data/inflight1"
    df(99).write.parquet(inflight)
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(inflight))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(before > 0)
    // default grace: the young unreferenced files MUST survive
    TxnTable.vacuum(spark, root, retainVersions = 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(inflight)),
      "vacuum deleted an in-flight writer's staged files")
    // explicit zero grace (offline maintenance): now they are garbage
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(inflight)))
  }

  test("vacuum removes a write-audit-publish staged marker and its unpublished files") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    // what a staged, never-published append of an older table left:
    // data files no manifest names, and its `_txn/staged-<id>.txt`
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedData = s"$root/data/staged1"
    df(99).write.parquet(stagedData)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_txn/staged-0a1b2c3d.txt")
    val out = fs.create(marker, false)
    try out.write("GRAFT-TXN-MANIFEST staged-append\n".getBytes("UTF-8"))
    finally out.close()
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    assert(!fs.exists(marker), "vacuum left the staged marker")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stagedData)))
    assert(rows(TxnTable.read(spark, root)) === Set(Seq(1, 10)))
  }

  test("mergeInto replaces a null-keyed row instead of duplicating it") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    TxnTable.overwrite(spark, root,
      Seq((Option(1), 10), (Option.empty[Int], 1)).toDF("id", "v"))
    TxnTable.mergeInto(spark, root,
      Seq((Option.empty[Int], 2)).toDF("id", "v"), Seq("id"))
    val out = TxnTable.read(spark, root).collect()
      .map(r => (Option(r.get(0)), r.getInt(1))).toSet
    assert(out === Set((Some(1), 10), (None, 2)),
      s"null-keyed change must REPLACE, got $out")
  }

  test("appendWithRetry: concurrent writers all land, no rows lost") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(0))
    // two writers interleaving appends of disjoint rows — every lost
    // commit race must re-resolve and land on top of the winner
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = Seq(Seq(1, 2, 3), Seq(11, 12, 13)).map { ids =>
      scala.concurrent.Future {
        ids.foreach(i => TxnTable.appendWithRetry(spark, root, df(i),
          maxAttempts = 20))
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(120, "s"))
    finally pool.shutdown()
    assert(rows(TxnTable.read(spark, root)) ===
      rows(df(0, 1, 2, 3, 11, 12, 13)))
    // exactly one commit per append: 1 overwrite + 6 appends
    assert(TxnTable.versions(spark, root) === (1L to 7L))
  }

  test("a crash mid-stage leaves readers untouched (atomic commit)") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    // simulate a writer that staged data but died before publishing:
    // write a parquet dir under data/ with no manifest referencing it
    df(99).write.parquet(s"$root/data/orphan-stage")
    assert(rows(TxnTable.read(spark, root)) === rows(df(1)),
      "unreferenced staged files must be invisible to readers")
    // and vacuum collects the orphan
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/orphan-stage")))
  }

  test("retrying: N-1 conflicts then a success returns the success; " +
      "N conflicts rethrow the Nth") {
    var runs = 0
    val out = TxnTable.retrying(3) {
      runs += 1
      if (runs < 3) throw new TxnTable.TxnConflictException(s"conflict $runs")
      "done"
    }
    assert(out === "done" && runs === 3)
    runs = 0
    val ex = intercept[TxnTable.TxnConflictException] {
      TxnTable.retrying(3) {
        runs += 1
        throw new TxnTable.TxnConflictException(s"conflict $runs")
      }
    }
    assert(runs === 3 && ex.getMessage === "conflict 3")
  }

  test("retrying: other exceptions and refused rebases are not retried") {
    var runs = 0
    intercept[IllegalStateException] {
      TxnTable.retrying(5) { runs += 1; throw new IllegalStateException("boom") }
    }
    assert(runs === 1)
    runs = 0
    intercept[TxnTable.TxnConflictException] {
      TxnTable.retrying(5) {
        runs += 1
        throw new TxnTable.TxnConflictException("refused", retry = false)
      }
    }
    assert(runs === 1)
  }

  test("withStagingDir deletes a failed attempt's dir and keeps the " +
      "committed attempt's") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(rel: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$root/$rel"))
    val dirs = scala.collection.mutable.Buffer[String]()
    // the first attempt stages, then loses the commit race
    val kept = TxnTable.retrying(2) {
      TxnTable.withStagingDir(spark, root) { rel =>
        dirs += rel
        df(2).write.parquet(s"$root/$rel")
        assert(exists(rel))
        if (dirs.size == 1) throw new TxnTable.TxnConflictException("lost race")
        rel
      }
    }
    assert(dirs.size === 2 && kept === dirs(1))
    assert(!exists(dirs(0)), "the lost attempt's staging dir leaked")
    assert(exists(kept))
    // any other failure cleans up too
    var failed = ""
    intercept[IllegalStateException] {
      TxnTable.withStagingDir(spark, root) { rel =>
        failed = rel
        df(3).write.parquet(s"$root/$rel")
        throw new IllegalStateException("boom")
      }
    }
    assert(failed.nonEmpty && !exists(failed))
  }

  /** Parquet parts under `root`'s data dir whose footer records 0 rows. */
  private def zeroRowParts(root: String): List[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val walk = Files.walk(java.nio.file.Paths.get(root, "data"))
    try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      .filter { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p), conf))
        try r.getRecordCount == 0L finally r.close()
      }
    finally walk.close()
  }

  /** The committed head references no 0-row file, and none is on disk. */
  private def assertNoZeroRowParts(root: String): Unit = {
    val head = TxnTable.latest(spark, root).get
    assert(!head.files.exists(f => head.rowCounts.get(f).contains(0L)),
      s"v${head.version} commits a 0-row file: ${head.rowCounts}")
    assert(zeroRowParts(root).isEmpty, "a 0-row part was left under data/")
  }

  /** Three single-file commits: ids 1..3, 10..11, 20..22, stats on id. */
  private def threeFiles(root: String): Unit = {
    TxnTable.overwrite(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(10, 11).coalesce(1))
    TxnTable.append(spark, root, df(20, 21, 22).coalesce(1))
  }

  test("zero-row rewrite: a deleteWhere that empties every file it touches commits no part") {
    val root = freshRoot()
    threeFiles(root)
    val before = TxnTable.latest(spark, root).get
    val after = TxnTable.deleteWhere(spark, root, col("id") <= 11, Some((1L, 11L)))
    assert(after.files === before.files.takeRight(1))
    assert(rows(TxnTable.read(spark, root)) === rows(df(20, 21, 22)))
    assertNoZeroRowParts(root)
    // the unbounded form that empties the whole table, too
    assert(TxnTable.deleteWhere(spark, root, lit(true)).files.isEmpty)
    assert(TxnTable.read(spark, root).count() === 0L)
    assertNoZeroRowParts(root)
  }

  test("zero-row rewrite: a mergeInto whose rewrite loses a whole file commits no empty part") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    threeFiles(root)
    val prior = TxnTable.latest(spark, root).get.files.toSet
    // every row of the 10..11 file is replaced: the file's survivors are empty
    val merged = TxnTable.mergeInto(spark, root, Seq((10, 1), (11, 2)).toDF("id", "v"),
      Seq("id"), Some((10L, 11L)))
    assert(rows(TxnTable.read(spark, root)) ===
      rows(df(1, 2, 3, 20, 21, 22)) + Seq[Any](10, 1) + Seq[Any](11, 2))
    assertNoZeroRowParts(root)
    // the 2-row change set is written as one part, not one per plan partition
    val added = merged.files.filterNot(prior)
    assert(added.map(merged.rowCounts) === Seq(2L))
    // an empty change set that touches no file: the rewrite is empty
    val before = TxnTable.latest(spark, root).get
    val after = TxnTable.mergeInto(spark, root, df().limit(0), Seq("id"), Some((50L, 50L)))
    assert(after.files === before.files)
    assertNoZeroRowParts(root)
  }

  // ---- commit metadata from footers: job pins ------------------------
  // Range stats come from the staged files' parquet footers and internal
  // reads take their schema from a footer, so a commit launches only the
  // jobs that move rows. Counts as measured on 4 cores.

  test("an append with statsCols of a local frame launches 1 job: the write") {
    val root = freshRoot()
    val (snap, jobs) = SparkTestSession.jobsIn(
      TxnTable.append(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id", "v")))
    assert(jobs === 1)
    assert(snap.stats === Map(snap.files.head -> Map("id" -> (1L, 3L), "v" -> (10L, 30L))))
  }

  test("mergeInto, compactDeletes and compactTxn on a small stats table run 3 jobs each") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    threeFiles(root)
    val (merged, merge) = SparkTestSession.jobsIn(TxnTable.mergeInto(spark, root,
      Seq((10, 1), (11, 2), (30, 3)).toDF("id", "v"), Seq("id")))
    assert(merged.files.size === 1) // the whole rewrite fits one file
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1, 20).toDF("id"))
    val (_, fold) = SparkTestSession.jobsIn(TxnTable.compactDeletes(spark, root))
    val (_, compact) = SparkTestSession.jobsIn(TxnTable.compactTxn(spark, root, 2, Seq("id")))
    assert((merge, fold, compact) === ((3, 3, 3)))
    assert(rows(TxnTable.read(spark, root)) ===
      rows(df(2, 3, 21, 22)) ++ Set(Seq[Any](10, 1), Seq[Any](11, 2), Seq[Any](30, 3)))
  }

  test("changesBetween over a window holding a MoR delete plans with no job") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    threeFiles(root)
    val v1 = TxnTable.latest(spark, root).get.version
    val v2 = TxnTable.deleteKeysMor(spark, root, "id", Seq(1, 20).toDF("id")).version
    val (feed, jobs) = SparkTestSession.jobsIn(TxnTable.changesBetween(spark, root, v1, v2))
    assert(jobs === 0)
    assert(feed.select("id").as[Int].collect().sorted.toSeq === Seq(1, 20))
  }

  test("zero-row rewrite: compaction whose delete mask empties the selected files commits no part") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    threeFiles(root)
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1, 2, 3, 10, 11).toDF("id"))
    val before = TxnTable.latest(spark, root).get
    // the two selected files are masked out completely
    val after = TxnTable.compactWhere(spark, root, targetFiles = 1, bounds = Seq(("id", 1L, 11L)))
    assert(after.files === before.files.takeRight(1))
    assert(rows(TxnTable.read(spark, root)) === rows(df(20, 21, 22)))
    assertNoZeroRowParts(root)
    // the full compaction of a table its mask emptied
    TxnTable.deleteKeysMor(spark, root, "id", Seq(20, 21, 22).toDF("id"))
    assert(TxnTable.compactTxn(spark, root, targetFiles = 1).files.isEmpty)
    assert(TxnTable.read(spark, root).count() === 0L)
    assertNoZeroRowParts(root)
  }
}

