package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** RENAME/DROP COLUMN via the column mapping ([[ColumnMapping]]): the
  * laws that make a metadata-only rename sound on immutable, name-
  * resolved parquet — frozen physical names, reader-stripped tombstones,
  * fresh allocation for reborn names — plus the boundary translations
  * (stats pruning, blooms, MoR deletes, metadata aggregates, CDF) and
  * the refuse-loud edges (metadata-dependent drops, collisions, the
  * executor-staged write paths). */
class TxnRenameSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_rename").toString + "/tbl"

  /** The branch head through the reader's `versionAsOf` reference. */
  private def branchRead(root: String, name: String) =
    spark.read.format("graft-txn").option("versionAsOf", name).load(root)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // one file per append (local toDF parallelism would otherwise split
  // tiny frames across many part files and break per-file assertions)
  private def df(ids: Int*) = {
    val s = spark
    import s.implicits._
    ids.map(_.toLong).toDF("id").withColumn("v", col("id") * 10).repartition(1)
  }

  test("rename is metadata-only: same files, new name, same values") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3), statsCols = Seq("id"))
    val before = TxnTable.latest(spark, root).get
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "doc_id"))
    val after = TxnTable.latest(spark, root).get
    assert(after.files === before.files) // zero data movement
    val got = TxnTable.read(spark, root)
    assert(got.columns.toSeq === Seq("doc_id", "v"))
    assert(rows(got.select("doc_id")) === Set(Seq(1L), Seq(2L), Seq(3L)))
    // user-facing schema carries no mapping bookkeeping
    assert(!got.schema.fields.exists(_.metadata.contains(ColumnMapping.PhysKey)))
  }

  test("time travel shows each version under its own names") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1))
    TxnTable.alterTable(spark, root, renames = Seq("v" -> "value"))
    assert(TxnTable.readAsOf(spark, root, 1).columns.toSeq === Seq("id", "v"))
    assert(TxnTable.read(spark, root).columns.toSeq === Seq("id", "value"))
  }

  test("appends after a rename write the frozen physical name; mixed files read consistently") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2), statsCols = Seq("id"))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "doc_id"))
    // the new-shape append uses the LOGICAL name
    val s = spark; import s.implicits._
    val more = Seq(7L).toDF("doc_id").withColumn("v", col("doc_id") * 10)
    TxnTable.append(spark, root, more)
    val all = TxnTable.read(spark, root)
    assert(rows(all.select("doc_id")) === Set(Seq(1L), Seq(2L), Seq(7L)))
    // physical frozen: every data file stores `id`, none stores `doc_id`
    val snap = TxnTable.latest(spark, root).get
    val base = root.stripSuffix("/")
    snap.files.foreach { f =>
      val cols = spark.read.parquet(s"$base/$f").columns.toSeq
      assert(cols.contains("id") && !cols.contains("doc_id"), s"$f: $cols")
    }
  }

  test("stats pruning and metadata aggregates keep working through the rename") {
    val root = freshRoot()
    // two appends with disjoint id ranges -> two prunable files
    TxnTable.append(spark, root, df(1, 2, 3), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(100, 101))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "doc_id"))
    // range pruning by the NEW logical name hits the old physical stats
    val pruned = TxnTable.readPruned(spark, root, "doc_id", 100L, 200L)
    assert(pruned.inputFiles.length === 1)
    assert(rows(pruned.select("doc_id")) === Set(Seq(100L), Seq(101L)))
    // metadata-only MIN/MAX by the new name
    assert(TxnTable.metaMinMax(spark, root, "doc_id") === Some((1L, 101L)))
    // and appends AFTER the rename still land stats under the frozen name
    TxnTable.append(spark, root, df(500).toDF("doc_id", "v"))
    assert(TxnTable.metaMinMax(spark, root, "doc_id") === Some((1L, 500L)))
    assert(TxnTable.readPruned(spark, root, "doc_id", 400L, 600L)
      .inputFiles.length === 1)
  }

  test("drop hides the column; re-adding the name reads NULL, never old bytes") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2))
    TxnTable.alterTable(spark, root, drops = Seq("v"))
    assert(TxnTable.read(spark, root).columns.toSeq === Seq("id"))
    // re-add `v`: a FRESH physical name — the old files' v-values must
    // NOT resurrect into it. The ALTER target is the recorded schema's
    // logical view (the scan's schema force-nullables and would not
    // round-trip — same contract as the unmapped alterTable)
    val cur = ColumnMapping.logicalView(TxnTable.latest(spark, root).get.schema.get)
    TxnTable.alterTable(spark, root,
      newSchema = Some(cur.add("v", "long", nullable = true)))
    val got = TxnTable.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "v"))
    assert(rows(got) === Set(Seq(1L, null), Seq(2L, null)))
    // and a new append CAN fill it
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, Seq((9L, 90L)).toDF("id", "v"))
    assert(rows(TxnTable.read(spark, root)) ===
      Set(Seq(1L, null), Seq(2L, null), Seq(9L, 90L)))
  }

  test("CoW delete, MoR delete, and merge address the NEW name") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3, 4), statsCols = Seq("id"))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "k"))
    // copy-on-write predicate in logical terms
    TxnTable.deleteWhere(spark, root, col("k") === 4L)
    assert(rows(TxnTable.read(spark, root).select("k")) ===
      Set(Seq(1L), Seq(2L), Seq(3L)))
    // merge-on-read keyed by the logical name
    val s = spark; import s.implicits._
    TxnTable.deleteKeysMor(spark, root, "k", Seq(3L).toDF("k"))
    assert(rows(TxnTable.read(spark, root).select("k")) === Set(Seq(1L), Seq(2L)))
    TxnTable.compactDeletes(spark, root)
    // upsert by the logical key
    TxnTable.mergeInto(spark, root,
      Seq((2L, 999L), (5L, 50L)).toDF("k", "v"), Seq("k"))
    assert(rows(TxnTable.read(spark, root)) ===
      Set(Seq(1L, 10L), Seq(2L, 999L), Seq(5L, 50L)))
  }

  test("compaction and z-order preserve the mapping") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(3, 4))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "k"))
    TxnTable.compactTxn(spark, root, targetFiles = 1, sortCols = Seq("k"))
    val got = TxnTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "v"))
    assert(rows(got.select("k")) === Set(Seq(1L), Seq(2L), Seq(3L), Seq(4L)))
    // compacted files still store the frozen physical name
    val snap = TxnTable.latest(spark, root).get
    val base = root.stripSuffix("/")
    assert(spark.read.parquet(s"$base/${snap.files.head}")
      .columns.toSeq.contains("id"))
    // pruning on the logical name still fires post-compaction (the
    // append uses the logical name — an old-name append would birth a
    // NEW column, the name-is-identity rule)
    TxnTable.append(spark, root, df(100, 101).toDF("k", "v"))
    assert(TxnTable.readPruned(spark, root, "k", 100L, 200L)
      .inputFiles.length === 1)
    // z-order by logical dims records physical stats columns
    TxnTable.compactZOrderTxn(spark, root, 2, Seq("k", "v"))
    assert(rows(TxnTable.read(spark, root).select("k")) ===
      Set(Seq(1L), Seq(2L), Seq(3L), Seq(4L), Seq(100L), Seq(101L)))
  }

  test("change feed emits the logical names across a rename") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1))                     // v1
    TxnTable.alterTable(spark, root, renames = Seq("v" -> "value")) // v2
    TxnTable.append(spark, root, df(2).toDF("id", "value")) // v3
    val feed = TxnTable.changesBetween(spark, root, 1, 3)
    assert(feed.columns.toSet === Set("id", "value", "_change_type", "_n"))
    assert(rows(feed.filter(col("_change_type") === "insert").select("id")) ===
      Set(Seq(2L)))
  }

  test("refuse-loud edges: collisions, metadata-dependent drops, unmapped-only paths") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1), statsCols = Seq("id"))
    // rename onto an existing name
    intercept[IllegalArgumentException] {
      TxnTable.alterTable(spark, root, renames = Seq("v" -> "id")) }
    // dropping a recorded stats column refuses with direction
    val e = intercept[IllegalArgumentException] {
      TxnTable.alterTable(spark, root, drops = Seq("id")) }
    assert(e.getMessage.contains("statsCols"))
    // incoming data may not claim the tombstone namespace
    val s = spark; import s.implicits._
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, root,
        Seq(1L).toDF(ColumnMapping.TombstonePrefix + "x")) }
  }

  test("rename back to the birth name fully unmaps the field (MappingLawsProps find)") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2), statsCols = Seq("id"))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "c1"))
    TxnTable.alterTable(spark, root, renames = Seq("c1" -> "id"))
    // the round trip leaves NO mapping bookkeeping: unmapped fast paths
    // re-engage, and metadata-sensitive schema equality cannot trip
    val sc = TxnTable.latest(spark, root).get.schema.get
    assert(!ColumnMapping.hasMapping(sc))
    assert(!sc.fields.exists(_.metadata.contains(ColumnMapping.PhysKey)))
    // the exact shrunk failure: ADD a column named like the abandoned
    // alias — this used to refuse with "does not round-trip evolution"
    // on a target identical up to the leftover metadata
    TxnTable.alterTable(spark, root, newSchema = Some(
      ColumnMapping.logicalView(sc).add("c1", "long", nullable = true)))
    val got = TxnTable.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "v", "c1"))
    // c1 was only ever an alias of id — no stored bytes resurrect
    assert(rows(got.select("c1")) === Set(Seq(null), Seq(null)))
    // and pruning on id still works off the (never-moved) physical stats
    assert(TxnTable.readPruned(spark, root, "id", 5L, 9L).count() === 0L)
  }

  test("replaceBatch after a rename translates inherited stats/bloom cols " +
      "off the dead physical names") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2), statsCols = Seq("id"),
      bloomCols = Seq("id"))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "doc_id"))
    // the replacement arrives under the NEW logical name; inheriting the
    // prior snapshot's statsCols verbatim would carry the OLD physical
    // name 'id', which names no column in the replacement files
    val s = spark; import s.implicits._
    val repl = Seq(5L, 6L).toDF("doc_id").withColumn("v", col("doc_id") * 10)
      .repartition(1)
    val snap = TxnTable.replaceBatch(spark, root, repl, batchId = 1L).get
    assert(snap.statsCols === Seq("doc_id"))
    assert(snap.bloomCols === Seq("doc_id"))
    // and the metadata is actually RECORDED (pruning stays alive)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("doc_id"))))
    assert(snap.files.forall(f => snap.blooms.get(f).exists(_.contains("doc_id"))))
    // a stats column whose logical name is GONE from the replacement is
    // dropped, not carried as a dead manifest entry
    val repl2 = Seq(7L).toDF("other").repartition(1)
    val snap2 = TxnTable.replaceBatch(spark, root, repl2, batchId = 2L).get
    assert(snap2.statsCols.isEmpty && snap2.bloomCols.isEmpty)
  }

  test("replayBranch composes across a renamed main by frozen physical identity") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root, "work")
    // branch append under the PRE-rename names
    TxnTable.appendToBranch(spark, root, "work", df(10))
    // main diverges AND renames — the exact case that used to refuse
    TxnTable.append(spark, root, df(5))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "k"))
    TxnTable.replayBranch(spark, root, "work")
    val got = TxnTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "v")) // main's logical names win
    assert(rows(got) === Set(Seq(1L, 10L), Seq(2L, 20L), Seq(5L, 50L),
      Seq(10L, 100L)))
    // the replayed file's frozen-physical stats answer to the new name
    assert(rows(TxnTable.readPruned(spark, root, "k", 10L, 20L).select("k"))
      === Set(Seq(10L)))
    // a branch-NEW column appends under its own name; pre-replay main
    // rows read NULL in it
    TxnTable.createBranch(spark, root, "extra")
    TxnTable.appendToBranch(spark, root, "extra",
      df(20).toDF("k", "v").withColumn("w", lit(7L)))
    TxnTable.append(spark, root, df(6).toDF("k", "v"))
    TxnTable.replayBranch(spark, root, "extra")
    val got2 = TxnTable.read(spark, root)
    assert(got2.columns.toSeq === Seq("k", "v", "w"))
    assert(rows(got2.select("k", "w")).contains(Seq(20L, 7L)))
    assert(rows(got2.select("k", "w")).contains(Seq(6L, null)))
  }

  test("replayBranch refuse-loud edges under the mapping: drops and name collisions") {
    // main DROPS a column the branch still writes — replaying would
    // silently hide the appended data
    val root = freshRoot()
    TxnTable.append(spark, root, df(1), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root, "doomed")
    TxnTable.appendToBranch(spark, root, "doomed", df(30))
    TxnTable.append(spark, root, df(5))
    TxnTable.alterTable(spark, root, drops = Seq("v"))
    val e = intercept[IllegalArgumentException] {
      TxnTable.replayBranch(spark, root, "doomed") }
    assert(e.getMessage.contains("dropped"))
    // a branch-new column's name collides with a live main column of
    // DIFFERENT physical identity (main renamed v -> z; branch adds a
    // fresh z): the branch's files physically carry 'z', refuse
    val root2 = freshRoot()
    TxnTable.append(spark, root2, df(1), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root2, "clash")
    TxnTable.appendToBranch(spark, root2, "clash",
      df(30).withColumn("z", lit(9L)))
    TxnTable.append(spark, root2, df(5))
    TxnTable.alterTable(spark, root2, renames = Seq("v" -> "z"))
    val c = intercept[IllegalArgumentException] {
      TxnTable.replayBranch(spark, root2, "clash") }
    assert(c.getMessage.contains("collides"))
  }

  test("branches carry the mapping: branch appends, reads, and fast-forward") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2), statsCols = Seq("id"))
    TxnTable.alterTable(spark, root, renames = Seq("id" -> "k"))
    TxnTable.createBranch(spark, root, "audit")
    TxnTable.appendToBranch(spark, root, "audit", df(9).toDF("k", "v"))
    val br = branchRead(root, "audit")
    assert(br.columns.toSeq === Seq("k", "v"))
    assert(rows(br.select("k")) === Set(Seq(1L), Seq(2L), Seq(9L)))
    // the branch-staged file carries the frozen physical name
    val bh = TxnTable.branchHead(spark, root, "audit")
    val base = root.stripSuffix("/")
    bh.files.foreach { f =>
      assert(spark.read.parquet(s"$base/$f").columns.toSeq.contains("id")) }
    TxnTable.fastForward(spark, root, "audit")
    assert(rows(TxnTable.read(spark, root).select("k")) ===
      Set(Seq(1L), Seq(2L), Seq(9L)))
  }

  test("rename of the MoR delete key and of a transform source stays consistent") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    val data = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("user_id", "amount")
    TxnTable.append(spark, root, data,
      transforms = Seq(TxnTable.Transform.bucket(4, "user_id")))
    TxnTable.deleteKeysMor(spark, root, "user_id", Seq(2L).toDF("user_id"))
    TxnTable.alterTable(spark, root, renames = Seq("user_id" -> "uid"))
    // the live MoR delete still applies through the rename
    assert(rows(TxnTable.read(spark, root).select("uid")) ===
      Set(Seq(1L), Seq(3L)))
    // appends still fan out by the (physical) transform source
    TxnTable.compactDeletes(spark, root)
    TxnTable.append(spark, root, Seq((9L, 90L)).toDF("uid", "amount"))
    assert(rows(TxnTable.read(spark, root).select("uid")) ===
      Set(Seq(1L), Seq(3L), Seq(9L)))
    // dropping the transform source refuses
    val e = intercept[IllegalArgumentException] {
      TxnTable.alterTable(spark, root, drops = Seq("uid")) }
    assert(e.getMessage.contains("transform"))
  }
}
