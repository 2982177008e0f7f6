package graft.sinks

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{GraftCatalog, GraftMetaCols}

/** `write.rowlevel.isolation` — the row-level conflict matrix
  * ([[TxnTable.commitReplace]] / [[TxnTable.commitDelta]]):
  * SERIALIZABLE (default) refuses ANY head movement past the planned
  * snapshot; SNAPSHOT rebases over concurrency that is provably a PURE
  * APPEND by manifest facts (planned files all present, delete set /
  * schema / transforms / metadata columns unchanged) — appends cannot
  * move a file's ordinals or un-scan a scanned file, so a busy ingest
  * table can take row-level repairs without retry storms (Iceberg's
  * `write.update.isolation-level`). Anything that is NOT a pure append
  * (compaction, a concurrent row-level op) still refuses. */
class TxnIsolationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_iso_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_iso").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  private def table(name: String, mor: Boolean): String = {
    val root = s"$warehouse/db/$name"
    TxnTable.overwrite(spark, root,
      spark.range(1, 201).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    if (mor) TxnTable.setTableProperty(spark, root,
      TxnTable.RowLevelModeKey, "merge-on-read")
    root
  }

  /** Move one spark-written parquet into the table's data dir. */
  private def stageManual(root: String, df: org.apache.spark.sql.DataFrame,
                          rel: String): String = {
    val tmp = Files.createTempDirectory("iso_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(tmp))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    fs.mkdirs(new Path(s"$root/$rel").getParent)
    assert(fs.rename(part, new Path(s"$root/$rel")))
    rel
  }

  private def ids(root: String): Set[Long] =
    TxnTable.read(spark, root).select("id").collect().map(_.getLong(0)).toSet

  /** The id at ordinal 0 of the planned snapshot's first file. */
  private def firstRow(root: String, snap: TxnTable.Snapshot): (String, Long) = {
    val f = snap.files.head
    val id = spark.read.parquet(s"$root/$f")
      .withColumn("_i", col("_metadata.row_index"))
      .filter(col("_i") === 0L).head.getLong(0)
    (f, id)
  }

  test("MoR delta: a pure concurrent append refuses under the default " +
      "and rebases under snapshot isolation (both rows survive)") {
    val root = table("iso1", mor = true)
    val planned = TxnTable.latest(spark, root).get
    val (fileA, deadId) = firstRow(root, planned)
    TxnTable.append(spark, root, // the concurrent ingest
      spark.range(201, 211).toDF("id").withColumn("v", col("id") * 10L))
    val tomb = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileA, 0L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso1.parquet")

    // default = serializable: the moved head refuses
    val err = intercept[TxnTable.TxnConflictException] {
      TxnTable.commitDelta(spark, root, planned.version, Nil, Seq(tomb),
        "delete-mor")
    }
    assert(err.getMessage.contains("stale snapshot"))

    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    val out = TxnTable.commitDelta(spark, root, planned.version, Nil,
      Seq(tomb), "delete-mor")
    assert(out.isDefined && out.get.deletes.nonEmpty)
    // the delete applied AND the concurrently appended rows survive
    assert(ids(root) === ((1L to 210L).toSet - deadId))
  }

  test("CoW replace: rebases over a pure append under snapshot " +
      "isolation — replaced content + appended rows both visible") {
    val root = table("iso2", mor = false)
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    val planned = TxnTable.latest(spark, root).get
    val fileA = planned.files.head
    val replacement = stageManual(root,
      spark.read.parquet(s"$root/$fileA").withColumn("v", col("v") + 1L),
      "data/manual/iso2-rewrite.parquet")
    TxnTable.append(spark, root, // lands between plan and commit
      spark.range(201, 206).toDF("id").withColumn("v", col("id") * 10L))
    val out = TxnTable.commitReplace(spark, root, planned.version,
      Set(fileA), Seq(replacement), "update")
    assert(out.version === planned.version + 2)
    val got = TxnTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 205)
    val rewritten = spark.read.parquet(s"$root/$fileA")
      .collect().map(_.getLong(0)).toSet
    rewritten.foreach(i => assert(got(i) === i * 10 + 1)) // replaced
    assert(got(205L) === 2050L) // appended survived
  }

  test("snapshot isolation still refuses non-append concurrency: a " +
      "compaction (file rewrite) and a concurrent delta both conflict") {
    val root = table("iso3", mor = true)
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    val planned = TxnTable.latest(spark, root).get
    val (fileA, _) = firstRow(root, planned)
    val tomb = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileA, 0L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso3.parquet")

    // concurrent COMPACTION rewrote the files: positions are dead wrong
    TxnTable.compactTxn(spark, root, 2)
    intercept[TxnTable.TxnConflictException] {
      TxnTable.commitDelta(spark, root, planned.version, Nil, Seq(tomb),
        "delete-mor")
    }

    // concurrent DELTA tombstoning the SAME file conflicts too —
    // admitting it would resurrect the concurrently deleted row
    // through this statement's rewrite
    val planned2 = TxnTable.latest(spark, root).get
    val fileWith60 = planned2.files.find(f =>
      spark.read.parquet(s"$root/$f").filter(col("id") === 60L)
        .limit(1).count() > 0).get
    spark.sql(s"DELETE FROM $cat.db.iso3 WHERE id = 60")
    val tomb2 = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileWith60, 0L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso3b.parquet")
    intercept[TxnTable.TxnConflictException] {
      TxnTable.commitDelta(spark, root, planned2.version, Nil, Seq(tomb2),
        "delete-mor")
    }
  }

  test("snapshot isolation admits DISJOINT-FILE concurrency: two MoR " +
      "deltas on different files both commit; same-file still refuses") {
    val root = table("iso5", mor = true)
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    val planned = TxnTable.latest(spark, root).get
    // fileA must be a file the concurrent DELETE does NOT touch — pick
    // it by CONTENT (the file holding id 1), never by manifest position:
    // staging order varies under load, so files.head is sometimes the
    // id-180 file, and then the two writers genuinely overlap and the
    // refusal below would be CORRECT (the r14b "flake" was exactly this
    // test-premise nondeterminism, not a product bug)
    val fileA = planned.files.find(f =>
      spark.read.parquet(s"$root/$f").filter(col("id") === 1L)
        .limit(1).count() > 0).get
    val deadA = spark.read.parquet(s"$root/$fileA")
      .withColumn("_i", col("_metadata.row_index"))
      .filter(col("_i") === 0L).head.getLong(0)
    // a CONCURRENT SQL delete lands on a DIFFERENT file (id 180 lives
    // in the top range file; fileA holds id 1)
    spark.sql(s"DELETE FROM $cat.db.iso5 WHERE id = 180")
    assert(TxnTable.latest(spark, root).get.version === planned.version + 1)
    // our statement tombstones fileA only — footer bounds prove the
    // two writers touched disjoint files, so the rebase admits it
    val tomb = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileA, 0L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso5.parquet")
    val out = TxnTable.commitDelta(spark, root, planned.version, Nil,
      Seq(tomb), "delete-mor")
    assert(out.isDefined)
    assert(ids(root) === ((1L to 200L).toSet - deadA - 180L))

    // but a SECOND delta targeting the file the concurrent delete
    // already tombstoned refuses from the same planned version
    val fileWith180 = planned.files.find(f =>
      spark.read.parquet(s"$root/$f").filter(col("id") === 180L)
        .limit(1).count() > 0).get
    val tomb2 = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileWith180, 1L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso5b.parquet")
    intercept[TxnTable.TxnConflictException] {
      TxnTable.commitDelta(spark, root, planned.version, Nil, Seq(tomb2),
        "delete-mor")
    }
  }

  test("admission is self-sufficient: LOOSE sidecar footer bounds (an " +
      "unsorted or pruning-defeated statement) never refuse a genuinely " +
      "disjoint rebase — touched comes from staged content, not bounds") {
    val root = table("iso7", mor = true)
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    val planned = TxnTable.latest(spark, root).get
    val sorted = planned.files.sorted
    val (fLo, fHi) = (sorted.head, sorted.last)
    // ONE sidecar tombstoning the lexicographic EXTREMES: its footer
    // `_file` bounds [fLo..fHi] cover every file in between — exactly
    // what an unpruned or multi-partition statement writes. The
    // bounds-based touched set would include the middle files and
    // refuse the rebase below; content-based touched is {fLo, fHi}.
    val tomb = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fLo, 0L), Row(fHi, 0L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso7.parquet")
    val deadIds = Seq(fLo, fHi).map(f =>
      spark.read.parquet(s"$root/$f")
        .withColumn("_i", col("_metadata.row_index"))
        .filter(col("_i") === 0L).head.getLong(0))
    // the CONCURRENT statement lands on a name-MIDDLE file — inside
    // our sidecar's loose [fLo..fHi] bounds, outside its actual content
    val mid = sorted(1)
    val midId = spark.read.parquet(s"$root/$mid")
      .withColumn("_i", col("_metadata.row_index"))
      .filter(col("_i") === 1L).head.getLong(0) // ordinal 1: never ours
    spark.sql(s"DELETE FROM $cat.db.iso7 WHERE id = $midId")
    assert(TxnTable.latest(spark, root).get.version === planned.version + 1)
    val out = TxnTable.commitDelta(spark, root, planned.version, Nil,
      Seq(tomb), "delete-mor")
    assert(out.isDefined,
      "a disjoint rebase was refused on loose footer bounds")
    assert(ids(root) === ((1L to 200L).toSet - midId -- deadIds))
  }

  test("snapshot isolation admits a DISJOINT CoW rewrite: a concurrent " +
      "UPDATE replaced a file this statement never scanned; same-file " +
      "overlap still refuses") {
    val root = table("iso6", mor = false)
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    val planned = TxnTable.latest(spark, root).get
    assert(planned.files.size === 4)
    val fileA = planned.files.find(f =>
      spark.read.parquet(s"$root/$f").filter(col("id") === 10L)
        .limit(1).count() > 0).get
    val replacement = stageManual(root,
      spark.read.parquet(s"$root/$fileA").withColumn("v", col("v") + 1L),
      "data/manual/iso6-rewrite.parquet")
    // the concurrent CoW UPDATE rewrites the file holding id 180 —
    // that file LEAVES the snapshot (what pure-append rebase refused)
    spark.sql(s"UPDATE $cat.db.iso6 SET v = v + 7 WHERE id = 180")
    val cur = TxnTable.latest(spark, root).get
    assert(cur.version === planned.version + 1 &&
      !planned.files.forall(cur.files.contains))
    // disjoint: our scan touched only fileA, still present — rebase
    val out = TxnTable.commitReplace(spark, root, planned.version,
      Set(fileA), Seq(replacement), "update")
    assert(out.version === planned.version + 2)
    val got = TxnTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 200)
    assert(got(180L) === 1807L) // the concurrent writer's update held
    spark.read.parquet(s"$root/$fileA").collect().map(_.getLong(0))
      .foreach(i => assert(got(i) === i * 10 + 1)) // ours applied
    // OVERLAP refuses: a rewrite of the file the concurrent UPDATE
    // replaced was computed from bytes that left the snapshot
    val fileB = planned.files.find(f =>
      spark.read.parquet(s"$root/$f").filter(col("id") === 180L)
        .limit(1).count() > 0).get
    assert(!TxnTable.latest(spark, root).get.files.contains(fileB))
    val stale = stageManual(root,
      spark.read.parquet(s"$root/$fileB").withColumn("v", col("v") + 1L),
      "data/manual/iso6-stale.parquet")
    intercept[TxnTable.TxnConflictException] {
      TxnTable.commitReplace(spark, root, planned.version,
        Set(fileB), Seq(stale), "update")
    }
  }

  test("consolidation provenance: a row-level statement REBASES over a " +
      "concurrent compactPosDeletes — 'delete set preserved' is a " +
      "manifest fact, not a content guess") {
    val root = table("iso8", mor = true)
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")
    spark.sql(s"DELETE FROM $cat.db.iso8 WHERE id = 5") // sidecar S1
    val planned = TxnTable.latest(spark, root).get
    assert(planned.deletes.size === 1)
    val s1 = planned.deletes.head
    val (fileA, deadId) = firstRow(root, planned)
    val tomb = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileA, 0L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso8.parquet")
    // CONCURRENT maintenance consolidates S1 → C, recording prov [S1]
    val consolidated = TxnTable.compactPosDeletes(spark, root)
    assert(consolidated.version === planned.version + 1)
    assert(consolidated.deletes.nonEmpty &&
      consolidated.deletes.toSet.intersect(planned.deletes.toSet).isEmpty)
    assert(consolidated.delProv.values.flatten.toSet === Set(s1),
      "compact-pos-deletes must record what each output sidecar folded")
    // the provenance survives a cold manifest round-trip
    val cold = TxnTable.snapshot(spark, root, consolidated.version)
    assert(cold.delProv === consolidated.delProv)
    // the statement planned BEFORE the consolidation commits on top of
    // it — one call, no retry loop, no refusal: the folded-intact fact
    // admits the rebase even though planned.deletes all left the head
    val out = TxnTable.commitDelta(spark, root, planned.version, Nil,
      Seq(tomb), "delete-mor")
    assert(out.isDefined)
    assert(ids(root) === ((1L to 200L).toSet - 5L - deadId))

    // NEGATIVE: a consolidation that folded a CONCURRENT statement's
    // sidecar (prov ⊄ planned set) is not a pure re-encoding — when it
    // covers a touched file the rebase still refuses
    val planned2 = TxnTable.latest(spark, root).get
    spark.sql(s"DELETE FROM $cat.db.iso8 WHERE id = 6") // S2: also fileA
    TxnTable.compactPosDeletes(spark, root) // folds {C, ours, S2}
    val tomb2 = stageManual(root,
      spark.createDataFrame(java.util.List.of(Row(fileA, 1L)),
        GraftMetaCols.posDeleteSchema),
      "data/manual/del-iso8b.parquet")
    val err = intercept[TxnTable.TxnConflictException] {
      TxnTable.commitDelta(spark, root, planned2.version, Nil, Seq(tomb2),
        "delete-mor")
    }
    assert(err.getMessage.contains("rebase refused"))
  }

  test("consolidation provenance survives ordinary commits: an append, " +
      "appendWithRetry or alterTable between compactPosDeletes and the " +
      "statement leaves the rebase admissible") {
    val more = spark.range(201, 206).toDF("id").withColumn("v", col("id") * 10L)
    val writers: Seq[(String, String => Any, Set[Long])] = Seq(
      ("append", TxnTable.append(spark, _, more), (201L to 205L).toSet),
      ("appendWithRetry", TxnTable.appendWithRetry(spark, _, more),
        (201L to 205L).toSet),
      ("alterTable", TxnTable.alterTable(spark, _,
        newStatsCols = Some(Seq("id"))), Set.empty[Long]))
    writers.zipWithIndex.foreach { case ((what, write, added), i) =>
      val name = s"iso9$i"
      val root = table(name, mor = true)
      TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
        "snapshot")
      spark.sql(s"DELETE FROM $cat.db.$name WHERE id = 5") // sidecar S1
      val planned = TxnTable.latest(spark, root).get
      val (fileA, deadId) = firstRow(root, planned)
      val tomb = stageManual(root,
        spark.createDataFrame(java.util.List.of(Row(fileA, 0L)),
          GraftMetaCols.posDeleteSchema),
        s"data/manual/del-$name.parquet")
      val consolidated = TxnTable.compactPosDeletes(spark, root)
      assert(consolidated.delProv.nonEmpty)
      write(root) // the ordinary commit between consolidation and statement
      val head = TxnTable.latest(spark, root).get
      assert(head.version === consolidated.version + 1)
      assert(head.delProv === consolidated.delProv,
        s"$what erased the consolidation provenance")
      val out = TxnTable.commitDelta(spark, root, planned.version, Nil,
        Seq(tomb), "delete-mor")
      assert(out.exists(_.delProv === consolidated.delProv),
        s"the statement did not rebase over $what")
      assert(ids(root) === ((1L to 200L).toSet ++ added - 5L - deadId))
    }
  }

  test("the property validates and round-trips; unset restores the " +
      "serializable default") {
    val root = table("iso4", mor = false)
    intercept[IllegalArgumentException] {
      TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
        "read-committed")
    }
    spark.sql(s"ALTER TABLE $cat.db.iso4 SET TBLPROPERTIES " +
      s"('${TxnTable.RowLevelIsolationKey}' = 'snapshot')")
    assert(TxnTable.tableProperties(spark, root)
      .get(TxnTable.RowLevelIsolationKey).contains("snapshot"))
    TxnTable.unsetTableProperty(spark, root, TxnTable.RowLevelIsolationKey)
    assert(!TxnTable.tableProperties(spark, root)
      .contains(TxnTable.RowLevelIsolationKey))
  }
}
