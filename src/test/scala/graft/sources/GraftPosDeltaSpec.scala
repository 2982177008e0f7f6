package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** POSITION DELETES — merge-on-read row-level SQL
  * ([[GraftPosDeltaOperation]] + [[TxnTable.commitDelta]]): a table
  * with `write.rowlevel.mode = merge-on-read` commits positional
  * tombstones + new rows for UPDATE/MERGE/DELETE instead of rewriting
  * touched files. The contract under test: data files stay
  * byte-identical BY PATH while reads hash-match the recompute; both
  * read surfaces (Scala merge path and the DSv2 position-aware scan)
  * mask; `_file`/`_pos` are queryable; `compactDeletes` folds the
  * debt; the CDC feed emits the deltas; [[TxnTable.deleteKeysMor]]
  * writes the same shape, so every surface composes with it; and the
  * two-writer race refuses serializably. */
class GraftPosDeltaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_pd_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_posdelta").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  /** id-clustered 4-file MoR-mode table over ids 1..200, v = id * 10. */
  private def morTable(name: String): String = {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/$name"
    TxnTable.overwrite(spark, root,
      (1L to 200L).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    spark.sql(s"ALTER TABLE $cat.db.$name " +
      s"SET TBLPROPERTIES ('${TxnTable.RowLevelModeKey}' = 'merge-on-read')")
    root
  }

  private def idv(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("SQL UPDATE commits tombstones + new rows; every data file carries " +
      "by path identity; reads match the recompute") {
    val root = morTable("up1")
    val before = TxnTable.latest(spark, root).get
    spark.sql(s"UPDATE $cat.db.up1 SET v = v * 2 WHERE id BETWEEN 10 AND 12")
    val after = TxnTable.latest(spark, root).get
    assert(after.op === "update-mor")
    // EVERY prior data file is still referenced, byte-identical by path
    assert(before.files.forall(after.files.contains))
    // plus a small insert file, plus position-delete file(s)
    assert((after.files.toSet -- before.files).nonEmpty)
    assert(after.deletes.nonEmpty)
    val expect = (1L to 200L).map(i =>
      (i, if (i >= 10 && i <= 12) i * 20 else i * 10)).toSet
    // the Scala merge path and the DSv2 position-aware scan both mask
    assert(idv(TxnTable.read(spark, root)) === expect)
    assert(idv(spark.sql(s"SELECT * FROM $cat.db.up1")) === expect)
    // time travel still shows the pre-update content
    assert(idv(TxnTable.readAsOf(spark, root, before.version)) ===
      (1L to 200L).map(i => (i, i * 10)).toSet)
  }

  test("SQL DELETE in MoR mode tombstones instead of rewriting; runtime " +
      "pruning keeps the tombstone small") {
    val root = morTable("del1")
    val before = TxnTable.latest(spark, root).get
    spark.sql(s"DELETE FROM $cat.db.del1 WHERE id IN (7, 8)")
    val after = TxnTable.latest(spark, root).get
    assert(after.op === "delete-mor")
    assert(after.files === before.files) // zero data movement, same order
    assert(after.deletes.nonEmpty)
    // the tombstone names exactly the two ordinals
    val base = root.stripSuffix("/")
    val tomb = spark.read.parquet(after.deletes.map(f => s"$base/$f"): _*)
    assert(tomb.count() === 2L)
    // only files that can hold 7..8 are referenced (scan was pruned)
    assert(tomb.select("_file").distinct().count() === 1L)
    assert(idv(TxnTable.read(spark, root)) ===
      (1L to 200L).filterNot(i => i == 7 || i == 8).map(i => (i, i * 10)).toSet)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.del1").head.getLong(0)
      === 198L)
  }

  test("the MoR rewrite scan runtime-prunes on a STRING stats column: " +
      "a lang-keyed DELETE reads (and tombstones) only matching files") {
    val root = s"$warehouse/db/strp"
    val s = spark; import s.implicits._
    TxnTable.overwrite(spark, root,
      (1L to 200L).toDF("id")
        .withColumn("lang", when(col("id") <= 100, "de").otherwise("en"))
        .withColumn("v", col("id") * 10L)
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id", "lang"))
    spark.sql(s"ALTER TABLE $cat.db.strp " +
      s"SET TBLPROPERTIES ('${TxnTable.RowLevelModeKey}' = 'merge-on-read')")
    spark.sql(s"DELETE FROM $cat.db.strp WHERE lang = 'en' AND id % 50 = 1")
    val after = TxnTable.latest(spark, root).get
    val base = root.stripSuffix("/")
    val tomb = spark.read.parquet(after.deletes.map(f => s"$base/$f"): _*)
    // ids 101 and 151 die — and the referenced files are only 'en' files
    // (the string runtime filter pruned the de half out of the scan)
    val refd = tomb.select("_file").distinct()
      .collect().map(_.getString(0)).toSet
    refd.foreach { f =>
      assert(after.stats(f)("lang") ===
        ((graft.functions.Utf8Prefix64.lower("en"),
          graft.functions.Utf8Prefix64.upper("en"))),
        s"tombstoned file $f must be an en-only file")
    }
    assert(idv(TxnTable.read(spark, root)) === (1L to 200L)
      .filterNot(i => i > 100 && i % 50 == 1).map(i => (i, i * 10)).toSet)
  }

  test("MERGE INTO in MoR mode: matched updates tombstone, not-matched " +
      "insert; recompute matches") {
    val root = morTable("mrg1")
    val s = spark; import s.implicits._
    Seq((5L, 999L), (201L, 2010L)).toDF("id", "v")
      .createOrReplaceTempView("pd_changes")
    spark.sql(
      s"""MERGE INTO $cat.db.mrg1 t USING pd_changes c ON t.id = c.id
         |WHEN MATCHED THEN UPDATE SET v = c.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (c.id, c.v)""".stripMargin)
    val after = TxnTable.latest(spark, root).get
    assert(after.op === "merge-mor")
    val expect = ((1L to 200L).map(i => (i, if (i == 5) 999L else i * 10)) :+
      (201L, 2010L)).toSet
    assert(idv(TxnTable.read(spark, root)) === expect)
    assert(idv(spark.sql(s"SELECT * FROM $cat.db.mrg1")) === expect)
  }

  test("consecutive MoR statements compose (the scan masks live " +
      "tombstones — no double-processing of dead rows)") {
    val root = morTable("seq1")
    spark.sql(s"DELETE FROM $cat.db.seq1 WHERE id = 50")
    // this UPDATE's scan must NOT resurrect id=50 as an updated copy
    spark.sql(s"UPDATE $cat.db.seq1 SET v = 0 WHERE id BETWEEN 49 AND 51")
    val got = idv(TxnTable.read(spark, root))
    assert(!got.exists(_._1 == 50L))
    assert(got.count { case (i, v) => (i == 49L || i == 51L) && v == 0L } === 2)
    assert(got.size === 199)
    // and again after another delete on an already-masked region
    spark.sql(s"DELETE FROM $cat.db.seq1 WHERE id = 49")
    assert(idv(TxnTable.read(spark, root)).size === 198)
  }

  test("_file and _pos are queryable metadata columns (hidden from *)") {
    val root = morTable("meta1")
    val df = spark.sql(s"SELECT id, _file, _pos FROM $cat.db.meta1 WHERE id <= 3")
    val rows = df.collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getString(1).startsWith("data/")))
    assert(rows.map(_.getLong(2)).distinct.length === 3) // in-file ordinals
    // SELECT * stays metadata-free
    assert(spark.sql(s"SELECT * FROM $cat.db.meta1").columns.toSeq ===
      Seq("id", "v"))
    assert(root.nonEmpty)
  }

  test("compactDeletes folds tombstones; raw paths and CoW mode work again") {
    val root = morTable("fold1")
    spark.sql(s"UPDATE $cat.db.fold1 SET v = 1 WHERE id = 100")
    assert(TxnTable.latest(spark, root).get.deletes.nonEmpty)
    TxnTable.compactDeletes(spark, root)
    val folded = TxnTable.latest(spark, root).get
    assert(folded.deletes.isEmpty)
    val expect = (1L to 200L).map(i => (i, if (i == 100) 1L else i * 10)).toSet
    assert(idv(TxnTable.read(spark, root)) === expect)
    assert(idv(spark.sql(s"SELECT * FROM $cat.db.fold1")) === expect)
  }

  test("partial compaction under live position tombstones: rewritten " +
      "region sheds its dead rows, carried region keeps masking, " +
      "metaCount stays exact") {
    val root = morTable("pc1")
    spark.sql(s"DELETE FROM $cat.db.pc1 WHERE id IN (20, 120)") // both halves
    val before = TxnTable.latest(spark, root).get
    // rewrite only the low half; files holding the 120-tombstone carry
    TxnTable.compactWhere(spark, root, targetFiles = 1,
      bounds = Seq(("id", 1L, 60L)))
    val after = TxnTable.latest(spark, root).get
    assert(after.op === "compact")
    assert(after.deletes.toSet === before.deletes.toSet) // tombstones stay
    val got = TxnTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(!got.contains(20L) && !got.contains(120L) && got.size === 198)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.db.pc1").head.getLong(0)
      === 198L)
    // the dangling tombstone (its file was rewritten) masks nothing;
    // the carried one still subtracts — exact either way
    assert(TxnTable.metaCount(spark, root) === Some(198L))
  }

  test("metaCount stays EXACT under position deletes (tombstones mask " +
      "one row each, deleteKeysMor's too)") {
    val root = morTable("cnt1")
    assert(TxnTable.metaCount(spark, root) === Some(200L))
    spark.sql(s"DELETE FROM $cat.db.cnt1 WHERE id IN (3, 4, 5)")
    assert(TxnTable.metaCount(spark, root) === Some(197L))
    spark.sql(s"UPDATE $cat.db.cnt1 SET v = 0 WHERE id = 10")
    // update = tombstone + reinsert: count unchanged
    assert(TxnTable.metaCount(spark, root) === Some(197L))
    assert(TxnTable.read(spark, root).count() === 197L)
    // a key delete tombstones the same way; an overlapping one (id 5
    // is already dead) masks nothing twice
    val s = spark; import s.implicits._
    TxnTable.deleteKeysMor(spark, root, "id", Seq(5L, 6L, 10L).toDF("id"))
    assert(TxnTable.metaCount(spark, root) === Some(195L))
    assert(TxnTable.read(spark, root).count() === 195L)
  }

  test("CDC: changesBetween across a position-delta commit emits the " +
      "delete pre-image and the insert") {
    val root = morTable("cdc1")
    val v1 = TxnTable.latest(spark, root).get.version
    spark.sql(s"UPDATE $cat.db.cdc1 SET v = 77 WHERE id = 3")
    val v2 = TxnTable.latest(spark, root).get.version
    val feed = TxnTable.changesBetween(spark, root, v1, v2)
      .select("id", "v", "_change_type", "_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(feed === Set((3L, 30L, "delete", 1L), (3L, 77L, "insert", 1L)))
  }

  test("append onto a position-delete-live table: appended rows are " +
      "never masked; streaming sources admit the window") {
    val root = morTable("app1")
    val s = spark; import s.implicits._
    spark.sql(s"DELETE FROM $cat.db.app1 WHERE id = 1")
    TxnTable.append(spark, root,
      Seq((500L, 5000L)).toDF("id", "v").repartition(1))
    assert(idv(TxnTable.read(spark, root)).contains((500L, 5000L)))
    assert(idv(TxnTable.read(spark, root)).size === 200) // 200 - 1 + 1
    // v1 path source streams the append raw (pos deletes can't name it)
    val base = Files.createTempDirectory("pd_stream").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-txn")
      .option("startVersion", (TxnTable.latest(spark, root).get.version - 1).toString)
      .load(root)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id").collect().foreach(r => got.add(r.getLong(0)))
      }.start()
    try { q.processAllAvailable() } finally q.stop()
    assert(got.toArray.toSet === Set(500L))
  }

  test("position deltas compose with COLUMN MAPPING: MoR update on a " +
      "renamed table, both surfaces read the new name") {
    val root = morTable("map1")
    spark.sql(s"ALTER TABLE $cat.db.map1 RENAME COLUMN v TO amount")
    spark.sql(s"UPDATE $cat.db.map1 SET amount = 7 WHERE id = 42")
    val after = TxnTable.latest(spark, root).get
    assert(after.op === "update-mor" && after.deletes.nonEmpty)
    def got(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("id", "amount").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaApi = got(TxnTable.read(spark, root))
    val viaSql = got(spark.sql(s"SELECT * FROM $cat.db.map1"))
    assert(viaApi(42L) === 7L && viaSql(42L) === 7L)
    assert(viaApi === viaSql && viaApi.size === 200)
    // a second statement through the mapping still composes
    spark.sql(s"DELETE FROM $cat.db.map1 WHERE id = 42")
    assert(!got(TxnTable.read(spark, root)).contains(42L))
  }

  test("position deltas compose with HIDDEN PARTITIONING: inserts keep " +
      "the bucket fan-out and its pruning") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/fan1"
    TxnTable.append(spark, root,
      (1L to 200L).toDF("id").withColumn("v", col("id") * 10L).repartition(2),
      statsCols = Seq("id"),
      transforms = Seq(TxnTable.Transform.bucket(4, "id")))
    spark.sql(s"ALTER TABLE $cat.db.fan1 " +
      s"SET TBLPROPERTIES ('${TxnTable.RowLevelModeKey}' = 'merge-on-read')")
    spark.sql(s"UPDATE $cat.db.fan1 SET v = 1 WHERE id IN (5, 6)")
    val after = TxnTable.latest(spark, root).get
    assert(after.op === "update-mor")
    // EVERY data file — the originals AND the update's inserts — lives
    // under a bucket4_id=… fan-out dir with its transform point entry
    // (pruning stays alive through the MoR write)
    assert(after.files.forall(_.contains("bucket4_id=")),
      s"flat-staged files: ${after.files.filterNot(_.contains("bucket4_id="))}")
    assert(after.files.forall(f =>
      after.stats.get(f).exists(_.contains("bucket4_id"))))
    val got = TxnTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(5L) === 1L && got(6L) === 1L && got.size === 200)
  }

  test("deleteKeysMor and SQL statements share one delete shape, races " +
      "refuse serializably, and CoW tables are untouched by the new path") {
    val root = morTable("mix1")
    val s = spark; import s.implicits._
    spark.sql(s"DELETE FROM $cat.db.mix1 WHERE id = 2") // deletes live
    // a key delete on top adds tombstones of the same shape
    TxnTable.deleteKeysMor(spark, root, "id", Seq(3L).toDF("id"))
    assert(idv(TxnTable.read(spark, root)) ===
      (1L to 200L).filterNot(Set(2L, 3L)).map(i => (i, i * 10)).toSet)
    // CoW row-level on a pos-live table refuses (resurrection hazard)
    val e2 = intercept[Exception] {
      TxnTable.deleteWhere(spark, root, col("id") === 4) }
    assert(e2.getMessage.contains("merge-on-read"))
    // a stale-planned delta refuses after the head moved
    val head = TxnTable.latest(spark, root).get
    TxnTable.append(spark, root, Seq((600L, 6L)).toDF("id", "v").repartition(1))
    val e3 = intercept[TxnTable.TxnConflictException] {
      TxnTable.commitDelta(spark, root, head.version,
        Seq.empty, Seq("data/fake/del-x.parquet"), "delete-mor") }
    assert(e3.getMessage.contains("stale"))
    // key deletes first, then a MoR-mode statement on top
    val root2 = morTable("mix2")
    TxnTable.deleteKeysMor(spark, root2, "id", Seq(9L).toDF("id"))
    spark.sql(s"DELETE FROM $cat.db.mix2 WHERE id = 10")
    assert(idv(spark.sql(s"SELECT * FROM $cat.db.mix2")) ===
      (1L to 200L).filterNot(Set(9L, 10L)).map(i => (i, i * 10)).toSet)
    // default mode keeps the exact CoW behavior
    val root3 = s"$warehouse/db/cow1"
    TxnTable.overwrite(spark, root3,
      (1L to 20L).toDF("id").withColumn("v", col("id")).repartition(1))
    spark.sql(s"UPDATE $cat.db.cow1 SET v = 0 WHERE id = 1")
    val cowHead = TxnTable.latest(spark, root3).get
    assert(cowHead.op === "update" && cowHead.deletes.isEmpty)
  }

  test("after deleteKeysMor, a by-name read, a micro-batch stream over " +
      "later appends and a MoR UPDATE all succeed and match TxnTable.read") {
    val root = morTable("kd1")
    val s = spark; import s.implicits._
    TxnTable.deleteKeysMor(spark, root, "id", Seq(5L, 150L).toDF("id"))
    def byName = idv(spark.sql(s"SELECT * FROM $cat.db.kd1"))
    assert(byName === idv(TxnTable.read(spark, root)))
    assert(!byName.exists(r => r._1 == 5L || r._1 == 150L) && byName.size === 198)

    val ckpt = Files.createTempDirectory("kd1_stream").toString
    val q = spark.readStream.table(s"$cat.db.kd1")
      .writeStream.format("memory").queryName("kd1_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable() // tail-only start, after the delete
      TxnTable.append(spark, root, Seq((5L, 55L), (300L, 3000L)).toDF("id", "v"))
      q.processAllAvailable()
      assert(idv(spark.table("kd1_stream")) === Set((5L, 55L), (300L, 3000L)))
    } finally q.stop()

    spark.sql(s"UPDATE $cat.db.kd1 SET v = v + 1 WHERE id BETWEEN 4 AND 6")
    assert(TxnTable.latest(spark, root).get.op === "update-mor")
    val want = (1L to 200L).filterNot(Set(5L, 150L)).map(i =>
      (i, if (i == 4L || i == 6L) i * 10 + 1 else i * 10)).toSet ++
      Set((5L, 56L), (300L, 3000L))
    assert(idv(TxnTable.read(spark, root)) === want)
    assert(byName === want)
  }
}
