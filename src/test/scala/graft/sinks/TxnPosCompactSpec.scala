package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{GraftCatalog, GraftSidecars}

/** [[TxnTable.compactPosDeletes]] — rewrite the position-delete
  * SIDECARS only, never a data file (Iceberg's
  * `rewrite_position_delete_files`): many per-statement sidecars merge
  * into few consolidated, `(_file,_pos)`-clustered ones; dangling
  * entries (their data file left the snapshot via partial compaction)
  * drop; visible content is unchanged under BOTH tombstone
  * resolutions (the DSv2 scan's task-side mask and `TxnTable.read`'s
  * anti-join); the commit classifies as maintenance (streams
  * skip it, the change feed nets empty). */
class TxnPosCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated() // mutates session confs

  private val cat = "graft_tpc_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_tpc").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  private def morTable(name: String): String = {
    val root = s"$warehouse/db/$name"
    TxnTable.overwrite(spark, root,
      spark.range(1, 201).toDF("id")
        .withColumn("v", col("id") * 10L)
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    spark.sql(s"ALTER TABLE $cat.db.$name " +
      s"SET TBLPROPERTIES ('${TxnTable.RowLevelModeKey}' = 'merge-on-read')")
    root
  }

  private def content(name: String): Map[Long, Long] =
    spark.sql(s"SELECT id, v FROM $cat.db.$name").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("N statements' sidecars consolidate into targetFiles; data files " +
      "carry by path with metadata untouched; content identical in both " +
      "resolution modes") {
    val root = morTable("c1")
    spark.sql(s"DELETE FROM $cat.db.c1 WHERE id IN (7, 8)")
    spark.sql(s"UPDATE $cat.db.c1 SET v = -1 WHERE id = 60")
    spark.sql(s"DELETE FROM $cat.db.c1 WHERE id = 160")
    val before = TxnTable.latest(spark, root).get
    assert(before.deletes.size === 3)
    val want = content("c1")

    val after = TxnTable.compactPosDeletes(spark, root)
    assert(after.deletes.size === 1)
    assert(after.deletes.head.contains("del-"))
    // data files carry BY PATH, stats/blooms/rowCounts untouched
    assert(after.files === before.files)
    assert(after.stats === before.stats)
    assert(after.rowCounts === before.rowCounts)
    assert(content("c1") === want)
    // the Scala merge path agrees too
    assert(TxnTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === want)
    // the consolidated sidecar is sorted, so its footer `_file` bounds
    // are tight and present
    val m = GraftSidecars.metas(spark, root, after.deletes).head
    assert(m.lo.isDefined && m.hi.isDefined && m.rows === 4)
  }

  test("dangling entries drop: tombstones whose file a partial " +
      "compaction rewrote vanish; an all-dangling table returns to the " +
      "tombstone-free shape") {
    val root = morTable("c2")
    // both tombstones land in file 1 (ids 1..50)
    spark.sql(s"DELETE FROM $cat.db.c2 WHERE id IN (3, 4)")
    val want = content("c2")
    // partial compaction rewrites EXACTLY the low-id region (masked),
    // carrying the delete files for everyone else — the entries for the
    // rewritten file are now dangling
    TxnTable.compactWhere(spark, root, targetFiles = 1,
      bounds = Seq(("id", 1L, 50L)), sortCols = Seq("id"))
    val mid = TxnTable.latest(spark, root).get
    assert(mid.deletes.nonEmpty) // still carried
    assert(content("c2") === want)

    val after = TxnTable.compactPosDeletes(spark, root)
    assert(after.deletes.isEmpty)
    assert(content("c2") === want)
    // tombstone-free again: the raw pruned read path is admissible once more
    assert(TxnTable.readPruned(spark, root, "id", 1L, 10L)
      .filter(col("id") <= 10).count() === 8L)
  }

  test("the commit is maintenance: an append-mode stream crosses it " +
      "without refusing, and the change feed across it nets empty") {
    val root = morTable("c3")
    spark.sql(s"DELETE FROM $cat.db.c3 WHERE id = 5")
    val v1 = TxnTable.latest(spark, root).get.version
    val after = TxnTable.compactPosDeletes(spark, root)
    assert(after.op === "compact-pos-deletes")
    assert(TxnTable.changesBetween(spark, root, v1, after.version)
      .count() === 0L)

    // more tombstones BEFORE the stream starts (a mid-stream MoR
    // statement is a delete-set change and refuses by design; the
    // MAINTENANCE commit is what must pass silently)
    spark.sql(s"DELETE FROM $cat.db.c3 WHERE id = 6")
    val base = Files.createTempDirectory("tpc_stream").toString
    val q = spark.readStream.table(s"$cat.db.c3")
      .writeStream.format("memory").queryName("tpc_stream")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable() // tail-only start
      TxnTable.compactPosDeletes(spark, root) // maintenance mid-stream
      TxnTable.append(spark, root, spark.range(500, 502).toDF("id")
        .withColumn("v", col("id") * 10L))
      q.processAllAvailable()
      assert(spark.table("tpc_stream").select("id")
        .collect().map(_.getLong(0)).toSet === Set(500L, 501L))
    } finally q.stop()
  }

  test("no-op without tombstones; overlapping deleteKeysMor sweeps and " +
      "a SQL DELETE consolidate into one deduped sidecar") {
    val root = morTable("c4")
    val clean = TxnTable.compactPosDeletes(spark, root)
    assert(clean.version === TxnTable.latest(spark, root).get.version)

    import spark.implicits._
    TxnTable.deleteKeysMor(spark, root, "id", Seq(7L, 8L).toDF("id"))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(8L, 60L).toDF("id")) // overlap
    spark.sql(s"DELETE FROM $cat.db.c4 WHERE id = 160")
    val before = TxnTable.latest(spark, root).get
    assert(before.deletes.size >= 3)
    val want = (1L to 200L).filterNot(Set(7L, 8L, 60L, 160L))
      .map(i => i -> i * 10).toMap
    assert(content("c4") === want)

    val after = TxnTable.compactPosDeletes(spark, root, targetFiles = 1)
    assert(after.deletes.size === 1 && after.files === before.files)
    // the overlapping sweep tombstoned row 8 twice: 4 entries, not 5
    assert(spark.read.parquet(s"$root/${after.deletes.head}").count() === 4L)
    assert(content("c4") === want)
    assert(TxnTable.changesBetween(spark, root, before.version,
      after.version).count() === 0L)
  }
}
