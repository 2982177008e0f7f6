package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Merge-on-read deletes by key ([[TxnTable.deleteKeysMor]]): the keys
  * resolve to position deletes at delete time and rewrite nothing (file
  * path identity), readers mask them, time travel still sees pre-delete
  * rows, raw-file paths refuse until [[TxnTable.compactDeletes]] folds
  * the deletes in (except the change feed, which is MoR-native and
  * emits the delete file as delete events), a later append of a
  * deleted key stays visible exactly as after a copy-on-write delete,
  * and vacuum treats delete files as referenced data. */
class TxnMorDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot: String =
    Files.createTempDirectory("txn_mor").toString

  private def seed(root: String) = {
    val s = spark
    import s.implicits._
    TxnTable.append(spark, root,
      (0L until 100L).map(i => (i, s"v$i", i % 7)).toDF("id", "payload", "grp"),
      statsCols = Seq("id"))
  }

  test("MoR delete: no rewrite, merged reads, time travel intact") {
    val s = spark
    import s.implicits._
    val root = freshRoot
    seed(root)
    val filesBefore = TxnTable.latest(spark, root).get.files.toSet

    val snap = TxnTable.deleteKeysMor(spark, root, "id",
      Seq(3L, 7L, 42L, 999L).toDF("id")) // 999 matches nothing: harmless
    assert(snap.files.toSet === filesBefore, "MoR delete must not rewrite data")
    assert(snap.deletes.nonEmpty)

    val ids = TxnTable.read(spark, root).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === (0L until 100L).toSet -- Set(3L, 7L, 42L))
    // non-key columns survive the anti-join untouched
    assert(TxnTable.read(spark, root).filter($"id" === 5L)
      .select($"payload").head().getString(0) === "v5")
    // time travel: v1 still sees every row
    assert(TxnTable.readAsOf(spark, root, 1L).count() === 100L)

    // consecutive deletes accumulate, on any key column
    TxnTable.deleteKeysMor(spark, root, "id", Seq(5L).toDF("id"))
    assert(TxnTable.read(spark, root).count() === 96L)
    val grp1 = (0L until 100L).filter(_ % 7 == 1).toSet
    TxnTable.deleteKeysMor(spark, root, "grp", Seq(1L).toDF("grp"))
    assert(TxnTable.read(spark, root).select($"id").collect().map(_.getLong(0)).toSet ===
      (0L until 100L).toSet -- Set(3L, 5L, 7L, 42L) -- grp1)
    // no live row matches: nothing to commit
    val head = TxnTable.latest(spark, root).get.version
    assert(TxnTable.deleteKeysMor(spark, root, "id", Seq(999L).toDF("id")).version === head)
  }

  test("appends carry live deletes; raw-file paths refuse; compaction folds") {
    val s = spark
    import s.implicits._
    val root = freshRoot
    seed(root)
    TxnTable.deleteKeysMor(spark, root, "id", Seq(10L, 11L).toDF("id"))

    // an append must not lose the live deletes
    TxnTable.append(spark, root,
      Seq((200L, "v200", 4L)).toDF("id", "payload", "grp"))
    val ids = TxnTable.read(spark, root).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids(10L) && !ids(11L) && ids(200L),
      "append dropped the live MoR deletes")

    // raw-file code paths refuse while deletes are live
    intercept[IllegalArgumentException] {
      TxnTable.readPruned(spark, root, 0L, 50L)
    }
    intercept[IllegalArgumentException] {
      TxnTable.deleteWhere(spark, root, col("id") === 1L)
    }
    // ...but the change feed is MoR-native: the delete file feeds as
    // keyed delete events carrying the pre-image (v1 -> v2 here is
    // exactly the deleteKeysMor commit)
    val feedDel = TxnTable.changesBetween(spark, root, 1, 2)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_n"))).toSet
    assert(feedDel === Set((10L, "v10", "delete", 1L),
      (11L, "v11", "delete", 1L)))
    // and an append window on top of the (unchanged) live delete set
    // feeds just the inserts
    val feedApp = TxnTable.changesBetween(spark, root, 2, 3)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(feedApp === Set((200L, "insert")))

    // compaction folds the deletes in: same content, no delete files,
    // raw-file paths work again
    val before = TxnTable.read(spark, root).collect().map(_.toSeq).toSet
    val compacted = TxnTable.compactDeletes(spark, root)
    assert(compacted.deletes.isEmpty)
    assert(TxnTable.read(spark, root).collect().map(_.toSeq).toSet === before)
    assert(TxnTable.readPruned(spark, root, 0L, 50L).count() > 0)
    // restore back to the MoR version carries its delete files
    val morVersion = compacted.version - 1
    TxnTable.restore(spark, root, morVersion)
    assert(TxnTable.latest(spark, root).get.deletes.nonEmpty)
    assert(TxnTable.read(spark, root).collect().map(_.toSeq).toSet === before)
  }

  test("composite-key MoR delete: every component must match (null-safe); " +
    "feed and fold honor the tuple key") {
    val s = spark
    import s.implicits._
    val root = freshRoot
    seed(root) // (id, payload, grp) with grp = id % 7
    // (3, 3) matches row 3 (3 % 7 = 3); (10, 4) and (5, 999) each agree
    // on only ONE component (10 % 7 = 3, 5 % 7 = 5) and must NOT delete
    val keys = Seq((3L, 3L), (10L, 4L), (5L, 999L)).toDF("id", "grp")
    val snap = TxnTable.deleteKeysMor(spark, root, Seq("id", "grp"), keys)
    val ids = TxnTable.read(spark, root).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids(3L) && ids(10L) && ids(5L),
      s"composite key must match on EVERY component: $ids")
    assert(TxnTable.read(spark, root).count() === 99L)

    // the MoR-native feed emits the composite-keyed pre-image
    val v = snap.version
    val feed = TxnTable.changesBetween(spark, root, v - 1, v)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed === Set((3L, "v3", "delete")))
    // compaction folds the tuple-keyed deletes exactly
    val before = TxnTable.read(spark, root).collect().map(_.toSeq).toSet
    TxnTable.compactDeletes(spark, root)
    assert(TxnTable.latest(spark, root).get.deletes.isEmpty)
    assert(TxnTable.read(spark, root).collect().map(_.toSeq).toSet === before)
  }

  test("a row appended after deleteKeysMor with a deleted key stays: " +
      "read, change feed and stream agree with deleteWhere") {
    val s = spark
    import s.implicits._
    val mor = freshRoot
    val cow = freshRoot
    Seq(mor, cow).foreach(seed)
    TxnTable.deleteKeysMor(spark, mor, "id", Seq(3L).toDF("id"))
    TxnTable.deleteWhere(spark, cow, col("id") === 3L)
    val late = Seq((3L, "late", 3L)).toDF("id", "payload", "grp")
    val ckpt = Files.createTempDirectory("txn_mor_late").toString
    val q = spark.readStream.format("graft-txn").load(mor)
      .writeStream.format("memory").queryName("txn_mor_late")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable() // starts after the delete
      TxnTable.append(spark, mor, late)
      TxnTable.append(spark, cow, late)
      q.processAllAvailable()
      assert(spark.table("txn_mor_late").select($"id", $"payload")
        .as[(Long, String)].collect().toSeq === Seq((3L, "late")))
    } finally q.stop()

    def rows(root: String) = TxnTable.read(spark, root)
      .as[(Long, String, Long)].collect().toSet
    assert(rows(mor) === rows(cow))
    assert(rows(mor)((3L, "late", 3L)) && !rows(mor)((3L, "v3", 3L)))
    def feed(v1: Long, v2: Long) = TxnTable.changesBetween(spark, mor, v1, v2)
      .select($"id", $"payload", $"_change_type").as[(Long, String, String)]
      .collect().toSet
    val head = TxnTable.latest(spark, mor).get.version
    assert(feed(head - 1, head) === Set((3L, "late", "insert")))
    assert(feed(1L, head) === Set((3L, "v3", "delete"), (3L, "late", "insert")))
  }

  test("a manifest carrying equality delete files is refused on load") {
    val root = freshRoot
    seed(root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = {
      val in = fs.open(new Path(s"$root/_txn/v0000000001.txt"))
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, true)
      new String(out.toByteArray, StandardCharsets.UTF_8).split("\n").toSeq
    }
    def commit(v: Long, tags: String*): Unit = {
      val o = fs.create(new Path(f"$root/_txn/v$v%010d.txt"), false)
      val text = (v1.head +: tags) ++ v1.tail
      try o.write(text.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally o.close()
    }
    // an older writer's position-delete tag still loads
    commit(2L, "#delcol\t_file\t_pos")
    assert(TxnTable.read(spark, root).count() === 100L)
    // its equality-delete tag does not: the load names the version
    commit(3L, "#delcol\tid", "#delete\tdata/old/del-0.parquet")
    val e = intercept[IllegalArgumentException](TxnTable.read(spark, root))
    assert(e.getMessage.contains("v3") && e.getMessage.contains("equality delete files"))
  }

  test("vacuum keeps delete files referenced by retained manifests") {
    val s = spark
    import s.implicits._
    val root = freshRoot
    seed(root)
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1L, 2L).toDF("id"))
    val want = TxnTable.read(spark, root).collect().map(_.toSeq).toSet
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    assert(TxnTable.read(spark, root).collect().map(_.toSeq).toSet === want,
      "vacuum reclaimed a live delete file")
  }
}
