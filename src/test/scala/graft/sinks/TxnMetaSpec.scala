package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The metadata tables tell the truth about the log: history mirrors the
  * committed manifests row-for-row (version, op, counts, ts), and files
  * mirrors the current snapshot's per-file stats/bloom record exactly —
  * including the null-column row for an unpruned file, which is the case
  * the table exists to surface. */
class TxnMetaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_meta").toString + "/tbl"

  private def df(ids: Int*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10L)
  }

  test("history: one row per commit, ascending, ops and counts mirror the manifests") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(3, 4).coalesce(1))
    TxnTable.deleteWhere(spark, root, col("id") === 3, statsRange = Some((3L, 3L)))
    TxnTable.compactTxn(spark, root, targetFiles = 1)
    val h = TxnMeta.history(spark, root).collect()
    assert(h.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(h.map(_.getAs[String]("op")).toSeq ===
      Seq("append", "append", "delete", "compact"))
    // commit instants are recorded and non-decreasing
    val ts = h.map(_.getAs[java.sql.Timestamp]("ts"))
    assert(ts.forall(_ != null))
    assert(ts.sliding(2).forall { case Array(a, b) => !b.before(a) })
    // file counts mirror the snapshots; compaction collapsed to 1
    assert(h.last.getAs[Int]("n_files") === 1)
    assert(h.map(_.getAs[Int]("n_delete_files")).forall(_ === 0))
    assert(h.head.getAs[Seq[String]]("stats_cols") === Seq("id"))
  }

  test("history: MoR delete commits count their delete-key files; transforms surface by name") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    val data = Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 10:00:00"))
      .toDF("id", "ts_s").withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    TxnTable.append(spark, root, data,
      transforms = Seq(TxnTable.Transform.day("ts")))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1L).toDF("id"))
    val h = TxnMeta.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getAs[String]("op")).toSeq === Seq("append", "delete-mor"))
    assert(h.last.getAs[Int]("n_delete_files") === 1)
    assert(h.forall(_.getAs[Seq[String]]("transforms") === Seq("day_ts")))
  }

  test("files: rows mirror the snapshot's stats exactly; bytes are real; version pins") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    TxnTable.append(spark, root, df(10, 20).coalesce(1))
    val sn = TxnTable.latest(spark, root).get
    val f = TxnMeta.files(spark, root).collect()
    // one (file × column) row per recorded stats entry
    assert(f.length === sn.files.size)
    assert(f.map(_.getAs[String]("file")).toSet === sn.files.toSet)
    f.foreach { r =>
      val file = r.getAs[String]("file")
      assert(r.getAs[Long]("bytes") > 0)
      assert(r.getAs[String]("column") === "id")
      assert((r.getAs[Long]("lo"), r.getAs[Long]("hi")) ===
        sn.stats(file)("id"))
      assert(r.getAs[Boolean]("has_bloom"))
    }
    // version pinning: v1 lists only the first commit's file
    val f1 = TxnMeta.files(spark, root, Some(1L)).collect()
    assert(f1.map(_.getAs[String]("file")).toSet ===
      TxnTable.snapshot(spark, root, 1L).files.toSet)
  }

  test("files: a stats-less file surfaces as one null-column row") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1)) // no statsCols
    val f = TxnMeta.files(spark, root).collect()
    assert(f.length === 1)
    assert(f.head.isNullAt(f.head.fieldIndex("column")))
    assert(!f.head.getAs[Boolean]("has_bloom"))
  }

  test("refs: tags mirror the ref files; empty when none") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1))
    assert(TxnMeta.refs(spark, root).count() === 0L)
    TxnTable.tagVersion(spark, root, "baseline", 1L)
    TxnTable.append(spark, root, df(2))
    TxnTable.tagVersion(spark, root, "next", 2L)
    val got = TxnMeta.refs(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("baseline", "tag", 1L), ("next", "tag", 2L)))
  }

  test("partitions: per-transform-value rollup from the manifest; version pins") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3, 4, 5, 6).coalesce(1),
      statsCols = Seq("id"),
      transforms = Seq(TxnTable.Transform.bucket(2, "id")))
    val p1 = TxnMeta.partitions(spark, root).collect()
    // one row per live bucket; files/rows/bytes all accounted
    assert(p1.map(_.getAs[String]("partition")).forall(_.startsWith("bucket2_id=")))
    assert(p1.map(_.getAs[Long]("rows")).sum === 6L)
    assert(p1.map(_.getAs[Int]("n_files")).sum ===
      TxnTable.latest(spark, root).get.files.size)
    assert(p1.forall(_.getAs[Long]("bytes") > 0L))
    // a second append grows the buckets; the old version still reports
    // its own rollup under VERSION AS OF
    TxnTable.append(spark, root, df(7, 8).coalesce(1))
    val p2 = TxnMeta.partitions(spark, root).collect()
    assert(p2.map(_.getAs[Long]("rows")).sum === 8L)
    assert(TxnMeta.partitions(spark, root, Some(1L)).collect()
      .map(_.getAs[Long]("rows")).sum === 6L)
  }

  test("partitions: an unpartitioned table reports one all-table row with null partition") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(3).coalesce(1))
    val p = TxnMeta.partitions(spark, root).collect()
    assert(p.length === 1)
    assert(p.head.isNullAt(p.head.fieldIndex("partition")))
    assert(p.head.getAs[Int]("n_files") === 2)
    assert(p.head.getAs[Long]("rows") === 3L)
  }

  test("partitions metadata table by name honors VERSION AS OF") {
    val s = spark
    val wh = Files.createTempDirectory("graft_part_cat").toString
    s.conf.set("spark.sql.catalog.pt_cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.pt_cat.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS pt_cat.db")
    val root = s"$wh/db/t"
    TxnTable.append(spark, root, df(1, 2, 3, 4).coalesce(1),
      statsCols = Seq("id"),
      transforms = Seq(TxnTable.Transform.bucket(2, "id")))
    TxnTable.append(spark, root, df(5, 6).coalesce(1))
    val got = s.sql("SELECT * FROM pt_cat.db.t.partitions").collect()
    assert(got.map(_.getAs[Long]("rows")).sum === 6L)
    assert(got.forall(_.getAs[String]("partition").startsWith("bucket2_id=")))
    assert(s.sql("SELECT * FROM pt_cat.db.t.partitions VERSION AS OF 1")
      .collect().map(_.getAs[Long]("rows")).sum === 4L)
  }
}
