package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** The catalog surface: graft-txn tables addressable BY NAME from SQL,
  * with time travel, CREATE TABLE (incl. hidden-partitioning
  * transforms), and the layout-is-identity contract (the catalog path
  * and the `TxnTable` path read the same root identically). */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_cat_test"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_catalog").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    val s = spark; import s.implicits._
    df.select("id").as[Long].collect().sorted.toSeq
  }

  test("SQL by name == path read; VERSION AS OF and TIMESTAMP AS OF travel") {
    val root = s"$warehouse/db/t1"
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, Seq(1L, 2L).toDF("id").coalesce(1),
      statsCols = Seq("id"))
    TxnTable.append(spark, root, Seq(3L).toDF("id").coalesce(1))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.t1")) === Seq(1L, 2L, 3L))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.t1 VERSION AS OF 1")) ===
      Seq(1L, 2L))
    // timestamp travel: v1's recorded commit instant, micros in SQL
    val ts1 = TxnTable.snapshot(spark, root, 1L).tsMs.get
    val lit = java.time.Instant.ofEpochMilli(ts1).toString.replace("T", " ")
      .stripSuffix("Z")
    assert(ids(spark.sql(
      s"SELECT * FROM $cat.db.t1 TIMESTAMP AS OF '$lit'")) === Seq(1L, 2L))
    // the same root reads identically through the path APIs
    assert(ids(TxnTable.read(spark, root)) === Seq(1L, 2L, 3L))
    assert(ids(spark.read.format("graft-txn").load(root)) === Seq(1L, 2L, 3L))
  }

  test("CREATE TABLE commits schema + transforms + metadata cols; appends inherit") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db2")
    spark.sql(
      s"""CREATE TABLE $cat.db2.t2 (id BIGINT, v BIGINT)
         |PARTITIONED BY (bucket(4, id))
         |TBLPROPERTIES ('statsCols' = 'id')""".stripMargin)
    val root = s"$warehouse/db2/t2"
    val created = TxnTable.latest(spark, root).get
    assert(created.op === "create" && created.files.isEmpty)
    assert(created.statsCols === Seq("id"))
    assert(created.transforms === Seq(TxnTable.Transform.bucket(4, "id")))
    // an empty created table reads as empty WITH the declared schema
    val empty = spark.sql(s"SELECT * FROM $cat.db2.t2")
    assert(empty.columns.toSeq === Seq("id", "v"))
    assert(empty.count() === 0L)
    // appends inherit the spec: files fan out by bucket, stats recorded
    val s = spark; import s.implicits._
    TxnTable.append(spark, root,
      (1L to 50L).toDF("id").withColumn("v", col("id") * 2L))
    val head = TxnTable.latest(spark, root).get
    assert(head.transforms === Seq(TxnTable.Transform.bucket(4, "id")))
    assert(head.files.forall(f => f.contains("bucket4_id=")))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db2.t2")) === (1L to 50L))
    // catalog niceties
    assert(spark.sql(s"SHOW TABLES IN $cat.db2").collect()
      .map(_.getString(1)).contains("t2"))
    spark.sql(s"ALTER TABLE $cat.db2.t2 RENAME TO db2.t2r")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db2.t2r")) === (1L to 50L))
    spark.sql(s"DROP TABLE $cat.db2.t2r")
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.db2.t2r").collect() }
  }

  test("SQL INSERT INTO appends a txn commit; INSERT OVERWRITE replaces; MoR-live stays writable") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db3")
    spark.sql(s"CREATE TABLE $cat.db3.w (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'id')")
    val root = s"$warehouse/db3/w"
    spark.sql(s"INSERT INTO $cat.db3.w VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $cat.db3.w VALUES (3, 30)")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db3.w")) === Seq(1L, 2L, 3L))
    // each INSERT is one atomic versioned commit through the writer
    // loop, inheriting the recorded stats column
    val head = TxnTable.latest(spark, root).get
    assert(head.version === 3L && head.op === "append")
    assert(head.files.forall(f => head.stats.get(f).exists(_.contains("id"))))
    // time travel sees the pre-insert states
    assert(ids(spark.sql(s"SELECT * FROM $cat.db3.w VERSION AS OF 2")) ===
      Seq(1L, 2L))
    // INSERT OVERWRITE replaces content, keeps the metadata spec
    spark.sql(s"INSERT OVERWRITE $cat.db3.w VALUES (7, 70)")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db3.w")) === Seq(7L))
    val ow = TxnTable.latest(spark, root).get
    assert(ow.op === "overwrite" && ow.statsCols === Seq("id"))
    // a MoR-live table reads merged by name and stays writable
    val s = spark; import s.implicits._
    TxnTable.deleteKeysMor(spark, root, "id", Seq(7L).toDF("id"))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db3.w")).isEmpty)
    spark.sql(s"INSERT INTO $cat.db3.w VALUES (8, 80)")
    assert(ids(TxnTable.read(spark, root)) === Seq(8L))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db3.w")) === Seq(8L))
    TxnTable.compactDeletes(spark, root)
    assert(ids(spark.sql(s"SELECT * FROM $cat.db3.w")) === Seq(8L))
  }

  test("SQL DELETE FROM: bounded CoW with file carry; TRUNCATE; CTAS") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db4")
    val root = s"$warehouse/db4/d"
    val s = spark; import s.implicits._
    // two stats-disjoint files: ids 1-100 and 101-200
    TxnTable.append(spark, root,
      (1L to 100L).toDF("id").withColumn("v", col("id")).coalesce(1),
      statsCols = Seq("id"))
    TxnTable.append(spark, root,
      (101L to 200L).toDF("id").withColumn("v", col("id")).coalesce(1))
    val pre = TxnTable.latest(spark, root).get
    spark.sql(s"DELETE FROM $cat.db4.d WHERE id <= 50")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db4.d")) === (51L to 200L))
    val post = TxnTable.latest(spark, root).get
    assert(post.op === "delete")
    // the id-range bound derived from the WHERE clause proves file 2
    // disjoint: it carries BY REFERENCE, unread and unrewritten
    val hi = pre.files.find(f => pre.stats(f)("id")._1 == 101L).get
    assert(post.files.contains(hi))
    assert(!post.files.exists(pre.files.filterNot(_ == hi).contains))
    // snapshot isolation: the pre-delete version still reads everything
    assert(ids(spark.sql(
      s"SELECT * FROM $cat.db4.d VERSION AS OF ${pre.version}")) === (1L to 200L))
    // TRUNCATE empties the content, keeps the table + spec readable
    spark.sql(s"TRUNCATE TABLE $cat.db4.d")
    val trunc = spark.sql(s"SELECT * FROM $cat.db4.d")
    assert(trunc.columns.toSeq === Seq("id", "v") && trunc.count() === 0L)
    assert(TxnTable.latest(spark, root).get.statsCols === Seq("id"))
    // CTAS: non-atomic CREATE + first append through the same writer
    spark.sql(s"CREATE TABLE $cat.db4.c AS SELECT * FROM $cat.db4.d VERSION AS OF 2")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db4.c")) === (1L to 200L))
    assert(TxnTable.latest(spark, s"$warehouse/db4/c").get.op === "append")
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    import org.apache.spark.sql.execution.datasources.FilePartition
    val scan = (df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head match {
      case w: GraftStreamCapableScan => w.delegate
      case s => s
    }).asInstanceOf[ParquetScan]
    scan.toBatch.planInputPartitions().toSeq.collect {
      case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
    }.flatten.distinct
  }

  test("STRING-keyed manifest pruning fires through the SQL-by-name path: " +
      "equality, range, LIKE prefix, IN") {
    val root = s"$warehouse/db/t4"
    val s = spark; import s.implicits._
    val langs = Seq("ar", "de", "el", "en", "es", "fr", "ja", "ko", "nl",
      "pt", "sv", "zh")
    TxnTable.overwrite(spark, root,
      langs.flatMap(l => (1L to 30L).map(i => (l, i))).toDF("lang", "v")
        .repartitionByRange(6, col("lang")),
      statsCols = Seq("lang"), bloomCols = Seq("lang"))
    val total = TxnTable.latest(spark, root).get.files.size
    assert(total > 1)
    def check(where: String, expectRows: Long): Unit = {
      val df = spark.sql(s"SELECT * FROM $cat.db.t4 WHERE $where")
      val planned = plannedFiles(df)
      assert(planned.size < total, s"$where planned ${planned.size}/$total")
      assert(df.count() === expectRows, where)
    }
    check("lang = 'ko'", 30L)
    check("lang >= 'sv'", 60L)
    check("lang < 'de'", 30L)
    check("lang LIKE 'e%'", 90L)
    check("lang IN ('ar', 'zh')", 60L)
    // a probe outside every span plans zero files and returns zero rows
    val none = spark.sql(s"SELECT * FROM $cat.db.t4 WHERE lang = 'qq'")
    assert(plannedFiles(none).isEmpty && none.count() === 0L)
  }

  test("bucket transform on a STRING key: DSv2 equality probe prunes to " +
      "the key's bucket") {
    val root = s"$warehouse/db/t5"
    val s = spark; import s.implicits._
    spark.sql(s"CREATE TABLE $cat.db.t5 (host STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(8, host))")
    val hosts = (1 to 64).map(i => s"host$i.example.com")
    TxnTable.append(spark, root,
      hosts.flatMap(h => (1L to 5L).map((h, _))).toDF("host", "v"))
    val total = TxnTable.latest(spark, root).get.files.size
    assert(total >= 8) // fan-out by bucket
    val df = spark.sql(s"SELECT * FROM $cat.db.t5 WHERE host = 'host7.example.com'")
    val planned = plannedFiles(df)
    assert(planned.size <= total / 4,
      s"bucket pruning planned ${planned.size}/$total")
    assert(df.count() === 5L)
  }

  test("manifest pruning fires through the SQL-by-name path") {
    val root = s"$warehouse/db/t3"
    val s = spark; import s.implicits._
    TxnTable.overwrite(spark, root,
      (1L to 400L).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(8, col("id")),
      statsCols = Seq("id"))
    val total = TxnTable.latest(spark, root).get.files.size
    val df = spark.sql(s"SELECT * FROM $cat.db.t3 WHERE id = 42")
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    import org.apache.spark.sql.execution.datasources.FilePartition
    // by-name scans arrive stream-capable; the batch half is the
    // wrapped ParquetScan with its pushdown state intact
    val scan = (df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head match {
      case w: GraftStreamCapableScan => w.delegate
      case s => s
    }).asInstanceOf[ParquetScan]
    val files = scan.toBatch.planInputPartitions().toSeq.collect {
      case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
    }.flatten.distinct
    assert(scan.pushedFilters.nonEmpty)
    assert(files.size < total, s"expected pruning, planned ${files.size}/$total")
    assert(ids(df) === Seq(42L))
  }
}
