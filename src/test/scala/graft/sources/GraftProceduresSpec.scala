package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.{TxnMeta, TxnTable}

/** SQL maintenance procedures (`CALL graft_cat.system.*`) and metadata
  * tables by name (`graft_cat.db.t.history` / `.files` / `.refs`) —
  * every CALL must route through the SAME TxnTable entry point the
  * Scala API uses, proven by comparing the resulting manifest state
  * and contents against the Scala-API expectations. */
class GraftProceduresSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_proc_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_procs").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    val s = spark; import s.implicits._
    df.select("id").as[Long].collect().sorted.toSeq
  }

  private def seed(table: String, batches: Seq[Range]): String = {
    val root = s"$warehouse/${table.replace('.', '/')}"
    val s = spark; import s.implicits._
    batches.foreach(b => TxnTable.append(spark, root,
      b.map(_.toLong).toDF("id").coalesce(2), statsCols = Seq("id")))
    root
  }

  test("CALL compact merges files into target_files and preserves content") {
    val root = seed("db.c1", Seq(1 to 10, 11 to 20, 21 to 30))
    val before = TxnTable.latest(spark, root).get
    assert(before.files.size > 1)
    val res = spark.sql(
      s"CALL $cat.system.compact(table => 'db.c1', target_files => 1)").collect()
    assert(res.map(_.getLong(0)).toSeq === Seq(before.version + 1))
    assert(res.map(_.getInt(1)).toSeq === Seq(1))
    val head = TxnTable.latest(spark, root).get
    assert(head.op.startsWith("compact") && head.files.size === 1)
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.c1")) === (1L to 30L))
  }

  test("CALL compact with sort_cols re-clusters: file spans become disjoint") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/c2"
    // interleaved key ranges: every file overlaps every other
    TxnTable.append(spark, root,
      Seq(1L, 100L).toDF("id").coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, Seq(2L, 99L).toDF("id").coalesce(1))
    spark.sql(s"CALL $cat.system.compact('db.c2', 2, 'id')")
    val head = TxnTable.latest(spark, root).get
    val spans = head.files.map(f => head.stats(f)("id")).sortBy(_._1)
    assert(spans.size === 2 && spans(0)._2 < spans(1)._1,
      s"clustered compaction must leave disjoint id spans, got $spans")
    assert(ids(TxnTable.read(spark, root)) === Seq(1L, 2L, 99L, 100L))
  }

  test("CALL zorder records both dimensions' stats") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/z1"
    TxnTable.append(spark, root,
      (1L to 64L).toDF("x").withColumn("y", col("x") * 7L % 64L),
      statsCols = Seq("x"))
    spark.sql(s"CALL $cat.system.zorder('db.z1', 4, 'x,y')")
    val head = TxnTable.latest(spark, root).get
    assert(head.files.size === 4)
    assert(head.statsCols.contains("y"), "zorder adds dims to statsCols")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.db.z1").head.getLong(0) === 64L)
  }

  test("CALL compact_deletes folds MoR deletes; DSv2 scan readable after") {
    val s = spark; import s.implicits._
    val root = seed("db.m1", Seq(1 to 10))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(3L, 7L).toDF("id"))
    spark.sql(s"CALL $cat.system.compact_deletes('db.m1')")
    assert(TxnTable.latest(spark, root).get.deletes.isEmpty)
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.m1")) ===
      (1L to 10L).filterNot(Set(3L, 7L)))
  }

  test("CALL rewrite_position_deletes consolidates sidecars without " +
      "touching a data file") {
    val root = seed("db.rp1", Seq(1 to 10, 11 to 20))
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
      "merge-on-read")
    spark.sql(s"DELETE FROM $cat.db.rp1 WHERE id = 3")
    spark.sql(s"DELETE FROM $cat.db.rp1 WHERE id = 15")
    val before = TxnTable.latest(spark, root).get
    assert(before.deletes.size === 2)
    spark.sql(s"CALL $cat.system.rewrite_position_deletes('db.rp1')")
    val head = TxnTable.latest(spark, root).get
    assert(head.op === "compact-pos-deletes" && head.deletes.size === 1)
    assert(head.files === before.files) // path identity
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.rp1")) ===
      (1L to 20L).filterNot(Set(3L, 15L)))
  }

  test("CALL vacuum drops old versions and reports the retained window") {
    val root = seed("db.v1", Seq(1 to 5, 6 to 10, 11 to 15))
    val res = spark.sql(
      s"CALL $cat.system.vacuum('db.v1', retain_versions => 1, grace_ms => 0)")
    assert(res.columns.toSeq === Seq("n_versions", "oldest_version", "newest_version"))
    val row = res.head
    assert(row.getInt(0) === 1 && row.getLong(1) === 3L && row.getLong(2) === 3L)
    assert(TxnTable.versions(spark, root) === Seq(3L))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.v1")) === (1L to 15L))
    intercept[Exception] { TxnTable.snapshot(spark, root, 1L) }
  }

  test("CALL vacuum by age: older_than_ms expires the dated prefix only") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/v2"
    TxnTable.append(spark, root, Seq(1L).toDF("id"), statsCols = Seq("id"))
    Thread.sleep(10) // distinct commit instants
    TxnTable.append(spark, root, Seq(2L).toDF("id"))
    Thread.sleep(10)
    TxnTable.append(spark, root, Seq(3L).toDF("id"))
    val cut = TxnTable.snapshot(spark, root, 3L).tsMs.get
    val row = spark.sql(s"CALL $cat.system.vacuum('db.v2', " +
      s"older_than_ms => $cut, grace_ms => 0)").head
    assert(row.getInt(0) === 1 && row.getLong(1) === 3L)
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.v2")) === Seq(1L, 2L, 3L))
    // exactly one retention mode, never both or neither
    intercept[Exception] { spark.sql(s"CALL $cat.system.vacuum('db.v2')") }
    intercept[Exception] { spark.sql(s"CALL $cat.system.vacuum('db.v2', " +
      s"retain_versions => 1, older_than_ms => $cut)") }
  }

  test("CALL orphan_files reports debris; vacuum reclaims exactly it") {
    val root = seed("db.o1", Seq(1 to 5))
    // plant write-attempt debris: a stray parquet in the data pool no
    // manifest references (a speculative task's leftover)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val dataDir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.isDirectory).head.getPath
    val real = fs.listStatus(dataDir).filter(_.getPath.getName.endsWith(".parquet")).head
    val debris = new org.apache.hadoop.fs.Path(dataDir, "orphan-attempt-7.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, real.getPath, fs, debris, false, conf)

    val rows = spark.sql(
      s"CALL $cat.system.orphan_files('db.o1', grace_ms => 0)").collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq(s"data/${dataDir.getName}/orphan-attempt-7.parquet"))
    assert(rows.head.getLong(1) > 0L)
    // the default grace presumes the young file is an in-flight commit
    assert(spark.sql(s"CALL $cat.system.orphan_files('db.o1')").count() === 0L)
    // vacuum retaining ALL versions reclaims exactly the orphan
    spark.sql(s"CALL $cat.system.vacuum('db.o1', retain_versions => 99, grace_ms => 0)")
    assert(spark.sql(
      s"CALL $cat.system.orphan_files('db.o1', grace_ms => 0)").count() === 0L)
    assert(!fs.exists(debris))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.o1")) === (1L to 5L))
  }

  test("CALL restore makes an old version current, history intact") {
    val root = seed("db.r1", Seq(1 to 5, 6 to 10))
    val res = spark.sql(s"CALL $cat.system.restore('db.r1', 1)").collect()
    assert(res.map(_.getLong(0)).toSeq === Seq(3L))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.r1")) === (1L to 5L))
    // restore is a NEW commit; v2 still travels
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.r1 VERSION AS OF 2")) === (1L to 10L))
    assert(TxnTable.latest(spark, root).get.op === "restore:1")
  }

  test("CALL create_tag pins; CALL create_branch/fast_forward move main") {
    val s = spark; import s.implicits._
    val root = seed("db.b1", Seq(1 to 5))
    val tag = spark.sql(s"CALL $cat.system.create_tag('db.b1', 'audited', 1)").head
    assert(tag.getString(0) === "audited" && tag.getLong(1) === 1L)
    assert(TxnTable.tags(spark, root) === Map("audited" -> 1L))

    val br = spark.sql(s"CALL $cat.system.create_branch('db.b1', 'exp')").head
    assert(br.getString(0) === "exp" && br.getLong(1) === 1L)
    TxnTable.appendToBranch(spark, root, "exp", Seq(100L).toDF("id"))
    val ff = spark.sql(s"CALL $cat.system.fast_forward('db.b1', 'exp')").head
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.b1")) === (1L to 5L) :+ 100L)
    assert(ff.getLong(0) === TxnTable.latest(spark, root).get.version)
  }

  test("CALL replay_branch converges a diverged branch onto moved main") {
    val s = spark; import s.implicits._
    val root = seed("db.b2", Seq(1 to 3))
    spark.sql(s"CALL $cat.system.create_branch('db.b2', 'side')")
    TxnTable.appendToBranch(spark, root, "side", Seq(100L).toDF("id"))
    // main moves -> diverged; fast_forward refuses, replay converges
    TxnTable.append(spark, root, Seq(50L).toDF("id"))
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.fast_forward('db.b2', 'side')")
    }
    spark.sql(s"CALL $cat.system.replay_branch('db.b2', 'side')")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.b2")) ===
      Seq(1L, 2L, 3L, 50L, 100L))
  }

  test("procedure refusals: unknown name, wrong namespace, missing table") {
    seed("db.e1", Seq(1 to 3))
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.no_such_proc('db.e1')") }
    assert(e1.getMessage.contains("system"))
    intercept[Exception] { spark.sql(s"CALL $cat.db.compact('db.e1', 1)") }
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.compact('db.nope', 1)").collect() }
  }

  test("SHOW PROCEDURES lists the registry; DESCRIBE PROCEDURE documents") {
    warehouse // force catalog registration
    val shown = spark.sql(s"SHOW PROCEDURES IN $cat.system").collect()
      .map(_.toSeq.mkString(",")).mkString("\n")
    GraftProcedures.names.foreach(n => assert(shown.contains(n)))
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.vacuum").collect()
      .map(_.getString(0)).mkString("\n")
    assert(desc.contains("vacuum"))
  }

  test("metadata tables by name: history / files / refs match TxnMeta") {
    val root = seed("db.meta1", Seq(1 to 5, 6 to 10))
    spark.sql(s"CALL $cat.system.create_tag('db.meta1', 'keep', 1)")
    val hist = spark.sql(s"SELECT * FROM $cat.db.meta1.history")
    assert(hist.columns.toSeq === TxnMeta.history(spark, root).columns.toSeq)
    assert(hist.select("version", "op").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "append"), (2L, "append")))

    val files = spark.sql(s"SELECT * FROM $cat.db.meta1.files")
    assert(files.count() === TxnMeta.files(spark, root).count())
    // VERSION AS OF on `files`: the v1 snapshot's listing
    val filesV1 = spark.sql(s"SELECT * FROM $cat.db.meta1.files VERSION AS OF 1")
    assert(filesV1.count() === TxnMeta.files(spark, root, Some(1L)).count())
    assert(filesV1.count() < files.count())

    val refs = spark.sql(
      s"SELECT * FROM $cat.db.meta1.refs WHERE kind = 'tag'")
    assert(refs.collect().map(_.getString(0)).toSeq === Seq("keep"))

    // metadata rows compose with ordinary SQL (it's just a table)
    val biggest = spark.sql(
      s"""SELECT column, max(hi) mx FROM $cat.db.meta1.files
         |WHERE column = 'id' GROUP BY column""".stripMargin).head
    assert(biggest.getString(0) === "id" && biggest.getLong(1) === 10L)
  }

  test("metadata tables resolve tag/branch refs against the parent " +
      "(never silently the latest)") {
    val root = seed("db.meta2", Seq(1 to 5, 6 to 10))
    spark.sql(s"CALL $cat.system.create_tag('db.meta2', 'early', 1)")
    // the tagged snapshot's files, not the head's
    val tagged = spark.sql(
      s"SELECT * FROM $cat.db.meta2.files VERSION AS OF 'early'")
    assert(tagged.count() === TxnMeta.files(spark, root, Some(1L)).count())
    assert(tagged.count() <
      spark.sql(s"SELECT * FROM $cat.db.meta2.files").count())
    // a bogus ref refuses loud, exactly as it would on the table itself
    val bad = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.meta2.files VERSION AS OF 'nope'")
        .collect() }
    assert(bad.getMessage.contains("nope"))
    // kinds without time travel refuse the ref rather than dropping it
    val noTravel = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.meta2.history VERSION AS OF 'early'")
        .collect() }
    assert(noTravel.getMessage.contains("full log"))
  }

  test("VERSION AS OF accepts tag and branch names, SQL and reader option") {
    val s = spark; import s.implicits._
    val root = seed("db.n1", Seq(1 to 3, 4 to 6))
    spark.sql(s"CALL $cat.system.create_tag('db.n1', 'first', 1)")
    spark.sql(s"CALL $cat.system.create_branch('db.n1', 'side')")
    TxnTable.appendToBranch(spark, root, "side", Seq(100L).toDF("id"))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.n1 VERSION AS OF 'first'")) ===
      (1L to 3L))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.n1 VERSION AS OF 'side'")) ===
      (1L to 6L) :+ 100L)
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.n1")) === (1L to 6L))
    // same refs through the path reader's option
    assert(ids(spark.read.format("graft-txn")
      .option("versionAsOf", "first").load(root)) === (1L to 3L))
    assert(ids(spark.read.format("graft-txn")
      .option("versionAsOf", "side").load(root)) === (1L to 6L) :+ 100L)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.n1 VERSION AS OF 'nope'").collect() }
    assert(e.getMessage.contains("nope"))
  }

  test("DESCRIBE EXTENDED surfaces the snapshot's operational properties") {
    seed("db.d1", Seq(1 to 3))
    val out = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.db.d1").collect()
      .map(_.toSeq.mkString("|")).mkString("\n")
    assert(out.contains("version=1") && out.contains("op=append") &&
      out.contains("statsCols=id"))
  }

  test("by-name scans report exact manifest row counts to the planner") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    seed("db.s1", Seq(1 to 10, 11 to 15))
    def scanStats(sql: String) = {
      val scan = spark.sql(sql).queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.get
      scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
    }
    // unfiltered: exact cardinality from the manifest's per-file counts
    val full = scanStats(s"SELECT * FROM $cat.db.s1")
    assert(full.numRows().getAsLong === 15L)
    // sizeInBytes stays whatever the parquet scan estimates (not ours
    // to assert); only the row count is upgraded
    // pushed filter: fewer rows than the files hold - never claim exact
    assert(!scanStats(s"SELECT * FROM $cat.db.s1 WHERE id > 12").numRows().isPresent)
    // MoR-live would refuse the scan entirely (covered elsewhere)
  }

  test("CALL maintain_report advises from recorded state only: ok on a " +
      "healthy table, action rows for small files / sidecar backlog / " +
      "version debt — and never mutates anything") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/mr1"
    // many tiny files + MoR debt spread over N statements
    (1 to 12).foreach(k => TxnTable.append(spark, root,
      Seq(k.toLong * 10, k.toLong * 10 + 1).toDF("id")
        .withColumn("v", col("id")).coalesce(1), statsCols = Seq("id")))
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
      "merge-on-read")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    (1 to 9).foreach(k =>
      spark.sql(s"DELETE FROM $cat.db.mr1 WHERE id = ${k * 10}"))
    val headBefore = TxnTable.latest(spark, root).get

    val report = spark.sql(
      s"CALL $cat.system.maintain_report('db.mr1')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val byCheck = report.map(t => t._1 -> t).toMap
    // 12 appends of 2 rows each: every file is tiny
    assert(byCheck("small_files")._2 === "action")
    assert(byCheck("small_files")._4.contains("compact"))
    // 9 MoR statements = 9 sidecars > the backlog threshold
    assert(byCheck("pos_delete_sidecars")._2 === "action")
    assert(byCheck("pos_delete_sidecars")._4
      .contains("rewrite_position_deletes"))
    // 9 tombstones over 24 rows is way past 5%
    assert(byCheck("pos_delete_ratio")._2 === "action")
    assert(byCheck("pos_delete_ratio")._4.contains("compact_deletes"))
    assert(byCheck("version_backlog")._2 === "ok")
    // ADVISE only: the head did not move, nothing was rewritten
    assert(TxnTable.latest(spark, root).get.version === headBefore.version)

    // follow the advice; the report goes quiet
    spark.sql(s"CALL $cat.system.compact_deletes('db.mr1')")
    spark.sql(s"CALL $cat.system.compact('db.mr1', 1)")
    val after = spark.sql(
      s"CALL $cat.system.maintain_report('db.mr1')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after("small_files") === "ok")
    assert(after("delete_debt") === "ok")
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.mr1")).size === 15)
  }

  test("the advisor CLOSES THE LOOP: executing the report's own " +
      "recommendation strings verbatim turns every action row ok and " +
      "measurably speeds up the scan") {
    val root = s"$warehouse/db/mr2"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    // degrade: 100 tiny files in one commit + 9 per-statement sidecars
    TxnTable.append(spark, root,
      spark.range(1, 401).toDF("id").withColumn("v", col("id") * 2L)
        .repartition(100), statsCols = Seq("id"))
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
      "merge-on-read")
    (1 to 9).foreach(k =>
      spark.sql(s"DELETE FROM $cat.db.mr2 WHERE id = ${k * 40}"))
    assert(TxnTable.latest(spark, root).get.files.size === 100)
    assert(TxnTable.latest(spark, root).get.deletes.size === 9)

    def scanSec(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.sql(s"SELECT SUM(v) FROM $cat.db.mr2").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val before = scanSec()
    val beforeFiles = TxnTable.latest(spark, root).get.files.size

    // follow the report LITERALLY: extract each action row's leading
    // `CALL system.<proc>(...)` clause, bind the table name, execute.
    // The advisor's promise is that its strings ARE the fix — so the
    // spec runs the strings, not a hand-written equivalent.
    val report = spark.sql(
      s"CALL $cat.system.maintain_report('db.mr2')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3)))
    assert(report.exists(r => r._1 == "small_files" && r._2 == "action"))
    assert(report.exists(r =>
      r._1 == "pos_delete_sidecars" && r._2 == "action"))
    def callOf(rec: String): String = {
      val head = rec.split(" — ").head.split(" or ").head.trim
      assert(head.startsWith("CALL system."), s"unparseable advice: $rec")
      head.replace("system.", s"$cat.system.").replace("<table>", "db.mr2")
    }
    // deletes first (a fold also unblocks compaction), then layout
    val order = Seq("pos_delete_ratio", "pos_delete_sidecars",
      "small_files", "version_backlog", "delete_key_files")
    report.filter(_._2 == "action")
      .sortBy(r => order.indexOf(r._1))
      .foreach(r => spark.sql(callOf(r._3)))

    val after = spark.sql(
      s"CALL $cat.system.maintain_report('db.mr2')").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(after.forall(_._2 == "ok"),
      s"advice executed but the report still flags: ${after.mkString(", ")}")
    // and the scan is measurably better: structurally (fewer files, no
    // merge debt) and on the clock (100 tiny splits + 9-sidecar MoR
    // merge vs a handful of right-sized files)
    val afterFiles = TxnTable.latest(spark, root).get.files.size
    assert(afterFiles < beforeFiles / 4,
      s"compaction advice left $afterFiles files (was $beforeFiles)")
    assert(TxnTable.latest(spark, root).get.deletes.isEmpty)
    val got = scanSec()
    assert(got < before,
      f"scan did not improve: $got%.3fs after vs $before%.3fs before")
    // content intact: 400 rows minus the 9 deleted
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.db.mr2")
      .head.getLong(0) === 391L)
  }

  test("a real table named `history` wins over the metadata suffix") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/history"
    TxnTable.append(spark, root, Seq(42L).toDF("id"))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.history")) === Seq(42L))
  }
}
