package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** Task-side tombstone resolution ([[GraftSidecarPartition]]): the
  * driver materializes NO positions — tombstoned files' partitions
  * carry the delete-sidecar slices whose footer `_file` bounds cover
  * them, and each TASK resolves its own file's ordinals. Contract under
  * test: planning over sidecars that each pin one data file launches no
  * Spark job, every read surface (columnar batch read, metadata-column
  * row regime, the SQL UPDATE rewrite scan) is value-identical to an
  * exact reference, footer-bound pruning routes each file to its own
  * sidecar, a bound-ambiguous sidecar (one file referencing several
  * data files) still masks exactly, and row-group routing keeps a
  * consolidated sidecar's per-task read file-sized. */
class GraftPosSidecarSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated() // mutates session confs

  private val cat = "graft_psc_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_possc").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  /** id-clustered 4-file MoR table, ids 1..200, v = id*10, s nullable
    * string — the GraftPosColumnarSpec fixture shape. */
  private def morTable(name: String): String = {
    val root = s"$warehouse/db/$name"
    TxnTable.overwrite(spark, root,
      spark.range(1, 201).toDF("id")
        .withColumn("v", col("id") * 10L)
        .withColumn("s", when(col("id") % 7 === 0, lit(null))
          .otherwise(concat(lit("doc-"), col("id"))))
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    spark.sql(s"ALTER TABLE $cat.db.$name " +
      s"SET TBLPROPERTIES ('${TxnTable.RowLevelModeKey}' = 'merge-on-read')")
    root
  }

  private def posScan(df: org.apache.spark.sql.DataFrame): GraftPosScan =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[GraftPosScan]

  test("planning over sidecars that each pin one data file launches no " +
      "Spark job: the driver resolves no tombstone") {
    val root = morTable("sc0")
    spark.sql(s"DELETE FROM $cat.db.sc0 WHERE id IN (7, 8)")
    val snap = TxnTable.latest(spark, root).get
    assert(GraftSidecars.metas(spark, root, snap.deletes)
      .forall(m => m.lo.isDefined && m.lo == m.hi))
    val df = spark.sql(s"SELECT id FROM $cat.db.sc0")
    val scan = posScan(df)
    val (parts, jobs) = SparkTestSession.jobsIn(scan.planInputPartitions())
    assert(jobs === 0, s"planning launched $jobs Spark job(s)")
    assert(parts.count(_.isInstanceOf[GraftSidecarPartition]) === 1)
    assert(df.collect().map(_.getLong(0)).toSet ===
      (1L to 200L).filterNot(i => i == 7 || i == 8).toSet)
  }

  test("columnar regime: sidecar mode plans GraftSidecarPartitions " +
      "pruned to their own sidecar and reads value-identically to " +
      "the exact mode") {
    val root = morTable("sc1")
    spark.sql(s"DELETE FROM $cat.db.sc1 WHERE id IN (7, 8)")
    spark.sql(s"DELETE FROM $cat.db.sc1 WHERE id = 120")
    val snap = TxnTable.latest(spark, root).get
    assert(snap.deletes.size === 2 && snap.files.size === 4)

    // the exact reference: the Scala merge path masks through its
    // (_file, _pos) anti-join, never through GraftPosScan
    val exact = TxnTable.read(spark, root).select("id", "v", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)))).toSet
    val expect = (1L to 200L).filterNot(i => i == 7 || i == 8 || i == 120)
      .map(i => (i, i * 10, if (i % 7 == 0) None else Some(s"doc-$i"))).toSet
    assert(exact === expect)

    val df = spark.sql(s"SELECT id, v, s FROM $cat.db.sc1")
    val scan = posScan(df)
    val parts = scan.planInputPartitions().toSeq
    val side = parts.collect { case p: GraftSidecarPartition => p }
    // ids 7,8 co-locate in file 1; id 120 in file 3 — two masked files
    assert(side.size === 2)
    side.foreach(p => assert(p.inner.files.length === 1 &&
      p.inner.files.head.start === 0L))
    // the delta writer stages one sidecar per rewrite-scan partition
    // (one file each), so footer bounds pin each masked file to
    // exactly ITS sidecar — never the whole delete set
    side.foreach(p => assert(p.sidecars.length === 1))
    assert(side.map(_.sidecars.head.files.head.urlEncodedPath).distinct
      .size === 2)
    // clean files still ride plain columnar partitions
    assert(parts.collect { case f: FilePartition => f }
      .map(_.files.length).sum === 2)
    val factory = scan.createReaderFactory()
    assert(factory.isInstanceOf[GraftMaskedColumnarFactory])
    assert(factory.supportColumnarReads(side.head))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)))).toSet
    assert(got === exact)
  }

  test("metadata-column row regime under sidecar mode: survivors keep " +
      "their exact file ordinals") {
    val root = morTable("sc2")
    // the exact reference: the clean table's (id, _file, _pos) — a MoR
    // DELETE rewrites no data file, so every survivor keeps its row
    val clean = spark.sql(s"SELECT id, _file, _pos FROM $cat.db.sc2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(clean.size === 200)
    val exact = clean.filterNot(t => t._1 == 3L || t._1 == 5L)
    spark.sql(s"DELETE FROM $cat.db.sc2 WHERE id IN (3, 5)")
    val df = spark.sql(s"SELECT id, _file, _pos FROM $cat.db.sc2")
    val scan = posScan(df)
    val parts = scan.planInputPartitions().toSeq
    assert(parts.count(_.isInstanceOf[GraftSidecarPartition]) === 1)
    assert(parts.size === TxnTable.latest(spark, root).get.files.size)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === exact)
    val byId = got.map(t => t._1 -> t._3).toMap
    assert(!byId.contains(3L) && !byId.contains(5L))
    assert(byId(4L) === byId(2L) + 2) // 3 skipped, never renumbered
  }

  test("a bound-ambiguous sidecar (one delete file spanning two data " +
      "files) masks both exactly via the distinct-file fallback") {
    val root = morTable("sc3")
    val snap0 = TxnTable.latest(spark, root).get
    // first row (lowest id) of the first and last data files, by id order
    val byFile = spark.read.parquet(snap0.files.map(f => s"$root/$f"): _*)
      .withColumn("_f", regexp_extract(col("_metadata.file_path"),
        "^.*/(data/.*)$", 1))
      .groupBy("_f").agg(min("id").as("lo"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._2)
    val (fA, loA) = byFile.head
    val (fB, loB) = byFile.last
    // hand-stage ONE sidecar referencing BOTH files at ordinal 0 — the
    // shape a future sidecar compaction would produce
    val tmp = Files.createTempDirectory("graft_amb").toString
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(fA, 0L), org.apache.spark.sql.Row(fB, 0L)),
      GraftMetaCols.posDeleteSchema)
      .repartition(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(tmp))
      .filter(st => st.getPath.getName.startsWith("part-")).head.getPath
    val rel = "data/manual/del-span.parquet"
    fs.mkdirs(new Path(s"$root/data/manual"))
    assert(fs.rename(part, new Path(s"$root/$rel")))
    TxnTable.commitDelta(spark, root, snap0.version, Nil, Seq(rel),
      "delete-mor")

    val expect = (1L to 200L).filterNot(i => i == loA || i == loB).toSet
    val df = spark.sql(s"SELECT id FROM $cat.db.sc3")
    val side = posScan(df).planInputPartitions().toSeq
      .collect { case p: GraftSidecarPartition => p }
    assert(side.size === 2) // the one spanning sidecar covers both
    side.foreach(p => assert(p.sidecars.length === 1))
    assert(df.collect().map(_.getLong(0)).toSet === expect)
  }

  test("the SQL UPDATE rewrite scan works in sidecar mode (a second " +
      "row-level op on a tombstone-heavy table needs no driver map)") {
    val root = morTable("sc4")
    spark.sql(s"DELETE FROM $cat.db.sc4 WHERE id % 10 = 0")
    spark.sql(s"UPDATE $cat.db.sc4 SET v = -1 WHERE id IN (7, 113)")
    val got = spark.sql(s"SELECT id, v FROM $cat.db.sc4")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 180)
    assert(got(7L) === -1L && got(113L) === -1L)
    assert(got(9L) === 90L && !got.contains(10L))
    assert(TxnTable.latest(spark, root).get.deletes.size >= 2)
  }

  test("GraftSidecars.slices: adjacent covering groups merge into one " +
      "run, gaps split, a proven miss is empty, no footer = whole file") {
    import GraftSidecars.{Group, Meta, slices}
    def g(off: Long, len: Long, lo: String, hi: String) =
      Group(off, len, Some(lo), Some(hi))
    val m = Meta("data/x.parquet", 1000L, 400L, Some("a"), Some("f"), Array(
      g(4, 100, "a", "b"), g(104, 100, "b", "c"),
      g(204, 100, "d", "d"), g(304, 100, "e", "f")))
    assert(slices(m, "b") === Seq((4L, 200L))) // groups 0+1 merge
    assert(slices(m, "d") === Seq((204L, 100L)))
    assert(slices(m, "z") === Seq.empty) // footer proves absence
    // non-adjacent covering groups stay separate runs
    val split = m.copy(groups = Array(
      g(4, 100, "a", "b"), g(104, 100, "c", "c"), g(204, 100, "a", "f")))
    assert(slices(split, "b") === Seq((4L, 100L), (204L, 100L)))
    // a stat-less group conservatively covers everything
    val unknown = m.copy(groups = Array(
      g(4, 100, "a", "b"), Group(104, 100, None, None)))
    assert(slices(unknown, "z") === Seq((104L, 100L)))
    // no footer blocks at all: fall back to the whole file
    assert(slices(m.copy(groups = Array.empty), "q") === Seq((0L, 1000L)))
  }

  test("a compacted consolidated sidecar routes each masked task to its " +
      "own row-group runs — maintenance never inflates the task read") {
    val root = s"$warehouse/db/sc5"
    TxnTable.overwrite(spark, root,
      spark.range(1, 20001).toDF("id")
        .withColumn("v", col("id") * 10L)
        .repartitionByRange(8, col("id")),
      statsCols = Seq("id"))
    spark.sql(s"ALTER TABLE $cat.db.sc5 " +
      s"SET TBLPROPERTIES ('${TxnTable.RowLevelModeKey}' = 'merge-on-read')")
    spark.sql(s"DELETE FROM $cat.db.sc5 WHERE id % 3 = 0")
    val expect = (1L to 20000L).filterNot(_ % 3 == 0).toSet
    assert(TxnTable.latest(spark, root).get.deletes.size > 1)

    // consolidate to ONE sidecar with tiny row groups (the prod default
    // is 1 MiB; 4 KiB here makes ~6.7k entries span many groups so
    // pruning is observable at spec scale)
    spark.conf.set(TxnTable.CompactBlockBytesKey, "4096")
    val after =
      try TxnTable.compactPosDeletes(spark, root, targetFiles = 1)
      finally spark.conf.unset(TxnTable.CompactBlockBytesKey)
    assert(after.deletes.size === 1)
    val meta = GraftSidecars.metas(spark, root, after.deletes).head
    assert(meta.rows === 6666L) // ids 1..20000 with id % 3 == 0
    assert(meta.groups.length >= 8,
      s"need multiple row groups to observe pruning, got ${meta.groups.length}")

    val df = spark.sql(s"SELECT id FROM $cat.db.sc5")
    val side = posScan(df).planInputPartitions().toSeq
      .collect { case p: GraftSidecarPartition => p }
    assert(side.size === 8) // every data file is tombstoned
    side.foreach { p =>
      val read = p.sidecars.map(_.files.map(_.length).sum).sum
      assert(read > 0 && read * 2 < meta.len,
        s"task over ${p.rel} reads $read B of the ${meta.len} B sidecar" +
          " — row-group routing is not pruning")
    }
    // ranges really are row-group-aligned reads, not the whole file:
    // the per-task average must be a small fraction of the sidecar
    val avg = side.map(p => p.sidecars.map(_.files.map(_.length).sum).sum)
      .sum.toDouble / side.size
    assert(avg * 3 < meta.len,
      s"avg task sidecar read $avg B vs sidecar ${meta.len} B")
    assert(df.collect().map(_.getLong(0)).toSet === expect)
  }
}
