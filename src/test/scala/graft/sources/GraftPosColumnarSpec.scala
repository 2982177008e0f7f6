package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** PER-FILE position-delete masking granularity ([[GraftPosScan]]):
  * a kilobyte of merge-on-read debt must not change the cost class of
  * a terabyte scan. Contract under test: on a mixed table the ONE
  * physical scan plans BOTH shapes — clean files on split-and-packed
  * vectorized-columnar partitions, tombstoned files on whole-file
  * [[GraftSidecarPartition]]s carrying exactly their own sidecar slice
  * (each task resolves its own ordinals) — the whole scan stays columnar, metadata-column reads keep the
  * ordinal-exact row regime, and the pos-live table's streaming /
  * change-feed surfaces behave like a clean table's (the resolution
  * context forwards — the silent-full-table readChangeFeed hole and
  * the misleading by-name streaming refusal are both closed). */
class GraftPosColumnarSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_pc_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_poscol").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  /** id-clustered 4-file MoR table, ids 1..200, v = id*10, s nullable
    * string (exercises the masked vector's UTF8String + null paths). */
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

  test("mixed table: clean files plan packed columnar partitions, " +
      "tombstoned files one-per-file with exactly their own slice") {
    val root = morTable("mix1")
    spark.sql(s"DELETE FROM $cat.db.mix1 WHERE id IN (7, 8)") // one file's rows
    val snap = TxnTable.latest(spark, root).get
    assert(snap.deletes.nonEmpty && snap.files.size === 4)

    val df = spark.sql(s"SELECT id, v, s FROM $cat.db.mix1")
    val scan = posScan(df)
    val parts = scan.planInputPartitions().toSeq
    val masked = parts.collect { case m: GraftSidecarPartition => m }
    val clean = parts.collect { case f: FilePartition => f }
    // exactly ONE file carries tombstones (ids 7..8 are co-located)
    assert(masked.size === 1)
    assert(masked.head.inner.files.length === 1 &&
      masked.head.inner.files.head.start === 0L)
    // the slice is exactly that file's two dead ordinals — nothing else
    assert(masked.head.sidecars.length === 1)
    assert(spark.read
      .parquet(masked.head.sidecars.head.files.head.urlEncodedPath)
      .where(col(GraftMetaCols.File) === masked.head.rel).count() === 2L)
    // the 3 clean files ride plain FilePartitions through Spark's own
    // split-and-pack (getFilePartitions decides fan-out from openCost /
    // parallelism — tiny test files legitimately spread; what matters
    // is the shape: no masked wrapper, no whole-file constraint)
    assert(clean.nonEmpty && clean.map(_.files.length).sum === 3)
    // the whole scan is COLUMNAR, both partition shapes included
    val factory = scan.createReaderFactory()
    assert(factory.isInstanceOf[GraftMaskedColumnarFactory])
    assert(factory.supportColumnarReads(masked.head))
    assert(factory.supportColumnarReads(clean.head))
    // and the masked read is value-exact (string + null columns too)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)))).toSet
    val expect = (1L to 200L).filterNot(i => i == 7 || i == 8).map(i =>
      (i, i * 10, if (i % 7 == 0) None else Some(s"doc-$i"))).toSet
    assert(got === expect)
  }

  test("metadata-column reads keep the ordinal-exact row regime: one " +
      "whole file per partition, slices on the partitions, rows masked") {
    val root = morTable("meta1")
    spark.sql(s"DELETE FROM $cat.db.meta1 WHERE id IN (3, 5)")
    val df = spark.sql(s"SELECT id, _file, _pos FROM $cat.db.meta1")
    val scan = posScan(df)
    val parts = scan.planInputPartitions().toSeq
    assert(parts.size === TxnTable.latest(spark, root).get.files.size)
    assert(parts.count(_.isInstanceOf[GraftSidecarPartition]) === 1)
    val factory = scan.createReaderFactory()
    assert(factory.isInstanceOf[GraftPosReaderFactory])
    assert(!factory.supportColumnarReads(parts.head))
    // dead ordinals are absent; survivors keep their FILE ordinals
    val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(!got.contains(3L) && !got.contains(5L))
    assert(got(4L) === got(2L) + 2) // 3 is skipped, not renumbered
  }

  test("a fully-tombstoned file contributes zero rows (empty-batch path)" +
      " and a partition-wide mask composes with later appends") {
    val root = morTable("full1")
    // file 1 holds ids 1..50 (range partitioner on 4 even ranges)
    spark.sql(s"DELETE FROM $cat.db.full1 WHERE id <= 50")
    TxnTable.append(spark, root, spark.range(201, 206).toDF("id")
      .withColumn("v", col("id") * 10L).withColumn("s", lit("new")))
    val ids = spark.sql(s"SELECT id FROM $cat.db.full1")
      .collect().map(_.getLong(0)).toSet
    assert(ids === ((51L to 205L).toSet))
  }

  test("by-name streaming works on a pos-delete-live table (commit " +
      "windows, not the masked head)") {
    val root = morTable("str1")
    spark.sql(s"DELETE FROM $cat.db.str1 WHERE id = 9") // tombstones live
    val base = Files.createTempDirectory("poscol_stream").toString
    val q = spark.readStream.table(s"$cat.db.str1")
      .writeStream.format("memory").queryName("poscol_stream")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable() // tail-only start: empty
      TxnTable.append(spark, root, spark.range(300, 302).toDF("id")
        .withColumn("v", col("id") * 10L).withColumn("s", lit("x")))
      q.processAllAvailable()
      assert(spark.table("poscol_stream").select("id")
        .collect().map(_.getLong(0)).toSet === Set(300L, 301L))
    } finally q.stop()
  }

  test("readChangeFeed on a BATCH read of a pos-delete-live table " +
      "refuses loud (no silent full-table result)") {
    val root = morTable("cf1")
    spark.sql(s"DELETE FROM $cat.db.cf1 WHERE id = 11")
    val err = intercept[Exception] {
      spark.read.format("graft-txn").option("readChangeFeed", "true")
        .load(root).collect()
    }
    assert(err.getMessage.contains("readChangeFeed") ||
      Option(err.getCause).exists(_.getMessage.contains("readChangeFeed")))
  }

  test("a meta-pruned scan refuses toMicroBatchStream loud (metadata " +
      "columns are a batch-only surface — never rows narrower than the " +
      "reported schema)") {
    val root = morTable("strm2")
    val snap = TxnTable.latest(spark, root).get
    val b = new GraftPosScanBuilder(spark, root, snap,
      spark.read.format("graft-txn").load(root).schema, maskLive = true,
      streamable = true)
    b.pruneColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(GraftMetaCols.File,
        org.apache.spark.sql.types.StringType))))
    val scan = b.build().asInstanceOf[GraftPosScan]
    val err = intercept[IllegalArgumentException] {
      scan.toMicroBatchStream(Files.createTempDirectory("pc_ck").toString)
    }
    assert(err.getMessage.contains("batch-only surface"))
  }
}
