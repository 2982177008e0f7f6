package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** DSv2 read path for the txn format: `spark.read.format("graft-txn")`
  * must resolve the same snapshot machinery as [[TxnTable.read]] —
  * identical contents, working version/timestamp time travel — while
  * Spark's own parquet pushdown AND the manifest-level file skipping
  * both fire from ordinary `WHERE` clauses. */
class GraftTxnSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_dsv2").toString + "/tbl"

  private def buildRanged(root: String): Unit = {
    val s = spark; import s.implicits._
    TxnTable.overwrite(spark, root,
      (1L to 400L).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(8, col("id")),
      statsCols = Seq("id"), bloomCols = Seq("id"))
  }

  /** The planned parquet scan (post-pushdown) and the files it will
    * actually open — AQE-independent (read off the optimized plan). */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): (ParquetScan, Seq[String]) = {
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[ParquetScan]
    val files = scan.toBatch.planInputPartitions().toSeq.collect {
      case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
    }.flatten.distinct
    (scan, files)
  }

  test("DSv2 read == TxnTable.read; versionAsOf/timestampAsOf travel") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, Seq(1L, 2L).toDF("id").coalesce(1),
      statsCols = Seq("id"))
    TxnTable.append(spark, root, Seq(3L).toDF("id").coalesce(1))
    val dsv2 = spark.read.format("graft-txn").load(root)
    assert(dsv2.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(dsv2.schema === TxnTable.read(spark, root).schema)
    // version travel through the option
    val v1 = spark.read.format("graft-txn").option("versionAsOf", 1).load(root)
    assert(v1.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // timestamp travel: as-of v1's recorded commit instant
    val ts1 = TxnTable.snapshot(spark, root, 1L).tsMs.get
    val t1 = spark.read.format("graft-txn")
      .option("timestampAsOf", ts1.toString).load(root)
    assert(t1.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("manifest-level skipping fires through DSv2 (ranges, blooms); filters still push to parquet") {
    val root = freshRoot()
    buildRanged(root)
    val total = TxnTable.latest(spark, root).get.files.size
    assert(total === 8)
    val df = spark.read.format("graft-txn").load(root).filter(col("id") === 42L)
    val (scan, files) = plannedFiles(df)
    // parquet-level pushdown is intact (the scan carries the filter)...
    assert(scan.pushedFilters.nonEmpty, s"no pushed filters in $scan")
    // ...AND the manifest pruned the file list before any footer opens
    assert(files.size < total, s"expected pruning, planned ${files.size}/$total")
    assert(files.size >= 1)
    val s = spark; import s.implicits._
    assert(df.select("id").as[Long].collect().toSeq === Seq(42L))
    // a range predicate prunes to the overlapping files only
    val r = spark.read.format("graft-txn").load(root)
      .filter(col("id") >= 390L && col("id") <= 400L)
    val (_, rf) = plannedFiles(r)
    assert(rf.size < total)
    assert(r.count() === 11L)
    // blooms separate overlapping ranges on point probes
    val root2 = freshRoot()
    TxnTable.append(spark, root2, Seq(2L, 4L, 6L, 8L).toDF("id").coalesce(1),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    TxnTable.append(spark, root2, Seq(1L, 3L, 5L, 9L).toDF("id").coalesce(1))
    val b = spark.read.format("graft-txn").load(root2).filter(col("id") === 4L)
    val (_, bf) = plannedFiles(b)
    assert(bf.size === 1, s"bloom should keep exactly one file, kept ${bf.size}")
    assert(b.select("id").as[Long].collect().toSeq === Seq(4L))
  }

  test("bucket-transform pruning fires through DSv2 on unsorted layouts") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    val t = Seq(TxnTable.Transform.bucket(8, "id"))
    TxnTable.append(spark, root,
      (1L to 400L).toDF("id").withColumn("v", col("id") * 10L).repartition(4),
      statsCols = Seq("id"), transforms = t)
    val total = TxnTable.latest(spark, root).get.files.size
    val df = spark.read.format("graft-txn").load(root).filter(col("id") === 42L)
    val (_, files) = plannedFiles(df)
    assert(files.size <= total / 4,
      s"bucket pruning kept ${files.size} of $total")
    assert(df.select("id").as[Long].collect().toSeq === Seq(42L))
  }

  test("live MoR deletes are masked on the DSv2 path") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, Seq(1L, 2L).toDF("id").coalesce(1),
      statsCols = Seq("id"))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1L).toDF("id"))
    assert(spark.read.format("graft-txn").load(root)
      .select("id").as[Long].collect().toSeq === Seq(2L))
    TxnTable.compactDeletes(spark, root)
    assert(spark.read.format("graft-txn").load(root)
      .select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("readChangeFeed on a BATCH read refuses loud (streaming-only option)") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, Seq(1L).toDF("id").coalesce(1))
    // silently returning the full table instead of changes would be a
    // wrong RESULT, not a missing feature — refuse with direction
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-txn").option("readChangeFeed", "true")
        .load(root).collect()
    }
    assert(e.getMessage.contains("changesBetween"))
  }
}
