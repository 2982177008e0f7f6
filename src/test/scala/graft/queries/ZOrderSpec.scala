package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Z-order clustering: MEASURE the row-group skipping, don't assert
  * prose. Same rows, same file count, same pushed predicate — the only
  * difference is layout. The metric is the parquet scan's
  * `numOutputRows`: rows surviving footer min/max skipping (whole
  * files/row groups outside the predicate's range emit nothing), read
  * from the SAME QueryExecution that ran. */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.01"
  private val Files = 64

  /** Cluster `df` into `files` z-ordered parquet files over two integer
    * dimensions: range-partition on the z-value so each file owns one
    * contiguous z-range, sort within partitions, drop the helper. */
  private def writeClustered(df: DataFrame, dimA: String, dimB: String,
                             path: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("_z", ZOrder.zvalue(col(dimA), col(dimB)))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  private lazy val dims = {
    val s = spark
    import s.implicits._
    graft.Tables.t(spark, sfDir, "events")
      .select($"event_id", $"user_id",
        org.apache.spark.sql.functions.dayofmonth($"ts").cast("long").as("day"))
  }

  private lazy val (zDir, linDir) = {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    writeClustered(dims, "user_id", "day", s"$base/z", Files)
    dims.repartitionByRange(Files, $"user_id")
      .sortWithinPartitions($"user_id")
      .write.mode("overwrite").parquet(s"$base/linear")
    (s"$base/z", s"$base/linear")
  }

  /** Execute and return (scan rows after parquet skipping, result ids). */
  private def scanAndCollect(df: DataFrame): (Long, Set[Long]) = {
    val s = spark
    import s.implicits._
    val ids = df.select($"event_id").collect().map(_.getLong(0)).toSet
    val qe = df.queryExecution
    // run THIS QueryExecution for its metrics — and CONSUME the rows:
    // the vectorized reader is lazy, an undrained iterator reports 0
    qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())
    val scans = qe.executedPlan.collectWithSubqueries { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no parquet scan in:\n${qe.executedPlan}")
    assert(scans.head.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      s"predicate not pushed: ${scans.head.metadata("PushedFilters")}")
    (scans.map(_.metrics("numOutputRows").value).sum, ids)
  }

  test("2-D box predicate: z-clustered layout skips strictly more than single-key") {
    val s = spark
    import s.implicits._
    def box(dir: String) = spark.read.parquet(dir)
      .filter($"user_id".between(40, 59) && $"day".between(10, 12))
    val (zRows, zIds) = scanAndCollect(box(zDir))
    val (linRows, linIds) = scanAndCollect(box(linDir))
    assert(zIds === linIds, "layouts must return identical results")
    assert(zIds.nonEmpty)
    info(s"2-D box rows scanned: z=$zRows linear=$linRows of ${dims.count()}")
    assert(zRows < linRows,
      s"z-order should out-skip the single-key layout: z=$zRows linear=$linRows")
  }

  test("non-leading-dimension predicate: z layout skips, single-key cannot") {
    val s = spark
    import s.implicits._
    def dayOnly(dir: String) = spark.read.parquet(dir).filter($"day".between(10, 12))
    val (zRows, zIds) = scanAndCollect(dayOnly(zDir))
    val (linRows, linIds) = scanAndCollect(dayOnly(linDir))
    assert(zIds === linIds)
    val total = dims.count()
    assert(linRows === total,
      s"user-sorted layout has no day locality — expected a full $total-row scan, got $linRows")
    info(s"day-only rows scanned: z=$zRows linear=$linRows of $total")
    assert(zRows < total / 2,
      s"z layout should skip most rows on the interleaved dim: $zRows of $total")
  }
}
