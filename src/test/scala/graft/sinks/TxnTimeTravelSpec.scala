package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** AS OF TIMESTAMP time travel (the reader's `timestampAsOf` option): commit
  * instants are recorded IN the manifest, the resolved version is the
  * newest commit at-or-before the asked instant, pre-table instants
  * fail loud, and a restore commit is visible at its own (later)
  * timestamp while the restored-FROM instant still shows the history. */
class TxnTimeTravelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_time").toString + "/tbl"

  private def df(ids: Int*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10)
  }

  private def asOfTime(root: String, epochMs: Long) =
    spark.read.format("graft-txn").option("timestampAsOf", epochMs).load(root)

  private def idsOf(d: org.apache.spark.sql.DataFrame): Set[Int] =
    d.select("id").collect().map(_.getInt(0)).toSet

  test("resolves the newest commit at-or-before the instant") {
    val root = freshRoot()
    val s1 = TxnTable.overwrite(spark, root, df(1, 2))
    Thread.sleep(5)
    val s2 = TxnTable.append(spark, root, df(3))
    Thread.sleep(5)
    val s3 = TxnTable.append(spark, root, df(4))
    val (t1, t2, t3) = (s1.tsMs.get, s2.tsMs.get, s3.tsMs.get)
    assert(t1 < t2 && t2 < t3, "commit timestamps must be recorded and ordered")
    // exact instants and midpoints
    assert(idsOf(asOfTime(root, t1)) === Set(1, 2))
    assert(idsOf(asOfTime(root, (t1 + t2) / 2)) === Set(1, 2))
    assert(idsOf(asOfTime(root, t2)) === Set(1, 2, 3))
    assert(idsOf(asOfTime(root, t3 + 1000)) === Set(1, 2, 3, 4))
    // before the table existed: loud failure, not an empty guess
    intercept[IllegalStateException] {
      asOfTime(root, t1 - 1000)
    }
  }

  test("timestamps round-trip through the manifest, not file mtimes") {
    val root = freshRoot()
    val committed = TxnTable.overwrite(spark, root, df(1))
    val reread = TxnTable.snapshot(spark, root, 1)
    assert(reread.tsMs === committed.tsMs)
    assert(TxnTable.versionAt(spark, root, committed.tsMs.get) === Some(1L))
  }

  test("a restore commit has its own instant; the mistake stays visible at its time") {
    val root = freshRoot()
    TxnTable.overwrite(spark, root, df(1))
    Thread.sleep(5)
    val bad = TxnTable.append(spark, root, df(99))
    Thread.sleep(5)
    val fix = TxnTable.restore(spark, root, 1)
    assert(idsOf(asOfTime(root, bad.tsMs.get)) === Set(1, 99))
    assert(idsOf(asOfTime(root, fix.tsMs.get)) === Set(1))
  }
}
