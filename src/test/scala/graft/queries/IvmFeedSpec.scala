package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** Incremental view maintenance from the change feed
  * ([[Materialized.maintainFromFeed]]): after every raw commit, folding
  * the feed into the aggregate equals recomputing it from the raw head —
  * through deletes (subtraction), inserts (addition, including brand-new
  * groups), and group-vanishing (the view row is deleted, not zeroed). */
class IvmFeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"ivm_$tag").toString + "/tbl"

  /** Synthetic raw events: full control over groups and values. */
  private def raw(rows: (String, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("d", "event_type", "value")
      .select(to_timestamp($"d").as("ts"), $"event_type", $"value")
  }

  private def agg(df: org.apache.spark.sql.DataFrame) = {
    val s = spark
    import s.implicits._
    df.withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.Det.cents($"value")).as("sum_cents"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("feed-maintained aggregate == recompute through delete, vanish, insert") {
    val rawRoot = freshRoot("raw")
    val aggRoot = freshRoot("agg")
    TxnTable.overwrite(spark, rawRoot, raw(
      ("2024-01-01", "a", 1.0), ("2024-01-01", "a", 2.0),
      ("2024-01-01", "b", 3.0), ("2024-01-02", "a", 4.0)))
    TxnTable.overwrite(spark, aggRoot, agg(TxnTable.read(spark, rawRoot)))

    // v2 on raw: delete the only day1/b row — that group must VANISH
    TxnTable.deleteWhere(spark, rawRoot, col("value") === 3.0)
    Materialized.maintainFromFeed(spark, rawRoot, aggRoot, 1, 2)
    assert(rows(TxnTable.read(spark, aggRoot)) ===
      rows(agg(TxnTable.read(spark, rawRoot))))
    assert(TxnTable.read(spark, aggRoot)
      .filter(col("event_type") === "b").head(1).isEmpty,
      "emptied group must be deleted from the view, not zeroed")

    // v3 on raw: append — an update to an existing group AND a new group
    TxnTable.append(spark, rawRoot, raw(
      ("2024-01-02", "a", 0.5), ("2024-01-03", "c", 7.0)))
    Materialized.maintainFromFeed(spark, rawRoot, aggRoot, 2, 3)
    assert(rows(TxnTable.read(spark, aggRoot)) ===
      rows(agg(TxnTable.read(spark, rawRoot))))

    // no-op window: nothing changed, nothing committed
    val before = TxnTable.versions(spark, aggRoot)
    Materialized.maintainFromFeed(spark, rawRoot, aggRoot, 3, 3)
    assert(TxnTable.versions(spark, aggRoot) === before)
  }

  /** Keyed raw events, the shape the daily loop's raw table has. */
  private def keyed(rows: (Long, String, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "d", "event_type", "value")
      .select($"event_id", to_timestamp($"d").as("ts"), $"event_type", $"value")
  }

  private def ids(xs: Long*) = {
    val s = spark
    import s.implicits._
    xs.toDF("event_id")
  }

  /** Maintain's job budget for one window, as measured: 11, plus 1 for
    * the delete when a group empties. Evaluating the feed in each step
    * (emptiness probe, merge probe, merge, emptied-group probe) ran
    * 27 and 29 on the same windows. */
  private val MaintainJobs = 11

  test("one maintenance window of the daily shape: job pin, one commit, two when a group empties") {
    val rawRoot = freshRoot("rawday")
    val aggRoot = freshRoot("aggday")
    TxnTable.overwrite(spark, rawRoot, keyed(
      (1L, "2024-01-01", "a", 1.0), (2L, "2024-01-01", "a", 2.0),
      (3L, "2024-01-01", "b", 3.0), (4L, "2024-01-02", "a", 4.0)),
      statsCols = Seq("event_id"))
    TxnTable.overwrite(spark, aggRoot, agg(TxnTable.read(spark, rawRoot)))

    /** The daily write order on the raw table — append, late corrections
      * by key, a merge-on-read delete by key — then maintenance over the
      * window; returns maintain's job count and the aggregate's commits. */
    def day(append: Seq[(Long, String, String, Double)],
            merge: Seq[(Long, String, String, Double)], delete: Seq[Long]): (Int, Int) = {
      val cursor = TxnTable.latest(spark, rawRoot).get.version
      TxnTable.append(spark, rawRoot, keyed(append: _*))
      TxnTable.mergeInto(spark, rawRoot, keyed(merge: _*), Seq("event_id"))
      TxnTable.deleteKeysMor(spark, rawRoot, "event_id", ids(delete: _*))
      val head = TxnTable.latest(spark, rawRoot).get.version
      val before = TxnTable.versions(spark, aggRoot).size
      val (_, jobs) = SparkTestSession.jobsIn(
        Materialized.maintainFromFeed(spark, rawRoot, aggRoot, cursor, head))
      assert(rows(TxnTable.read(spark, aggRoot)) ===
        rows(agg(TxnTable.read(spark, rawRoot))))
      TxnTable.compactDeletes(spark, rawRoot)
      (jobs, TxnTable.versions(spark, aggRoot).size - before)
    }

    // no group empties: one merge commit on the aggregate
    val (jobs1, commits1) = day(
      append = Seq((5L, "2024-01-02", "b", 5.0), (6L, "2024-01-03", "c", 6.0)),
      merge = Seq((2L, "2024-01-01", "a", 2.5)),
      delete = Seq(1L))
    assert(jobs1 <= MaintainJobs, s"maintain ran $jobs1 jobs, budget $MaintainJobs")
    assert(commits1 === 1)

    // the delete empties day1/b: the merge, then one delete commit
    val (jobs2, commits2) = day(
      append = Seq((7L, "2024-01-03", "c", 7.0)),
      merge = Seq((4L, "2024-01-02", "a", 4.5)),
      delete = Seq(3L))
    assert(jobs2 <= MaintainJobs + 1, s"maintain ran $jobs2 jobs, budget ${MaintainJobs + 1}")
    assert(commits2 === 2)
    assert(TxnTable.read(spark, aggRoot)
      .filter(col("day") === "2024-01-01" && col("event_type") === "b").head(1).isEmpty)
  }
}
