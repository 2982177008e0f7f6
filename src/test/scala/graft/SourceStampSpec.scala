package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Source-fingerprint invalidation: regenerating the data under an
  * existing path must rebuild derived artifacts — on-disk (ensure*
  * entry points re-check the `_source_stamp` marker) and in-memory
  * (stamp-keyed caches evict + unpersist superseded entries) — instead
  * of silently serving results for data that no longer exists. */
class SourceStampSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("stamp changes when a source file is rewritten, stable otherwise") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stamp").toString
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val a = SourceStamp.stamp(spark, Seq(s"$dir/t.parquet"))
    val b = SourceStamp.stamp(spark, Seq(s"$dir/t.parquet"))
    assert(a === b, "stamp must be deterministic for unchanged data")
    Seq(1L, 2L, 3L, 4L, 5L).toDF("x").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val c = SourceStamp.stamp(spark, Seq(s"$dir/t.parquet"))
    assert(a !== c, "stamp must change when the source is regenerated")
  }

  test("a partitioned root stamps its date=D/ files; a flat directory stamps its file names") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stamp_part").toString
    Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0)).toDF("date", "v")
      .write.partitionBy("date").parquet(s"$dir/published")
    val a = SourceStamp.stamp(spark, Seq(s"$dir/published"))
    assert(a.split("\n").count(_.startsWith("date=2024-01-01/part-")) === 1, a)
    Seq(("2024-01-01", 9.0), ("2024-01-01", 8.0)).toDF("date", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/published/date=2024-01-01")
    assert(SourceStamp.stamp(spark, Seq(s"$dir/published")) !== a,
      "rewriting a file inside a partition must change the root's stamp")
    // flat: exactly `name:len:mtime` of each visible file, as before the walk
    val flat = new java.io.File(s"$dir/published/date=2024-01-02")
    val want = flat.listFiles().toSeq
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString("\n")
    assert(SourceStamp.stamp(spark, Seq(flat.getPath)) === want)
  }

  /** Synthetic events table (int64 nano ts — the testdata layout). */
  private def writeEvents(dir: String, rows: Seq[(Long, String, Double)]): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("ts", "event_type", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
  private val DayNs = 86400L * 1000000000L

  test("on-disk artifact (Incremental's maintained table) rebuilds after regenerate") {
    val dir = Files.createTempDirectory("stamp_inc").toString
    writeEvents(dir, Seq((1L, "a", 1.0), (DayNs + 1, "b", 2.0)))
    val path = graft.queries.Incremental.ensureMaintained(spark, dir)
    val v1 = spark.read.parquet(path).select("event_type").collect().map(_.getString(0)).toSet
    assert(v1 === Set("a", "b"))
    // regenerate the source under the SAME path with different content
    writeEvents(dir, Seq((1L, "x", 1.0), (2L, "x", 2.0), (DayNs + 1, "y", 3.0)))
    val path2 = graft.queries.Incremental.ensureMaintained(spark, dir)
    val v2 = spark.read.parquet(path2).select("event_type").collect().map(_.getString(0)).toSet
    assert(v2 === Set("x", "y"), "maintained table must reflect the regenerated source")
  }

  test("catalog artifact (bucketed layout) rebuilds after regenerate") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stamp_bkt").toString
    Seq((1L, "P1"), (2L, "P2")).toDF("o_orderkey", "o_orderpriority").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val v1 = graft.queries.Bucketed.orders(spark, dir)
      .select("o_orderkey").as[Long].collect().toSet
    assert(v1 === Set(1L, 2L))
    Seq((7L, "P1"), (8L, "P2"), (9L, "P3")).toDF("o_orderkey", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val v2 = graft.queries.Bucketed.orders(spark, dir)
      .select("o_orderkey").as[Long].collect().toSet
    assert(v2 === Set(7L, 8L, 9L), "bucketed layout must be rebuilt from the new source")
  }

  test("in-memory cache (LlmOps.signatures) evicts the superseded artifact") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stamp_sig").toString
    Seq((1L, "a b c d e")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ids1 = graft.queries.LlmOps.signatures(spark, dir)._1
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 === Set(1L))
    Seq((5L, "p q r s t"), (6L, "u v w x y")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ids2 = graft.queries.LlmOps.signatures(spark, dir)._1
      .select("doc_id").as[Long].collect().toSet
    assert(ids2 === Set(5L, 6L), "signatures must be recomputed for the new corpus")
  }

  test("txn artifact (Txn.ensureMerged, read by q90) rebuilds after its events are regenerated") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stamp_txn").toString
    def writeIdEvents(rows: Seq[(Long, String, Double)]): Unit =
      rows.zipWithIndex.map { case ((ts, et, v), i) => (i.toLong, ts, et, v) }
        .toDF("event_id", "ts", "event_type", "value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def merged(): Set[(String, Long)] = graft.queries.Txn.q90Bench(spark, dir)
      .select($"event_type", $"n").as[(String, Long)].collect().toSet
    writeIdEvents(Seq((1L, "a", 1.0), (DayNs + 1, "b", 2.0), (DayNs + 2, "b", 3.0)))
    assert(merged() === Set(("a", 1L), ("b", 2L)))
    writeIdEvents(Seq((1L, "x", 1.0), (2L, "x", 2.0), (DayNs + 1, "y", 3.0)))
    assert(merged() === Set(("x", 2L), ("y", 1L)),
      "the merged txn table must be rebuilt from the regenerated events")
  }

  test("Txn's 15 build-once tables have 15 distinct roots") {
    val roots = graft.queries.Txn.artifacts
      .map(_.root(SparkTestSession.isolated(), "/data/sf0.01"))
    assert(roots.size === 15 && roots.distinct.size === 15)
  }

  test("a build that throws leaves no marker; the next ensure rebuilds from scratch") {
    val art = Files.createTempDirectory("stamp_fail").resolve("artifact")
    val dir = art.toString
    val err = intercept[IllegalStateException] {
      SourceStamp.ensure(spark, dir, "v1") {
        Files.createDirectories(art)
        Files.writeString(art.resolve("partial"), "half-built")
        throw new IllegalStateException("build crashed")
      }
    }
    assert(err.getMessage === "build crashed")
    assert(SourceStamp.recorded(spark, dir).isEmpty, "a failed build must not write the marker")
    assert(Files.exists(art.resolve("partial")))
    SourceStamp.ensure(spark, dir, "v1") {
      Files.createDirectories(art)
      Files.writeString(art.resolve("complete"), "built")
    }
    assert(SourceStamp.isCurrent(spark, dir, "v1"))
    assert(!Files.exists(art.resolve("partial")), "the rebuild starts from an empty directory")
    assert(Files.readString(art.resolve("complete")) === "built")
  }

  test("two threads ensuring one artifact run its build once") {
    val art = Files.createTempDirectory("stamp_race").resolve("artifact")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          SourceStamp.ensure(spark, art.toString, "v1") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the other caller arrives
            Files.createDirectories(art)
          }
        }
      }))
      start.countDown()
      calls.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get === 1)
    assert(SourceStamp.isCurrent(spark, art.toString, "v1"))
  }

  test("reset clears every in-memory artifact: a cold ivfCentroids collects again") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("stamp_ivf").toString
    (0 until 40).map(i => (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    graft.queries.LlmOps.ivfCentroids(spark, dir)
    val (_, warmJobs) = SparkTestSession.jobsIn(graft.queries.LlmOps.ivfCentroids(spark, dir))
    assert(warmJobs === 0, "centroids are cached per source stamp")
    SourceStamp.reset(spark)
    val (_, coldJobs) = SparkTestSession.jobsIn(graft.queries.LlmOps.ivfCentroids(spark, dir))
    assert(coldJobs >= 1, "reset must drop the cached centroids")
  }
}
