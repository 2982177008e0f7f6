package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sinks.TxnTable

/** The txn format's streaming surface BY FORMAT NAME — readStream
  * (append mode + CDC mode) and writeStream (exactly-once idempotent
  * batch commits), the Delta-shaped streaming integration on top of the
  * DSv2 batch source. */
class GraftTxnStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshBase(): String =
    Files.createTempDirectory("txn_stream").toString

  private def df(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10)
  }

  private def idv(name: String): Set[(Long, Long)] =
    spark.table(name).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---- readStream: append mode ---------------------------------------

  test("append-mode readStream by format name: replay + live appends") {
    val base = freshBase()
    val root = s"$base/tbl"
    TxnTable.overwrite(spark, root, df(1, 2)) // v1
    TxnTable.append(spark, root, df(3))       // v2
    val q = spark.readStream.format("graft-txn")
      .option("startVersion", "0").load(root)
      .writeStream.format("memory").queryName("txn_append_replay")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      assert(idv("txn_append_replay") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
      TxnTable.append(spark, root, df(4))     // v3, mid-stream
      q.processAllAvailable()
      assert(idv("txn_append_replay") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    } finally q.stop()
  }

  test("maintenance commits (compact) emit nothing; appends around them flow") {
    val base = freshBase()
    val root = s"$base/tbl"
    TxnTable.overwrite(spark, root, df(1))    // v1
    TxnTable.append(spark, root, df(2))       // v2
    TxnTable.compactTxn(spark, root, 1)       // v3: content-preserving
    TxnTable.append(spark, root, df(3))       // v4
    val q = spark.readStream.format("graft-txn")
      .option("startVersion", "0").load(root)
      .writeStream.format("memory").queryName("txn_append_compact")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      assert(idv("txn_append_compact") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    } finally q.stop()
  }

  test("data-changing commit fails loud by default; skipChangeCommits skips it") {
    val base = freshBase()
    val root = s"$base/tbl"
    TxnTable.overwrite(spark, root, df(1, 2))                    // v1
    TxnTable.deleteWhere(spark, root, col("id") === 1)           // v2: CoW rewrite
    TxnTable.append(spark, root, df(3))                          // v3

    val strict = spark.readStream.format("graft-txn")
      .option("startVersion", "0").load(root)
      .writeStream.format("memory").queryName("txn_append_strict")
      .option("checkpointLocation", s"$base/ckpt_strict").start()
    val failed = intercept[StreamingQueryException] {
      strict.processAllAvailable(); strict.awaitTermination()
    }
    assert(failed.getMessage.contains("data-changing commit") ||
      Option(failed.getCause).exists(_.getMessage.contains("data-changing commit")))

    val skipping = spark.readStream.format("graft-txn")
      .option("startVersion", "0").option("skipChangeCommits", "true").load(root)
      .writeStream.format("memory").queryName("txn_append_skip")
      .option("checkpointLocation", s"$base/ckpt_skip").start()
    try {
      skipping.processAllAvailable()
      // v1's inserts and v3's append flow; v2's rewrite window is skipped
      assert(idv("txn_append_skip") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    } finally skipping.stop()
  }

  test("append onto a MoR-live table streams every appended row, a deleted key's included") {
    val base = freshBase()
    val root = s"$base/tbl"
    val s = spark
    import s.implicits._
    TxnTable.overwrite(spark, root, df(1, 2))                       // v1
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1L, 3L).toDF("id")) // v2
    // stream starts AFTER the delete: only new appends flow
    val q = spark.readStream.format("graft-txn").load(root)
      .writeStream.format("memory").queryName("txn_append_mor")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      TxnTable.append(spark, root, df(3, 4))                        // v3
      q.processAllAvailable()
      // the delete matched the rows live at its commit; 3 arrived later
      assert(idv("txn_append_mor") === Set((3L, 30L), (4L, 40L)))
    } finally q.stop()
  }

  test("readChangeFeed=true streams the CDC feed through the format name") {
    val base = freshBase()
    val root = s"$base/tbl"
    val s = spark
    import s.implicits._
    TxnTable.overwrite(spark, root, df(1, 2))                      // v1
    TxnTable.deleteKeysMor(spark, root, "id", Seq(1L).toDF("id"))  // v2
    val q = spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true").option("startVersion", "0").load(root)
      .writeStream.format("memory").queryName("txn_cdc_byname")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("txn_cdc_byname")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows === Set((1L, "insert", 1L), (2L, "insert", 1L), (1L, "delete", 2L)))
    } finally q.stop()
  }

  // ---- writeStream: exactly-once sink --------------------------------

  test("writeStream sink: appends land as txn versions; restart does not double") {
    val base = freshBase()
    val root = s"$base/sink_tbl"
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val in = MemoryStream[Long]
    val q1 = in.toDS().toDF("id").withColumn("v", col("id") * 10)
      .writeStream.format("graft-txn")
      .option("checkpointLocation", s"$base/ckpt").start(root)
    try {
      in.addData(1L, 2L); q1.processAllAvailable()
      in.addData(3L);     q1.processAllAvailable()
    } finally q1.stop()
    assert(TxnTable.read(spark, root).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 10L), (2L, 20L), (3L, 30L)))

    // restart from the same checkpoint: committed batches replay as
    // no-ops, only new data appends
    val q2 = in.toDS().toDF("id").withColumn("v", col("id") * 10)
      .writeStream.format("graft-txn")
      .option("checkpointLocation", s"$base/ckpt").start(root)
    try {
      in.addData(4L); q2.processAllAvailable()
    } finally q2.stop()
    assert(TxnTable.read(spark, root).select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
    // every version op carries the checkpoint-scoped idempotence key
    val ops = TxnTable.versions(spark, root)
      .map(v => TxnTable.snapshot(spark, root, v).op)
    assert(ops.forall(_.startsWith("append-batch:")))
    assert(ops.forall(_.contains("ckpt")))
  }

  test("sink round-trips through the append-mode source (streaming kappa hop)") {
    val base = freshBase()
    val root = s"$base/hop_tbl"
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Long]
    val ingest = in.toDS().toDF("id").withColumn("v", col("id") * 10)
      .writeStream.format("graft-txn")
      .option("checkpointLocation", s"$base/ckpt_in").start(root)
    // the source pins its schema from a committed snapshot — the first
    // ingest batch must create the table before the serve stream starts
    in.addData(1L, 2L); ingest.processAllAvailable()
    val serve = spark.readStream.format("graft-txn")
      .option("startVersion", "0").load(root)
      .writeStream.format("memory").queryName("txn_hop")
      .option("checkpointLocation", s"$base/ckpt_out").start()
    try {
      serve.processAllAvailable()
      assert(idv("txn_hop") === Set((1L, 10L), (2L, 20L)))
      in.addData(3L); ingest.processAllAvailable(); serve.processAllAvailable()
      assert(idv("txn_hop") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    } finally { ingest.stop(); serve.stop() }
  }

  test("two streams into one table: distinct idempotence keys never collide") {
    val base = freshBase()
    val root = s"$base/two_tbl"
    // same batchId (0) from two different streams must BOTH commit
    assert(TxnTable.appendBatch(spark, root, df(1), 0L, streamId = "streamA").nonEmpty)
    assert(TxnTable.appendBatch(spark, root, df(2), 0L, streamId = "streamB").nonEmpty)
    // replays of each still no-op
    assert(TxnTable.appendBatch(spark, root, df(1), 0L, streamId = "streamA").isEmpty)
    assert(TxnTable.appendBatch(spark, root, df(2), 0L, streamId = "streamB").isEmpty)
    assert(TxnTable.read(spark, root).count() === 2L)
  }

  test("Update-mode sink: keyed merge per micro-batch == batch recompute " +
      "after every trigger; replay no-ops") {
    val base = freshBase()
    val root = s"$base/tbl"
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Long]
    val fed = scala.collection.mutable.ArrayBuffer.empty[Long]
    // running count per key — the stateful-aggregation shape Update
    // mode exists for; each trigger emits only the touched keys
    val q = in.toDS().toDF("id").groupBy($"id").count()
      .writeStream.format("graft-txn").outputMode("update")
      .option("mergeKeys", "id")
      .option("checkpointLocation", s"$base/ckpt").start(root)
    def stepAndCheck(batch: Long*): Unit = {
      fed ++= batch
      in.addData(batch: _*)
      q.processAllAvailable()
      val expect = fed.groupBy(identity).view
        .mapValues(_.size.toLong).toMap.toSet
      val got = TxnTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect, s"after feeding $fed")
    }
    try {
      stepAndCheck(1L, 1L, 2L)        // {1->2, 2->1}
      stepAndCheck(2L, 3L)            // updated 2, new 3 — 1 untouched
      stepAndCheck(1L)                // back to touching 1
    } finally q.stop()
    // the sink committed merge-batch ops, exactly-once keyed
    val head = TxnTable.latest(spark, root).get
    assert(head.op.startsWith("merge-batch:"))
    // a replayed batch id no-ops instead of double-applying
    assert(TxnTable.mergeBatch(spark, root,
      Seq((1L, 99L)).toDF("id", "count"), batchId = 0L, keyCols = Seq("id"),
      streamId = s"$base/ckpt").isEmpty)
  }

  test("Update-mode merge is BOUNDED on a key-clustered table: untouched " +
      "files carry by path identity") {
    val base = freshBase()
    val root = s"$base/tbl"
    val s = spark
    import s.implicits._
    // pre-created, key-clustered, stats-recorded target (the production
    // shape: the table exists before the stream feeds it)
    TxnTable.overwrite(spark, root,
      (1L to 400L).toDF("id").withColumn("count", lit(1L))
        .repartitionByRange(8, $"id"),
      statsCols = Seq("id"))
    val before = TxnTable.latest(spark, root).get
    // one micro-batch touching a narrow key range
    val committed = TxnTable.mergeBatch(spark, root,
      Seq((10L, 5L), (12L, 7L)).toDF("id", "count"),
      batchId = 1L, keyCols = Seq("id"), streamId = "q1").get
    // only the files whose recorded [min,max] overlap [10,12] rewrote
    val carried = before.files.toSet.intersect(committed.files.toSet)
    assert(carried.nonEmpty && carried.size >= before.files.size - 2,
      s"expected most of ${before.files.size} files carried, " +
        s"carried ${carried.size}")
    val got = TxnTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(10L) === 5L && got(12L) === 7L && got(11L) === 1L)
    assert(got.size === 400)
  }

  test("multi-key Update merge bounds on EVERY recorded stats key: a " +
      "(user, day) stream on a day-clustered table carves out by day") {
    val base = freshBase()
    val root = s"$base/tbl"
    val s = spark
    import s.implicits._
    // clustered on the SECOND merge key (day): head-key-only bounds
    // would carve nothing here
    TxnTable.overwrite(spark, root,
      (1L to 400L).map(i => (i % 20, i / 50, 1L)).toDF("user", "day", "n")
        .repartitionByRange(8, $"day"),
      statsCols = Seq("day"))
    val before = TxnTable.latest(spark, root).get
    val committed = TxnTable.mergeBatch(spark, root,
      Seq((3L, 0L, 9L), (4L, 0L, 9L)).toDF("user", "day", "n"),
      batchId = 1L, keyCols = Seq("user", "day"), streamId = "q2").get
    val carried = before.files.toSet.intersect(committed.files.toSet)
    assert(carried.nonEmpty && carried.size >= before.files.size - 2,
      s"day bound must carve: expected most of ${before.files.size} " +
        s"files carried, carried ${carried.size}")
    // stream == batch recompute
    val got = TxnTable.read(spark, root).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((3L, 0L)) === 9L && got((4L, 0L)) === 9L)
    assert(got((3L, 1L)) === 1L)
  }

  test("a SINK-CREATED table records its merge keys as stats columns on " +
      "the first batch, so later batches get the bounded rewrite") {
    val base = freshBase()
    val root = s"$base/tbl"
    val s = spark
    import s.implicits._
    // first batch creates the table (the Update-mode sink's normal flow)
    val v1 = TxnTable.mergeBatch(spark, root,
      (1L to 400L).toDF("id").withColumn("count", lit(1L))
        .repartitionByRange(8, $"id"),
      batchId = 0L, keyCols = Seq("id"), streamId = "q3").get
    assert(v1.statsCols === Seq("id"),
      "first batch must record the merge key as a stats column")
    // second batch touches a narrow range: most files must carry
    val v2 = TxnTable.mergeBatch(spark, root,
      Seq((10L, 5L)).toDF("id", "count"),
      batchId = 1L, keyCols = Seq("id"), streamId = "q3").get
    val carried = v1.files.toSet.intersect(v2.files.toSet)
    assert(carried.nonEmpty && carried.size >= v1.files.size - 2,
      s"sink-created table must bound: ${carried.size}/${v1.files.size} carried")
    val got = TxnTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(10L) === 5L && got(11L) === 1L && got.size === 400)
  }

  test("sink refusals: Update mode, partitionBy, missing idempotence key") {
    val base = freshBase()
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Long]
    val dfS = in.toDS().toDF("id")

    // Update WITHOUT mergeKeys refuses (no row identity to upsert by)
    val up = intercept[Exception] {
      dfS.groupBy("id").count().writeStream.format("graft-txn")
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt_u").start(s"$base/t_u")
    }
    assert(up.getMessage.contains("mergeKeys"))

    val pb = intercept[Exception] {
      dfS.writeStream.format("graft-txn").partitionBy("id")
        .option("checkpointLocation", s"$base/ckpt_p").start(s"$base/t_p")
    }
    assert(pb.getMessage.contains("transform spec"))

    val anon = intercept[Exception] {
      dfS.writeStream.format("graft-txn").start(s"$base/t_a")
    }
    assert(anon.getMessage.contains("idempotence key"))
  }

  // ---- writeStream.toTable: the DSv2 STREAMING_WRITE path -------------

  private val cat = "graft_cat_stream"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_stream_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  test("toTable streams by name through the V2 write: fan-out kept, epochs idempotent") {
    val base = freshBase()
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = s"$warehouse/db/ingest" // forces catalog registration
    spark.sql(
      s"""CREATE TABLE $cat.db.ingest (id BIGINT, v BIGINT)
         |PARTITIONED BY (bucket(4, id))
         |TBLPROPERTIES ('statsCols' = 'id')""".stripMargin)

    val in = MemoryStream[Long]
    val q1 = in.toDS().toDF("id").withColumn("v", col("id") * 10)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .toTable(s"$cat.db.ingest")
    try {
      in.addData(1L, 2L); q1.processAllAvailable()
      in.addData(3L);     q1.processAllAvailable()
    } finally q1.stop()
    assert(idvOf(TxnTable.read(spark, root)) === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    val snap = TxnTable.latest(spark, root).get
    // epoch commits carry the queryId-scoped idempotence tag
    assert(snap.op.startsWith("append-batch:q:"))
    // executor-staged files keep the bucket fan-out AND its manifest
    // stats (path-derived transform ranges + footer id ranges)
    assert(snap.files.forall(_.contains("bucket4_id=")))
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("id"))))

    // restart from the same checkpoint: replayed epochs no-op; new data lands
    val q2 = in.toDS().toDF("id").withColumn("v", col("id") * 10)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .toTable(s"$cat.db.ingest")
    try {
      in.addData(4L); q2.processAllAvailable()
    } finally q2.stop()
    assert(idvOf(TxnTable.read(spark, root)) ===
      Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("toTable Complete mode replaces per epoch through the V2 write") {
    val base = freshBase()
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = s"$warehouse/db/agg" // forces catalog registration
    spark.sql(s"CREATE TABLE $cat.db.agg (id BIGINT, n BIGINT)")
    val in = MemoryStream[Long]
    val q = in.toDS().toDF("id").groupBy("id").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .toTable(s"$cat.db.agg")
    try {
      in.addData(1L, 1L, 2L); q.processAllAvailable()
      in.addData(2L);         q.processAllAvailable()
      assert(idvOf(TxnTable.read(spark, root).select(col("id"), col("n").as("v")))
        === Set((1L, 2L), (2L, 2L)))
      assert(TxnTable.latest(spark, root).get.op.startsWith("replace-batch:q:"))
    } finally q.stop()
  }

  private def idvOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---- readStream.table: the DSv2 MICRO_BATCH_READ path ---------------

  test("readStream.table streams by name through the V2 scan: replay, live appends, maintenance silence") {
    val base = freshBase()
    val root = s"$warehouse/db/mbr" // forces catalog registration
    TxnTable.overwrite(spark, root, df(1, 2))  // v1
    TxnTable.append(spark, root, df(3))        // v2
    TxnTable.compactTxn(spark, root, 1)        // v3: maintenance, silent
    val q = spark.readStream.option("startVersion", "0").table(s"$cat.db.mbr")
      .writeStream.format("memory").queryName("mbr_replay")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      assert(idv("mbr_replay") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
      TxnTable.append(spark, root, df(4))      // v4, mid-stream
      q.processAllAvailable()
      assert(idv("mbr_replay") === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    } finally q.stop()
  }

  test("readStream.table default start is tail-only and data-changing commits refuse") {
    val root = s"$warehouse/db/mbr2"
    val base = freshBase()
    TxnTable.overwrite(spark, root, df(1, 2))  // v1: before the stream
    val q = spark.readStream.table(s"$cat.db.mbr2")
      .writeStream.format("memory").queryName("mbr_tail")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      assert(idv("mbr_tail").isEmpty)
      TxnTable.append(spark, root, df(3))      // v2
      q.processAllAvailable()
      assert(idv("mbr_tail") === Set((3L, 30L)))
      TxnTable.deleteWhere(spark, root, col("id") === 1) // v3: CoW rewrite
      val failed = intercept[StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination()
      }
      assert(failed.getMessage.contains("data-changing commit") ||
        Option(failed.getCause).exists(_.getMessage.contains("data-changing commit")))
    } finally q.stop()
  }

  test("path source default start + restart: down-time commits flow on a " +
      "quiescent table (starvation regression)") {
    val base = freshBase()
    val root = s"$base/tbl"
    val ckpt = s"$base/ckpt"
    TxnTable.overwrite(spark, root, df(1))     // v1: before the stream
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    // NO startVersion: 'latest at stream start' must mean the FIRST
    // start; a restart floors at the checkpoint, never the restart head
    def run() = spark.readStream.format("graft-txn").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id", "v").collect()
          .foreach(r => got.add((r.getLong(0), r.getLong(1))))
      }.start()
    val q1 = run()
    try { q1.processAllAvailable(); assert(got.isEmpty) } finally q1.stop()

    TxnTable.append(spark, root, df(2))        // v2: while DOWN
    TxnTable.append(spark, root, df(3))        // v3: while DOWN
    val q2 = run()
    try {
      q2.processAllAvailable()                 // no further commits arrive
      assert(got.toArray.toSet === Set((2L, 20L), (3L, 30L)))
    } finally q2.stop()
  }

  test("readStream.table restart catch-up honors maxVersionsPerBatch " +
      "(admission control floors at the checkpoint)") {
    val base = freshBase()
    val root = s"$warehouse/db/mbr3"
    val ckpt = s"$base/ckpt"
    TxnTable.overwrite(spark, root, df(1))     // v1
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    def run() = spark.readStream.option("maxVersionsPerBatch", "1")
      .option("startVersion", "1").table(s"$cat.db.mbr3")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = batch.select("id").collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) { batches.add(ids); () }
      }.start()
    val q1 = run()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(batches.isEmpty)                    // tail from v1: nothing yet

    TxnTable.append(spark, root, df(2))        // v2: while DOWN
    TxnTable.append(spark, root, df(3))        // v3: while DOWN
    TxnTable.append(spark, root, df(4))        // v4: while DOWN
    val q2 = run()
    try {
      q2.processAllAvailable()
      // the backlog catches up one commit window per micro-batch —
      // not one giant batch floored at the restart-time head
      assert(batches.toArray.toSeq === Seq(Set(2L), Set(3L), Set(4L)))
    } finally q2.stop()
  }

  test("by-name kappa loop: toTable sink feeds readStream.table source") {
    val base = freshBase()
    val root = s"$warehouse/db/hopname" // forces catalog registration
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    spark.sql(s"CREATE TABLE $cat.db.hopname (id BIGINT, v BIGINT)")
    val in = MemoryStream[Long]
    val ingest = in.toDS().toDF("id").withColumn("v", col("id") * 10)
      .writeStream.option("checkpointLocation", s"$base/ckpt_in")
      .toTable(s"$cat.db.hopname")
    val serve = spark.readStream.option("startVersion", "0")
      .table(s"$cat.db.hopname")
      .writeStream.format("memory").queryName("hop_name")
      .option("checkpointLocation", s"$base/ckpt_out").start()
    try {
      in.addData(1L, 2L); ingest.processAllAvailable(); serve.processAllAvailable()
      assert(idv("hop_name") === Set((1L, 10L), (2L, 20L)))
      in.addData(3L); ingest.processAllAvailable(); serve.processAllAvailable()
      assert(idv("hop_name") === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    } finally { ingest.stop(); serve.stop() }
    assert(idvOf(TxnTable.read(spark, root)) ===
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("Complete mode replaces content per batch (materialized aggregate)") {
    val base = freshBase()
    val root = s"$base/agg_tbl"
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Long]
    val q = in.toDS().toDF("id").groupBy("id").agg(count(lit(1)).as("n"))
      .writeStream.format("graft-txn").outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt").start(root)
    try {
      in.addData(1L, 1L, 2L); q.processAllAvailable()
      in.addData(2L);         q.processAllAvailable()
      assert(TxnTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 2L), (2L, 2L)))
      // old versions stay time-travelable: the first batch's state
      val v1 = TxnTable.versions(spark, root).head
      assert(TxnTable.readAsOf(spark, root, v1).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 2L), (2L, 1L)))
    } finally q.stop()
  }
}
