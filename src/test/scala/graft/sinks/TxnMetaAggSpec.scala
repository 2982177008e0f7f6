package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Metadata-only aggregates + runtime join pruning.
  *
  * [[TxnTable.metaCount]]/[[TxnTable.metaMinMax]] answer COUNT(*)/MIN/MAX
  * from the manifest's per-file row counts and range stats — zero data
  * reads — under an exact-or-refuse contract: the answer either equals
  * what scanning would return or is None (live MoR deletes, legacy files
  * without counts, files without the column's stats entry).
  *
  * [[TxnTable.readSemiPruned]] reads only the files whose manifest
  * metadata may contain one of the probe keys, then semi-joins for
  * exactness — the manifest-level analog of dynamic partition pruning.
  */
class TxnMetaAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_meta_agg").toString + "/tbl"

  private def df(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10L)
  }

  test("metaCount: exact across append/append/compact, zero data reads") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(4, 5).coalesce(2))
    assert(TxnTable.metaCount(spark, root) === Some(5L))
    // the answer comes from the manifest alone: every live file carries
    // a rows: entry
    val sn = TxnTable.latest(spark, root).get
    assert(sn.files.forall(sn.rowCounts.contains))
    assert(sn.rowCounts.values.sum === 5L)
    TxnTable.compactTxn(spark, root, targetFiles = 1)
    assert(TxnTable.metaCount(spark, root) === Some(5L))
    // version-pinned: the pre-compact snapshot still answers
    assert(TxnTable.metaCount(spark, root, Some(2L)) === Some(5L))
    assert(TxnTable.metaCount(spark, root, Some(1L)) === Some(3L))
  }

  test("metaCount: refuses while MoR deletes are live, answers after the fold") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, df(1, 2, 3, 4).coalesce(1), statsCols = Seq("id"))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(2L).toDF("id"))
    // the merged row set is not knowable from metadata — refuse
    assert(TxnTable.metaCount(spark, root) === None)
    assert(TxnTable.metaMinMax(spark, root, "id") === None)
    TxnTable.compactDeletes(spark, root)
    assert(TxnTable.metaCount(spark, root) === Some(3L))
    assert(TxnTable.metaMinMax(spark, root, "id") === Some((1L, 4L)))
  }

  test("metaCount: legacy manifest without counts refuses; the next commit backfills") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    // simulate a legacy manifest: strip the rows: fields from v1
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = new Path(s"$root/_txn/v0000000001.txt")
    val legacy = {
      val in = fs.open(m)
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, true)
      new String(out.toByteArray, StandardCharsets.UTF_8)
        .replaceAll("\trows:\\d+", "")
    }
    fs.delete(m, false)
    val o = fs.create(m, false)
    try o.write(legacy.getBytes(StandardCharsets.UTF_8)) finally o.close()
    assert(TxnTable.snapshot(spark, root, 1L).rowCounts.isEmpty)
    assert(TxnTable.metaCount(spark, root) === None)
    // any new commit backfills carried files' counts from their footers
    TxnTable.append(spark, root, df(4).coalesce(1))
    assert(TxnTable.metaCount(spark, root) === Some(4L))
  }

  test("metaMinMax: a provably-empty staged file (rows:0) does not force refusal") {
    // a CoW delete whose predicate empties one touched file once staged
    // a zero-row part with no stats entry (found at the sf10 scale run);
    // the rewrite now drops such parts before commit, so none is recorded
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.overwrite(spark, root,
      (1L to 100L).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"))
    // delete everything in the first file's span -> its rewrite is empty
    TxnTable.deleteWhere(spark, root, col("id") <= 25, Some((1L, 25L)))
    val sn = TxnTable.latest(spark, root).get
    assert(!sn.files.exists(f => sn.rowCounts.get(f).contains(0L)))
    assert(sn.files.forall(f => sn.stats.get(f).exists(_.contains("id"))))
    assert(TxnTable.metaCount(spark, root) === Some(75L))
    assert(TxnTable.metaMinMax(spark, root, "id") === Some((26L, 100L)))
  }

  test("metaMinMax: exact on recorded columns, refuses on unrecorded ones") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(7, 3, 9).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(1, 5).coalesce(1))
    assert(TxnTable.metaMinMax(spark, root, "id") === Some((1L, 9L)))
    // v is not a recorded stats column — no per-file entries — refuse
    assert(TxnTable.metaMinMax(spark, root, "v") === None)
    // a file missing the column entirely (old-shape append) refuses too
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, Seq(100L).toDF("v").coalesce(1))
    assert(TxnTable.metaMinMax(spark, root, "id") === None)
    // but count still answers: row counts are column-independent
    assert(TxnTable.metaCount(spark, root) === Some(6L))
  }

  test("readSemiPruned: result == unpruned semi-join, and files are actually skipped") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    // range-partitioned so per-file id spans are disjoint — pruning has
    // something to skip
    TxnTable.overwrite(spark, root,
      (1L to 400L).toDF("id").withColumn("v", col("id") * 10L)
        .repartitionByRange(8, col("id")),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val total = TxnTable.latest(spark, root).get.files.size
    assert(total === 8)
    val keys = Seq(5L, 17L, 23L).toDF("k")
    val pruned = TxnTable.readSemiPruned(spark, root, "id", keys)
    val expected = TxnTable.read(spark, root)
      .join(broadcast(keys), col("id") === col("k"), "left_semi")
    assert(pruned.select("id").as[Long].collect().sorted ===
      expected.select("id").as[Long].collect().sorted)
    // three clustered keys live in one of the eight range files
    assert(pruned.inputFiles.length < total)
    assert(pruned.inputFiles.length >= 1)
  }

  test("readSemiPruned: bloom prunes inside a range; cap falls back exactly") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    // two files with OVERLAPPING ranges but disjoint key sets: range
    // stats alone cannot separate them, blooms can
    TxnTable.append(spark, root,
      Seq(2L, 4L, 6L, 8L).toDF("id").coalesce(1),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    TxnTable.append(spark, root, Seq(1L, 3L, 5L, 9L).toDF("id").coalesce(1))
    val keys = Seq(4L).toDF("k")
    val pruned = TxnTable.readSemiPruned(spark, root, "id", keys)
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(4L))
    assert(pruned.inputFiles.length === 1)
    // over-cap key sets fall back to the unpruned semi-join — still exact
    val big = (1L to 10L).toDF("k")
    val fb = TxnTable.readSemiPruned(spark, root, "id", big, maxKeys = 3)
    assert(fb.select("id").as[Long].collect().sorted ===
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L))
    // no key matches any file -> empty frame, schema intact
    val none = TxnTable.readSemiPruned(spark, root, "id", Seq(777L).toDF("k"))
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("id"))
  }

  test("readSemiPruned: bucket transform prunes point probes on an unsorted layout") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    // NO clustering at all: ids interleave across input partitions, so
    // raw min/max ranges span everything and prune nothing — only the
    // bucket fan-out separates the keys
    val t = Seq(TxnTable.Transform.bucket(8, "id"))
    TxnTable.append(spark, root,
      (1L to 400L).toDF("id").withColumn("v", col("id") * 10L).repartition(4),
      statsCols = Seq("id"), transforms = t)
    val snap = TxnTable.latest(spark, root).get
    assert(snap.files.size >= 8)
    val keys = Seq(42L).toDF("k")
    val pruned = TxnTable.readSemiPruned(spark, root, "id", keys)
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(42L))
    // one probe key = one bucket value -> only that bucket's files open
    val expectBucket = snap.files.count(f =>
      snap.stats.get(f).flatMap(_.get("bucket8_id")).exists { case (lo, hi) =>
        lo == hi })
    assert(expectBucket === snap.files.size) // every file single-bucketed
    assert(pruned.inputFiles.length <= snap.files.size / 4,
      s"bucket pruning kept ${pruned.inputFiles.length} of ${snap.files.size}")
  }

  // ---- metaGroupCount: the metadata-only GROUP BY --------------------
  // Exactness contract includes NULL attribution: min/max exclude nulls,
  // so a point range alone cannot certify a single-valued file — the
  // manifest's per-file null counts (from the parquet footers) split
  // such files exactly, and unknown null counts refuse.

  test("metaGroupCount: identity-partitioned happy path == real GROUP BY") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(5, 5, 5).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(7).coalesce(1))
    TxnTable.append(spark, root, df(5, 5).coalesce(1)) // same value, new file
    assert(TxnTable.metaGroupCount(spark, root, "id") ===
      Some(Seq(Some(5L) -> 5L, Some(7L) -> 1L)))
    // version-pinned
    assert(TxnTable.metaGroupCount(spark, root, "id", Some(1L)) ===
      Some(Seq(Some(5L) -> 3L)))
    // oracle: the real GROUP BY agrees
    val real = TxnTable.read(spark, root).groupBy("id").count()
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1))
      .sortBy(_._1.getOrElse(-1L)).toSeq
    assert(TxnTable.metaGroupCount(spark, root, "id").get.sortBy(_._1.getOrElse(-1L)) === real)
  }

  test("metaGroupCount: mixed-value file refuses (counts cannot be attributed)") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    assert(TxnTable.metaGroupCount(spark, root, "id") === None)
    // an unrecorded column refuses too
    assert(TxnTable.metaGroupCount(spark, root, "v") === None)
  }

  test("metaGroupCount: null-bearing point-range file splits exactly; all-null file is the NULL group") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    // one file: value 5 twice + one null — min/max=(5,5) is a point
    // range, but 1 of the 3 rows belongs to the NULL group
    TxnTable.append(spark, root,
      Seq(Option(5L), Option(5L), Option.empty[Long]).toDF("id").coalesce(1),
      statsCols = Seq("id"))
    val sn1 = TxnTable.latest(spark, root).get
    assert(sn1.nullCounts.values.flatMap(_.get("id")).sum === 1L)
    assert(TxnTable.metaGroupCount(spark, root, "id") ===
      Some(Seq(None -> 1L, Some(5L) -> 2L)))
    // an ALL-null file has no range entry; nulls == rows proves it is
    // entirely the NULL group
    TxnTable.append(spark, root,
      Seq(Option.empty[Long], Option.empty[Long]).toDF("id").coalesce(1))
    assert(TxnTable.metaGroupCount(spark, root, "id") ===
      Some(Seq(None -> 3L, Some(5L) -> 2L)))
    // oracle: the real GROUP BY (nulls form their own group) agrees
    val real = TxnTable.read(spark, root).groupBy("id").count()
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getLong(1)).toSet
    assert(TxnTable.metaGroupCount(spark, root, "id").get.toSet === real)
  }

  test("metaGroupCount: unknown null count refuses; the next commit backfills from footers") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(5, 5).coalesce(1), statsCols = Seq("id"))
    // simulate a legacy manifest written before null-count recording
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = new Path(s"$root/_txn/v0000000001.txt")
    val legacy = {
      val in = fs.open(m)
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, true)
      new String(out.toByteArray, StandardCharsets.UTF_8)
        .replaceAll("\tnulls:[^\t\n]+", "")
    }
    fs.delete(m, false)
    val o = fs.create(m, false)
    try o.write(legacy.getBytes(StandardCharsets.UTF_8)) finally o.close()
    assert(TxnTable.snapshot(spark, root, 1L).nullCounts.isEmpty)
    // a point range with UNKNOWN nulls might hide misattributed rows
    assert(TxnTable.metaGroupCount(spark, root, "id") === None)
    // any new commit backfills carried files' null counts via footers
    TxnTable.append(spark, root, df(7).coalesce(1))
    assert(TxnTable.metaGroupCount(spark, root, "id") ===
      Some(Seq(Some(5L) -> 2L, Some(7L) -> 1L)))
  }

  test("metaGroupCount: refuses on live MoR deletes and on count-less legacy files") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, df(5, 5).coalesce(1), statsCols = Seq("id"))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(5L).toDF("id"))
    assert(TxnTable.metaGroupCount(spark, root, "id") === None)
    TxnTable.compactDeletes(spark, root)
    assert(TxnTable.metaGroupCount(spark, root, "id").isDefined)
    // strip the rows: field -> legacy count-less file -> refuse
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TxnTable.latest(spark, root).get.version
    val m = new Path(f"$root/_txn/v$head%010d.txt")
    val legacy = {
      val in = fs.open(m)
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, true)
      new String(out.toByteArray, StandardCharsets.UTF_8)
        .replaceAll("\trows:\\d+", "")
    }
    fs.delete(m, false)
    val o = fs.create(m, false)
    try o.write(legacy.getBytes(StandardCharsets.UTF_8)) finally o.close()
    assert(TxnTable.metaGroupCount(spark, root, "id") === None)
  }

  test("metaGroupCount: zero-count staged files tolerated; emptied table certifies Some(Nil)") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    TxnTable.append(spark, root, df(3, 3).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(9).coalesce(1))
    // CoW-delete one whole value: its rewrite keeps no row and no part
    TxnTable.deleteWhere(spark, root, col("id") === 3L, Some((3L, 3L)))
    assert(TxnTable.metaGroupCount(spark, root, "id") ===
      Some(Seq(Some(9L) -> 1L)))
    TxnTable.deleteWhere(spark, root, col("id") === 9L, Some((9L, 9L)))
    assert(TxnTable.metaGroupCount(spark, root, "id") === Some(Nil))
  }

  test("metaGroupCount: transform-derived column needs no null record (null-free by fan-out)") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    // unsorted layout; the bucket fan-out still makes every file
    // single-valued in the DERIVED column
    val t = Seq(TxnTable.Transform.bucket(4, "id"))
    TxnTable.append(spark, root,
      (1L to 100L).toDF("id").repartition(3), statsCols = Seq("id"), transforms = t)
    val got = TxnTable.metaGroupCount(spark, root, "bucket4_id")
    assert(got.isDefined)
    val real = TxnTable.read(spark, root)
      .groupBy(pmod(xxhash64(col("id")), lit(4L)).as("b")).count()
      .collect().map(r => Option(r.getLong(0)) -> r.getLong(1)).toSet
    assert(got.get.toSet === real)
    assert(got.get.map(_._2).sum === 100L)
  }

  test("files metadata table surfaces the per-file row counts") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    val f = TxnMeta.files(spark, root).collect()
    assert(f.forall(r => r.getAs[Long]("rows") === 3L))
  }
}
