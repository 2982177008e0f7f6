package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Round-10 txn-format surface: hidden partitioning (manifest-recorded
  * transforms — layout-independent day/bucket pruning), lossless type
  * widening end-to-end (old INT32 files read up under the widened LONG
  * schema), per-file metadata preserved across a recorded-column-set
  * override, the re-keyed-delete boundary refusal in changesBetween,
  * and the two-writer conflict matrix (append × deleteKeysMor,
  * append × compactDeletes, deleteKeysMor × deleteKeysMor): no lost
  * rows, delete sets atomic, one commit each. */
class TxnPartitionEvolveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_pe_spec").toString + "/tbl"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** ids × days, ts = midnight UTC of epoch-day `day`, deliberately
    * shuffled so raw file layout interleaves the days. */
  private def dayDf(idsByDay: Seq[(Long, Seq[Int])]) = {
    val s = spark
    import s.implicits._
    val data = scala.util.Random.shuffle(
      for { (day, ids) <- idsByDay; id <- ids } yield (id, day))
    data.toDF("id", "day")
      .withColumn("ts", timestamp_seconds(col("day") * 86400L + col("id") % 7))
      .withColumn("v", col("id") * 10L)
      .drop("day")
      .repartition(4) // several interleaved input partitions per append
  }

  private def keptFor(snap: TxnTable.Snapshot, tname: String, d: Long): Seq[String] =
    snap.files.filter(f => snap.stats.get(f).flatMap(_.get(tname))
      .forall { case (lo, hi) => hi >= d && lo <= d })

  test("day transform: interleaved appends still prune to one day's files") {
    val root = freshRoot()
    val t = Seq(TxnTable.Transform.day("ts"))
    TxnTable.append(spark, root, dayDf(Seq(100L -> (1 to 40), 101L -> (41 to 80),
      102L -> (81 to 120))), transforms = t)
    // inherited spec: the second append does NOT repeat the transforms
    TxnTable.append(spark, root, dayDf(Seq(100L -> (200 to 230), 103L -> (231 to 260))))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.transforms === t)
    // every data file carries a single-valued day entry, from paths alone
    snap.files.foreach { f =>
      val e = snap.stats.get(f).flatMap(_.get("day_ts"))
      assert(e.nonEmpty, s"file $f has no day_ts entry")
      assert(e.get._1 === e.get._2, s"file $f spans days: ${e.get}")
    }
    // the hidden column stays hidden: reads have the declared schema only
    val full = TxnTable.read(spark, root)
    assert(full.columns.toSeq === Seq("id", "ts", "v"))
    // day-100 pruning keeps only day-100 files, across BOTH appends,
    // even though every append interleaved several days
    val kept = keptFor(snap, "day_ts", 100L)
    assert(kept.nonEmpty && kept.size < snap.files.size)
    assert(kept.forall(f => snap.stats(f)("day_ts") === (100L, 100L)))
    val pruned = TxnTable.readPruned(spark, root, "day_ts", 100L, 100L)
    assert(rows(pruned.filter(col("ts").cast("date") === lit("1970-04-11").cast("date")))
      === rows(pruned), "pruned read leaked other days")
    assert(pruned.count() === (40 + 31)) // ids 1..40 plus 200..230
    // CoW delete bounded on the transform column rewrites only that
    // day's files; everything else carries by reference
    val before = TxnTable.latest(spark, root).get
    val del = TxnTable.deleteWhereBounded(spark, root,
      col("ts").cast("date") === lit("1970-04-14").cast("date"), // day 103
      Seq(("day_ts", 103L, 103L)))
    val carried = before.files.toSet -- keptFor(before, "day_ts", 103L).toSet
    assert(carried.subsetOf(del.files.toSet), "bounded delete rewrote carried files")
    assert(rows(TxnTable.read(spark, root)) ===
      rows(TxnTable.readAsOf(spark, root, before.version)
        .filter(col("ts").cast("date") =!= lit("1970-04-14").cast("date"))))
  }

  test("bucket transform: equality probe keeps ~1/n of the files") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    val df = (1 to 400).toDF("id").withColumn("v", col("id") * 3L)
      .repartition(4)
    TxnTable.append(spark, root, df,
      transforms = Seq(TxnTable.Transform.bucket(8, "id")))
    val snap = TxnTable.latest(spark, root).get
    val probe = 137
    val b = spark.range(1).select(
      pmod(xxhash64(lit(probe)), lit(8L))).head.getLong(0)
    val kept = keptFor(snap, "bucket8_id", b)
    assert(kept.nonEmpty && kept.size <= snap.files.size / 4,
      s"bucket pruning kept ${kept.size} of ${snap.files.size}")
    val got = TxnTable.readPruned(spark, root, "bucket8_id", b, b)
      .filter(col("id") === probe)
    assert(rows(got) === Set(Seq(probe, probe * 3L)))
  }

  test("setTransforms retrofits an existing table; old files never skipped") {
    val root = freshRoot()
    TxnTable.append(spark, root, dayDf(Seq(100L -> (1 to 20), 101L -> (21 to 40))))
    val t = Seq(TxnTable.Transform.day("ts"))
    val set = TxnTable.setTransforms(spark, root, t)
    assert(set.op === "set-transforms" && set.transforms === t)
    TxnTable.append(spark, root, dayDf(Seq(100L -> (50 to 60), 102L -> (61 to 70))))
    val snap = TxnTable.latest(spark, root).get
    // pre-spec files: no entries -> always kept (sound); new files: pruned
    val preSpec = set.files.toSet
    assert(preSpec.forall(f => snap.stats.get(f).forall(!_.contains("day_ts"))))
    val kept = keptFor(snap, "day_ts", 102L).toSet
    assert(preSpec.subsetOf(kept), "a file without transform entries was skipped")
    assert((kept -- preSpec).nonEmpty && (snap.files.toSet -- kept).nonEmpty)
    // correctness unchanged: pruned read on day 102 sees all day-102 rows
    val got = TxnTable.readPruned(spark, root, "day_ts", 102L, 102L)
      .filter(col("ts").cast("date") === lit("1970-04-13").cast("date"))
    assert(got.count() === 10)
  }

  test("spec evolution under data: a re-bucketed table prunes EACH era " +
      "under its own fan-out (per-file spec identity)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def df(r: Range) = r.map(_.toLong).toDF("id")
      .withColumn("v", col("id") * 3L).repartition(2)
    // era 1: bucket(4, id); era 2: bucket(8, id) — files of both live
    TxnTable.append(spark, root, df(1 to 200),
      transforms = Seq(TxnTable.Transform.bucket(4, "id")))
    val era1 = TxnTable.latest(spark, root).get.files.toSet
    TxnTable.setTransforms(spark, root, Seq(TxnTable.Transform.bucket(8, "id")))
    TxnTable.append(spark, root, df(201 to 400))
    val snap = TxnTable.latest(spark, root).get
    val era2 = snap.files.toSet -- era1
    assert(era1.forall(f => snap.stats.get(f).exists(_.contains("bucket4_id"))))
    assert(era2.forall(f => snap.stats.get(f).exists(_.contains("bucket8_id"))))
    // a point probe prunes era-1 files by bucket4 AND era-2 by bucket8:
    // each era keeps ~1/n of its own files, no silent full-scan of the
    // pre-evolution region
    val probeOld = Seq(137L).toDF("id") // lives in era 1
    val gotOld = TxnTable.readSemiPruned(spark, root, "id", probeOld)
    assert(rows(gotOld) === Set(Seq(137L, 411L)))
    val oldKept = gotOld.inputFiles.length
    assert(oldKept < snap.files.size / 2,
      s"expected per-era pruning, planned $oldKept/${snap.files.size}")
    val probeNew = Seq(333L).toDF("id") // lives in era 2
    val gotNew = TxnTable.readSemiPruned(spark, root, "id", probeNew)
    assert(rows(gotNew) === Set(Seq(333L, 999L)))
    assert(gotNew.inputFiles.length < snap.files.size / 2)
    // both eras at once: union of each probe's candidate files, exact
    val both = TxnTable.readSemiPruned(spark, root, "id",
      Seq(137L, 333L).toDF("id"))
    assert(rows(both) === Set(Seq(137L, 411L), Seq(333L, 999L)))
  }

  test("widening a bucket-transform source refuses (the fan-out hash is " +
      "type-dependent)") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    TxnTable.append(spark, root,
      (1 to 50).toDF("id").withColumn("v", lit(1L)).repartition(1),
      transforms = Seq(TxnTable.Transform.bucket(4, "id")))
    val cur = TxnTable.latest(spark, root).get.schema.get
    val widened = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == "id") f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    val e = intercept[IllegalArgumentException] {
      TxnTable.alterTable(spark, root, newSchema = Some(widened)) }
    assert(e.getMessage.contains("bucket-transform source"))
    // widening a NON-source column still works
    val widenedV = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == "v") f.copy(dataType = org.apache.spark.sql.types.DoubleType)
      else f))
    intercept[IllegalArgumentException] { // double is not lossless from long
      TxnTable.alterTable(spark, root, newSchema = Some(widenedV)) }
  }

  test("type widening end-to-end: int files read up under the widened long schema") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    TxnTable.append(spark, root,
      Seq((1, 1.5f)).toDF("x", "y"))
    val wide = TxnTable.append(spark, root,
      Seq((5000000000L, 2.5)).toDF("x", "y"))
    import org.apache.spark.sql.types._
    assert(wide.schema.get.fields.map(_.dataType).toSeq
      === Seq(LongType, DoubleType))
    // both files read under the current (wide) schema — the INT32/FLOAT
    // file's values are promoted on read
    assert(rows(TxnTable.read(spark, root)) ===
      Set(Seq(1L, 1.5), Seq(5000000000L, 2.5)))
    // time travel keeps each version's shape
    val v1 = TxnTable.readAsOf(spark, root, 1)
    assert(v1.schema.fields.map(_.dataType).toSeq === Seq(IntegerType, FloatType))
    assert(rows(v1) === Set(Seq(1, 1.5f)))
    // narrowing refused
    val e = intercept[IllegalArgumentException] {
      TxnTable.append(spark, root, Seq((7, 1.0)).toDF("x", "y"))
    }
    assert(e.getMessage.contains("widening"))
    // incompatible change still refused
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, root, Seq(("a", 1.0)).toDF("x", "y"))
    }
  }

  test("explicit statsCols override keeps prior files' recorded metadata") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def mk(lo: Int, hi: Int) = (lo to hi).toDF("id")
      .withColumn("v", col("id") * 2L).withColumn("id", col("id").cast("long"))
    TxnTable.append(spark, root, mk(1, 100), statsCols = Seq("id"))
    val v1Files = TxnTable.latest(spark, root).get.files.toSet
    // explicit override to a different column set
    TxnTable.append(spark, root, mk(101, 200), statsCols = Seq("v"))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.statsCols === Seq("v"))
    // v1's files still carry their id entries through the new manifest
    assert(v1Files.forall(f => snap.stats.get(f).exists(_.contains("id"))),
      "override dropped prior files' recorded id stats")
    // and pruning on the old column still skips: id range [150,160] is
    // disjoint from every v1 file
    val kept = snap.files.filter(f => snap.stats.get(f).flatMap(_.get("id"))
      .forall { case (lo, hi) => hi >= 150L && lo <= 160L })
    assert(v1Files.intersect(kept.toSet).isEmpty,
      "prior files' id stats no longer prune")
  }

  test("changesBetween diffs across a compactDeletes boundary with a new delete key") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def base(lo: Int, hi: Int) = (lo to hi).toDF("id")
      .withColumn("id", col("id").cast("long")).withColumn("v", col("id") * 2L)
    TxnTable.append(spark, root, base(1, 50))
    TxnTable.deleteKeysMor(spark, root, "id", Seq(3L, 4L).toDF("id")) // v2
    TxnTable.compactDeletes(spark, root)                              // v3
    TxnTable.deleteKeysMor(spark, root, "v", Seq(10L).toDF("v"))      // v4
    // deletes are positions whatever key found them: one window spans
    // the boundary, and each side diffs the same way
    assert(TxnTable.changesBetween(spark, root, 2, 3).count() === 0) // compaction
    Seq(2, 3).foreach { v1 =>
      val feed = TxnTable.changesBetween(spark, root, v1, 4)
      assert(rows(feed.select(col("id"), col("_change_type"), col("_n")))
        === Set(Seq(5L, "delete", 1L)))
    }
  }

  // ---- two-writer conflict matrix --------------------------------------

  private def inParallel(a: () => Unit, b: () => Unit): Unit = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(a, b).map(f => new Thread(() => {
      start.await()
      try f() catch { case t: Throwable => errs.add(t) }
    }))
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join(120000))
    if (!errs.isEmpty) throw errs.peek()
  }

  test("race: append vs deleteKeysMor — one commit each, delete set atomic") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def mk(ids: Seq[Int]) = ids.toDF("id")
      .withColumn("id", col("id").cast("long")).withColumn("v", col("id") * 2L)
    TxnTable.append(spark, root, mk(1 to 50))
    inParallel(
      () => TxnTable.appendWithRetry(spark, root, mk(100 to 120)),
      () => TxnTable.deleteKeysMor(spark, root, "id",
        (3 to 7).map(_.toLong).toDF("id")))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.version === 3L, "exactly one commit per writer")
    val ops = (2L to 3L).map(TxnTable.snapshot(spark, root, _).op).toSet
    assert(ops === Set("append", "delete-mor"))
    // no lost rows, delete applied whole: a delete that lost the race
    // re-resolves its keys against the head it commits on
    val got = TxnTable.read(spark, root).select(col("id")).as[Long].collect().toSet
    assert(got === ((1 to 50) ++ (100 to 120)).map(_.toLong).toSet -- (3 to 7).map(_.toLong))
  }

  test("race: append vs compactDeletes — compaction recomputes, append survives") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def mk(ids: Seq[Int]) = ids.toDF("id")
      .withColumn("id", col("id").cast("long")).withColumn("v", col("id") * 2L)
    TxnTable.append(spark, root, mk(1 to 50))
    TxnTable.deleteKeysMor(spark, root, "id", (10 to 19).map(_.toLong).toDF("id"))
    inParallel(
      () => TxnTable.appendWithRetry(spark, root, mk(200 to 220)),
      () => TxnTable.compactDeletes(spark, root))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.version === 4L, "exactly one commit per writer")
    val ops = (3L to 4L).map(TxnTable.snapshot(spark, root, _).op).toSet
    assert(ops === Set("append", "compact-deletes"))
    // the stale-rewrite hazard: a compaction that lost the race must NOT
    // have dropped the racing append's rows
    val got = TxnTable.read(spark, root).select(col("id")).as[Long].collect().toSet
    assert(got === ((1 to 50) ++ (200 to 220)).map(_.toLong).toSet -- (10 to 19).map(_.toLong))
  }

  test("race: deleteKeysMor vs deleteKeysMor — both delete sets live") {
    val root = freshRoot()
    val s = spark
    import s.implicits._
    def mk(ids: Seq[Int]) = ids.toDF("id")
      .withColumn("id", col("id").cast("long")).withColumn("v", col("id") * 2L)
    TxnTable.append(spark, root, mk(1 to 50))
    inParallel(
      () => TxnTable.deleteKeysMor(spark, root, "id", Seq(5L, 6L).toDF("id")),
      () => TxnTable.deleteKeysMor(spark, root, "id", Seq(40L, 41L).toDF("id")))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.version === 3L, "exactly one commit per writer")
    assert((2L to 3L).forall(TxnTable.snapshot(spark, root, _).op == "delete-mor"))
    // the winner's delete files are carried into the loser's commit:
    // both sets live in the final snapshot
    assert(snap.deletes.toSet.size > TxnTable.snapshot(spark, root, 2).deletes.size)
    val got = TxnTable.read(spark, root).select(col("id")).as[Long].collect().toSet
    assert(got === (1 to 50).map(_.toLong).toSet -- Set(5L, 6L, 40L, 41L))
  }

  test("vacuum on a hidden-partitioned table keeps live fan-out files (regression)") {
    // transform fan-out nests parts under day_ts=<v>/ subdirs; a
    // one-level vacuum walk used to see no parquet at the staging-dir
    // top, judge the dir empty, and recursively delete LIVE data
    val root = freshRoot()
    val t = Seq(TxnTable.Transform.day("ts"))
    TxnTable.append(spark, root, dayDf(Seq(100L -> (1 to 40))), transforms = t)
    TxnTable.append(spark, root, dayDf(Seq(101L -> (41 to 80))))
    // compact rewrites (re-fanned-out) -> v1/v2's files become garbage
    // once those versions are dropped
    TxnTable.compactTxn(spark, root, targetFiles = 1)
    val expect = rows(TxnTable.read(spark, root))
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    // live fan-out files survived; the table still reads bit-identically
    assert(rows(TxnTable.read(spark, root)) === expect)
    // and the vacuum actually reclaimed the unreferenced pre-compact files
    val base = root.stripSuffix("/")
    val f = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = TxnTable.latest(spark, root).get.files.toSet
    val onDisk = {
      val it = f.listFiles(new org.apache.hadoop.fs.Path(s"$base/data"), true)
      val b = Set.newBuilder[String]
      val prefix = new org.apache.hadoop.fs.Path(s"$base/data").toUri.getPath
        .stripSuffix("/") + "/"
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += s"data/${st.getPath.toUri.getPath.stripPrefix(prefix)}"
      }
      b.result()
    }
    assert(onDisk === live, "vacuum must delete exactly the unreferenced files")
  }
}
