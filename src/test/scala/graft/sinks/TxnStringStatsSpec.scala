package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.Utf8Prefix64

/** Typed manifest bounds for STRING columns ([[graft.functions
  * .Utf8Prefix64]] + [[TxnTable.fileMeta]]'s routing): the encoding
  * laws that make the prefix bounds sound, the pruning surfaces that
  * consume them (readPruned / readPointLookup / readSemiPruned / the
  * DSv2 pushed-WHERE file index, incl. bucket transforms on string
  * sources), and the refuse-or-record contract that replaced the old
  * silent no-op (a string statsCol used to record NOTHING; an
  * unrepresentable type now refuses at commit; long-typed probes and
  * metadata aggregates refuse string columns rather than compare raw
  * longs against encodings). */
class TxnStringStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_str_stats").toString + "/tbl"

  // ---- encoding laws ----------------------------------------------------

  /** Spark's string order IS the binary comparison on UTF-8 bytes. */
  private def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  private val trickyCorpus: Seq[String] = Seq(
    "", "a", "A", "z", "aa", "ab", "a\u0000b", "abcdefgh", "abcdefghi",
    "abcdefgh￿", "née", "nöe", "日本語のテキスト", "日本", "￿",
    "￿￿￿￿￿￿￿￿ extension",
    "https://example.com/a", "https://example.com/b", "https://example.org",
    "en", "de", "zh", "src5", "src50", "🎉🎉🎉", "🎉 mixed ascii",
    "  leading spaces", "trailing  ", "Ünïcödé")

  test("encoding laws: monotone, lower <= value context <= upper, on a " +
      "tricky corpus and seeded random strings") {
    val rnd = new scala.util.Random(42)
    def randStr(): String = {
      val n = rnd.nextInt(20)
      (0 until n).map { _ =>
        rnd.nextInt(4) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => (rnd.nextInt(0xd7ff) + 1).toChar.toString // BMP incl. multi-byte
          case 2 => new String(Character.toChars(0x10000 + rnd.nextInt(0x1000)))
          case _ => if (rnd.nextBoolean()) "\u0000" else "￿"
        }
      }.mkString
    }
    val corpus = trickyCorpus ++ (1 to 2000).map(_ => randStr())
    corpus.foreach { s =>
      assert(Utf8Prefix64.lower(s) <= Utf8Prefix64.upper(s), s"lo<=hi for ${s.take(20)}")
    }
    // monotonicity in Spark's (UTF-8 byte) order — the property that
    // makes min(lower)/max(upper) per file equal lower(min)/upper(max)
    val pairs = (1 to 4000).map(_ => (corpus(rnd.nextInt(corpus.size)),
      corpus(rnd.nextInt(corpus.size))))
    pairs.foreach { case (a, b) =>
      val (lo, hi) = if (utf8Lt(a, b)) (a, b) else (b, a)
      assert(Utf8Prefix64.lower(lo) <= Utf8Prefix64.lower(hi),
        s"lower monotone: '${lo.take(12)}' vs '${hi.take(12)}'")
      assert(Utf8Prefix64.upper(lo) <= Utf8Prefix64.upper(hi),
        s"upper monotone: '${lo.take(12)}' vs '${hi.take(12)}'")
    }
    // file-bound soundness, the exact shape pruning relies on: for any
    // "file" (multiset) F and any member v:
    //   min(lower over F) <= lower(v)  and  upper(v) <= max(upper over F)
    (1 to 400).foreach { _ =>
      val file = (1 to 1 + rnd.nextInt(8)).map(_ => corpus(rnd.nextInt(corpus.size)))
      val fLo = file.map(Utf8Prefix64.lower(_: String)).min
      val fHi = file.map(Utf8Prefix64.upper(_: String)).max
      file.foreach { v =>
        assert(fLo <= Utf8Prefix64.lower(v) && Utf8Prefix64.upper(v) <= fHi)
      }
    }
    // prefix ceiling: every extension's lower encoding is <= the ceiling
    corpus.foreach { p =>
      val exts = Seq(p, p + "a", p + "￿", p + "zzzzzzzzzzzz")
      exts.foreach(e =>
        assert(Utf8Prefix64.lower(e) <= Utf8Prefix64.prefixCeil(p),
          s"prefixCeil bounds extensions of '${p.take(12)}'"))
    }
  }

  test("the SQL expression agrees with the driver-side encoders and " +
      "min/max aggregate to lower(min)/upper(max)") {
    val s = spark; import s.implicits._
    val df = trickyCorpus.toDF("s")
    val got = df.select(
      Utf8Prefix64.lowerCol(col("s")).as("lo"),
      Utf8Prefix64.upperCol(col("s")).as("hi"),
      col("s")).collect()
    got.foreach { r =>
      assert(r.getLong(0) === Utf8Prefix64.lower(r.getString(2)))
      assert(r.getLong(1) === Utf8Prefix64.upper(r.getString(2)))
    }
    val agg = df.agg(min(Utf8Prefix64.lowerCol(col("s"))),
      max(Utf8Prefix64.upperCol(col("s"))), min(col("s")), max(col("s"))).head
    assert(agg.getLong(0) === Utf8Prefix64.lower(agg.getString(2)))
    assert(agg.getLong(1) === Utf8Prefix64.upper(agg.getString(3)))
  }

  // ---- manifest recording + pruning surfaces ------------------------------

  /** lang-clustered 3-file table: a..i / j..r / s..z keys. */
  private def langTable(): (String, TxnTable.Snapshot) = {
    val root = freshRoot()
    val s = spark; import s.implicits._
    def slab(keys: Seq[String]) = keys.flatMap(k =>
      (1 to 10).map(i => (k, i.toLong))).toDF("lang", "v").repartition(1)
    TxnTable.append(spark, root, slab(Seq("ar", "de", "el")),
      statsCols = Seq("lang"), bloomCols = Seq("lang"))
    TxnTable.append(spark, root, slab(Seq("ja", "ko", "nl")))
    TxnTable.append(spark, root, slab(Seq("sv", "tr", "zh")))
    (root, TxnTable.latest(spark, root).get)
  }

  test("string statsCols RECORD (the old silent no-op) and readPruned " +
      "skips disjoint files") {
    val (root, snap) = langTable()
    assert(snap.files.size === 3)
    // every file carries a recorded lang range and a bloom
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("lang"))))
    assert(snap.files.forall(f => snap.blooms.get(f).exists(_.contains("lang"))))
    // range probe: only the middle file holds [ja, nl]
    val pruned = TxnTable.readPruned(spark, root, "lang", "ja", "nl")
    assert(pruned.inputFiles.length === 1)
    val full = TxnTable.read(spark, root)
      .filter(col("lang") >= "ja" && col("lang") <= "nl")
    assert(pruned.filter(col("lang") >= "ja" && col("lang") <= "nl")
      .collect().map(_.toSeq).toSet === full.collect().map(_.toSeq).toSet)
    // point lookup through the string bloom
    val hit = TxnTable.readPointLookup(spark, root, "lang", "ko")
    assert(hit.inputFiles.length < 3)
    assert(hit.filter(col("lang") === "ko").count() === 10L)
    // a value no file holds prunes everything (prefixes are distinct)
    assert(TxnTable.readPruned(spark, root, "lang", "qq", "qq").inputFiles.length === 0)
  }

  test("pruning never wrong-skips: random string files, random probes " +
      "(incl. shared 8-byte-plus prefixes and nulls)") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    // keys engineered to defeat 8 bytes of discrimination half the time
    val pool = (1 to 40).map(i => s"https://site$i.example/x") ++
      (1 to 40).map(i => f"k$i%02d") ++ Seq("", "￿￿￿￿￿￿￿￿￿Z")
    val fileSets = (1 to 6).map(_ =>
      (1 to 10).map(_ => pool(rnd.nextInt(pool.size))) ++
        (if (rnd.nextBoolean()) Seq(null) else Nil))
    fileSets.foreach { ks =>
      TxnTable.append(spark, root,
        ks.map(Option(_)).toDF("k").withColumn("v", lit(1L)).repartition(1),
        statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    val all = fileSets.flatten.filter(_ != null)
    // equality probes: every present value must come back complete
    (all.distinct ++ Seq("absent-key")).foreach { v =>
      val got = TxnTable.readPointLookup(spark, root, "k", v)
        .filter(col("k") === v).count()
      assert(got === all.count(_ == v).toLong, s"point '$v'")
      val gotR = TxnTable.readPruned(spark, root, "k", v, v)
        .filter(col("k") === v).count()
      assert(gotR === all.count(_ == v).toLong, s"range-point '$v'")
    }
    // random ranges in UTF-8 order
    (1 to 60).foreach { _ =>
      val a = pool(rnd.nextInt(pool.size)); val b = pool(rnd.nextInt(pool.size))
      val (lo, hi) = if (utf8Lt(a, b)) (a, b) else (b, a)
      val exact = TxnTable.read(spark, root)
        .filter(col("k") >= lo && col("k") <= hi).count()
      val viaPrune = TxnTable.readPruned(spark, root, "k", lo, hi)
        .filter(col("k") >= lo && col("k") <= hi).count()
      assert(viaPrune === exact, s"range ['$lo','$hi']")
    }
  }

  test("refuse-or-record: unrepresentable statsCol refuses at commit; " +
      "long probes and metadata aggregates refuse string columns") {
    val s = spark; import s.implicits._
    val root = freshRoot()
    val bad = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException] {
      TxnTable.append(spark, root, bad, statsCols = Seq("emb")) }
    assert(e.getMessage.contains("cannot represent"))
    val e2 = intercept[IllegalArgumentException] {
      TxnTable.append(spark, root, bad, bloomCols = Seq("emb")) }
    assert(e2.getMessage.contains("cannot represent"))

    val (root2, _) = langTable()
    intercept[IllegalArgumentException] {
      TxnTable.readPruned(spark, root2, "lang", 1L, 5L) }
    intercept[IllegalArgumentException] {
      TxnTable.readPointLookup(spark, root2, "lang", 42L) }
    intercept[IllegalArgumentException] {
      TxnTable.metaMinMax(spark, root2, "lang") }
    intercept[IllegalArgumentException] {
      TxnTable.deleteWhereBounded(spark, root2, col("lang") === "de",
        Seq(("lang", 1L, 5L))) }
    intercept[IllegalArgumentException] {
      TxnTable.compactWhere(spark, root2, 1, bounds = Seq(("lang", 1L, 5L))) }
    // and the string overloads refuse NON-string columns symmetrically
    intercept[IllegalArgumentException] {
      TxnTable.readPruned(spark, root2, "v", "a", "b") }
    intercept[IllegalArgumentException] {
      TxnTable.readPointLookup(spark, root2, "v", "a") }
  }

  test("readSemiPruned refuses STRING keys loudly (a long cast would " +
      "null every key into an empty result)") {
    val (root, _) = langTable()
    val s = spark; import s.implicits._
    val e = intercept[IllegalArgumentException] {
      TxnTable.readSemiPruned(spark, root, "lang", Seq("de", "zh").toDF("lang"))
    }
    assert(e.getMessage.contains("'lang' is a string"))
  }

  test("z-order accepts a STRING dimension: clustering + recorded " +
      "prefix bounds + pruning on the string dim") {
    val root = freshRoot()
    val s = spark; import s.implicits._
    val langs = Seq("ar", "de", "el", "en", "es", "fr", "ja", "ko")
    val df = langs.flatMap(l => (1L to 50L).map((l, _))).toDF("lang", "v")
      .repartition(4)
    TxnTable.append(spark, root, df)
    TxnTable.compactZOrderTxn(spark, root, targetFiles = 4,
      dims = Seq("lang", "v"))
    val snap = TxnTable.latest(spark, root).get
    assert(snap.op === "zorder")
    // the string dim joined the recorded stats columns and carries
    // per-file prefix bounds
    assert(snap.statsCols.contains("lang"))
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("lang"))))
    // content unchanged, and a string range probe prunes
    assert(TxnTable.read(spark, root).count() === 400L)
    val pruned = TxnTable.readPruned(spark, root, "lang", "ja", "ja")
    assert(pruned.inputFiles.length < snap.files.size)
    assert(pruned.filter(col("lang") === "ja").count() === 50L)
  }

  test("string bounds flow through rename (frozen physical identity) " +
      "and compaction re-clusters them") {
    val (root, _) = langTable()
    TxnTable.alterTable(spark, root, renames = Seq("lang" -> "language"))
    val pruned = TxnTable.readPruned(spark, root, "language", "ja", "nl")
    assert(pruned.inputFiles.length === 1)
    assert(pruned.columns.toSeq === Seq("language", "v"))
    // clustering compaction recomputes string bounds for the new layout
    TxnTable.compactTxn(spark, root, targetFiles = 3, sortCols = Seq("language"))
    val snap2 = TxnTable.latest(spark, root).get
    assert(snap2.files.forall(f => snap2.stats.get(f).exists(_.nonEmpty)))
    assert(TxnTable.readPruned(spark, root, "language", "ja", "nl")
      .filter(col("language").between("ja", "nl")).count() === 30L)
  }
}
