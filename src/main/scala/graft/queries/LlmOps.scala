package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** LLM-training-data pipeline operators over the `documents` /
  * `embeddings` testdata tables: exact dedup, text analysis, similarity
  * search, MinHash-LSH near-dedup.
  *
  * Cross-engine determinism strategy (everything here is hash-compared
  * against a DuckDB oracle):
  *  - hashes are `md5` hex STRINGS — byte-identical in Spark and DuckDB,
  *    and lexicographic min over hex strings is a valid uniform min-hash;
  *  - all float arithmetic is quantized to exact integers first
  *    ([[graft.Det]] philosophy): cosine similarity is computed from
  *    integer dot products, so the only floating ops are correctly-rounded
  *    IEEE sqrt/divide on identical inputs → bit-identical results.
  *
  * Scale notes are per-query; the design rule is: never all-pairs, never
  * collect — candidate generation is always a bucketed shuffle.
  */
object LlmOps extends graft.QueryModule {

  // ---------------------------------------------------------------------
  // q22: EXACT dedup — one row per distinct text, keeping the min doc_id.
  // Hash-groupBy on md5(text): partial agg map-side, one shuffle on the
  // 16-byte digest (not the full text — at 100 TB the shuffle moves
  // digests + ids, not documents). Same plan as
  // `GROUP BY md5 / ROW_NUMBER ... rn=1` but agg-form, so no sort.
  // ---------------------------------------------------------------------
  // q22Bench is the semantic plan; the trailing global orderBy exists only
  // for the oracle's ordered hash-compare (same split as Relational.q17).
  val q22Bench: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(md5($"text").as("text_md5"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }
  val q22: Q = (s, dir) => {
    import s.implicits._
    q22Bench(s, dir).orderBy($"keep_id")
  }
  val q22Sql: String =
    """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // q23: text analysis — per-language token counts + length stats.
  // Tokenize with a single split (documents are single-space separated;
  // the general form would split on \s+), aggregate exact integers; the
  // only double is a final sum/count division of exact longs (identical
  // IEEE division in both engines). Low-cardinality key -> tiny shuffle.
  // ---------------------------------------------------------------------
  val q23: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("n_tokens", size(split($"text", " ")))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("sum_tokens"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"),
        sum($"n_chars").as("sum_chars"),
        (sum($"n_chars") / count(lit(1))).as("avg_chars"))
      .orderBy($"lang")
  }
  val q23Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(MIN(len(string_split(text, ' '))) AS INT) AS min_tokens,
      |  CAST(MAX(len(string_split(text, ' '))) AS INT) AS max_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(n_chars) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS avg_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q24: similarity search — brute-force cosine top-k of `embeddings`
  // against a probe vector (vec_id 0), via array intrinsics (zip_with +
  // aggregate), no UDF. Embeddings are quantized to exact integer
  // micro-units so dot products and norms are exact longs; the final
  // sim = dot / (sqrt(na)*sqrt(nb)) is correctly-rounded IEEE ops on
  // identical integers -> bit-identical across engines.
  //
  // Scale: the probe is a broadcast 1-row join (no shuffle); top-k is
  // TakeOrderedAndProject (per-partition partial top-k, then a k-row
  // merge on the driver — no global sort). At 100 TB the upgrade path is
  // IVF/LSH bucketing to prune candidates, not a different topology.
  // ---------------------------------------------------------------------
  import graft.functions.GraftFunctions.dotLong

  private[queries] def quantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1000000)).cast("long"))
  // norm² = dot(e, e) via the codegen'd custom expression (LongArrayDot)
  // — the aggregate(...) lambda form is CodegenFallback/interpreted.
  private[queries] def sqNorm(c: Column): Column = dotLong(c, c)

  val q24: Q = (s, dir) => {
    import s.implicits._
    val quant = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e"))
    val probe = broadcast(quant.filter($"vec_id" === 0).select($"e".as("pe")))
    quant.filter($"vec_id" =!= 0)
      .crossJoin(probe)
      .withColumn("dot", dotLong($"e", $"pe"))
      .withColumn("sim",
        $"dot".cast("double") /
          (sqrt(sqNorm($"e").cast("double")) * sqrt(sqNorm($"pe").cast("double"))))
      .select($"vec_id", $"sim")
      .orderBy($"sim".desc, $"vec_id".asc)
      .limit(10)
  }
  val q24Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS e
      |  FROM embeddings),
      |probe AS (SELECT e AS pe FROM q WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, len(e)+1), i -> e[i] * pe[i])) AS DOUBLE)
      |      / (sqrt(CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT)::DOUBLE)
      |       * sqrt(CAST(list_sum(list_transform(pe, x -> x*x)) AS BIGINT)::DOUBLE)) AS sim
      |  FROM q, probe WHERE vec_id <> 0)
      |SELECT vec_id, sim FROM scored
      |ORDER BY sim DESC, vec_id ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q25: NEAR-dedup — MinHash LSH over word 3-gram shingles, banded
  // (4 bands x 2 rows = 8 min-hashes, Jaccard threshold ~(1/4)^(1/2)=0.5).
  // Candidate pairs come from a band-bucket groupBy — never an all-pairs
  // cross join: rows shuffle once on (band, key), and pairs are generated
  // inside each bucket, capped against skew.
  //
  // Hashing strategy (engine-portable AND codegen-resident):
  //  - the 8 min-hashes come from TWO md5 digests per shingle ("a:"/"b:"
  //    domains) sliced into 8-hex-char (32-bit) chunks — cryptographic
  //    digest chunks are independent uniform hashes, so this is 8 valid
  //    min-hash permutations for a quarter of the hash work;
  //  - shingles are EXPLODED to rows and the mins taken by a hash
  //    aggregate: Spark's higher-order lambdas (transform/aggregate/
  //    array_min) are CodegenFallback — interpreted per element — while
  //    explode + min(substring(md5)) stays inside WholeStageCodegen, and
  //    the map-side partial min collapses the exploded rows back to one
  //    per doc BEFORE any shuffle. At 100 TB the explode never
  //    materializes: it streams through the partial aggregate.
  //  - lexicographic min over fixed-width hex chunks == numeric min of
  //    the 32-bit values, identical in Spark and DuckDB.
  // ---------------------------------------------------------------------
  private[queries] val B = 4 // bands
  private[queries] val R = 2 // rows (hashes) per band

  /** Word 3-gram shingles of a token array (size >= 3 required) — the
    * codegen'd [[graft.functions.Shingles3]] expression (the transform/
    * element_at lambda composition it replaces is CodegenFallback,
    * interpreted per shingle in the corpus-wide hot loop). */
  private[graft] def shingles3(tk: Column): Column =
    graft.functions.Shingles3.shingles3(tk)

  /** (doc_id, sh) exploded shingle rows -> (doc_id, m0..m7) signatures
    * via codegen'd min(long) aggregates (see strategy note above —
    * min(string) would force a SortAggregate; long chunks keep the
    * aggregate hash-based with a primitive buffer). The two digests are
    * computed ONCE per row by the custom [[graft.functions.Md5Chunks]]
    * expression (thread-local MessageDigest, no hex round-trip) — chunk
    * values are bit-identical to conv(substring(md5_hex),16,10), so the
    * oracle SQL keeps the hex form. */
  private[graft] def minhashAgg(sh: DataFrame): DataFrame = {
    import graft.functions.Md5Chunks.md5Chunks
    val withH = sh
      .withColumn("ca", md5Chunks(concat(lit("a:"), col("sh"))))
      .withColumn("cb", md5Chunks(concat(lit("b:"), col("sh"))))
    val mins = (0 until B * R).map { h =>
      val src = if (h < B) "ca" else "cb"
      min(element_at(col(src), h % B + 1)).as(s"m$h")
    }
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** DuckDB mirror of [[chunkHash]] applied to a shingle list `sExpr`,
    * aggregated to the h-th min-hash ('0x…'::BIGINT == Spark conv base
    * 16 → 10). */
  private[queries] def sqlMinhash(h: Int, sExpr: String): String = {
    val dom = if (h < B) "a" else "b"
    s"list_aggregate(list_transform($sExpr, x -> " +
      s"CAST('0x' || substring(md5('$dom:' || x), ${(h % B) * 8 + 1}, 8) AS BIGINT))," +
      s" 'min') AS m$h"
  }

  /** (doc_id, band, key) rows: one banded-signature row per doc per band.
    * Shared by q25 (candidates only) and q30 (candidates + verify). */
  private[graft] def bandRows(mh: DataFrame): DataFrame = {
    val bandStructs = (0 until B).map(b =>
      struct(lit(b).as("band"),
        concat(col(s"m${b * R}"), lit("|"), col(s"m${b * R + 1}")).as("key")))
    mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Pathological-skew guard for bucketed pair generation: a bucket of n
    * near-identical docs emits O(n²) pairs; capping at `BucketCap` ids
    * bounds any single bucket's contribution to C(cap,2) pairs. The cap
    * keeps the `cap` SMALLEST doc_ids (ids are sorted first, so the cut is
    * deterministic and the canonical keep-min-id representative always
    * survives). The cap IS the operator's contract, and the oracle
    * encodes it (`bcap` in [[candCtes]]/q30: keep the cap smallest ids
    * per bucket — provably identical to the two-phase salted cap) — the
    * sf10 scale step surfaced exactly one 1400-id bucket where the
    * previously-uncapped oracle diverged by the capped-out pairs. At
    * 100 TB a capped-out bucket means thousands of near-identical
    * copies — the retained pairs still link every kept doc. */
  private[queries] val BucketCap = 1000

  /** Salt shards for the two-phase capped collect: a hot bucket's id
    * list is first capped PER SHARD (deterministic salt = doc_id mod
    * shards), so no single task ever gathers more than shards × cap ids
    * — collect_list's partial aggregation alone would still merge the
    * full hot-bucket list in one reducer. */
  private[queries] val SaltShards = 16

  /** Candidate pairs from banded rows: pairs expand only within a
    * bucket (never a global all-pairs join), bucket contribution capped
    * at `cap` ids. The cap is applied in two salted phases with
    * identical semantics to a global cap (each of the `cap` globally
    * smallest ids is among its own shard's `cap` smallest, so the
    * shard-capped union always contains the global answer):
    *   1. shuffle on (band, key, salt): per-shard sorted ids, capped;
    *   2. shuffle on (band, key): merge ≤ shards×cap ids, cap again.
    * Phase 1 carries the full row volume (same bytes as an unsalted
    * shuffle); phase 2 moves only capped lists. Sorted ids =>
    * doc_a < doc_b by construction. */
  private[graft] def bucketPairs(bands: DataFrame, cap: Int = BucketCap): DataFrame =
    bands
      .groupBy(col("band"), col("key"),
        pmod(col("doc_id"), lit(SaltShards)).as("_salt"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, cap).as("shard_ids"))
      .groupBy(col("band"), col("key"))
      .agg(slice(sort_array(flatten(collect_list(col("shard_ids")))), 1, cap).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** The LSH pipeline's shared signature artifact, built and persisted
    * ONCE per (session, sfDir): per-doc distinct shingle sets and their
    * 8 min-hashes. This is the checkpoint a real near-dedup pipeline
    * shares between candidate generation (q25) and verification (q30)
    * — compute signatures once, every stage reads them. Min-hash over the
    * DISTINCT shingle set equals min-hash over the raw multiset (min is
    * duplicate-insensitive), so one artifact serves both the signature
    * and the exact-Jaccard stages. MEMORY_AND_DISK: spills, never
    * recomputes. Invalidation: the artifact-cache contract at
    * [[graft.SourceStamp]]. */
  private val sigCache = new graft.StampCache[(DataFrame, DataFrame)]({
    case (a, b) => a.unpersist(); b.unpersist(): Unit
  })

  /** (shingle sets, minhash signatures) for the documents table. */
  private[graft] def signatures(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sigCache(s, dir, graft.SourceStamp.table(s, dir, "documents")) {
      import s.implicits._
      val sig = t(s, dir, "documents")
        .withColumn("tk", split($"text", " "))
        .filter(size($"tk") >= 3)
        .select($"doc_id", array_distinct(shingles3($"tk")).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mh = minhashAgg(sig.select($"doc_id", explode($"s").as("sh")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (sig, mh)
    }

  val q25: Q = (s, dir) => {
    import s.implicits._
    bucketPairs(bandRows(signatures(s, dir)._2))
      .orderBy($"doc_a", $"doc_b")
  }
  /** The shared WITH-body producing `cand(doc_a, doc_b)` — the LSH
    * candidate pairs — used by q25's oracle and re-used by downstream
    * oracles that consume the candidate graph (q60's clusters). */
  private[queries] val candCtes: String =
    s"""toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id,
      |  [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)] AS s FROM toks),
      |mh AS (SELECT doc_id,
      |  ${(0 until B * R).map(h => sqlMinhash(h, "s")).mkString(",\n  ")}
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, 0 AS band, m0 || '|' || m1 AS key FROM mh UNION ALL
      |  SELECT doc_id, 1, m2 || '|' || m3 FROM mh UNION ALL
      |  SELECT doc_id, 2, m4 || '|' || m5 FROM mh UNION ALL
      |  SELECT doc_id, 3, m6 || '|' || m7 FROM mh),
      |bcap AS (
      |  SELECT doc_id, band, key FROM (
      |    SELECT doc_id, band, key,
      |      row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
      |    FROM bands) WHERE rn <= $BucketCap),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bcap a JOIN bcap b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  val q25Sql: String =
    s"""WITH $candCtes
      |SELECT doc_a, doc_b FROM cand
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // q31: ANN, the scale path — sign-LSH (4 random hyperplanes) buckets
  // the embeddings, then exact cosine only within the PROBED buckets.
  // The "random" hyperplanes are deterministic ±1 vectors derived from
  // md5("p:j") (engine-portable, like the minhash) — but derived ON THE
  // DRIVER, once, and embedded as array literals: the per-row path is
  // pure codegen'd long math over constants, zero hashing per row. The
  // oracle SQL keeps the md5 derivation inline; the values are identical
  // by construction.
  //
  // MULTI-PROBE: a near-boundary vector lands one sign flip away from
  // the probe's bucket, so single-bucket probing silently loses it. The
  // probe therefore expands to its primary bucket PLUS all `Planes`
  // buckets at Hamming distance 1 (bucket XOR each one-plane mask) —
  // 5 of 16 buckets here, recovering most boundary misses while still
  // scanning a fixed fraction of the corpus. At 100 TB: buckets are the
  // shuffle/partition key; the probe set is a tiny broadcast (1+Planes
  // rows), so widening the probe never widens the shuffle. Recall vs
  // brute-force q24 is pinned by LshRecallSpec (multi-probe ⊇
  // single-probe candidates by construction).
  // ---------------------------------------------------------------------
  private val Planes = 4      // q31 ANN: recall-biased (16 buckets)
  private val PlanesDedup = 6 // q36 near-dedup: pair-count-biased (64 buckets)

  /** Embedding width, read ONCE per (session, dataset, stamp) from the
    * embeddings table's schema-bearing first row — plane literals are
    * generated for exactly this width, so sign-LSH is dimension-generic
    * like its oracle SQL (which derives bounds from len(e)). The peek is
    * planning metadata (one row, one column), the same class of
    * driver-side lookup as the IVF centroids; stamp-keyed (the
    * artifact-cache contract at [[graft.SourceStamp]]) so a regenerated
    * dataset re-derives it. */
  private val dimCache = new graft.StampCache[Int]()

  private[queries] def dimOf(s: SparkSession, dir: String): Int =
    dimCache(s, dir, graft.SourceStamp.table(s, dir, "embeddings")) {
      t(s, dir, "embeddings").select(size(col("embedding"))).head().getInt(0)
    }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** plane_p[j] = +1 iff first hex char of md5("p:j") >= '8' — the same
    * uniform coin the oracle SQL derives per row; folded here to a
    * constant so Catalyst sees only a literal array. */
  private def planeSigns(p: Int, dim: Int): Seq[Long] =
    (0 until dim).map(j => if (md5Hex(s"$p:$j").charAt(0) >= '8') 1L else -1L)

  /** dot(e, plane_p) over the precomputed ±1 literal — the codegen'd
    * custom expression; a width-mismatched embedding yields NULL (loud),
    * see [[graft.functions.LongArrayDot]]. */
  private def planeDot(e: Column, p: Int, dim: Int): Column =
    dotLong(e, typedLit(planeSigns(p, dim)))

  private def lshBucket(e: Column, planes: Int, dim: Int): Column =
    (0 until planes).map(p => when(planeDot(e, p, dim) > 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)

  private def cosine(a: Column, b: Column): Column =
    dotLong(a, b).cast("double") /
      (sqrt(sqNorm(a).cast("double")) * sqrt(sqNorm(b).cast("double")))

  /** DuckDB fragments mirroring the Spark LSH expressions (md5 derivation
    * inline — same values as the Scala-side literals by construction).
    * Dimension-generic like q24's SQL: bounds derive from len(e), so a
    * width other than [[Dim]] diverges loudly on the Spark side (NULL via
    * LongArrayDot) instead of silently on the oracle side. */
  private def sqlPlaneDot(e: String, p: Int): String =
    s"list_sum(list_transform(range(1,len($e)+1), j -> $e[j] * " +
      s"(CASE WHEN substring(md5('$p:' || (j-1)),1,1) >= '8' THEN 1 ELSE -1 END)))"
  private def sqlBucket(e: String, planes: Int): String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${sqlPlaneDot(e, p)} > 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ")
  private def sqlCos(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1,len($a)+1), j -> $a[j]*$b[j])) AS DOUBLE)" +
      s" / (sqrt(CAST(list_sum(list_transform($a, x->x*x)) AS BIGINT)::DOUBLE)" +
      s" * sqrt(CAST(list_sum(list_transform($b, x->x*x)) AS BIGINT)::DOUBLE))"

  /** One-plane flip masks for multi-probe (plus 0 = the primary bucket). */
  private def probeFlips(multiProbe: Boolean): Seq[Int] =
    if (multiProbe) 0 +: (0 until Planes).map(1 << _) else Seq(0)

  /** Sign-LSH ANN, parameterized on the probe width so LshRecallSpec can
    * compare single- vs multi-probe recall against brute-force q24. */
  private[queries] def lshAnn(s: SparkSession, dir: String, multiProbe: Boolean): DataFrame = {
    import s.implicits._
    val bk = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e"))
      .withColumn("bucket", lshBucket($"e", Planes, dimOf(s, dir)))
    // probe rows: (pe, primary XOR flip) — a (1+Planes)-row broadcast;
    // buckets are distinct, each vector has one bucket => no dup matches
    val probe = broadcast(bk.filter($"vec_id" === 0)
      .select($"e".as("pe"), $"bucket",
        explode(typedLit(probeFlips(multiProbe))).as("flip"))
      .select($"pe", $"bucket".bitwiseXOR($"flip").as("pb")))
    bk.filter($"vec_id" =!= 0)
      .join(probe, $"bucket" === $"pb")
      .select($"vec_id", cosine($"e", $"pe").as("sim"))
      .orderBy($"sim".desc, $"vec_id".asc)
      .limit(5)
  }

  val q31: Q = (s, dir) => lshAnn(s, dir, multiProbe = true)
  val q31Sql: String = {
    val flipRows = probeFlips(multiProbe = true).map(f => s"($f)").mkString(", ")
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS e
       |  FROM embeddings),
       |bk AS (SELECT vec_id, e, ${sqlBucket("e", Planes)} AS bucket FROM q),
       |probe AS (SELECT e AS pe, bucket AS pb0 FROM bk WHERE vec_id = 0),
       |probes AS (SELECT pe, xor(pb0, f.flip) AS pb
       |           FROM probe, (VALUES $flipRows) AS f(flip))
       |SELECT vec_id, ${sqlCos("e", "pe")} AS sim
       |FROM bk, probes WHERE bucket = pb AND vec_id <> 0
       |ORDER BY sim DESC, vec_id ASC
       |LIMIT 5""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q36: embedding-cosine near-dedup — all pairs WITHIN an LSH bucket
  // (never the global cross join), exact quantized cosine on the
  // candidates, global top-20. 6 planes = 64 buckets: in-bucket pair
  // count is (N/64)² per bucket — the plane count is the knob that keeps
  // the quadratic step sub-linear in corpus growth (vs q31's 4 planes,
  // which biases recall for point lookups instead). The same bucket key
  // is the shuffle key at scale.
  // ---------------------------------------------------------------------
  val q36: Q = (s, dir) => {
    import s.implicits._
    // duplicated-side planning kept DELIBERATELY — same topology and
    // same measured verdict as q74 (see the note there): an eager
    // checkpoint of `bk` regressed the 100x in-bucket join and was
    // reverted in r16 session 2
    val bk = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e"))
      .withColumn("bucket", lshBucket($"e", PlanesDedup, dimOf(s, dir)))
    val a = bk.select($"vec_id".as("vec_a"), $"e".as("ea"), $"bucket")
    val b = bk.select($"vec_id".as("vec_b"), $"e".as("eb"), $"bucket".as("bucket_b"))
    a.join(b, $"bucket" === $"bucket_b" && $"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", cosine($"ea", $"eb").as("sim"))
      .orderBy($"sim".desc, $"vec_a", $"vec_b")
      .limit(20)
  }
  val q36Sql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS e
       |  FROM embeddings),
       |bk AS (SELECT vec_id, e, ${sqlBucket("e", PlanesDedup)} AS bucket FROM q)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${sqlCos("a.e", "b.e")} AS sim
       |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |ORDER BY sim DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q74: k-NN JOIN — for EVERY vector, its top-k nearest neighbors among
  // its LSH-bucket candidates: the neighborhood-graph construction step
  // (dedup clustering seeds, label propagation, diversity sampling, HNSW
  // bootstrap all start from this graph). Distinct from the point
  // lookups (q31/q46: one probe) and the pair list (q36: global top
  // pairs): the output here is per-source bounded.
  //
  // Scale shape: candidates expand only WITHIN a bucket (the q36
  // topology), and the per-vector top-k is the bounded TopKByScore
  // aggregate — in-bucket pairs arrive source-contiguous from the join,
  // so the partial buffer collapses each vector to ≤ k entries map-side
  // before the final shuffle. Vectors alone in their bucket have no
  // candidates and emit nothing (widen with multi-probe if completeness
  // matters — same knob as q31).
  // ---------------------------------------------------------------------
  private val KnnK = 2

  val q74Bench: Q = (s, dir) => {
    import s.implicits._
    // The self-join's aliased sides each re-plan the scan + quantize +
    // lshBucket (2 FileScans; no AQE stage reuse) — and that is the
    // MEASURED-faster shape. An eager localCheckpoint of `bk` (the q108
    // build-once pattern) was tried in r16 session 2 and REVERTED:
    // interleaved matched-calibration A/B at 100x read old 53.5/52.6 s
    // stable vs new 74/86 s with 45–202 s spread — holding the
    // deserialized 64-long vectors in the block manager (~61 GB heap
    // peak in the diag run) destabilizes the join stage, while the
    // duplicated input stages it saves run concurrently and cost
    // little. Build-once pays when the REBUILT work is the bottleneck
    // (q106/q107/q117/q91); here the 625M-pair cosine join is.
    val bk = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e"))
      .withColumn("bucket", lshBucket($"e", PlanesDedup, dimOf(s, dir)))
    val a = bk.select($"vec_id".as("va"), $"e".as("ea"), $"bucket")
    val b = bk.select($"vec_id".as("vb"), $"e".as("eb"), $"bucket".as("bucket_b"))
    a.join(b, $"bucket" === $"bucket_b" && $"va" =!= $"vb")
      .select($"va", $"vb", cosine($"ea", $"eb").as("sim"))
      .groupBy($"va")
      .agg(graft.functions.TopKByScore.topKByScore($"sim", $"vb", KnnK).as("top"))
      .select($"va".as("vec_id"), posexplode($"top"))
      .select($"vec_id", ($"pos" + 1).cast("int").as("rnk"),
        $"col.id".as("nbr_id"), $"col.score".as("sim"))
  }
  val q74: Q = (s, dir) => {
    import s.implicits._
    q74Bench(s, dir).orderBy($"vec_id", $"rnk")
  }
  val q74Sql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS e
       |  FROM embeddings),
       |bk AS (SELECT vec_id, e, ${sqlBucket("e", PlanesDedup)} AS bucket FROM q),
       |nb AS (SELECT a.vec_id AS va, b.vec_id AS vb, ${sqlCos("a.e", "b.e")} AS sim
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT va, vb, sim,
       |    ROW_NUMBER() OVER (PARTITION BY va ORDER BY sim DESC, vb ASC) AS rnk
       |  FROM nb)
       |SELECT va AS vec_id, CAST(rnk AS INT) AS rnk, vb AS nbr_id, sim
       |FROM r WHERE rnk <= $KnnK
       |ORDER BY vec_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // q46: ANN, the IVF (inverted-file) family — the other classic scale
  // path beside sign-LSH (q31). Cell centroids are TRAINED with the q110
  // fixed-point kmeans (KmIters Lloyd rounds from the first-K seeds —
  // trained cells measurably beat naive first-K seeding at equal nProbe,
  // IvfRecallSpec); vectors are assigned to their argmin-‖e−c‖² cell
  // (the trainer's own criterion, ties to the smaller cell id); a query
  // probes only the nProbe cells nearest ITS probe vector under the SAME
  // L2 key, paying exact cosine on that fraction of the corpus — the
  // standard IVF-flat split: L2 cell geometry, exact re-rank.
  //
  // The training + assignment is an INDEX, not a query step:
  // [[ensureIvfIndex]] trains once and builds (vec_id, e, cell) ONCE per
  // dataset — per round one broadcast N×K pass through the codegen'd dot
  // + one K·dim-partial shuffle — and persists it as a parquet table
  // PARTITIONED BY cell (the same build-once contract as the bucketed
  // layouts, [[graft.SourceStamp.ensure]]), with the trained centroids in a K-row
  // companion table. A query then (a) ranks the resident centroids
  // against its probe on the driver — the planning step every IVF
  // implementation runs — and (b) scans ONLY the planned cell partitions
  // (static partition pruning, plan-asserted in PlanAuditSpec). At
  // 100 TB: nProbe/K is the scan-cost knob, and the index amortizes
  // training + assignment across every query instead of re-paying it
  // per probe.
  // ---------------------------------------------------------------------
  // IVF/kmeans knobs: session confs with these defaults — nProbe is the
  // per-query recall/cost dial (see IvfRecallSpec's measured curve), K
  // and the Lloyd rounds are BUILD knobs (they bake into the persisted
  // index at ensureIvfIndex time; serving adapts to whatever K the
  // companion centroid table holds). The STATIC oracle SQL (q46/q58/
  // q110/q118) pins the defaults — the driver's gate runs there; a
  // production session re-tunes via conf and owns the divergence from
  // the test oracle, exactly like any index parameter.
  private val IvfKDefault = 8
  private val IvfProbeDefault = 2
  private val KmItersDefault = 3

  private def confPosInt(s: SparkSession, key: String, dflt: Int): Int = {
    val v = s.conf.getOption(key).map(_.trim.toInt).getOrElse(dflt)
    require(v >= 1, s"$key must be >= 1, got $v")
    v
  }
  private[queries] def ivfK(s: SparkSession): Int =
    confPosInt(s, "graft.ivf.k", IvfKDefault)
  private[queries] def ivfProbe(s: SparkSession): Int =
    confPosInt(s, "graft.ivf.nprobe", IvfProbeDefault)
  private[queries] def kmIters(s: SparkSession): Int =
    confPosInt(s, "graft.kmeans.iters", KmItersDefault)

  private val IvfDb = "graft_ivf"
  // the kmeans trainer's knobs (q110) — shared with the IVF build, which
  // trains its cells with the same fixed-point rounds (KmK aliases IvfK:
  // one K, one set of trained centroids, one oracle CTE chain)
  private val KmK = IvfKDefault
  private val KmIters = KmItersDefault
  private val KmOff = 1000000000L

  private def tagDir(dir: String): String = graft.Tables.dirTag(dir)

  private def ivfTable(dir: String): String = s"$IvfDb.emb_${tagDir(dir)}"
  private def ivfCentsTable(dir: String): String = s"$IvfDb.cents_${tagDir(dir)}"

  /** Index validity stamp: the SOURCE listing plus the BUILD knobs — a
    * changed K or Lloyd-round count is a retrain request, and an index
    * built under different knobs must not be served as current (found
    * by the K=256 scale measurement: without the knob line, raising
    * graft.ivf.k silently reused the K=8 index). */
  private def ivfStamp(s: SparkSession, dir: String): String =
    graft.SourceStamp.table(s, dir, "embeddings") +
      s"\n#build:k=${ivfK(s)}:iters=${kmIters(s)}"

  /** The index table's directory: the artifact [[ensureIvfIndex]]
    * stamps and builds under its lock. */
  private def ivfLoc(s: SparkSession, dir: String): String =
    s.conf.get("spark.sql.warehouse.dir") + s"/$IvfDb.db/emb_${tagDir(dir)}"

  /** Idempotent one-time IVF index for (sfDir): centroids TRAINED with
    * the q110 fixed-point kmeans (measurably better cells than naive
    * first-K seeding — IvfRecallSpec), every embedding row tagged with
    * its argmin-‖e−c‖² cell (the trainer's own assignment criterion),
    * written partitioned by cell, plus a K-row companion table holding
    * the trained centroids (the resident half of the index — serving
    * reads it instead of retraining). Final candidate scoring stays
    * exact cosine; only the cell geometry is L2, the standard IVF-flat
    * split. Orphaned warehouse locations (ours by construction) are
    * removed before re-creating. */
  def ensureIvfIndex(s: SparkSession, dir: String): String = {
    import s.implicits._
    s.sql(s"CREATE DATABASE IF NOT EXISTS $IvfDb")
    val table = ivfTable(dir)
    val centsTable = ivfCentsTable(dir)
    val loc = new org.apache.hadoop.fs.Path(ivfLoc(s, dir))
    val centsLoc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + s"/$IvfDb.db/cents_${tagDir(dir)}")
    // index validity keyed on the SOURCE listing + build knobs
    // ([[ivfStamp]]): a regenerated embeddings table OR a re-tuned
    // K/iters forces an index rebuild; the catalog entries are per JVM
    graft.SourceStamp.ensure(s, ivfLoc(s, dir), ivfStamp(s, dir),
        valid = s.catalog.tableExists(table) && s.catalog.tableExists(centsTable)) {
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      for ((tbl, l) <- Seq((table, loc), (centsTable, centsLoc))) {
        if (s.catalog.tableExists(tbl)) s.sql(s"DROP TABLE $tbl")
        if (fs.exists(l)) fs.delete(l, true)
      }
      // one materialization shared by the trainer's rounds AND the
      // cell-assignment write (see [[trainOn]])
      val quant = t(s, dir, "embeddings")
        .select($"vec_id", quantize($"embedding").as("e"))
        .localCheckpoint(true)
      val cents = trainOn(quant, ivfK(s), kmIters(s))
      kmAssign(quant, cents)
        .select($"vec_id", $"e", $"m.c".cast("int").as("cell"))
        .write.mode("overwrite").format("parquet")
        .partitionBy("cell").saveAsTable(table)
      cents.map { case (cid, ce) => (cid, ce.toSeq) }
        .toDF("c_id", "ce")
        .write.mode("overwrite").format("parquet").saveAsTable(centsTable)
      // an in-session RETRAIN (knob change) recreates the same-named
      // tables: drop Spark's cached file listing or a prior reader's
      // plan serves the deleted files (surfaced by the second-K spec)
      s.catalog.refreshTable(table)
      s.catalog.refreshTable(centsTable)
    }
    table
  }

  /** Driver-held centroid metadata, collected ONCE per (session, dir) —
    * K quantized vectors, the in-memory half of the IVF index (every
    * real IVF implementation keeps centroids resident; ranking K
    * centroids against a probe is query PLANNING, not a cluster job). */
  private val centroidCache = new graft.StampCache[Array[(Int, Array[Long])]]()

  private[graft] def ivfCentroids(s: SparkSession, dir: String): Array[(Int, Array[Long])] = {
    // knob-aware stamp: an in-session K change must not serve the prior
    // build's cached centroids
    val st = ivfStamp(s, dir)
    ensureIvfIndex(s, dir)
    centroidCache(s, dir, st) {
      s.table(ivfCentsTable(dir)).collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
    }
  }

  /** The planning key on the driver: ‖c‖² − 2·p·c, the same integer
    * argmin-L2 criterion [[kmAssign]] uses for cell assignment — probe
    * planning and corpus assignment share one geometry, and the exact
    * long arithmetic is bit-identical to the oracle's (components are
    * ~1e6-scale, 64 dims: no overflow). */
  private def l2KeyLocal(c: Array[Long], p: Array[Long]): Long = {
    var c2 = 0L; var dot = 0L; var i = 0
    while (i < c.length) { c2 += c(i) * c(i); dot += p(i) * c(i); i += 1 }
    c2 - 2L * dot
  }

  /** The IVF search API: top-k neighbors of a caller-supplied quantized
    * probe vector. Planning is driver-side (rank the resident centroids,
    * keep the nProbe nearest cells — this is how every IVF serves: the
    * query vector is an API parameter, not a corpus lookup); execution is
    * ONE cluster job — the literal cell list becomes STATIC partition
    * pruning on the index scan, and the probe rides along as a literal,
    * so the per-query scan touches nProbe partitions, never the corpus. */
  def ivfSearch(s: SparkSession, dir: String, probeVec: Array[Long],
                k: Int, excludeId: Long = -1L): DataFrame = {
    import s.implicits._
    val idx = s.table(ensureIvfIndex(s, dir))
    val probeCells: Seq[Int] = ivfCentroids(s, dir)
      .map { case (cId, ce) => (cId, l2KeyLocal(ce, probeVec)) }
      .sortBy { case (cId, k2) => (k2, cId) }
      .take(ivfProbe(s)).map(_._1).toSeq
    idx.filter($"vec_id" =!= excludeId && $"cell".isin(probeCells: _*))
      .select($"vec_id", cosine($"e", typedLit(probeVec.toSeq)).as("sim"))
      .orderBy($"sim".desc, $"vec_id".asc)
      .limit(k)
  }

  /** Probe vectors fetched from the corpus for the self-referential
    * bench/oracle setup (probe = vec_id 0) — cached per (session, dir)
    * beside the centroids: in a real deployment the probe arrives as an
    * API argument and this lookup does not exist. */
  private val probeCache = new graft.StampCache[Array[Long]]()

  private def corpusProbe(s: SparkSession, dir: String): Array[Long] =
    probeCache(s, dir, graft.SourceStamp.table(s, dir, "embeddings")) {
      import s.implicits._
      t(s, dir, "embeddings")
        .select(quantize($"embedding").as("e"))
        .filter($"vec_id" === 0)
        .head().getSeq[Long](0).toArray
    }

  /** Shared oracle CTE chain: quantized corpus `q`, first-K seeds `c0`,
    * KmIters fixed-point Lloyd rounds (text-identical to q110's, so the
    * cross-engine fixed point is proven once), trained centroids exposed
    * as `cents(c_id, ce)` — the SQL twin of [[trainOn]] as the
    * IVF build runs it. */
  private def kmCentsSqlCtes: String = {
    val dot = "list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * c[i]))"
    val c2 = "list_sum(list_transform(c, x -> x * x))"
    val rounds = (1 to KmIters).map { r =>
      s"""a$r AS (
         |  SELECT q.vec_id, min({'k': $c2 - 2 * $dot, 'c': cid}) AS m
         |  FROM q, c${r - 1} GROUP BY q.vec_id),
         |x$r AS (
         |  SELECT a.m.c AS cl, unnest(generate_series(1, len(q.e))) AS dim, q.e
         |  FROM a$r a JOIN q USING (vec_id)),
         |c$r AS (
         |  SELECT cl AS cid, list(v ORDER BY dim) AS c FROM (
         |    SELECT cl, dim,
         |      (SUM(e[dim]) + $KmOff * COUNT(*)) // COUNT(*) - $KmOff AS v
         |    FROM x$r GROUP BY cl, dim)
         |  GROUP BY cl)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(round(x * 1000000) AS BIGINT)) AS e
       |  FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS c
       |       FROM q WHERE vec_id < $KmK),
       |$rounds,
       |cents AS (SELECT cid AS c_id, c AS ce FROM c$KmIters)""".stripMargin
  }

  // the assignment + planning keys over cents(c_id, ce): argmin-L2
  // struct-min, exactly kmAssign's key
  private def sqlDotCe = "list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * ce[i]))"
  private def sqlDotCePe = "list_sum(list_transform(range(1, len(pe) + 1), i -> pe[i] * ce[i]))"
  private def sqlC2Ce = "list_sum(list_transform(ce, x -> x * x))"

  val q46: Q = (s, dir) => ivfSearch(s, dir, corpusProbe(s, dir), 5, excludeId = 0L)
  val q46Sql: String =
    s"""WITH $kmCentsSqlCtes,
       |am AS (
       |  SELECT q.vec_id, min({'k': $sqlC2Ce - 2 * $sqlDotCe, 'c': c_id}) AS m
       |  FROM q, cents GROUP BY q.vec_id),
       |assigned AS (
       |  SELECT q.vec_id, q.e, CAST(am.m.c AS INT) AS cell
       |  FROM am JOIN q USING (vec_id)),
       |probe AS (SELECT e AS pe FROM q WHERE vec_id = 0),
       |probe_cells AS (
       |  SELECT c_id AS probe_cell FROM (
       |    SELECT c.c_id, $sqlC2Ce - 2 * $sqlDotCePe AS pk
       |    FROM cents c CROSS JOIN probe p
       |    ORDER BY pk ASC, c_id ASC LIMIT $IvfProbeDefault))
       |SELECT a.vec_id, ${sqlCos("a.e", "p.pe")} AS sim
       |FROM assigned a JOIN probe_cells pc ON a.cell = pc.probe_cell
       |CROSS JOIN probe p
       |WHERE a.vec_id <> 0
       |ORDER BY sim DESC, vec_id ASC
       |LIMIT 5""".stripMargin

  // ---------------------------------------------------------------------
  // q50: DETERMINISTIC stratified sampling — the reproducible
  // downsampling step every training-data pipeline runs (downweight a
  // dominant language/source before training). The sample predicate is
  // CONTENT-STABLE: keep a doc iff hash(doc_id) mod 100 < rate(lang),
  // with the hash a fixed md5 chunk — the same doc is kept or dropped on
  // every run, on every engine, under ANY partitioning (rand()-based
  // sample() is none of those), so experiments reproduce and incremental
  // reruns don't churn the corpus. The full hash rides along as
  // `shuffle_key`: ordering by it is the deterministic training-order
  // "shuffle" (a range-partitioned sort at scale — no single point of
  // order). One scan, one codegen stage, zero shuffle.
  // ---------------------------------------------------------------------
  private val SampleRates = Seq("de" -> 40, "en" -> 80, "es" -> 60, "fr" -> 100, "zh" -> 20)

  private[queries] def hashKey(id: Column): Column =
    conv(substring(md5(concat(lit("s:"), id)), 1, 8), 16, 10).cast("long")
  private[queries] val sqlHashKey = "CAST('0x' || substring(md5('s:' || doc_id), 1, 8) AS BIGINT)"

  val q50: Q = (s, dir) => {
    import s.implicits._
    val rate = typedLit(SampleRates.toMap)
    t(s, dir, "documents")
      .withColumn("shuffle_key", hashKey($"doc_id"))
      .filter(pmod($"shuffle_key", lit(100)) < element_at(rate, $"lang"))
      .select($"doc_id", $"lang", $"source", $"shuffle_key")
      .orderBy($"doc_id")
  }
  val q50Sql: String = {
    val cases = SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""WITH h AS (
       |  SELECT doc_id, lang, source, $sqlHashKey AS shuffle_key
       |  FROM documents)
       |SELECT doc_id, lang, source, shuffle_key
       |FROM h
       |WHERE shuffle_key % 100 < CASE lang $cases END
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q51: deterministic train/val/test split — the same content-stable
  // hash assigns every doc to exactly one split (90/5/5), so the
  // assignment is disjoint, exhaustive, and stable across runs/engines/
  // repartitions (a doc can never leak from train to test between
  // experiments). Counted per (split, lang) to show the split interacts
  // correctly with stratification. Low-card agg: map-side partials,
  // tiny shuffle.
  // ---------------------------------------------------------------------
  val q51: Q = (s, dir) => {
    import s.implicits._
    val bucket = pmod(hashKey($"doc_id"), lit(100))
    t(s, dir, "documents")
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
      .orderBy($"split", $"lang")
  }
  val q51Sql: String =
    s"""WITH h AS (
       |  SELECT lang, n_chars, $sqlHashKey % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 90 THEN 'train'
       |            WHEN bucket < 95 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |FROM h
       |GROUP BY 1, 2
       |ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------------
  // q53: BATCH ANN serving — the realistic serving shape beside the
  // single-probe lookups (q24 brute / q31 LSH / q46 IVF): a whole batch
  // of probe vectors answered in ONE pass over the corpus. Probes
  // broadcast (a probe batch is small by definition); every corpus
  // vector is scored against all probes inside one codegen stage
  // (LongArrayDot), so the corpus is read exactly once for the batch.
  //
  // Top-k per probe is the custom [[graft.functions.TopKByScore]]
  // AGGREGATE, not a ranking window: `row_number() OVER (PARTITION BY
  // probe_id ...)` must shuffle ALL B·N scored rows into B reducers —
  // a guaranteed hot-partition plan since the probe batch B is small by
  // definition. The bounded-buffer aggregate keeps k slots per probe
  // per MAP task (ObjectHashAggregate partial → final), so the shuffle
  // carries at most maps×B×k serialized entries — top-k with min/max's
  // shuffle topology. posexplode of the sorted result array recovers
  // the rank. At 100 TB the upgrade is scoring the IVF index instead of
  // the raw corpus — the top-k topology stays exactly this.
  // ---------------------------------------------------------------------
  private[queries] val BatchProbes = 8
  private[queries] val AnnK = 5

  val q53: Q = (s, dir) => {
    import graft.functions.TopKByScore.topKByScore
    import s.implicits._
    val quant = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e"))
    val probes = broadcast(quant.filter($"vec_id" < BatchProbes)
      .select($"vec_id".as("probe_id"), $"e".as("pe")))
    quant.filter($"vec_id" >= BatchProbes)
      .crossJoin(probes)
      .select($"probe_id", $"vec_id", cosine($"e", $"pe").as("sim"))
      .groupBy($"probe_id")
      .agg(topKByScore($"sim", $"vec_id", AnnK).as("top"))
      .select($"probe_id", posexplode($"top").as(Seq("pos", "t")))
      .select($"probe_id", ($"pos" + 1).cast("int").as("rank"),
        $"t.id".as("vec_id"), $"t.score".as("sim"))
      .orderBy($"probe_id", $"rank")
  }
  val q53Sql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS e
       |  FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, e AS pe FROM q
       |           WHERE vec_id < $BatchProbes),
       |scored AS (
       |  SELECT p.probe_id, c.vec_id, ${sqlCos("c.e", "p.pe")} AS sim
       |  FROM q c CROSS JOIN probes p WHERE c.vec_id >= $BatchProbes),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |    (PARTITION BY probe_id ORDER BY sim DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, CAST(rank AS INT) AS rank, vec_id, sim
       |FROM ranked WHERE rank <= $AnnK
       |ORDER BY probe_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q54: embedding scalar quantization (int8) + reconstruction-error
  // audit — the compression step a 100 TB embedding store runs before
  // ANN serving (4 bytes -> 1 byte per dim), with the error metrics that
  // decide whether int8 is safe for the similarity queries above.
  //
  // Per vector: symmetric scale = maxabs/127 over micro-unit ints, code
  // q_i = floor(x_i/scale + 0.5). Everything stays engine-exact: inputs
  // are exact micro-longs, scale/codes are IEEE divide+floor on
  // identical inputs (floor avoids ROUND's half-even/half-up divergence
  // risk), and the error columns are floor-quantized back to integer
  // micro-units before any cross-dim reduction. Zero shuffle: one scan,
  // one projection — the per-vector HOF lambdas are interpreted, but
  // this is a linear pass with no hot aggregate (the audit runs once per
  // snapshot, not per query).
  // ---------------------------------------------------------------------
  val q54: Q = (s, dir) => {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e"))
      .withColumn("maxabs", array_max(transform($"e", x => abs(x))))
      .withColumn("scale", $"maxabs".cast("double") / lit(127.0))
      // per-dim: code, reconstruction, abs error in micro-units (floored)
      .withColumn("err_u", transform($"e", x =>
        floor(abs(floor(x / $"scale" + lit(0.5)) * $"scale" - x)).cast("long")))
    e.select($"vec_id", $"maxabs",
        aggregate($"err_u", lit(0L), (acc, x) => acc + x).as("sum_err_u"),
        array_max($"err_u").as("max_err_u"),
        array_max(transform($"e", x =>
          abs(floor(x / $"scale" + lit(0.5))).cast("long"))).as("max_code"))
      .orderBy($"vec_id")
  }
  val q54Sql: String =
    """WITH q AS (SELECT vec_id,
      |    list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000000) AS BIGINT)) AS e
      |  FROM embeddings),
      |sc AS (SELECT vec_id, e,
      |    list_max(list_transform(e, x -> abs(x))) AS maxabs,
      |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      |  FROM q),
      |err AS (SELECT vec_id, maxabs, scale,
      |    list_transform(e, x ->
      |      CAST(floor(abs(floor(x / scale + 0.5) * scale - x)) AS BIGINT)) AS err_u,
      |    list_transform(e, x ->
      |      CAST(abs(floor(x / scale + 0.5)) AS BIGINT)) AS codes
      |  FROM sc)
      |SELECT vec_id, maxabs,
      |  CAST(list_sum(err_u) AS BIGINT) AS sum_err_u,
      |  list_max(err_u) AS max_err_u,
      |  list_max(codes) AS max_code
      |FROM err
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q58: batch ANN over the IVF INDEX — q53's serving shape at its
  // 100 TB cost: instead of scoring the whole corpus per batch, each
  // probe is driver-planned to its nProbe nearest cells (the resident
  // centroid metadata, same as q46), the ONE job scans only the UNION
  // of planned cells (static partition pruning on the index), a
  // broadcast join on cell routes each candidate to exactly the probes
  // that planned its cell, and TopKByScore bounds the per-probe result.
  // Cost: |cells(probe batch)|/K of the corpus + a maps×B×k shuffle —
  // versus q53's full corpus scan. Recall contract is q46's, per probe.
  // ---------------------------------------------------------------------
  private val batchProbeCache = new graft.StampCache[Array[(Int, Array[Long])]]()

  /** The bench/oracle probe batch (vec_ids 0..BatchProbes-1), collected
    * once per (session, dir) — in production probes arrive as API
    * arguments, like [[ivfSearch]]'s. */
  private def batchProbes(s: SparkSession, dir: String): Array[(Int, Array[Long])] =
    batchProbeCache(s, dir, graft.SourceStamp.table(s, dir, "embeddings")) {
      import s.implicits._
      t(s, dir, "embeddings")
        .filter($"vec_id" < BatchProbes)
        .select($"vec_id", quantize($"embedding").as("e"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray))
        .sortBy(_._1)
    }

  val q58: Q = (s, dir) => {
    import graft.functions.TopKByScore.topKByScore
    import s.implicits._
    val idx = s.table(ensureIvfIndex(s, dir))
    val cents = ivfCentroids(s, dir)
    // driver-side planning: nProbe cells per probe (psim DESC, c_id ASC)
    val plan: Seq[(Long, Int, Seq[Long])] = batchProbes(s, dir).toSeq.flatMap {
      case (pid, pe) =>
        cents.map { case (cId, ce) => (cId, l2KeyLocal(ce, pe)) }
          .sortBy { case (cId, k2) => (k2, cId) }
          .take(ivfProbe(s))
          .map { case (cId, _) => (pid.toLong, cId, pe.toSeq) }
    }
    val allCells = plan.map(_._2).distinct
    val probeDf = broadcast(plan.toDF("probe_id", "p_cell", "pe"))
    idx.filter($"cell".isin(allCells: _*) && $"vec_id" >= BatchProbes)
      .join(probeDf, $"cell" === $"p_cell")
      .select($"probe_id", $"vec_id", cosine($"e", $"pe").as("sim"))
      .groupBy($"probe_id")
      .agg(topKByScore($"sim", $"vec_id", AnnK).as("top"))
      .select($"probe_id", posexplode($"top").as(Seq("pos", "t")))
      .select($"probe_id", ($"pos" + 1).cast("int").as("rank"),
        $"t.id".as("vec_id"), $"t.score".as("sim"))
      .orderBy($"probe_id", $"rank")
  }
  val q58Sql: String =
    s"""WITH $kmCentsSqlCtes,
       |am AS (
       |  SELECT q.vec_id, min({'k': $sqlC2Ce - 2 * $sqlDotCe, 'c': c_id}) AS m
       |  FROM q, cents GROUP BY q.vec_id),
       |assigned AS (
       |  SELECT q.vec_id, q.e, CAST(am.m.c AS INT) AS cell
       |  FROM am JOIN q USING (vec_id)),
       |probes AS (SELECT vec_id AS probe_id, e AS pe FROM q
       |           WHERE vec_id < $BatchProbes),
       |probe_cells AS (
       |  SELECT probe_id, pe, c_id AS p_cell FROM (
       |    SELECT p.probe_id, p.pe, c.c_id, ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |      ORDER BY $sqlC2Ce - 2 * $sqlDotCePe ASC, c.c_id ASC) AS crn
       |    FROM probes p CROSS JOIN cents c)
       |  WHERE crn <= $IvfProbeDefault),
       |scored AS (
       |  SELECT pc.probe_id, a.vec_id, ${sqlCos("a.e", "pc.pe")} AS sim
       |  FROM assigned a JOIN probe_cells pc ON a.cell = pc.p_cell
       |  WHERE a.vec_id >= $BatchProbes),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |    (PARTITION BY probe_id ORDER BY sim DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, CAST(rank AS INT) AS rank, vec_id, sim
       |FROM ranked WHERE rank <= $AnnK
       |ORDER BY probe_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q57: the INGEST PIPELINE capstone — the stages a training-data run
  // actually chains, composed as ONE declarative DAG so Catalyst sees
  // (and optimizes) the whole flow:
  //   exact dedup (md5 keep-min)  ->  quality gate (token count +
  //   distinct-token ratio)       ->  stratified content-stable sample
  //   (q50's hash)                ->  train/val/test split (q51's hash)
  //   ->  per-(split, lang) corpus stats.
  // One scan of documents; the only wide ops are the dedup window's
  // shuffle on the 32-char digest and the final tiny agg. Two shuffle-
  // volume moves matter at 100 TB: the quality gate runs BEFORE the
  // dedup shuffle (quality is a pure function of text, so every member
  // of a duplicate group passes or fails together — reordering is
  // semantics-preserving and failing docs never enter the exchange),
  // and the shuffled row is narrowed to (doc_id, text_md5, lang,
  // n_tokens) — the documents themselves stay in the map stage. The
  // oracle replays the identical pipeline in SQL, so the hash-compare
  // certifies the COMPOSITION, not just each stage.
  // ---------------------------------------------------------------------
  private val MinTokens = 5
  private val MinDistinctRatio = 0.25

  val q57: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy($"text_md5").orderBy($"doc_id")
    val rate = typedLit(SampleRates.toMap)
    val bucket = pmod(hashKey($"doc_id"), lit(100))
    t(s, dir, "documents")
      .withColumn("tk", split($"text", " "))
      .withColumn("n_tokens", size($"tk").cast("long"))
      .withColumn("distinct_ratio",
        size(array_distinct($"tk")).cast("double") / $"n_tokens")
      .filter($"n_tokens" >= MinTokens &&
        $"distinct_ratio" >= MinDistinctRatio)                          // quality
      .select($"doc_id", md5($"text").as("text_md5"), $"lang", $"n_tokens")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)       // dedup
      .filter(pmod(hashKey($"doc_id"), lit(100)) <
        element_at(rate, $"lang"))                                      // sample
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
      .orderBy($"split", $"lang")
  }
  val q57Sql: String = {
    val cases = SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""WITH dedup AS (
       |  SELECT * FROM (
       |    SELECT doc_id, text, lang,
       |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |quality AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS distinct_ratio
       |  FROM dedup),
       |kept AS (
       |  SELECT doc_id, lang, n_tokens,
       |    $sqlHashKey % 100 AS bucket
       |  FROM quality
       |  WHERE n_tokens >= $MinTokens AND distinct_ratio >= $MinDistinctRatio),
       |sampled AS (
       |  SELECT *, CASE WHEN bucket < 90 THEN 'train'
       |                 WHEN bucket < 95 THEN 'val'
       |                 ELSE 'test' END AS split
       |  FROM kept
       |  WHERE bucket < CASE lang $cases END)
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
       |FROM sampled
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q91: SEMANTIC decontamination — drop training vectors whose nearest
  // EVAL-set neighbor exceeds a cosine threshold: the embedding-space
  // sibling of q61's n-gram decontamination (paraphrased leakage that
  // shares no 8-gram still lands next to its eval twin in embedding
  // space). Eval membership is deterministic (vec_id % 100 == 0 — in a
  // real pipeline, the benchmark suite), threshold 0.30 ≈ the observed
  // p95 of max-sim on this corpus, so the filter does visible work.
  //
  // Scale: the eval side is small BY DEFINITION (a benchmark suite) —
  // the q61 broadcast argument, so broadcast-crossJoin + codegen'd
  // LongArrayDot scores each train vector against all eval vectors in
  // one stage; max-sim collapses map-side (every copy of a train row is
  // born in its partition), so the shuffle carries one row per train
  // vector, then a 10-key label rollup. Same exact-integer cosine as
  // q24: bit-identical doubles, exact threshold compare.
  // ---------------------------------------------------------------------
  private val DecontamSim = 0.30

  val q91Bench: Q = (s, dir) => {
    import s.implicits._
    // the quantized table is materialized ONCE (eager localCheckpoint,
    // fresh per invocation): the eval slice (`vec_id % 100` has no
    // parquet pushdown — its build scanned and quantized the WHOLE
    // corpus) and the train side otherwise each re-planned the
    // scan + quantize (--exec: 2 unpruned FileScans; guide §2.4
    // build-once, §4 interpreted quantize out of repeated paths). The
    // explicit eval-side broadcast hint is unchanged.
    val quant = t(s, dir, "embeddings")
      .select($"vec_id", $"label", quantize($"embedding").as("e"))
      .localCheckpoint(true)
    val ev = broadcast(quant.filter($"vec_id" % 100 === 0).select($"e".as("pe")))
    quant.filter($"vec_id" % 100 =!= 0)
      .crossJoin(ev)
      .withColumn("sim",
        dotLong($"e", $"pe").cast("double") /
          (sqrt(sqNorm($"e").cast("double")) * sqrt(sqNorm($"pe").cast("double"))))
      .groupBy($"vec_id", $"label")
      .agg(max($"sim").as("max_sim"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_train"),
        sum(when($"max_sim" >= DecontamSim, 1L).otherwise(0L)).as("n_removed"))
      .withColumn("n_kept", $"n_train" - $"n_removed")
  }
  val q91: Q = (s, dir) => {
    import s.implicits._
    q91Bench(s, dir).orderBy($"label")
  }
  val q91Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS e
       |  FROM embeddings),
       |ev AS (SELECT e AS pe FROM q WHERE vec_id % 100 = 0),
       |m AS (
       |  SELECT tr.vec_id, tr.label,
       |    MAX(CAST(list_sum(list_transform(range(1, len(e)+1), i -> e[i] * pe[i])) AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT)::DOUBLE)
       |       * sqrt(CAST(list_sum(list_transform(pe, x -> x*x)) AS BIGINT)::DOUBLE))) AS max_sim
       |  FROM q tr, ev WHERE tr.vec_id % 100 <> 0
       |  GROUP BY tr.vec_id, tr.label)
       |SELECT label, COUNT(*) AS n_train,
       |  CAST(SUM(CASE WHEN max_sim >= $DecontamSim THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  COUNT(*) - CAST(SUM(CASE WHEN max_sim >= $DecontamSim THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM m
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // q99: deterministic WEIGHTED sampling — pick k documents with
  // inclusion biased toward a quality weight (n_chars here; any positive
  // score in practice), the way curated training mixes up-weight long /
  // high-quality documents. Priority sampling (Duffield/Lund/Thorup):
  // each doc gets priority u/w with u a content-stable uniform from the
  // house md5 hash — the k SMALLEST priorities win, so doubling a doc's
  // weight halves its expected rank. Against q50 (uniform rates per
  // lang), this is the per-document-weight form of the same idea.
  //
  // Determinism: u = hash/2^32 and u/w are two correctly-rounded IEEE
  // divisions of exactly-representable integers — bit-identical in both
  // engines (the Det scheme); ties (hash collisions) break on doc_id in
  // BOTH sort orders. Scale: TakeOrdered — a k-row heap per partition,
  // then one k×partitions merge on the driver; no global sort, no
  // shuffle of the corpus.
  // ---------------------------------------------------------------------
  private val WSampleK = 100

  val q99Bench: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars",
        ((hashKey($"doc_id").cast("double") / lit(4294967296.0)) /
          $"n_chars".cast("double")).as("pri"))
      .orderBy($"pri", $"doc_id").limit(WSampleK)
  }
  val q99: Q = (s, dir) => {
    import s.implicits._
    q99Bench(s, dir).orderBy($"doc_id")
  }
  val q99Sql: String =
    s"""SELECT doc_id, lang, n_chars, pri FROM (
       |  SELECT doc_id, lang, n_chars,
       |    (CAST($sqlHashKey AS DOUBLE) / 4294967296.0)
       |      / CAST(n_chars AS DOUBLE) AS pri
       |  FROM documents
       |  ORDER BY pri, doc_id
       |  LIMIT $WSampleK)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q105: EXACT-QUOTA stratified sampling — q50's rate-based cousin with
  // the guarantee mixture rebalancing actually needs: per stratum
  // (lang), EXACTLY ceil(P% · n_g) rows survive, not a binomially-noisy
  // approximation of them. Selection is rank-by-content-hash inside each
  // stratum (smallest hashes win, doc_id breaks hash ties), so the
  // sample is reproducible under any partitioning AND any later corpus
  // permutation — re-running after an append changes which docs win
  // only where the hash frontier moves.
  //
  // Scale shape: one corpus shuffle on lang (the ranking window's
  // partition key), with both window functions (rank + stratum count)
  // sharing that single sort — skew note: a dominant stratum makes one
  // big sort partition; the fix at 100 TB is a two-pass frontier refine
  // (sample hash quantiles per stratum, broadcast cutoffs, filter, exact
  // -rank only the boundary sliver) — same topology q25 uses for skew.
  // ---------------------------------------------------------------------
  private val QuotaPct = 30

  val q105Bench: Q = (s, dir) => {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"k".asc, $"doc_id".asc)
    t(s, dir, "documents")
      .withColumn("k", conv(substring(md5(concat(lit("q:"), $"doc_id")), 1, 8), 16, 10).cast("long"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("quota", expr("(count(1) OVER (PARTITION BY lang) * " +
        s"$QuotaPct + 99) div 100"))
      .filter($"rn" <= $"quota")
      .select($"doc_id", $"lang", $"rn", $"quota")
  }
  val q105: Q = (s, dir) => {
    import s.implicits._
    q105Bench(s, dir).orderBy($"lang", $"rn")
  }
  val q105Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substring(md5('q:' || doc_id), 1, 8) AS BIGINT) AS k
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS BIGINT) AS rn,
      |    (COUNT(*) OVER (PARTITION BY lang) * $QuotaPct + 99) // 100 AS quota
      |  FROM d)
      |SELECT doc_id, lang, rn, CAST(quota AS BIGINT) AS quota
      |FROM r WHERE rn <= quota
      |ORDER BY lang, rn""".stripMargin

  // ---------------------------------------------------------------------
  // q106: per-DIMENSION embedding normalization (z-score) — the feature
  // standardization step before distance-based ops (IVF centroids, kNN,
  // cosine thresholds) when dimensions have wildly different variances.
  // Det scheme for an op that is mean/variance arithmetic all the way
  // down: quantized values feed DECIMAL(38,0) accumulators (Spark's
  // sum(long) WRAPS silently at 100 TB scale and DuckDB's promotes to
  // HUGEINT — decimal makes both sides exact and identical), and the
  // algebra is arranged as z = (n·v − Σv) / sqrt(n·Σv² − (Σv)²) so the
  // ONLY float ops are one correctly-rounded cast, one IEEE sqrt and
  // one IEEE division on identical integers — bit-exact cross-engine.
  //
  // Scale shape: explode to (dim, v) — a Generate, no shuffle — then ONE
  // aggregate shuffled by dim (64 groups, map-side partials collapse
  // 32 partitions × 64 dims) and the stats re-joined by dim. The stats
  // side is bounded by the MODEL dimension (64–4096), small BY
  // DEFINITION — the q61-class case where a broadcast is safe forever.
  // ---------------------------------------------------------------------
  val q106Bench: Q = (s, dir) => {
    import s.implicits._
    // z-scoring is two corpus passes BY DEFINITION (stats before
    // normalize), but both passes were paying the scan AND `quantize`
    // (an interpreted HigherOrderFunction — the most expensive per-row
    // work here, the q110 lesson) because the stats subtree and the
    // probe each re-planned it (--exec: 2 FileScans, no AQE stage
    // reuse). The quantized table is materialized ONCE (eager
    // localCheckpoint, fresh per invocation — guide §2.4 build-once,
    // §4 keep interpreted work out of repeated paths); both passes
    // re-run only the codegen'd posexplode off the captured rows.
    val q = t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("eq"))
      .localCheckpoint(true)
    val e = q
      .select($"vec_id", posexplode($"eq"))
      .select($"vec_id", $"pos".cast("int").as("dim"), $"col".as("v"))
    val stats = e.groupBy($"dim").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum($"v".cast("decimal(38,0)")).as("s"),
      sum(($"v" * $"v").cast("decimal(38,0)")).as("sq"))
    // zero-variance guard: a constant dimension (zero-padded trailing
    // dims are common in real embedding tables) is 0/0 = NaN without
    // it, and NaN poisons every downstream distance — z = 0 is the
    // standard convention (the value IS the mean)
    val varZ = $"n" * $"sq" - $"s" * $"s"
    e.join(broadcast(stats), "dim")
      .select($"vec_id", $"dim",
        when(varZ === lit(java.math.BigDecimal.ZERO), lit(0.0))
          .otherwise(($"n" * $"v".cast("decimal(38,0)") - $"s").cast("double") /
            sqrt(varZ.cast("double"))).as("z"))
  }
  val q106: Q = (s, dir) => {
    import s.implicits._
    q106Bench(s, dir).orderBy($"vec_id", $"dim")
  }
  val q106Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS e
      |  FROM embeddings),
      |x AS (
      |  SELECT vec_id, unnest(generate_series(1, len(e))) AS i, e FROM q),
      |v AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim, e[i] AS v FROM x),
      |st AS (
      |  SELECT dim, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS sq
      |  FROM v GROUP BY dim)
      |SELECT vec_id, dim,
      |  CASE WHEN n * sq - s * s = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE CAST(n * v - s AS DOUBLE)
      |         / sqrt(CAST(n * sq - s * s AS DOUBLE)) END AS z
      |FROM v JOIN st USING (dim)
      |ORDER BY vec_id, dim""".stripMargin

  // ---------------------------------------------------------------------
  // q110: K-MEANS (Lloyd's iteration) — the third iterative operator
  // beside connectedComponents and PageRank, and the trainer the IVF
  // index's centroids actually come from in a real pipeline. Three
  // fixed rounds over quantized vectors with integer-only arithmetic:
  //  - ASSIGNMENT: argmin_c ‖v−c‖² = argmin_c (‖c‖² − 2·v·c) — the ‖v‖²
  //    term is constant per row, so the comparison key needs only the
  //    codegen'd integer dot (LongArrayDot) and a precomputed ‖c‖²;
  //    ties break to the smaller centroid id via lexicographic struct
  //    LEAST, deterministic on any engine.
  //  - UPDATE: per-dimension floor-mean. Spark's `div` truncates toward
  //    zero while DuckDB's `//` floors — they disagree on NEGATIVE
  //    sums, so the mean is computed as (Σ + OFF·n) div n − OFF with
  //    OFF large enough to make the dividend positive: truncation ==
  //    floor on positives, so both engines produce the same centroid.
  //  - Seeding: the first K vectors (deterministic; kmeans++ is random
  //    by construction and has no cross-engine story).
  // Per-round centroids (K × dim longs) are collected to the driver —
  // the IVF precedent: K-row centroid sets are PLANNING data, the
  // corpus never leaves the executors. Each round is one broadcast-
  // literal projection + one (cluster, dim) aggregate shuffle of K·dim
  // partials per map task — no all-pairs, no per-row state.
  // ---------------------------------------------------------------------
  /** Lloyd's K-means over a (vec_id LONG, e ARRAY<LONG>) frame: `iters`
    * assignment/update rounds seeded from the first `k` vec_ids, then a
    * FINAL assignment against the trained centroids. Returns (vec_id,
    * cluster INT, dist2 LONG — exact squared distance). See q110's
    * header for the fixed-point determinism scheme.
    *
    * The input is materialized ONCE (eager localCheckpoint, the
    * PageRank build-once pattern): without it every Lloyd round — plus
    * the seed collect and the final assignment — re-ran the source scan
    * AND the quantize projection (an interpreted HigherOrderFunction,
    * the most expensive per-row work in the query), iters+2 corpus
    * passes where one suffices (guide §1.4/§2.4 build-once). A fresh
    * RDD per invocation: nothing survives across runs, and unlike a
    * stamp-keyed persist the operator still carries no cache-lifetime
    * contract. */
  /** One assignment pass: each (vec_id, e) row tagged with
    * `m = struct(k, c)` where c = argmin_c ‖e−c‖² over the driver-held
    * centroid list and k = ‖c‖² − 2·e·c (so dist² = ‖e‖² + k). Ties
    * break to the smaller centroid id via lexicographic struct LEAST —
    * deterministic on any engine. Shared by the trainer's rounds, the
    * final kmeans output, and the IVF index build/maintain (cells ARE
    * kmeans assignments). */
  private[queries] def kmAssign(q: DataFrame,
                                cents: Seq[(Int, Array[Long])]): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val keys = cents.map { case (cid, c) =>
      val c2 = c.map(x => x * x).sum // ‖c‖², driver-side constant
      struct((lit(c2) - lit(2L) * dotLong($"e", typedLit(c.toSeq))).as("k"),
        lit(cid).as("c"))
    }
    // Least requires ≥ 2 args; one live centroid (k=1, or every other
    // cluster emptied out on degenerate data) is a plain projection
    val m = if (keys.size == 1) keys.head else least(keys: _*)
    q.select($"vec_id", $"e", m.as("m"))
  }

  /** The TRAINER half of [[kmeans]]: `iters` Lloyd rounds from the
    * first-`k` seeds over an already-materialized frame, returning the
    * trained centroids — K × dim longs of driver-held planning data.
    * Callers that also assign against the same frame (the IVF index
    * build, [[kmeans]]) share one materialization. */
  private def trainOn(q: DataFrame, k: Int,
                      iters: Int): Seq[(Int, Array[Long])] = {
    val s = q.sparkSession
    import s.implicits._
    var cents: Seq[(Int, Array[Long])] = q.filter($"vec_id" < k)
      .orderBy($"vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray)).toSeq
    require(cents.nonEmpty,
      s"kmeans: no seed vectors (no vec_id < $k in the input)")
    var i = 0
    while (i < iters) {
      cents = kmAssign(q, cents)
        .select($"m.c".as("cl"), posexplode($"e"))
        .groupBy($"cl", $"pos")
        // sums accumulate as DECIMAL(38,0): quantized components are
        // ~1e6-scale, so a long sum wraps silently around 9e12 rows per
        // cluster — exactly the hazard q106's exact-moment accumulators
        // avoid, and DuckDB promotes to HUGEINT so the oracle already
        // agrees; `div` is integral divide (→ LONG), truncation == floor
        // on the offset-positive dividend
        .agg(expr(s"(sum(cast(col as decimal(38,0))) + ${KmOff}L * count(1))" +
          s" div count(1) - ${KmOff}L").as("v"))
        .groupBy($"cl")
        .agg(array_sort(collect_list(struct($"pos", $"v"))).as("a"))
        .select($"cl", transform($"a", x => x("v")).as("c"))
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1).toSeq
      i += 1
    }
    cents
  }

  def kmeans(q: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val qm = q.localCheckpoint(true)
    kmAssign(qm, trainOn(qm, k, iters))
      .select($"vec_id", $"m.c".as("cluster"),
        (dotLong($"e", $"e") + $"m.k").as("dist2"))
  }

  val q110Bench: Q = (s, dir) => {
    import s.implicits._
    kmeans(t(s, dir, "embeddings")
      .select($"vec_id", quantize($"embedding").as("e")), ivfK(s), kmIters(s))
  }
  val q110: Q = (s, dir) => {
    import s.implicits._
    q110Bench(s, dir).orderBy($"vec_id")
  }
  // the output assignment runs against the FINAL trained centroids
  // (kmCentsSqlCtes' `cents`) — one assignment-only CTE after the last
  // update round; a$KmIters inside the chain is the assignment against
  // the PREVIOUS round's centroids, not the result
  val q110Sql: String =
    s"""WITH $kmCentsSqlCtes,
       |af AS (
       |  SELECT q.vec_id, min({'k': $sqlC2Ce - 2 * $sqlDotCe, 'c': c_id}) AS m
       |  FROM q, cents GROUP BY q.vec_id)
       |SELECT q.vec_id, CAST(af.m.c AS INT) AS cluster,
       |  CAST(list_sum(list_transform(e, x -> x * x)) + af.m.k AS BIGINT) AS dist2
       |FROM af JOIN q USING (vec_id) ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // q118: CLUSTER-BALANCED CORPUS SELECTION — semantic-diversity
  // sampling, the step modern pipelines run between clustering and
  // mixing (cap every semantic mode so dominant clusters can't swamp
  // the mixture; cf. cluster-then-sample dedup/diversity recipes):
  // assign vectors with the TRAINED kmeans (q110's operator, bit-exact
  // cross-engine), then keep at most ClusterSampleCap per cluster by
  // content-stable hash rank (q105's scheme: smallest md5 prefixes win,
  // vec_id breaks ties) — reproducible under any partitioning and any
  // later corpus permutation; small clusters survive whole, which is
  // the point of balancing.
  //
  // Scale shape: the cluster assignment is NOT recomputed — the IVF
  // index ([[ensureIvfIndex]]) already persists exactly this labeling
  // (same K, same trainer rounds, same argmin-L2 key, so cell ≡
  // q110's cluster bit-for-bit), and the selection reads it — the
  // build-once/read-many economics every repeated corpus operation
  // wants. Selection is the q105 TWO-PASS FRONTIER REFINE, so the cap
  // never window-sorts the corpus inside K reducer partitions:
  //   pass 1 — per-cluster frontier via [[TopKByScore]] (score = −k):
  //     a bounded-buffer map-side partial aggregate (maps × K × Cap
  //     rows to the shuffle, parallelism NOT capped at K) yields each
  //     cluster's Cap-th smallest hash and its exact member count;
  //   pass 2 — broadcast the K-row frontier, keep only the boundary
  //     sliver (k ≤ frontier, ties inclusive — every row excluded
  //     ranks strictly after every kept one, so ranks are unchanged),
  //     and exact-rank the ≤ K·(Cap+ties) survivors in a window that
  //     is now trivially small.
  // Exactness: a row ranked ≤ Cap in the full ordering has k ≤ the
  // Cap-th smallest k, so the sliver contains it; rows with k above
  // the frontier cannot displace ranks below it. Output is therefore
  // row-identical to the single-window form (ClusterSampleSpec pins
  // this), and the oracle keeps the window shape. At a production K in
  // the thousands both passes scale with the corpus, not with K.
  // ---------------------------------------------------------------------
  private val ClusterSampleCap = 40

  val q118Bench: Q = (s, dir) => {
    import graft.functions.TopKByScore.topKByScore
    import s.implicits._
    val keyed = s.table(ensureIvfIndex(s, dir))
      .select($"vec_id", $"cell".cast("int").as("cluster"))
      .withColumn("k", conv(substring(md5(concat(lit("cb:"), $"vec_id")), 1, 8),
        16, 10).cast("long"))
    // pass 1: frontier (Cap-th smallest k; the whole cluster when it is
    // smaller than the cap) + exact count, one bounded aggregate.
    // −k as the score is exact: k is a 32-bit hash prefix, far inside
    // double's 2^53 integer range.
    val frontier = keyed.groupBy($"cluster")
      .agg(topKByScore(-$"k".cast("double"), $"vec_id", ClusterSampleCap).as("top"),
        count(lit(1)).as("n_cluster"))
      .select($"cluster", $"n_cluster",
        (-element_at($"top", size($"top"))("score")).cast("long").as("frontier_k"))
    // pass 2: boundary sliver only (ties at the frontier stay in), then
    // the exact rank the single-window form would have assigned
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster").orderBy($"k".asc, $"vec_id".asc)
    keyed.join(broadcast(frontier), "cluster")
      .filter($"k" <= $"frontier_k")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= ClusterSampleCap)
      .select($"vec_id", $"cluster", $"rn", $"n_cluster")
  }
  val q118: Q = (s, dir) => {
    import s.implicits._
    q118Bench(s, dir).orderBy($"cluster", $"rn")
  }
  val q118Sql: String =
    s"""WITH $kmCentsSqlCtes,
       |af AS (
       |  SELECT q.vec_id, min({'k': $sqlC2Ce - 2 * $sqlDotCe, 'c': c_id}) AS m
       |  FROM q, cents GROUP BY q.vec_id),
       |asg AS (SELECT vec_id, CAST(m.c AS INT) AS cluster FROM af),
       |keyed AS (
       |  SELECT vec_id, cluster,
       |    CAST('0x' || substring(md5('cb:' || vec_id), 1, 8) AS BIGINT) AS k
       |  FROM asg),
       |ranked AS (
       |  SELECT vec_id, cluster,
       |    ROW_NUMBER() OVER (PARTITION BY cluster
       |      ORDER BY k ASC, vec_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster) AS n_cluster
       |  FROM keyed)
       |SELECT vec_id, cluster, CAST(rn AS BIGINT) AS rn,
       |  CAST(n_cluster AS BIGINT) AS n_cluster
       |FROM ranked WHERE rn <= $ClusterSampleCap
       |ORDER BY cluster, rn""".stripMargin

  val queries: Map[String, Q] = Map(
    "q22_exact_dedup"    -> q22,
    "q23_text_stats"     -> q23,
    "q24_cosine_topk"    -> q24,
    "q25_near_dedup"     -> q25,
    "q31_lsh_ann"        -> q31,
    "q36_embed_near_dup" -> q36,
    "q46_ivf_ann"        -> q46,
    "q50_hash_sample"    -> q50,
    "q51_hash_split"     -> q51,
    "q53_batch_ann"      -> q53,
    "q54_quantize_audit" -> q54,
    "q57_ingest_pipeline" -> q57,
    "q58_batch_ivf_ann"  -> q58,
    "q91_sem_decontam"   -> q91,
    "q74_knn_join"       -> q74,
    "q99_weighted_sample" -> q99,
    "q105_quota_sample"  -> q105,
    "q106_dim_zscore"    -> q106,
    "q110_kmeans"        -> q110,
    "q118_cluster_sample" -> q118)

  val oracles: Map[String, String] = Map(
    "q22_exact_dedup"    -> q22Sql,
    "q23_text_stats"     -> q23Sql,
    "q24_cosine_topk"    -> q24Sql,
    "q25_near_dedup"     -> q25Sql,
    "q31_lsh_ann"        -> q31Sql,
    "q36_embed_near_dup" -> q36Sql,
    "q46_ivf_ann"        -> q46Sql,
    "q50_hash_sample"    -> q50Sql,
    "q51_hash_split"     -> q51Sql,
    "q53_batch_ann"      -> q53Sql,
    "q54_quantize_audit" -> q54Sql,
    "q57_ingest_pipeline" -> q57Sql,
    "q58_batch_ivf_ann"  -> q58Sql,
    "q91_sem_decontam"   -> q91Sql,
    "q74_knn_join"       -> q74Sql,
    "q99_weighted_sample" -> q99Sql,
    "q105_quota_sample"  -> q105Sql,
    "q106_dim_zscore"    -> q106Sql,
    "q110_kmeans"        -> q110Sql,
    "q118_cluster_sample" -> q118Sql)

  /** Bench-time overrides minus determinism-only global sorts (see
    * [[Relational.benchVariants]]). Verify runs the sorted forms. */
  override val benchVariants: Map[String, Q] = Map(
    "q22_exact_dedup"  -> q22Bench,
    "q74_knn_join"     -> q74Bench,
    "q91_sem_decontam" -> q91Bench,
    "q99_weighted_sample" -> q99Bench,
    "q105_quota_sample" -> q105Bench,
    "q106_dim_zscore"  -> q106Bench,
    "q110_kmeans"      -> q110Bench,
    "q118_cluster_sample" -> q118Bench)
}
