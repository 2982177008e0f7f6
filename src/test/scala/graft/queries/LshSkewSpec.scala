package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The LSH bucket-size cap (LlmOps.bucketPairs): a pathological bucket of
  * n near-identical docs must contribute C(cap,2) pairs, not C(n,2) —
  * the quadratic-skew guard the 100 TB design requires. */
class LshSkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A duplicate-heavy fixture: one hot bucket with 100 ids, one normal
    * bucket with 3 ids, one singleton (must emit nothing). */
  private def bands = {
    val s = spark
    import s.implicits._
    val hot       = (0L until 100L).map(id => (id, 0, "hot"))
    val normal    = Seq((200L, 1, "normal"), (201L, 1, "normal"), (202L, 1, "normal"))
    val singleton = Seq((300L, 2, "lonely"))
    (hot ++ normal ++ singleton).toDF("doc_id", "band", "key")
  }

  test("uncapped pair count is quadratic in the hot bucket") {
    assert(LlmOps.bucketPairs(bands, cap = 1000).count() === 100L * 99 / 2 + 3)
  }

  test("cap bounds a hot bucket to C(cap,2) pairs and keeps the smallest ids") {
    val s = spark
    import s.implicits._
    val pairs = LlmOps.bucketPairs(bands, cap = 10)
    assert(pairs.count() === 10L * 9 / 2 + 3) // 45 capped-hot + 3 normal
    // deterministic cut: only the 10 smallest hot ids survive, so the
    // keep-min-id dedup representative (doc 0) is always present
    val hotIds = pairs.filter($"doc_a" < 200)
      .select(explode(array($"doc_a", $"doc_b")))
      .distinct().as[Long].collect().sorted
    assert(hotIds.toSeq === (0L until 10L))
  }

  test("default cap is far above real testdata bucket sizes (results unchanged)") {
    // sf0.001 documents: the largest (band,key) bucket must sit well under
    // BucketCap, so the capped plan is value-identical to the uncapped
    // oracle at every verified SF.
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val mh = LlmOps.minhashAgg(docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(LlmOps.shingles3(col("tk"))).as("sh")))
    val maxBucket = LlmOps.bandRows(mh)
      .groupBy(col("band"), col("key")).count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket < LlmOps.BucketCap / 10,
      s"bucket of $maxBucket approaching cap ${LlmOps.BucketCap}")
  }
}
