package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The property q50/q51 exist for: CONTENT-STABLE sampling/splitting.
  * The kept set must be identical under any physical layout of the
  * input (repartitioned, coalesced, re-sorted) — this is exactly what
  * rand()-based df.sample() does NOT guarantee — and the split
  * assignment must partition the corpus (disjoint and exhaustive). */
class HashSampleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("q50 keeps the identical doc set under any input partitioning") {
    val s = spark
    import s.implicits._
    val baseline = LlmOps.q50(spark, sfDir).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(baseline.nonEmpty)
    // same query over physically reshaped copies of the table
    val docs = graft.Tables.t(spark, sfDir, "documents")
    Seq(
      docs.repartition(17),
      docs.coalesce(1),
      docs.orderBy($"text")).zipWithIndex.foreach { case (reshaped, i) =>
      val dir = java.nio.file.Files.createTempDirectory(s"q50_$i").toString
      reshaped.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val resampled = LlmOps.q50(spark, dir).select($"doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(resampled === baseline, s"layout $i changed the sample")
    }
  }

  test("q51 split is disjoint and exhaustive, stratified counts sum to corpus") {
    val corpus = graft.Tables.t(spark, sfDir, "documents").count()
    val rows = LlmOps.q51(spark, sfDir).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total === corpus, "split counts must partition the corpus exactly")
    val splits = rows.map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    // 90/5/5 should make train strictly dominant even at tiny SF
    val bySplit = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
  }
}
