package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Salted equijoin: identical semantics to the plain join on a heavily
  * skewed key, while the salt provably spreads the hot key over shards
  * (the partition-size observable AQE can't give a co-location-bound
  * join). */
class SaltedJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The observable the salt buys: per-partition row counts after a
    * hash repartition on the given columns. */
  private def partitionCounts(df: org.apache.spark.sql.DataFrame, numPartitions: Int,
                              cols: org.apache.spark.sql.Column*): Array[Long] =
    df.repartition(numPartitions, cols: _*)
      .groupBy(spark_partition_id().as("p")).count()
      .collect().map(_.getLong(1))

  // 90% of fact rows share one hot key
  private def skewed() = {
    val s = spark
    import s.implicits._
    val fact = (1 to 2000).map(i =>
      (if (i <= 1800) 7L else (i % 50).toLong, i.toLong)).toDF("k", "payload")
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    (fact, dim)
  }

  test("salted inner/left joins return exactly the unsalted results") {
    val (fact, dim) = skewed()
    for (jt <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
      val plain = fact.join(dim, Seq("k"), jt)
      val salted = Salted.join(fact, dim, "k", shards = 8, joinType = jt)
      assert(salted.columns.toSeq === plain.columns.toSeq, jt)
      assert(salted.collect().map(_.toSeq).toSet ===
        plain.collect().map(_.toSeq).toSet,
        s"$jt: salted join changed the result")
    }
    intercept[IllegalArgumentException](
      Salted.join(fact, dim, "k", 8, joinType = "full_outer"))
  }

  test("the salt spreads the hot key over shards (bounded max partition)") {
    val (fact, _) = skewed()
    val unsalted = partitionCounts(fact, 16, col("k"))
    val salted = partitionCounts(
      fact.withColumn("__salt",
        pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(8L))),
      16, col("k"), col("__salt"))
    // unsalted: one partition holds the entire hot key (>= 1800 rows);
    // salted: no partition can hold more than ~hot/8 plus noise
    assert(unsalted.max >= 1800L, s"skew fixture broken: ${unsalted.toSeq}")
    assert(salted.max < 1800L / 8 * 3,
      s"salt failed to spread the hot key: max=${salted.max}")
  }
}
