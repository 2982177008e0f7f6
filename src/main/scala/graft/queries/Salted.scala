package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual SALTED equijoin — the skew mitigation you reach for when
  * AQE's runtime skew split can't help: AQE splits skewed partitions of
  * a sort-merge join at stage boundaries, but a single hot KEY that
  * must co-locate (stream-stream joins, storage-partitioned layouts
  * that forbid re-splitting, engines/modes without AQE) still lands on
  * one reducer. Salting changes the join key itself: fact rows get a
  * content-derived salt in [0, shards), the dim side replicates once
  * per shard, and the join runs on (key, salt) — a hot key's rows
  * spread over `shards` reducers BY CONSTRUCTION, visible in the plan,
  * not dependent on runtime re-planning.
  *
  * Cost model (why this is not the default): the dim side is
  * replicated `shards`×, so salting pays when
  * `hot_key_rows / shards ≫ dim_rows × (shards − 1)` — a handful of
  * shards for a dimension of thousands of rows against a key with
  * millions. [[graft.queries.LlmOps]]'s LSH pair-gen uses the same
  * two-phase idea with a residue cap; this is the general-join form.
  *
  * Determinism: the salt is `xxhash64` of the full fact row — no
  * `rand()`, so the same input produces the same partitioning plan
  * run-to-run (the salt never reaches the output; identical duplicate
  * rows sharing a salt is a bounded imbalance, not a correctness
  * issue). Join semantics are EXACTLY the unsalted join's: every fact
  * row meets every dim row of its key exactly once, because each fact
  * row carries one salt and the dim replicates all salts.
  */
object Salted {

  /** Salted equijoin on `key`. `joinType` supports the fact-preserving
    * types (inner / left_outer / left_semi / left_anti) — right/full
    * outer would emit one null-padded row PER SHARD for an unmatched
    * dim row and are refused. */
  def join(fact: DataFrame, dim: DataFrame, key: String, shards: Int,
           joinType: String = "inner"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val canonical = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
      .contains(canonical),
      s"salted join is fact-preserving only; got $joinType")
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(shards)))
    val saltedDim = dim.withColumn("__salt",
      explode(array((0 until shards).map(i => lit(i.toLong)): _*)))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
