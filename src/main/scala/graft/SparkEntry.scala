package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query module: its named queries, the DuckDB oracle SQL of those
  * that are ANSI-SQL-expressible, and bench forms of those that carry
  * a determinism-only sort. Oracle and variant keys are query keys. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
  def benchVariants: Map[String, Q] = Map.empty
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2 + LLM-pipeline
  * extensions), each entry paired with DuckDB oracle SQL in `oracleSql`
  * where the semantics are ANSI-SQL-expressible. Every view derives from
  * [[modules]], the one list of query modules.
  */
object SparkEntry {

  /** Flagship query (reference weather_etl.py:145 — latest-per-key window)
    * on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q02(spark, "/root/testdata/sf0.001")

  val modules: Seq[QueryModule] = Seq(
    graft.queries.Relational, graft.queries.LlmOps, graft.queries.TextOps,
    graft.multimodal.Multimodal, graft.queries.Bucketed,
    graft.queries.Sessions, graft.queries.ZOrder, graft.queries.Incremental,
    graft.queries.Clusters, graft.queries.Scd, graft.queries.Txn,
    graft.queries.Materialized, graft.queries.PageRank,
    graft.ml.QualityFilter)

  /** One entry per implemented operator from SURVEY.md §2 +
    * LLM-pipeline extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  def oracleSql: Map[String, String] = modules.flatMap(_.oracles).toMap

  /** The plan each query runs in the bench, sorted by name: its bench
    * variant if it has one (the semantic plan without determinism-only
    * sorts), else the query itself. Verify runs [[queries]]. */
  def benchQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    modules.flatMap { m =>
      m.queries.map { case (name, fn) => name -> m.benchVariants.getOrElse(name, fn) }
    }.sortBy(_._1)
}
