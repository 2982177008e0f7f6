package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table registry + shared numeric-determinism helpers.
  *
  * All testdata tables (TESTDATA.md) are one parquet file per table under a
  * scale-factor directory. At 100 TB each of these becomes a partitioned /
  * bucketed parquet dataset; every reader goes through [[Tables.t]] so the
  * storage layout can change in exactly one place.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan a testdata table. Column pruning + predicate pushdown reach the
    * parquet scan because this is a plain declarative read (no collect).
    *
    * `events.ts` has shipped in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects natively, so
    * it reads as LONG under the legacy nanos conf and truncates to
    * micros here — and naive TIMESTAMP(MICROS) (isAdjustedToUTC=false),
    * which Spark reads as TIMESTAMP_NTZ. Both normalize to a micros
    * TimestampType INSTANT under the pinned UTC session, the value
    * DuckDB's `epoch_us` computes for either encoding — every consumer
    * (unix_micros, windows, watermarks) sees one type regardless of the
    * generator's encoding choice.
    */
  /** Session settings every scan depends on. Sessions the repo builds
    * (Bench/Verify/Explain/tests) set these at construction; this guarded
    * fallback covers driver-provided sessions without rewriting session
    * conf on every scan. */
  def ensureSessionConf(spark: SparkSession): Unit =
    Seq("spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true").foreach {
      case (k, v) =>
        if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }

  /** Sanitize a dataset dir into an identifier fragment — THE shared
    * helper for every per-dataset artifact path/table name (Bucketed
    * layouts, IVF index, txn roots); one definition so naming can never
    * silently diverge between modules. */
  def dirTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Every oracle compare assumes UTC day/month bucketing, and events.ts
    // needs the nanos-as-long legacy read; pinned here (guarded) so
    // correctness doesn't depend on the driver-provided session's conf.
    ensureSessionConf(spark)
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // ts normalization applies ONLY to events.ts — a blanket name+type
    // match would corrupt any future table whose LONG ts is already
    // micros or whose NTZ column means a true local time.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) if name == "events" =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) if name == "events" =>
        // naive micros == UTC wall clock; the session is pinned UTC, so
        // this cast is exactly "attach the UTC instant", not a tz shift
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
}

/** Determinism helpers shared by every oracle-checked query.
  *
  * Parallel summation of doubles is not associative, so a distributed
  * `sum(double)` is run-to-run nondeterministic AND engine-to-engine
  * different. All money/metric aggregation therefore goes through exact
  * integer arithmetic: per-row `round(x * scale)` (pure IEEE ops, identical
  * in Spark and DuckDB) cast to BIGINT, summed exactly, divided back at the
  * end. This is also faster at scale: long sums stay in whole-stage codegen
  * with no loss of map-side partial aggregation.
  */
object Det {
  /** double → exact integer cents (scale 2). */
  def cents(c: Column): Column = round(c * lit(100)).cast(LongType)

  /** integer cents → double money for output. */
  def money(sumCents: Column): Column = sumCents / lit(100.0)

  /** timestamp → epoch microseconds (BIGINT), the canonical cross-engine
    * timestamp output form (DuckDB: `epoch_us(ts)`). */
  def tsUs(c: Column): Column = unix_micros(c)

  /** SQL fragment: double expr → exact integer cents, DuckDB side. */
  def sqlCents(expr: String): String = s"CAST(ROUND(($expr) * 100) AS BIGINT)"
}
