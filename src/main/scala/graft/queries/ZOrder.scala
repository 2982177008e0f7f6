package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Z-order (Morton) clustering — multi-dimensional data layout for
  * row-group skipping, the `OPTIMIZE ZORDER BY` analog.
  *
  * A table range-partitioned and sorted on ONE column skips scans only
  * for predicates on that column; a 100 TB fact table is queried on
  * several. Interleaving the bits of two (or more) dimension keys into
  * one z-value and clustering files by z-ranges gives every dimension
  * locality: a z-contiguous file covers a RECTANGLE in dimension space,
  * so parquet footer min/max stats prune files for predicates on ANY
  * interleaved dimension — including conjunctive boxes — instead of
  * just the leading sort key. ZOrderSpec MEASURES this: same data, same
  * file count, same predicate; the z-clustered layout's scan emits
  * strictly fewer post-skipping rows than the single-key layout.
  *
  * `zvalue` is a pure composition of codegen'd integer built-ins
  * (shift/and/or) — no UDF, no lambda; it rides inside
  * WholeStageCodegen and is cheap enough to compute at write time for
  * every row. Dimensions must be small non-negative ints (ids, days,
  * bucket ordinals); real-valued or skewed dims are first rank-bucketed
  * (e.g. `ntile` / range-partition ordinal), which preserves the
  * rectangle-pruning property — the interleave does not care what the
  * ordinals mean.
  */
object ZOrder extends graft.QueryModule {

  /** Bits interleaved per dimension (a in even positions, b in odd).
    * 16 bits per dim covers ordinals up to 65535 — dims are bucket
    * ordinals by contract, so 16 is a ceiling, not a limit. */
  private[queries] val Bits = 16

  /** Morton interleave of the low [[Bits]] bits of two non-negative
    * long columns: bit i of `a` lands at 2i, bit i of `b` at 2i+1. */
  def zvalue(a: Column, b: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** N-dimensional Morton interleave (the general OPTIMIZE ZORDER
    * key): bit i of dimension j lands at `n*i + j`, round-robin, so
    * every dimension contributes equally at every scale and a
    * contiguous z-range is an n-cube stack. Bit budget splits the
    * 63 usable bits evenly, capped at [[Bits]] per dimension (the
    * 2-dim case reproduces [[zvalue]] exactly). Same composition of
    * codegen'd integer built-ins — no UDF, constant plan depth in
    * rows. */
  def zvalueN(dims: Seq[Column]): Column = {
    require(dims.size >= 2, s"z-order needs >= 2 dimensions, got ${dims.size}")
    val n = dims.size
    val bits = math.min(Bits, 63 / n)
    (0 until bits).flatMap { i =>
      dims.zipWithIndex.map { case (d, j) =>
        shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), n * i + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** A z-order DIMENSION for column `name` of `df`: integral columns
    * interleave their raw low bits as before; a STRING column maps
    * through the order-preserving prefix encoding
    * ([[graft.functions.Utf8Prefix64]]) and contributes its TOP bits
    * (the encoding's order lives high — shifting down keeps the
    * rank-coarse value the interleave wants), so `zorder('lang',
    * 'n_chars')`-style clustering over a string × numeric pair works.
    * A null string yields a null z-value, exactly as a null long always
    * did (nulls range-partition together). */
  def zdim(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.StringType =>
        shiftrightunsigned(
          graft.functions.Utf8Prefix64.lowerCol(col(name))
            .bitwiseXOR(lit(Long.MinValue)),
          64 - Bits)
      case _ => col(name)
    }

  /** DuckDB mirror of [[zvalue]] — identical shift/mask arithmetic. */
  private[queries] def sqlZvalue(a: String, b: String): String =
    (0 until Bits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")

  // ---------------------------------------------------------------------
  // q55: the z-value computation itself, oracle-checked bit-for-bit —
  // events keyed by (user_id, day-of-month), the two dims a daily event
  // table is actually queried on. Pure projection + the verify sort:
  // zero shuffle before the determinism orderBy.
  // ---------------------------------------------------------------------
  val q55: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id", $"user_id",
        dayofmonth($"ts").cast("long").as("day"))
      .withColumn("zval", zvalue($"user_id", $"day"))
      .orderBy($"zval", $"event_id")
  }
  val q55Sql: String =
    s"""SELECT event_id, user_id,
       |  CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
       |  ${sqlZvalue("user_id", "CAST(EXTRACT(DAY FROM ts) AS BIGINT)")} AS zval
       |FROM events
       |ORDER BY zval, event_id""".stripMargin

  val queries: Map[String, Q] = Map("q55_zorder" -> q55)
  val oracles: Map[String, String] = Map("q55_zorder" -> q55Sql)

  /** Bench form without the verify-only global sort. */
  override val benchVariants: Map[String, Q] = Map("q55_zorder" -> ((s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id", $"user_id",
        dayofmonth($"ts").cast("long").as("day"))
      .withColumn("zval", zvalue($"user_id", $"day"))
  }))
}
