package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs every SparkEntry query end-to-end on sf0.001: plans must build,
  * execute, and produce a sane schema. The exact-value gate is the
  * driver's DuckDB compare (tools/check.py); this suite catches
  * regressions cheaply at the smallest SF. */
class QuerySmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  // Queries whose legitimate result can be empty at tiny SF (anti-join /
  // except can both drain to zero rows).
  private val mayBeEmpty = Set("q08_anti_join", "q10_except")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001 with a non-degenerate result") {
      val df = fn(spark, sfDir)
      assert(df.schema.fields.nonEmpty, "empty schema")
      assert(df.schema.fieldNames.distinct.length === df.schema.fieldNames.length,
        "duplicate output column names break the oracle compare")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  // Queries with a DELIBERATE rows-only check (no oracle SQL): sketches
  // aren't cross-engine comparable. Anything else missing an oracle is a
  // bug. q39/q49/q68 carry BRACKET oracles since round 15 (exact
  // values + a bound-check boolean the oracle asserts TRUE), so only
  // two deliberate rows-only entries remain.
  private val rowsOnly =
    Set("q113_comp_ratio",    // deflate is JVM-exact but not SQL-expressible
      "q120_quality_filter")  // a trained LR model is not ANSI SQL (MlQualitySpec)

  test("every query has either an oracle or a deliberate rows-only entry") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing === rowsOnly, s"unexpected oracle coverage diff: $missing")
  }

  // q130 tests partial compaction under LIVE deletes: its key delete
  // must match rows at this scale too, and compact_where must leave
  // files carried for those deletes to mask
  test("q130's sf0.001 build commits its delete and carries files " +
      "through the partial compaction") {
    val root = graft.queries.Txn.ensurePartialCompacted(spark, sfDir)
    val head = graft.sinks.TxnTable.latest(spark, root).get
    val deleted = graft.sinks.TxnTable.snapshot(spark, root, head.version - 1)
    assert(head.op === "compact" && deleted.op === "delete-mor")
    assert(head.deletes.nonEmpty, "q130's key delete matched no row")
    assert(head.files.exists(deleted.files.contains),
      "compact_where rewrote every file: no carried region left to mask")
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
