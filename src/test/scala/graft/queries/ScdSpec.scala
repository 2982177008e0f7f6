package graft.queries

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** SCD-2 merge laws: interval integrity, exactly-one-current, history
  * immutability, and idempotence of a repeated batch — the properties a
  * MERGE implementation must hold that a single oracle row can't pin. */
class ScdSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated() // mutates session confs

  private def dim0 = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "A", Date.valueOf("2024-01-01"), null.asInstanceOf[Date], true),
      // key 2 already has history: one closed + one open version
      (2L, "B", Date.valueOf("2024-01-01"), Date.valueOf("2024-03-01"), false),
      (2L, "C", Date.valueOf("2024-03-01"), null.asInstanceOf[Date], true),
      (3L, "D", Date.valueOf("2024-01-01"), null.asInstanceOf[Date], true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
  }

  private def upd = {
    val s = spark
    import s.implicits._
    // key 1: real change; key 2: no-op re-statement; key 3: untouched;
    // key 4: INSERT (no dimension row at all)
    Seq((1L, "A2"), (2L, "C"), (4L, "E")).toDF("k", "_u_val")
  }

  private def applied =
    Scd.scd2Apply(dim0, upd, "k", "attr", lit("2024-06-01"))

  test("changed key gets closed old version + open new version") {
    val s = spark
    import s.implicits._
    val rows = applied.filter($"k" === 1).orderBy($"valid_from")
      .as[(Long, String, Date, Option[Date], Boolean)].collect()
    assert(rows.toSeq === Seq(
      (1L, "A", Date.valueOf("2024-01-01"), Some(Date.valueOf("2024-06-01")), false),
      (1L, "A2", Date.valueOf("2024-06-01"), None, true)))
  }

  test("no-op update and untouched key pass through; history is immutable") {
    val s = spark
    import s.implicits._
    val out = applied.cache()
    // key 2: both rows exactly as before (the no-op must not close/reopen)
    assert(out.filter($"k" === 2).count() === 2)
    val k2 = out.filter($"k" === 2 && $"is_current").select($"attr", $"valid_from")
      .as[(String, Date)].collect().toSeq
    assert(k2 === Seq(("C", Date.valueOf("2024-03-01"))))
    assert(out.filter($"k" === 3 && $"is_current" && $"attr" === "D").count() === 1)
    out.unpersist()
  }

  test("exactly one current row per key; intervals don't overlap") {
    val s = spark
    import s.implicits._
    val out = applied.cache()
    val multiCurrent = out.filter($"is_current")
      .groupBy($"k").count().filter($"count" =!= 1).count()
    assert(multiCurrent === 0)
    // per key, sorted intervals must chain: next valid_from == prev valid_to
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"valid_from")
    val broken = out
      .withColumn("prev_to", lag($"valid_to", 1).over(w))
      .filter($"prev_to".isNotNull && $"prev_to" =!= $"valid_from")
      .count()
    assert(broken === 0)
    out.unpersist()
  }

  test("an update key absent from the dimension inserts one open row") {
    val s = spark
    import s.implicits._
    val rows = applied.filter($"k" === 4)
      .as[(Long, String, Date, Option[Date], Boolean)].collect()
    assert(rows.toSeq === Seq(
      (4L, "E", Date.valueOf("2024-06-01"), None, true)))
  }

  test("re-applying the same batch is a no-op (idempotence)") {
    val once = applied
    val twice = Scd.scd2Apply(once, upd, "k", "attr", lit("2024-06-01"))
    assert(twice.exceptAll(once).count() === 0)
    assert(once.exceptAll(twice).count() === 0)
  }

  test("oversized batch drops the broadcast hint; shuffle path is hash-identical") {
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    // default threshold: the tiny batch is hinted
    assert(hinted(applied), "small batch should carry the broadcast hint")
    // threshold -1 disables broadcast entirely: the gate must NOT hint
    // (a CDC backfill keeps the engine's shuffle fallback), and the
    // result is identical either way
    val base = applied.collect().map(_.toSeq).toSet
    withThreshold("-1") {
      val un = applied
      assert(!hinted(un), "gate must drop the hint when broadcast is off")
      val bhj = un.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.isEmpty, "no broadcast join may survive threshold -1")
      assert(un.collect().map(_.toSeq).toSet === base)
    }
  }

  private def withThreshold[T](v: String)(body: => T): T = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(k)
    spark.conf.set(k, v)
    try body finally spark.conf.set(k, old)
  }

  test("q64 on testdata: one current row per key, changed keys doubled") {
    val s = spark
    import s.implicits._
    val out = Scd.q64(s, "/root/testdata/sf0.001").cache()
    val cust = graft.Tables.t(s, "/root/testdata/sf0.001", "customer")
    val nCust = cust.count()
    val nInserts = cust.filter($"c_custkey" % 25 === 0).count()
    val nChanged = out.filter($"is_current" === false).count()
    assert(out.count() === nCust + nInserts + nChanged)
    assert(out.filter($"is_current").count() === nCust + nInserts)
    // every closed row is matched by a new open row at the same key
    val reopened = out.filter(!$"is_current")
      .select($"c_custkey").join(
        out.filter($"is_current" && $"valid_from" === "2024-06-01")
          .select($"c_custkey"), Seq("c_custkey"), "left_anti").count()
    assert(reopened === 0)
    out.unpersist()
  }
}
