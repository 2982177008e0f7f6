package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-signature regression net over EVERY query: the committed
  * snapshot (src/test/resources/plan_signatures.txt, written by
  * `runMain graft.PlanSnapshot`) pins each benched plan's coarse
  * operator counts — scans, shuffles, broadcasts, join kinds, windows,
  * aggregate kinds. A change that silently turns a broadcast into a
  * shuffle, doubles a scan, or re-introduces a ranking window fails
  * here with a per-query diff. After an INTENTIONAL plan change,
  * regenerate the snapshot and commit it with the change. */
class PlanSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every query's plan signature matches the committed snapshot") {
    // signatures are COLD-START plan shapes: a warm, materialized cache
    // legitimately plans fewer exchanges, so suites that ran earlier in
    // this JVM must not leak warm state into the comparison
    SourceStamp.reset(spark)
    val committed = scala.io.Source
      .fromInputStream(getClass.getResourceAsStream("/plan_signatures.txt"))
      .getLines().filter(_.nonEmpty).map { line =>
        val i = line.indexOf(' ')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    val diffs = SparkEntry.benchQueries.flatMap { case (name, fn) =>
      val now = PlanSig.render(PlanSig.signature(fn(spark, sfDir)))
      committed.get(name) match {
        case Some(`now`) => None
        case Some(was)   => Some(s"$name:\n  committed: $was\n  current:   $now")
        case None        => Some(s"$name: MISSING from snapshot (regenerate)")
      }
    }
    val stale = committed.keySet -- SparkEntry.benchQueries.map(_._1).toSet
    assert(diffs.isEmpty && stale.isEmpty,
      s"plan signatures drifted (regenerate via `runMain graft.PlanSnapshot` " +
        s"if intentional):\n${diffs.mkString("\n")}" +
        (if (stale.nonEmpty) s"\nstale snapshot entries: $stale" else ""))
  }
}
