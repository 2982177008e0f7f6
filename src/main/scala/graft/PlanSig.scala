package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Coarse physical-plan signature: operator-class counts that encode a
  * query's scale posture (how many scans/shuffles/broadcasts/joins/
  * windows) without pinning fragile details. Used by PlanSnapshotSpec
  * as a regression net over EVERY query: a change that silently turns a
  * broadcast into a shuffle, doubles a scan, or re-introduces a window
  * shifts the signature and fails the diff. */
object PlanSig {

  /** Operator kinds worth regressing on (anything else is noise). */
  private val kinds: Seq[(String, String)] = Seq(
    "scan"       -> "FileSourceScanExec",
    "cache_read" -> "InMemoryTableScanExec",
    "shuffle"    -> "ShuffleExchangeExec",
    "broadcast"  -> "BroadcastExchangeExec",
    "smj"        -> "SortMergeJoinExec",
    "bhj"        -> "BroadcastHashJoinExec",
    "bnlj"       -> "BroadcastNestedLoopJoinExec",
    "window"     -> "WindowExec",
    "hash_agg"   -> "HashAggregateExec",
    "obj_agg"    -> "ObjectHashAggregateExec",
    "sort_agg"   -> "SortAggregateExec",
    "generate"   -> "GenerateExec",
    "sort"       -> "SortExec")

  def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** name -> count, zero-count kinds omitted; deterministic ordering by
    * kind name for stable serialization. */
  def signature(df: DataFrame): Seq[(String, Int)] = {
    val all = initialPlan(df).collectWithSubqueries { case p => p.getClass.getSimpleName }
    kinds.flatMap { case (label, cls) =>
      val n = all.count(_ == cls)
      if (n > 0) Some(label -> n) else None
    }
  }

  def render(sig: Seq[(String, Int)]): String =
    sig.map { case (k, v) => s"$k=$v" }.mkString(",")
}

/** Regenerate the committed snapshot after an INTENTIONAL plan change:
  * `sbt "runMain graft.PlanSnapshot"` rewrites
  * src/test/resources/plan_signatures.txt. The session comes from
  * [[GraftSession.local]] at 4 cores, the same factory and core count
  * as SparkTestSession, so the spec compares like with like. */
object PlanSnapshot {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0)
      else "src/test/resources/plan_signatures.txt"
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    SourceStamp.reset(spark) // cold-start shapes (see PlanSnapshotSpec)
    val lines = SparkEntry.benchQueries.map { case (name, fn) =>
      s"$name ${PlanSig.render(PlanSig.signature(fn(spark, sfDir)))}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} signatures to $out")
    spark.stop()
  }
}
