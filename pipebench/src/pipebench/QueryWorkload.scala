package pipebench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query-library workloads: a fixed list of the library's queries,
  * run in sorted order as a closed loop (each query starts when the
  * previous one returned), each run the way the library's own bench
  * runs it — its bench variant where one exists, executed into the
  * no-op sink. One operation is construct -> guard-rail gate -> execute.
  */
object QueryWorkload {
  type Q = (SparkSession, String) => DataFrame

  /** The 14 query modules, in the order the driver registry lists them. */
  val modules: Seq[(String, Map[String, Q])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "LlmOps" -> graft.queries.LlmOps.queries,
    "TextOps" -> graft.queries.TextOps.queries,
    "Multimodal" -> graft.multimodal.Multimodal.queries,
    "Bucketed" -> graft.queries.Bucketed.queries,
    "Sessions" -> graft.queries.Sessions.queries,
    "ZOrder" -> graft.queries.ZOrder.queries,
    "Incremental" -> graft.queries.Incremental.queries,
    "Clusters" -> graft.queries.Clusters.queries,
    "Scd" -> graft.queries.Scd.queries,
    "Txn" -> graft.queries.Txn.queries,
    "Materialized" -> graft.queries.Materialized.queries,
    "PageRank" -> graft.queries.PageRank.queries,
    "QualityFilter" -> graft.ml.QualityFilter.queries)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Every query the library's bench times, with its bench variant. */
  lazy val library: Map[String, Q] = graft.SparkEntry.queries ++
    graft.queries.Relational.benchVariants ++
    graft.queries.LlmOps.benchVariants ++
    graft.queries.TextOps.benchVariants ++
    graft.queries.Sessions.benchVariants ++
    graft.queries.ZOrder.benchVariants ++
    graft.queries.Txn.benchVariants ++
    graft.queries.Materialized.benchVariants ++
    graft.multimodal.Multimodal.benchVariants ++
    graft.ml.QualityFilter.benchVariants

  /** Resolve a list of ids (`q05` or full names) to sorted full names. */
  def resolve(ids: Seq[String]): Seq[String] = {
    val names = library.keys.toSeq.sorted
    ids.map { id =>
      names.find(n => n == id || n.startsWith(id + "_")).getOrElse(
        throw new IllegalArgumentException(s"unknown query '$id'"))
    }.distinct.sorted
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One operation. Returns None on success, else the failure reason. */
  private def once(spark: SparkSession, name: String, dir: String): Option[String] =
    try {
      val module = moduleOf.getOrElse(name, "?")
      Trace.span("query", name) {
        val df = Trace.span("queries.construct", module)(library(name)(spark, dir))
        val hz = Trace.span("plans.GuardRails.gate", module)(graft.plans.GuardRails.gate(name, df))
        if (hz.nonEmpty) Some("guard-rail refusal: " + hz.map(_.kind).mkString(","))
        else { Trace.span("queries.exec", module)(materialize(df)); None }
      }
    } catch { case NonFatal(e) =>
      Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }

  final case class Result(setupS: Double, setupMs: Map[String, Double], passS: Seq[Double],
                          traced: Seq[Boolean], opMs: Map[String, Seq[Double]], attempted: Int,
                          failures: Seq[(String, String)])

  /** The set-up runs every query once, untimed, in a fresh session over
    * an empty warehouse, so every stamp-cached artifact the queries build
    * is built from nothing. Pass `i` runs traced when `traced(i)`; only
    * untraced passes are timed into `opMs`, by query. */
  def run(spark: SparkSession, names: Seq[String], dir: String,
          seconds: Double, minPasses: Int, traced: Int => Boolean,
          dumpDir: Option[String]): Result = {
    val failures = mutable.ArrayBuffer[(String, String)]()
    var attempted = 0
    val t0 = System.nanoTime()
    val setupMs = Trace.span("setup") {
      names.map { n =>
        val q0 = System.nanoTime()
        attempted += 1
        once(spark, n, dir).foreach(e => failures += n -> e)
        n -> (System.nanoTime() - q0) / 1e6
      }.toMap
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val passes = mutable.ArrayBuffer[Double]()
    val tracedPasses = mutable.ArrayBuffer[Boolean]()
    val ops = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (passes.size < minPasses || elapsed < seconds) {
      val on = traced(passes.size)
      if (on) Trace.enable(spark) else Trace.disable()
      var sum = 0.0
      Trace.span("pass", passes.size.toString) {
        names.foreach { n =>
          val t0 = System.nanoTime()
          attempted += 1
          once(spark, n, dir).foreach(e => failures += n -> e)
          val ms = (System.nanoTime() - t0) / 1e6
          if (!on) ops.getOrElseUpdate(n, mutable.ArrayBuffer()) += ms
          sum += ms / 1e3
        }
      }
      passes += sum
      tracedPasses += on
    }
    Trace.disable()
    // Outputs for the oracle check, written after timing, one directory
    // per query: the timed form itself (the bench variant where one
    // exists; the check compares multisets, so dropped sorts do not matter).
    dumpDir.foreach { out =>
      names.foreach { n =>
        try library(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
        catch { case NonFatal(e) => failures += n -> s"dump: ${e.getMessage}" }
      }
    }
    Result(setupS, setupMs, passes.toSeq, tracedPasses.toSeq,
      ops.map { case (k, v) => k -> v.toSeq }.toMap, attempted, failures.toSeq)
  }
}
