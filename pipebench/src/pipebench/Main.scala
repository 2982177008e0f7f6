package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` writes a JSON config, starts this
  * main, and reads back the raw samples this main writes to the config's
  * `out` path; percentiles, checks against the oracle and the printed
  * metrics are computed there.
  *
  * Usage: pipebench.Main <config.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    // the JVM's own start-up, from process start to this line
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val cfg = new ObjectMapper().readTree(Files.readString(Paths.get(args(0))))
    def str(k: String) = cfg.get(k).asText()
    def num(k: String) = cfg.get(k).asDouble()
    def strs(n: JsonNode) = n.elements().asScala.map(_.asText()).toSeq
    val cpus = cfg.get("cpus").asInt()
    val work = str("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = cfg.get("trace").asInt() == 1
    val seconds = num("seconds")
    val minRounds = cfg.get("min_rounds").asInt()
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("boot_s", bootS)
    out.put("session_s", sessionS)
    /** Set-up time: process start to the first timed operation, so the
      * JVM's start, the session's start and the workload's one set-up
      * from an empty warehouse and temp dir. */
    def setupS(workloadSetupS: Double) = bootS + sessionS + workloadSetupS

    /** A traced run traces every other timed round, starting with the
      * second: the first round is the coldest and stays untraced, and the
      * ratio of the traced rounds to the other untraced ones is the
      * tracing overhead. Its round count is odd, so both sets are equal. */
    val traced: Int => Boolean = i => trace && i % 2 == 1
    val rounds = if (trace) minRounds + 1 - minRounds % 2 else minRounds
    def failures(fs: Seq[(String, String)]) = fs.map { case (q, e) => s"$q: $e" }.asJava

    str("kind") match {
      case "queries" =>
        val names = QueryWorkload.resolve(strs(cfg.get("queries")))
        val r = QueryWorkload.run(spark, names, str("data"), seconds, rounds,
          traced, Option(cfg.get("dump")).map(_.asText()))
        out.put("queries", names.asJava)
        val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
        Files.writeString(Paths.get(work, "oracle.json"),
          new ObjectMapper().writeValueAsString(oracles.asJava))
        out.put("setup_s", setupS(r.setupS))
        out.put("setup_ms", r.setupMs.asJava)
        out.put("round_s", r.passS.asJava)
        out.put("traced", r.traced.asJava)
        out.put("op_ms", r.opMs.map { case (k, v) => k -> v.asJava }.asJava)
        out.put("attempted", r.attempted)
        out.put("failures", failures(r.failures))
      case "daily" =>
        val r = DailyWorkload.run(spark, str("input"), work, readSpec(cfg.get("spec")),
          seconds, rounds, traced, cfg.get("serve_per_day").asInt())
        out.put("setup_s", setupS(r.setupS))
        out.put("round_s", r.dayS.asJava)
        out.put("traced", r.traced.asJava)
        out.put("op_ms", r.ops.map { case (k, v) => k -> v.asJava }.asJava)
        out.put("attempted", r.attempted)
        out.put("failures", failures(r.failures))
        out.put("layer", r.layer.asJava)
    }
    out.put("heap_peak_mb", heapPeakMb())
    out.put("heap_live_mb", heapLiveMb())
    // host context, measured after the workload so it warms nothing the
    // set-up time covers
    val (calCpu, calShuffle) = calibrate(spark)
    out.put("cal_cpu", calCpu)
    out.put("cal_shuffle", calShuffle)
    Files.writeString(Paths.get(str("out")), new ObjectMapper().writeValueAsString(out))
    if (trace) {
      Trace.attachNoopWrites()
      Files.writeString(Paths.get(str("spans")), Trace.toJson)
    }
    spark.stop()
  }

  /** Peak use of all heap pools since the JVM started, in MiB. */
  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after a full collection at the end of the run:
    * what the program keeps (caches, catalogs, cached artifacts). */
  private def heapLiveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Host context, the library bench's calibration workload run once: a
    * fixed single-thread hash loop and a fixed 32-task shuffle. */
  private def calibrate(spark: SparkSession): (Double, Double) = {
    def shuffle(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 32).selectExpr("id % 1024 AS k")
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    shuffle()
    val t0 = System.nanoTime()
    var h = 0xcbf29ce484222325L; var i = 0L
    while (i < 200000000L) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    if (h == 42L) println("")
    val cpu = (System.nanoTime() - t0) / 1e9
    (cpu, shuffle())
  }

  private def readSpec(n: JsonNode): DailyWorkload.Spec = {
    def obj(k: String) = n.get(k).properties().asScala.map(e => e.getKey -> e.getValue).toMap
    def longs(v: JsonNode) = v.elements().asScala.map(_.asLong()).toSeq
    DailyWorkload.Spec(
      dates = n.get("dates").elements().asScala.map(_.asText()).toSeq,
      history = n.get("history").asInt(),
      latest = obj("latest").map { case (d, v) =>
        d -> v.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asDouble()) }.toMap },
      serve = obj("serve").map { case (d, v) => d -> v.elements().asScala.map(_.asText()).toSeq },
      scan = obj("scan").map { case (d, v) => d -> { val l = longs(v); (l(0), l(1), l(2)) } },
      txnSums = obj("txn_sums").map { case (d, v) => d -> longs(v) },
      compactEvery = n.get("compact_every").asInt())
  }
}
