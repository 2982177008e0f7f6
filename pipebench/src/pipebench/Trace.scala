package pipebench

import scala.collection.mutable

import org.apache.spark.pipebenchbridge.SparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds (the clock
  * Spark's listener events carry) plus a nanosecond duration. `counters`
  * holds the Spark work whose jobs ran while this span was innermost. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val tag: String, val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var durNs: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap()
  /** (start, end) epoch-ms intervals of this span's own jobs. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = counters(k) = math.max(counters.getOrElse(k, 0.0), v)
}

/** The benchmark's tracer. Off by default: [[span]] then only runs its
  * body, and no listener is registered. When enabled, every span becomes
  * the innermost span of the driver thread; its id travels to Spark as a
  * local property, so the [[JobListener]] can charge each job, stage and
  * task to the span that launched it, and the [[StreamListener]] charges
  * each streaming trigger to the span that started the stream. Spans are
  * kept in memory and written out when the run ends. */
object Trace {
  val Prop = "pipebench.span"

  @volatile private var on = false
  private var spark: SparkSession = _
  private var nextId = 0
  private var stack: List[Span] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val byId = mutable.HashMap[Int, Span]()

  private val jobs = new JobListener
  private val streams = new StreamListener
  private val execs = new NoopExecListener

  def enabled: Boolean = on

  def enable(s: SparkSession): Unit = synchronized {
    spark = s
    if (!on) {
      s.sparkContext.addSparkListener(jobs)
      s.streams.addListener(streams)
      s.listenerManager.register(execs)
      on = true
    }
  }

  def disable(): Unit = synchronized {
    if (on) {
      drain()
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
      spark.listenerManager.unregister(execs)
      spark.sparkContext.setLocalProperty(Prop, null)
      on = false
    }
  }

  /** Wait until every listener event posted so far was delivered. */
  def drain(): Unit = if (spark != null) SparkBridge.drainListeners(spark.sparkContext)

  def current: Option[Span] = stack.headOption

  private[pipebench] def lookup(id: String): Option[Span] =
    if (id == null) None else synchronized(byId.get(id.toInt))

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!on) body
    else {
      val sp = synchronized {
        nextId += 1
        val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0),
          tag, System.currentTimeMillis(), System.nanoTime())
        spans += s
        byId(s.id) = s
        s
      }
      val sc = spark.sparkContext
      stack = sp :: stack
      sc.setLocalProperty(Prop, sp.id.toString)
      try body
      finally {
        sp.durNs = System.nanoTime() - sp.startNs
        sp.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time: the span's duration minus the part of it its direct
    * children cover (children of one span never overlap: one driver
    * thread opens them in sequence). */
  def selfNs(sp: Span): Long = sp.durNs - children(sp.id).map(_.durNs).sum

  private lazy val childIndex: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  def children(id: Int): Seq[Span] = childIndex.getOrElse(id, Nil)

  /** Every noop-sink write the benchmark issued, in issue order, with
    * the planning time and exchange-misestimate count of its plan. */
  val noopWrites: mutable.ArrayBuffer[(Double, Int)] = mutable.ArrayBuffer()

  /** Charge each recorded noop write to the `queries.exec` span that
    * issued it: both lists are in issue order, one write per exec span. */
  def attachNoopWrites(): Unit = {
    drain()
    spans.filter(_.name == "queries.exec").zip(noopWrites).foreach { case (sp, (planS, mis)) =>
      sp.add("plan_s", planS)
      sp.add("exchange_misestimates", mis)
    }
  }

  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    spans.map { s =>
      val c = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},""" +
        s""""tag":"${esc(s.tag)}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_ms":${s.durNs / 1e6},"self_ms":${selfNs(s) / 1e6},""" +
        s""""jobs_iv":${s.jobIntervals.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")},""" +
        s""""counters":{$c}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Charges Spark jobs, stages and task metrics to the span whose id the
  * job carries in its local properties. */
final class JobListener extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Span]()
  private val jobSpan = mutable.HashMap[Int, (Span, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Trace.lookup(Option(e.properties).map(_.getProperty(Trace.Prop)).orNull)
      .foreach { sp =>
        sp.add("jobs", 1)
        e.stageIds.foreach(stageSpan(_) = sp)
        jobSpan(e.jobId) = (sp, e.time)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (sp, t0) => sp.jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { sp =>
      sp.add("tasks", 1)
      sp.add("task_cpu_s", m.executorCpuTime / 1e9)
      sp.add("task_run_s", m.executorRunTime / 1e3)
      sp.add("gc_s", m.jvmGCTime / 1e3)
      sp.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      sp.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      sp.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      sp.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      sp.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      sp.add("input_records", m.inputMetrics.recordsRead.toDouble)
      sp.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      sp.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }
}

/** Charges each streaming trigger's phase durations to the span that
  * started the stream. `QueryStartedEvent` reaches local listeners on
  * the thread that calls `start()`, so the innermost span is known
  * then; progress events arrive later and are matched by run id. */
final class StreamListener extends StreamingQueryListener {
  private val runSpan = mutable.HashMap[java.util.UUID, Span]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { Trace.current.foreach(runSpan(e.runId) = _) }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      runSpan.get(p.runId).foreach { sp =>
        if (p.numInputRows > 0) sp.add("batches", 1)
        sp.add("triggers", 1)
        sp.add("input_rows", p.numInputRows.toDouble)
        p.durationMs.forEach((k, v) => sp.add(s"trigger.${k}_ms", v.doubleValue))
      }
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Catches the benchmark's own noop-sink writes (and nothing else) and
  * records, per write, its planning time and how many exchanges moved
  * more than 10x more or less data than Catalyst estimated. */
final class NoopExecListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private def isNoop(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name() == "noop-table"
      case _ => false
    }
    case _ => false
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isNoop(qe)) {
      val ph = qe.tracker.phases
      val planMs = Seq("optimization", "planning").flatMap(ph.get)
        .map(p => p.endTimeMs - p.startTimeMs).sum
      val mis = collectWithSubqueries(qe.executedPlan) {
        case ex: ShuffleExchangeLike => ex
        case ex: BroadcastExchangeLike => ex
      }.count { ex =>
        val actual = ex.metrics.get("dataSize").map(_.value.toDouble)
        val est = ex.child.logicalLink.map(_.stats.sizeInBytes.toDouble)
        (actual, est) match {
          case (Some(a), Some(e)) if a > 0 && e > 0 => a / e > 10 || e / a > 10
          case _ => false
        }
      }
      Trace.noopWrites.synchronized { Trace.noopWrites += ((planMs / 1e3, mis)) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (isNoop(qe)) Trace.noopWrites.synchronized { Trace.noopWrites += ((0.0, 0)) }
}
