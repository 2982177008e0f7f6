package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (Test/fork := true
  * gives all suites a single forked JVM, so getOrCreate dedups). Built by
  * [[GraftSession.local]] at 4 cores, like PlanSnapshot's session, so the
  * committed plan signatures compare like with like. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A suite-private session: same SparkContext and warehouse, OWN
    * SQLConf / catalog registry / temp views. Any suite that mutates a
    * session conf — even inside try/finally — must run on one of
    * these: sbt executes suites IN PARALLEL inside the single forked
    * JVM, so a conf window on the shared session bleeds into whatever
    * other suite is mid-flight (the round-14 flake: a concurrent
    * suite's window defeated a SQL DELETE's file pruning). */
  def isolated(): SparkSession = spark.newSession()

  private val JobTag = "graft.test.jobsIn"
  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()

  private lazy val jobCounter: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(JobTag))).foreach { tag =>
        jobsByTag.computeIfAbsent(tag, _ => new AtomicInteger()).incrementAndGet()
      }
  })

  /** Runs `body` and counts the Spark jobs it launched: only jobs that
    * carry this call's unique tag, a local property of the calling
    * thread that threads started from it (a streaming query's) inherit.
    * Jobs of concurrently running suites carry no tag and are not
    * counted. */
  def jobsIn[T](body: => T): (T, Int) = {
    jobCounter
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(JobTag)
    def tagged[R](tag: String)(f: => R): R = {
      sc.setLocalProperty(JobTag, tag)
      try f finally sc.setLocalProperty(JobTag, prior)
    }
    val tag = UUID.randomUUID().toString
    val out = tagged(tag)(body)
    // listener events are delivered asynchronously but in order: once a
    // marker job launched after the body is seen, so are all the body's
    val marker = s"$tag/marker"
    tagged(marker)(sc.parallelize(Seq(0), 1).count())
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!jobsByTag.containsKey(marker)) {
      assert(System.nanoTime() < deadline, "job listener did not catch up in 60 s")
      Thread.sleep(5)
    }
    jobsByTag.remove(marker)
    (out, Option(jobsByTag.remove(tag)).fold(0)(_.get))
  }
}
