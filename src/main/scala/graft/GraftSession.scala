package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the shared
  * test session get the same base: `local[cpus]` with as many shuffle
  * partitions, AQE on, UTC session time, parquet nanosecond timestamps
  * read as longs, and no UI. Callers pass only what differs. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else every core of the machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(conf: (String, String)*): SparkSession = local(cpus, conf: _*)

  def local(cpus: Int, conf: (String, String)*): SparkSession =
    conf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
