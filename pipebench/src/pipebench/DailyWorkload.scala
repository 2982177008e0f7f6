package pipebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.NextDayTemp
import graft.queries.Materialized
import graft.sinks.{Publish, TxnTable}
import graft.streaming.WeatherStream
import graft.weather.Weather

/** The reference's `@daily` DAG replayed for as many simulated days as
  * the run allows, as a closed loop: each step starts when the previous
  * one returned. The generator (gen.py) wrote every day's documents to
  * `staging/<date>/`, the day's txn operations to `ops/`, and what each
  * check must find to `expect.json`; a day starts by moving its
  * documents into the watched feed directory.
  */
object DailyWorkload {

  final case class Spec(dates: Seq[String], history: Int,
                        latest: Map[String, Map[String, (Long, Double)]],
                        serve: Map[String, Seq[String]],
                        scan: Map[String, (Long, Long, Long)],
                        txnSums: Map[String, Seq[Long]],
                        compactEvery: Int)

  final case class Result(setupS: Double, dayS: Seq[Double], traced: Seq[Boolean],
                          ops: Map[String, Seq[Double]], attempted: Int,
                          failures: Seq[(String, String)], layer: Map[String, Double])

  private val Db = "pipebench"

  /** Paths of the pipeline state. */
  private final case class Roots(base: String) {
    val feed = s"$base/feed"
    val flat = s"$base/flat"
    val published = s"$base/published"
    val raw = s"$base/txn_raw"
    val agg = s"$base/txn_agg"
  }

  private def land(input: String, roots: Roots, date: String): Unit = {
    val dst = Paths.get(roots.feed, date)
    Files.createDirectories(dst.getParent)
    // copy, then one atomic rename: the stream never sees half a day
    val tmp = Paths.get(roots.base, s".landing-$date")
    Files.createDirectories(tmp)
    val docs = Files.list(Paths.get(input, "staging", date))
    try docs.forEach(p =>
      Files.copy(p, tmp.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
    finally docs.close()
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One stream tick over the landed days, each day's documents in one
    * micro-batch. `WeatherStream.publishBatch` overwrites a date's
    * partition on every micro-batch, so a day split over several batches
    * keeps only its last batch's rows (README.md, "Known defect"). */
  private def tick(spark: SparkSession, roots: Roots, spec: Spec, date: String): Unit =
    WeatherStream.runOnce(spark, roots.feed, roots.flat, filesPerBatch = spec.latest(date).size)

  private def opsFrame(spark: SparkSession, input: String, kind: String, date: String): DataFrame =
    spark.read.parquet(s"$input/ops/$kind/$date.parquet")

  /** Exact multiset signature of an events-shaped frame: row count and
    * sums of the key, the user id and the value in integer cents. */
  private def sums(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("event_id")), sum(col("user_id")),
      sum(graft.Det.cents(col("value")))).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def dailyAgg(df: DataFrame): DataFrame =
    df.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(graft.Det.cents(col("value"))).as("sum_cents"))

  /** Set-up: fresh state, the history days landed and ingested one tick
    * per day (the model's training history), the txn table seeded with
    * the history's events and the maintained aggregate built over it. */
  private def setup(spark: SparkSession, input: String, spec: Spec, roots: Roots): Unit = {
    spec.dates.take(spec.history).foreach { d =>
      land(input, roots, d)
      tick(spark, roots, spec, d)
    }
    val seed = spec.dates.take(spec.history)
      .map(d => opsFrame(spark, input, "append", d)).reduce(_ unionByName _)
    TxnTable.append(spark, roots.raw, seed, statsCols = Seq("event_id", "user_id"))
    TxnTable.overwrite(spark, roots.agg, dailyAgg(TxnTable.read(spark, roots.raw)))
  }

  /** The set-up ends with one untimed warm-up day, the way the query
    * workloads' set-up runs every query once. Timed day `i` (from 0) runs
    * traced when `traced(i)`; only untraced days are timed into `ops`. */
  def run(spark: SparkSession, input: String, work: String, spec: Spec,
          seconds: Double, minDays: Int, traced: Int => Boolean,
          serveN: Int): Result = {
    val failures = mutable.ArrayBuffer[(String, String)]()
    var attempted = 0
    val ops = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var on = false     // the day is traced
    var timed = false  // the day's steps are timed
    val layer = mutable.LinkedHashMap[String, Double]()
    def bump(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v

    /** One timed step; failures and wrong results count as failed ops.
      * A step that threw returned nothing, so it has no latency sample. */
    def step[T](name: String, span: String)(body: => T)(check: T => Option[String]): Option[T] = {
      attempted += 1
      val t0 = System.nanoTime()
      val out = try Right(Trace.span(span)(body)) catch { case NonFatal(e) => Left(e) }
      if (timed && out.isRight)
        ops.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      def reason(e: Throwable) = Some(Option(e.getMessage).getOrElse(e.toString).take(300))
      val failure = out match {
        case Left(e) => reason(e)
        case Right(v) => try check(v) catch { case NonFatal(e) => reason(e) }
      }
      failure.foreach { msg =>
        println(s"FAILED $name: $msg")
        failures += name -> msg
      }
      if (failure.isEmpty) out.toOption else None
    }
    val ok: Any => Option[String] = _ => None

    val roots = Roots(s"$work/state")
    val dayS = mutable.ArrayBuffer[Double]()
    val tracedDays = mutable.ArrayBuffer[Boolean]()
    var cursor = 0L
    val days = spec.dates.drop(spec.history)

    /** Day `di` of the loop; day 0 is the set-up's untimed warm-up day. */
    def runDay(di: Int): Unit = {
      val date = days(di)
      // a failure between steps fails the day, not the run
      try Trace.span("day", date) {
        val t0 = System.nanoTime()
        land(input, roots, date)
        step("tick", "streaming.WeatherStream.tick")(
          tick(spark, roots, spec, date))(ok)
        val flat = spark.read.parquet(roots.flat)
        val want = spec.latest(date)
        step("latest", "weather.Weather.latestPerCity") {
          Weather.latestPerCity(spark, flat)
            .select("city", "localtime_epoch", "temp_c").collect()
        } { rows =>
          val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
          if (got == want) None
          else Some(s"latest-per-city differs on ${(got.keySet ++ want.keySet)
            .count(c => got.get(c) != want.get(c))} cities")
        }
        val fit = step("fit", "ml.NextDayTemp.fit")(NextDayTemp.fit(flat))(ok)
        val preds = fit.flatMap(f => step("predict", "ml.NextDayTemp.predict")(
          NextDayTemp.predictNextDay(spark, f.model, flat).withColumn("date", lit(date)))(ok))
        // the day ends when its predictions are published; the check after
        // that is not part of the day's time, and a day whose chain broke
        // before that has no time
        var end = 0L
        preds.foreach(p => step("publish", "sinks.Publish.publish") {
          Publish.publishPartitioned(spark, p, roots.published, Db, "predictions")
          end = System.nanoTime()
        } { _ =>
          val n = spark.table(s"$Db.predictions").filter(col("date") === date).count()
          val part = Paths.get(roots.published, s"date=$date")
          if (Files.isDirectory(part)) {
            val files = Files.list(part)
            try bump("publish_files", files.filter(_.toString.endsWith(".parquet")).count().toDouble)
            finally files.close()
          }
          if (n == want.size) None else Some(s"$n predictions published for ${want.size} cities")
        })
        if (end > 0 && di > 0) { dayS += (end - t0) / 1e9; tracedDays += on }

        // serving: one client, requests back to back
        val table = scala.util.Try(spark.table(s"$Db.predictions").filter(col("date") === date))
        spec.serve(date).take(serveN).foreach { city =>
          step("serve", "sinks.Publish.serve")(Publish.serveJson(table.get, city)) { body =>
            val got = "\"city\":\"([^\"]*)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
            val wantCities = if (city == "All") want.keySet else Set(city)
            bump("serve_rows_returned", got.size)
            if (got.toSet == wantCities && got.size == wantCities.size) None
            else Some(s"served ${got.size} records for '$city'")
          }
        }

        // the txn table: append, late corrections, a pruned scan, a
        // GDPR delete, view maintenance from the change feed, and the
        // maintenance window that folds the delete files
        val expect = spec.txnSums(date)
        def txnCheck(stage: String, want: Seq[Long]): Any => Option[String] = _ => {
          val got = sums(TxnTable.read(spark, roots.raw))
          if (got == want) None else Some(s"txn $stage: rows/sums $got, expected $want")
        }
        val files0 = TxnTable.latest(spark, roots.raw).get.files.toSet
        step("append", "sinks.TxnTable.append")(
          TxnTable.append(spark, roots.raw, opsFrame(spark, input, "append", date)))(
          txnCheck("append", expect.slice(0, 4)))
        val files1 = TxnTable.latest(spark, roots.raw).get.files
        bump("txn.files_added", files1.count(f => !files0.contains(f)))
        step("merge", "sinks.TxnTable.merge")(
          TxnTable.mergeInto(spark, roots.raw, opsFrame(spark, input, "merge", date),
            Seq("event_id")))(txnCheck("merge", expect.slice(4, 8)))
        val files2 = TxnTable.latest(spark, roots.raw).get.files
        bump("txn.files_added", files2.count(f => !files1.toSet.contains(f)))
        val (lo, hi, wantScan) = spec.scan(date)
        step("scan", "sinks.TxnTable.scan") {
          val df = TxnTable.readPruned(spark, roots.raw, "event_id", lo, hi)
          val n = df.filter(col("event_id").between(lo, hi)).count()
          (n, df.inputFiles.length)
        } { case (n, read) =>
          bump("txn.scan_files_read", read)
          bump("txn.scan_files_total", files2.size)
          if (n == wantScan) None else Some(s"pruned scan returned $n rows, expected $wantScan")
        }
        step("delete", "sinks.TxnTable.delete")(
          TxnTable.deleteKeysMor(spark, roots.raw, "user_id",
            opsFrame(spark, input, "delete", date)))(txnCheck("delete", expect.slice(8, 12)))
        val head = TxnTable.latest(spark, roots.raw).get.version
        step("maintain", "queries.Materialized.maintain")(
          Materialized.maintainFromFeed(spark, roots.raw, roots.agg, cursor, head)) { _ =>
          val got = TxnTable.read(spark, roots.agg).collect().map(_.toSeq).toSet
          val want = dailyAgg(TxnTable.read(spark, roots.raw)).collect().map(_.toSeq).toSet
          if (got == want) None else Some("maintained aggregate differs from recompute")
        }
        if (Trace.enabled) Trace.span("measure.feed") {
          bump("feed_rows", TxnTable.changesBetween(spark, roots.raw, cursor, head).count().toDouble)
        }
        val full = (di + 1) % spec.compactEvery == 0
        // the next day's append check covers what compaction kept
        step("compact", "sinks.TxnTable.compact") {
          if (full) TxnTable.compactTxn(spark, roots.raw, 4, Seq("event_id"))
          else TxnTable.compactDeletes(spark, roots.raw)
        }(ok)
        cursor = TxnTable.latest(spark, roots.raw).get.version
        bump("txn.manifest_bytes", manifestBytes(spark, roots.raw))
      } catch { case NonFatal(e) =>
        attempted += 1
        failures += "day" -> Option(e.getMessage).getOrElse(e.toString).take(300)
      }
    }

    val setupStart = System.nanoTime()
    Trace.span("setup") {
      setup(spark, input, spec, roots)
      cursor = TxnTable.latest(spark, roots.raw).get.version
      runDay(0)
    }
    val setupS = (System.nanoTime() - setupStart) / 1e9

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var di = 1
    while (di < days.size && (di <= minDays || elapsed < seconds)) {
      on = traced(di - 1)
      timed = !on
      if (on) Trace.enable(spark) else Trace.disable()
      runDay(di)
      di += 1
    }
    Trace.disable()
    Result(setupS, dayS.toSeq, tracedDays.toSeq, ops.map { case (k, v) => k -> v.toSeq }.toMap,
      attempted, failures.toSeq, layer.toMap)
  }

  /** Bytes of the head snapshot's manifest: the version file plus the
    * manifest segments it references. */
  private def manifestBytes(spark: SparkSession, root: String): Double = {
    val snap = TxnTable.latest(spark, root).get
    val txn = Paths.get(root, "_txn")
    val names = f"v${snap.version}%010d.txt" +: snap.segs
    names.map(n => txn.resolve(n)).filter(Files.exists(_)).map(Files.size(_).toDouble).sum
  }
}
