package graft

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

object StreamPrefixSpec {
  final case class Ev(user_id: Long, event_type: String, ts: Timestamp, value: Double)
  final case class Kept(user_id: Long, event_type: String, ts_ms: Long, value: Double)
  final case class Scored(group: String, id: Long, score: Double)
  final case class Ranked(group: String, rank: Int, id: Long, score: Double)
  final case class Board(ids: Array[Long], scores: Array[Double])
  /** A click (`is_click`) or a purchase, on one stream so that one
    * group state sees both sides in event-time order. */
  final case class Tagged(user_id: Long, id: Long, ts: Timestamp, is_click: Boolean)
  final case class Enriched(user_id: Long, event_id: Long, ts_ms: Long, asof_click: Option[Long])
  /** Clicks and pending purchases, each as (event ms, id). */
  final case class Buf(clicks: Vector[(Long, Long)], purchases: Vector[(Long, Long)])

  // README's flatMapGroupsWithState recipes, as the rows below run them.

  /** Throttle: per (user, type), keep an event only when it is more than
    * `windowMs` after the last KEPT one; state is that one timestamp, and
    * its event-time timeout only frees it. Folds in event-time order
    * within a batch, so batches must not overlap in time. */
  def throttle(windowMs: Long)(key: (Long, String), evs: Iterator[Ev],
                               state: GroupState[Long]): Iterator[Kept] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      var last = state.getOption
      val kept = evs.toVector.sortBy(e => (e.ts.getTime, e.value)).filter { e =>
        val keep = last.forall(e.ts.getTime > _ + windowMs)
        if (keep) last = Some(e.ts.getTime)
        keep
      }
      last.foreach { ms => state.update(ms); state.setTimeoutTimestamp(ms + windowMs) }
      kept.iterator.map(e => Kept(key._1, key._2, e.ts.getTime, e.value))
    }

  /** Top-k: per group, exactly k (id, max score) slots; per-id maxima only
    * rise, so an evicted id can only come back above its discarded past. */
  def topK(k: Int)(group: String, evs: Iterator[Scored],
                   state: GroupState[Board]): Iterator[Ranked] = {
    val maxes = scala.collection.mutable.Map(
      state.getOption.fold(Seq.empty[(Long, Double)])(b => b.ids.toSeq.zip(b.scores)): _*)
    evs.foreach(e => if (maxes.get(e.id).forall(_ < e.score)) maxes(e.id) = e.score)
    val board = maxes.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    state.update(Board(board.map(_._1).toArray, board.map(_._2).toArray))
    board.iterator.zipWithIndex.map { case ((id, s), i) => Ranked(group, i + 1, id, s) }
  }

  /** As-of enrich: buffer a user's purchases until the watermark passes
    * them, then match each to the latest click at or before it (larger
    * click id on a tie). Clicks behind the watermark collapse to the
    * newest one; a timeout at the earliest pending purchase flushes it. */
  def asOf(user: Long, it: Iterator[Tagged], state: GroupState[Buf]): Iterator[Enriched] = {
    val prev = state.getOption.getOrElse(Buf(Vector.empty, Vector.empty))
    val (inC, inP) = (if (state.hasTimedOut) Vector.empty else it.toVector).partition(_.is_click)
    val clicks = prev.clicks ++ inC.map(e => (e.ts.getTime, e.id))
    val wm = state.getCurrentWatermarkMs()
    val (ready, pending) = (prev.purchases ++ inP.map(e => (e.ts.getTime, e.id))).partition(_._1 <= wm)
    val out = ready.sorted.map { case (pMs, pId) =>
      Enriched(user, pId, pMs, clicks.filter(_._1 <= pMs).maxOption.map(_._2))
    }
    val (live, old) = clicks.partition(_._1 > wm)
    val keptC = old.maxOption.toVector ++ live
    if (pending.isEmpty && keptC.isEmpty) state.remove()
    else {
      state.update(Buf(keptC, pending))
      if (pending.nonEmpty) state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
    }
    out.iterator
  }

  /** A closed session: first and last event time, event count, value sum. */
  final case class Sess(user_id: Long, start_ms: Long, last_ms: Long, n: Long,
                        value_sum: Double)
  /** One hopping window's aggregate for one event type. */
  final case class Hop(w_start_ms: Long, event_type: String, n: Long, total: Double)

  /** One row. `reference(prefix, watermarkMs)` is the batch answer over
    * the prefix, restricted to rows final at the watermark. With
    * `update` empty the query runs in append mode and its answer is
    * every row emitted so far; with `update = Some(group)` it runs in
    * update mode and its answer is, per group, the rows of the last
    * batch (by `foreachBatch` batch id) that emitted that group.
    * `eventMs` is the watermarked event time, for forms that have one. */
  private final case class Row[I, O](
      name: String,
      batches: Seq[Seq[I]],
      stream: Dataset[I] => Dataset[O],
      reference: (Seq[I], Long) => Seq[O],
      update: Option[O => Any] = None,
      eventMs: Option[I => Long] = None)(implicit val in: Encoder[I])
}

/** Structured Streaming's one law (SIGMOD 2018): a streaming query's
  * output is the batch query over the input prefix read so far. Each row
  * of the table scripts micro-batches into a MemoryStream, runs a
  * streaming form, and after EVERY micro-batch asserts that the answer
  * emitted so far equals a plain-Scala reference over that prefix,
  * restricted to the rows final at the watermark.
  *
  * The watermark is read from `lastProgress`, never derived by hand:
  * Spark runs a no-data batch after a data batch that moved it, so the
  * watermark an operator finalized at is that batch's, not one computed
  * from the inputs. Two input rules keep each expected answer exact: no
  * row sits ON a finalization boundary ([[isFinal]] asserts it), and no
  * input arrives at or behind the watermark (the harness asserts it). */
class StreamPrefixSpec extends AnyFunSuite {
  import StreamPrefixSpec._

  private lazy val spark = SparkTestSession.spark
  private implicit def product[T <: Product: TypeTag]: Encoder[T] = Encoders.product[T]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** Whether finalization time `t` (a purchase's event time, a session's
    * or window's end) has passed watermark `wm`. Whether Spark finalizes
    * a row exactly AT the watermark depends on which batch touches its
    * key, by data or by timeout, so inputs keep off that boundary. */
  private def isFinal(t: Long, wm: Long): Boolean = {
    assert(t != wm, s"a row finalizes exactly at the watermark $wm: ambiguous")
    t < wm
  }

  private def bag[T](xs: Seq[T]): Map[T, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  private def check[I, O](row: Row[I, O]): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    implicit val in: Encoder[I] = row.in
    val input = MemoryStream[I]
    val emitted = ArrayBuffer[(Long, O)]()
    val query = row.stream(input.toDS()).writeStream
      .outputMode(if (row.update.isDefined) "update" else "append")
      .foreachBatch { (df: Dataset[O], id: Long) =>
        val rows = df.collect()
        emitted.synchronized { emitted ++= rows.map(id -> _) }
        ()
      }.start()
    def watermark: Long = Option(query.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .fold(0L)(Instant.parse(_).toEpochMilli)
    def answer: Seq[O] = {
      val rows = emitted.synchronized(emitted.toSeq)
      row.update.fold(rows.map(_._2)) { group =>
        rows.groupBy(r => group(r._2)).values.toSeq.flatMap { rs =>
          val last = rs.map(_._1).max
          rs.collect { case (`last`, r) => r }
        }
      }
    }
    try {
      row.batches.zipWithIndex.foldLeft(Seq.empty[I]) { case (read, (batch, b)) =>
        val before = watermark
        row.eventMs.foreach { t =>
          assert(batch.forall(t(_) > before), s"batch $b has input late at watermark $before")
        }
        input.addData(batch)
        query.processAllAvailable()
        val prefix = read ++ batch
        val wm = watermark
        assert(bag(answer) === bag(row.reference(prefix, wm)), s"after batch $b at watermark $wm")
        prefix
      }
    } finally query.stop()
  }

  // away from epoch 0: the initial watermark is 0
  private val Base = 1000000L
  private def ts(sec: Long) = new Timestamp((Base + sec) * 1000L)

  private val throttle = Row[Ev, Kept](
    "Throttle: kept events == the last-kept fold over the prefix",
    // the throttle folds in event-time order only within a batch, so
    // every batch here starts after the last ends
    Seq(
      // 25 is dropped (within 0+30); 52 is kept: more than 30 s after the
      // last KEPT event though only 27 s after the previous raw one, the
      // case where q87's debounce differs. (1, view) is its own key.
      Seq(Ev(1, "click", ts(0), 1.0), Ev(1, "click", ts(25), 2.0),
        Ev(1, "click", ts(52), 3.0), Ev(1, "view", ts(26), 4.0)),
      // state crosses batches: the last kept is 52, so 80 drops, 83 passes
      Seq(Ev(1, "click", ts(80), 5.0), Ev(1, "click", ts(83), 6.0)),
      // an in-batch tie on ts keeps one event, the lower value
      Seq(Ev(7, "view", ts(105), 2.0), Ev(7, "view", ts(105), 1.0))),
    in => in.withWatermark("ts", "0 seconds").groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        StreamPrefixSpec.throttle(30000L) _),
    (prefix, _) => prefix.groupBy(e => (e.user_id, e.event_type)).values.toSeq.flatMap {
      _.sortBy(e => (e.ts.getTime, e.value)).foldLeft(Vector.empty[Kept]) { (kept, e) =>
        if (kept.lastOption.forall(e.ts.getTime > _.ts_ms + 30000L))
          kept :+ Kept(e.user_id, e.event_type, e.ts.getTime, e.value)
        else kept
      }
    },
    eventMs = Some(_.ts.getTime))

  private val topK = Row[Scored, Ranked](
    "TopKState: each group's latest board == top 3 by per-id max over the prefix",
    Seq(
      Seq(Scored("a", 1, 10.0), Scored("a", 2, 20.0), Scored("a", 3, 30.0)),
      Seq(Scored("a", 4, 15.0)),  // evicts id 1 (10 < 15)
      Seq(Scored("a", 1, 25.0)),  // id 1 re-enters above its discarded past
      Seq(Scored("a", 2, 1.0)),   // a lower score leaves id 2's max
      Seq(Scored("a", 5, 25.0)),  // ties id 1: the smaller id ranks first
      Seq(Scored("b", 9, 1.0)),   // new group; 'a' is untouched, keeps its board
      Seq(Scored("a", 6, 100.0), Scored("b", 8, 2.0))),
    in => in.groupByKey(_.group).flatMapGroupsWithState(OutputMode.Update(),
      GroupStateTimeout.NoTimeout())(StreamPrefixSpec.topK(3) _),
    (prefix, _) => prefix.groupBy(_.group).toSeq.flatMap { case (g, evs) =>
      evs.groupMapReduce(_.id)(_.score)(math.max).toSeq
        .sortBy { case (id, s) => (-s, id) }.take(3)
        .zipWithIndex.map { case ((id, s), i) => Ranked(g, i + 1, id, s) }
    },
    update = Some(_.group))

  private def click(user: Long, id: Long, sec: Long) = Tagged(user, id, ts(sec), is_click = true)
  private def purchase(user: Long, id: Long, sec: Long) = Tagged(user, id, ts(sec), is_click = false)

  private val asOf = Row[Tagged, Enriched](
    "AsOfEnrich: final purchases == latest prior click over the prefix",
    Seq(
      // nothing is final at watermark 10: a later batch could still
      // deliver a click between 10 and 20
      Seq(click(1, 101, 10), purchase(1, 201, 20)),
      // click 102@15 arrives after the purchase it precedes; the
      // watermark becomes 19 (202 at 29, not 30, keeps it off 201's 20),
      // so 201 is still pending
      Seq(click(1, 102, 15), click(1, 103, 25), purchase(1, 202, 29)),
      // watermark 25, pushed by another user: 201 finalizes by timeout
      // and matches the late-arriving 102, not 101; 202@29 stays pending
      Seq(click(99, 999, 35)),
      Seq(purchase(1, 203, 40), click(99, 998, 60)),
      // user 2: 204 has no prior click (None); 205 ties two clicks AT its
      // own time, which count, and the larger click id wins. 204 at 111,
      // not 110, stays off the watermark this batch sets (110).
      Seq(purchase(2, 204, 111), purchase(2, 205, 120), click(2, 55, 120), click(2, 56, 120)),
      Seq(click(99, 1, 150)),
      Seq(click(99, 2, 151))),
    in => in.withWatermark("ts", "10 seconds").groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        StreamPrefixSpec.asOf _),
    (prefix, wm) => {
      val (clicks, purchases) = prefix.partition(_.is_click)
      purchases.filter(p => isFinal(p.ts.getTime, wm)).map { p =>
        val prior = clicks.filter(c => c.user_id == p.user_id && !c.ts.after(p.ts))
        Enriched(p.user_id, p.id, p.ts.getTime,
          prior.map(c => (c.ts.getTime, c.id)).maxOption.map(_._2))
      }
    },
    eventMs = Some(_.ts.getTime))

  private val GapMs = 30000L

  private val sessions = Row[Ev, Sess](
    "session_window: closed sessions == gap sessions over the prefix",
    Seq(
      // an in-delay event (50 > watermark 40) lands before an open
      // session's start (100): the batch rule gives two sessions
      Seq(Ev(1, "view", ts(100), 1.0)),
      Seq(Ev(1, "view", ts(50), 2.0)),
      // another key pushes the watermark to 940: [50] and [100] close
      Seq(Ev(2, "view", ts(1000), 3.0)),
      // 2000 and 2010 form one session, 2101 opens the next in the same
      // batch; 2101 (not 2100) keeps the first session's end (2040) off
      // the new watermark
      Seq(Ev(3, "view", ts(2000), 1.0), Ev(3, "view", ts(2010), 2.0),
        Ev(3, "view", ts(2101), 4.0)),
      // [2101] closes on the watermark alone
      Seq(Ev(2, "view", ts(3000), 5.0))),
    in => in.withWatermark("ts", "60 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("user_id"))
      .agg(unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("last_ms"),
        count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select("user_id", "start_ms", "last_ms", "n", "value_sum").as[Sess],
    (prefix, wm) => prefix.groupBy(_.user_id).toSeq.flatMap { case (user, evs) =>
      evs.sortBy(_.ts.getTime).foldLeft(Vector.empty[Vector[Ev]]) { (ss, e) =>
        val gap = ss.lastOption.map(s => e.ts.getTime - s.last.ts.getTime)
        assert(!gap.contains(GapMs), "an event exactly one gap after the last: ambiguous")
        if (gap.exists(_ < GapMs)) ss.init :+ (ss.last :+ e) else ss :+ Vector(e)
      }.map(s => Sess(user, s.head.ts.getTime, s.last.ts.getTime, s.size, s.map(_.value).sum))
    }.filter(s => isFinal(s.last_ms + GapMs, wm)),
    eventMs = Some(_.ts.getTime))

  private val DayMs = 86400L * 1000L
  // epoch-aligned days, so windows start on day boundaries; the
  // watermark then never sits on a window end
  private def day(d: Long, hour: Long = 12) = new Timestamp(d * DayMs + hour * 3600L * 1000L)

  private val hopping = Row[Ev, Hop](
    "q85 hopping window: closed windows == hopping aggregate over the prefix",
    Seq(
      Seq(Ev(1, "view", day(100), 1.0), Ev(2, "view", day(100, 20), 2.0),
        Ev(1, "purchase", day(101), 10.0), Ev(3, "view", day(102), 3.0),
        Ev(2, "purchase", day(102, 1), 20.0), Ev(1, "view", day(103), 4.0)),
      Seq(Ev(99, "view", day(200), 0.0)),
      Seq(Ev(99, "view", day(201), 0.0))),
    // q85's aggregate, window(ts, 3 days, 1 day) per event type
    in => in.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "3 days", "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(unix_millis(col("w.start")).as("w_start_ms"), col("event_type"),
        col("n"), col("total")).as[Hop],
    (prefix, wm) => prefix
      .flatMap(e => (0 to 2).map(k => (Math.floorDiv(e.ts.getTime, DayMs) - k) * DayMs -> e))
      .filter { case (start, _) => isFinal(start + 3 * DayMs, wm) }
      .groupBy { case (start, e) => (start, e.event_type) }.toSeq
      .map { case ((start, t), es) => Hop(start, t, es.size, es.map(_._2.value).sum) },
    eventMs = Some(_.ts.getTime))

  Seq[Row[_, _]](throttle, topK, asOf, sessions, hopping).foreach(row => test(row.name)(check(row)))
}
