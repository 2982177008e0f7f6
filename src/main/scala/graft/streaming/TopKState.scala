package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING TOP-K maintenance — the continuous leaderboard: per group,
  * the top k ids by their MAXIMUM score seen so far, re-emitted after
  * every micro-batch. The state is EXACTLY k slots per group, and that
  * bound is not an approximation: per-id maxima only grow, so the k-th
  * best maximum is monotone non-decreasing, and an id evicted below it
  * can only re-enter by scoring ABOVE its own discarded past — keeping
  * k (id, max) pairs therefore reproduces batch top-k over the full
  * history bit-for-bit (StreamPrefixSpec's TopKState row pins the
  * eviction/re-entry cases where sub-k state would be tempting and
  * wrong... and also the one where it works). This is
  * [[graft.functions.TopKByScore]]'s bounded-buffer idea lifted from a
  * map-side aggregate into cross-batch streaming state.
  *
  * Scale posture: one shuffle on the group key per batch; state is
  * k × (long, double) per group — bounded by construction, no timeout
  * needed because the state IS the answer (a leaderboard never
  * expires; dropping it would change results). Update-mode output:
  * each batch emits each touched group's current top-k.
  */
object TopKState extends Serializable {

  final case class Scored(group: String, id: Long, score: Double)
  final case class Ranked(group: String, rank: Int, id: Long, score: Double)
  // not private: the state encoder's generated code instantiates it
  final case class Board(ids: Array[Long], scores: Array[Double])

  /** The maintenance core as a pure fold (property-tested): fold new
    * (id, score) pairs into a board of per-id maxima, keep top k by
    * (score DESC, id ASC). */
  private[graft] def foldBoard(board: Seq[(Long, Double)],
                               evs: Seq[(Long, Double)],
                               k: Int): Seq[(Long, Double)] = {
    val maxes = scala.collection.mutable.Map(board: _*)
    // NaN events are dropped at the fold boundary: `_ < NaN` is false, so
    // a NaN would otherwise seize a slot no later score could evict, and
    // sortBy is not a total order with NaN in play — matching batch
    // top-k, where ORDER BY score DESC never ranks NaN into the board.
    evs.foreach { case (id, s) =>
      if (!s.isNaN && maxes.get(id).forall(_ < s)) maxes(id) = s
    }
    maxes.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Update-mode streaming top-k over a Dataset[Scored]. */
  def topK(events: Dataset[Scored], k: Int): Dataset[Ranked] = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(key: String, evs: Iterator[Scored],
           state: GroupState[Board]): Iterator[Ranked] = {
      val prior = state.getOption
        .map(b => b.ids.zip(b.scores).toSeq).getOrElse(Seq.empty)
      val next = foldBoard(prior, evs.map(e => (e.id, e.score)).toSeq, k)
      state.update(Board(next.map(_._1).toArray, next.map(_._2).toArray))
      next.zipWithIndex.map { case ((id, s), i) =>
        Ranked(key, i + 1, id, s)
      }.iterator
    }

    events
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(fn)
  }
}
