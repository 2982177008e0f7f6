package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.TopKState

/** Streaming top-k's pure fold: k slots of per-id maxima reproduce
  * top-k over the full history, because per-id maxima are monotone and
  * the k-th threshold never falls. The streaming operator itself is a
  * row of [[StreamPrefixSpec]]. */
class TopKStateSpec extends AnyFunSuite {

  test("foldBoard: k-bounded state reproduces unbounded recompute") {
    // randomized mini-law without the streaming harness: fold batches
    // through k-slot boards and compare to full-history top-k
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val batches = Seq.fill(rnd.nextInt(5) + 1)(
        Seq.fill(rnd.nextInt(8))((rnd.nextInt(6).toLong, rnd.nextInt(40).toDouble)))
      val k = rnd.nextInt(3) + 1
      var board = Seq.empty[(Long, Double)]
      batches.foreach(b => board = TopKState.foldBoard(board, b, k))
      val all = batches.flatten
      val want = all.groupBy(_._1).map { case (id, es) => (id, es.map(_._2).max) }
        .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
      assert(board === want, s"batches $batches k=$k")
    }
  }
}
