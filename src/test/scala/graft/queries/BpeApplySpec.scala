package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The BPE apply side (q115): whole-document encoding must equal
  * per-word encoding (the header's word-boundary argument, checked here
  * against a driver-side per-word reference — java.lang.String.replace
  * has the same leftmost non-overlapping semantics as both engines'
  * replace), and token counts must sit in their structural bounds. */
class BpeApplySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("whole-doc encode == per-word reference; counts within bounds") {
    val s = spark
    import s.implicits._
    val merges = TextOps.bpeMerges(spark, sfDir)
    assert(merges.nonEmpty, "trainer found no merges on the corpus")

    def encodeWord(w: String): Int = {
      var sym = "|" + w.flatMap(ch => s"$ch|")
      merges.foreach { case (_, l, r, _) =>
        sym = sym.replace(s"|$l|$r|", s"|$l$r|")
      }
      sym.count(_ == '|') - 1
    }

    val got = TextOps.q115(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val texts = graft.Tables.t(spark, sfDir, "documents")
      .filter(!$"text".contains("|"))
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.length === texts.size)

    got.take(50).foreach { case (id, nBpe, nWs) =>
      val words = texts(id).split(" ").filter(_.nonEmpty)
      val ref = words.map(encodeWord).sum.toLong
      assert(nBpe === ref, s"doc $id: whole-doc $nBpe != per-word $ref")
      assert(nWs === words.length.toLong)
      // every word is >= 1 token; merges only ever shrink char count
      val nChars = words.map(_.length).sum.toLong
      assert(nBpe >= nWs && nBpe <= nChars)
    }
    // the merges do real work somewhere in the corpus
    val totBpe = got.map(_._2).sum
    val totChars = texts.values.map(_.count(_ != ' ').toLong).sum
    assert(totBpe < totChars, "no merge ever applied — apply side is a no-op")
  }
}
