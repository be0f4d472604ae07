package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent naive re-implementation of the consuming-replace BPE merge
  * learning, cross-checked merge-for-merge against the distributed
  * `text_bpe_learn` query — the same assurance stance NaiveChunkerCrossSpec
  * takes for the chunkers: two implementations written against the spec
  * prose, not against each other.
  *
  * The naive rewrite mirrors the sentinel-string replace semantics exactly:
  * a match at symbol pair (i, i+1) consumes the delimiter before symbol
  * i+2, so the NEXT possible match starts at pair (i+3, i+4) — e.g.
  * [e r e r e r] → [er, e, r, er], not canonical BPE's [er, er, er].
  */
class BpeLearnSpec extends AnyFunSuite with graft.SharedSpark {

  private def naiveMerges(
      vocab: Seq[(String, Long)], k: Int): Seq[(Long, String, String, Long)] = {
    var seqs: Seq[(Array[String], Long)] =
      vocab.map { case (w, c) => (w.map(_.toString).toArray, c) }
    (1 to k).map { rank =>
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (sy, c) =>
        var i = 0
        while (i + 1 < sy.length) {
          val key = (sy(i), sy(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + c
          i += 1
        }
      }
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      seqs = seqs.map { case (sy, wc) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == l && sy(i + 1) == r) {
            out += (l + r)
            if (i + 2 < sy.length) out += sy(i + 2) // delimiter consumed: pair (i+2,i+3) blocked
            i += 3
          } else { out += sy(i); i += 1 }
        }
        (out.toArray, wc)
      }
      (rank.toLong, l, r, c)
    }
  }

  test("text_bpe_learn merges equal the independent naive implementation") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val vocab = graft.Tables.documents(spark, sf)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)].collect().toSeq
    val want = naiveMerges(vocab, 4)
    val got = TextOps.queries("text_bpe_learn")(spark, sf)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.length == 4 && got.forall(_._4 > 0))
  }
}
