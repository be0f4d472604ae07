package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Contracts for text_winnowing (Schleimer–Wilkerson–Aiken winnowing):
  *
  *  1. full plain-Scala parity — an independent per-doc recompute via
  *     Portable.h60Jvm must reproduce every reported count and the
  *     fingerprint-set checksums bit-for-bit;
  *  2. the winnowing guarantee — every window of W consecutive gram
  *     positions contains a selected position, so any substring match of
  *     length ≥ W+K−1 shares a fingerprint (pinned both on the corpus and
  *     on a synthetic pair sharing exactly one long substring).
  */
class WinnowingSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val K = TextOps.WinnowK
  private val W = TextOps.WinnowW

  /** Reference winnowing: leftmost-min selection per window of W gram
    * hashes; returns (nGrams, selected positions 1-based, fingerprints).
    */
  private def winnow(text: String): (Int, Set[Int], Set[Long]) = {
    val n = text.length - (K - 1)
    val hs = Array.tabulate(n)(i => Portable.h60Jvm(text.substring(i, i + K)))
    val sel = scala.collection.mutable.Set[Int]()
    for (e <- W to n) { // window covers positions [e-W+1, e]
      var best = e - W // 0-based index of argmin
      for (j <- e - W to e - 1) if (hs(j) < hs(best)) best = j
      sel += best + 1
    }
    (n, sel.toSet, sel.map(p => hs(p - 1)).toSet)
  }

  test("query output matches an independent plain-Scala winnowing of every doc") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val rows = TextOps.queries("text_winnowing")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == docs.count(_._2.length >= K + W - 1))
    rows.foreach { case (id, nGrams, nSel, nFp, densE4, fpMin, fpMax, fpXor) =>
      val (n, sel, fps) = winnow(docs(id))
      assert(nGrams == n, s"doc $id gram count")
      assert(nSel == sel.size, s"doc $id selected count")
      assert(nFp == fps.size, s"doc $id fingerprint count")
      assert(densE4 == sel.size.toLong * 10000 / (n - (W - 1)), s"doc $id density")
      assert(fpMin == fps.min && fpMax == fps.max, s"doc $id fp min/max")
      assert(fpXor == fps.foldLeft(0L)(_ ^ _), s"doc $id fp xor")
      // the guarantee: every window of W gram positions holds a selection
      (W to n).foreach { e =>
        assert((e - W + 1 to e).exists(sel), s"doc $id window ending at $e uncovered")
      }
    }
  }

  test("two texts sharing a substring of length W+K-1 share a fingerprint") {
    // distinct prefixes/suffixes, one planted common run of exactly W+K-1
    val common = "zqxjkwvbum" // 10 chars >= W+K-1 = 8
    val a = s"alpha beta $common gamma delta"
    val b = s"omega psi chi $common upsilon"
    val (_, _, fa) = winnow(a)
    val (_, _, fb) = winnow(b)
    assert((fa & fb).nonEmpty, "planted shared run must share a fingerprint")
  }
}
