package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Semantics contracts for the substring-level dedup operators — the planted
  * corpus gives known ground truth: an exact copy's every span/gram already
  * exists in its source doc.
  */
class SpanNoveltySpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("repeated spans: exact copies fully duplicated, bounds hold") {
    import spark.implicits._
    val rows = Dedup.queries("dedup_repeated_spans")(spark, sfDir)
      .select($"doc_id", $"n_spans", $"n_dup", $"dup_frac")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, d, f) =>
      assert(d <= n, s"doc $id: n_dup $d > n_spans $n")
      assert(f >= 0.0 && f <= 1.0)
    }
    val copies = rows.filter(r => r._1 >= 100000 && r._1 < 200000 && r._2 > 0)
    assert(copies.nonEmpty)
    copies.foreach { case (id, _, _, f) => assert(f == 1.0, s"copy $id dup_frac $f") }
  }

  test("ngram novelty: exact copies contribute nothing new, firsts are novel") {
    import spark.implicits._
    val rows = Dedup.queries("dedup_ngram_novelty")(spark, sfDir)
      .select($"doc_id", $"n_grams", $"n_novel", $"novelty")
      .as[(Long, Long, Long, Double)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    val copies = rows.filter(r => r._1 >= 100000 && r._1 < 200000 && r._2 > 0)
    assert(copies.nonEmpty)
    copies.foreach { case (id, _, nv, f) =>
      assert(nv == 0L && f == 0.0, s"copy $id novelty $f")
    }
    // the smallest doc_id with grams is first for all of them: novelty 1.0
    val first = rows.filter(_._2 > 0).minBy(_._1)
    assert(first._4 == 1.0, s"first doc ${first._1} novelty ${first._4}")
  }
}
