package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth cross-checks for the suffix-array core: the SA against a
  * naive sort of all suffixes, LCP against naive common-prefix scans, and
  * the k-gram group enumeration against a naive position map — over random
  * strings, repeat-heavy strings, and adversarial small cases.
  */
class SuffixArraysSpec extends AnyFunSuite with graft.SharedSpark {

  private def naiveSa(s: String): Array[Int] =
    s.indices.toArray.sortBy(s.substring(_))

  private def naiveLcp(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length && a.charAt(i) == b.charAt(i)) i += 1
    i
  }

  private def naiveGroups(s: String, k: Int): Map[String, Seq[Int]] =
    (0 to s.length - k).groupBy(i => s.substring(i, i + k))
      .view.mapValues(_.toSeq.sorted).toMap

  private val cases: Seq[String] = {
    val r = new scala.util.Random(7)
    Seq("", "a", "aa", "ab", "banana", "mississippi",
      "abab" * 8, "aaaaaaaaaaaa",
      r.alphanumeric.take(200).mkString,
      Seq.fill(150)("ab"(r.nextInt(2))).mkString, // dense repeats, binary alphabet
      { val base = r.alphanumeric.take(80).mkString; base + " xyz " + base }) // planted dup
  }

  test("suffix array matches the naive suffix sort") {
    for (s <- cases)
      assert(SuffixArrays.suffixArray(s).toSeq == naiveSa(s).toSeq, s"on '${s.take(30)}…'")
  }

  test("Kasai LCP matches naive adjacent-suffix scans") {
    for (s <- cases if s.nonEmpty) {
      val sa = SuffixArrays.suffixArray(s)
      val lcp = SuffixArrays.lcpArray(s, sa)
      assert(lcp(0) == 0)
      for (i <- 1 until s.length)
        assert(lcp(i) == naiveLcp(s.substring(sa(i - 1)), s.substring(sa(i))),
          s"lcp($i) on '${s.take(30)}…'")
    }
  }

  test("k-gram groups enumerate every distinct gram exactly once with all offsets") {
    for (s <- cases; k <- Seq(1, 3, 8)) {
      val got = SuffixArrays.kgramGroups(s, k).map { case (g, o) => g -> o.toSeq }.toMap
      assert(got == naiveGroups(s, k), s"k=$k on '${s.take(30)}…'")
      // exactly once: no gram emitted twice
      val grams = SuffixArrays.kgramGroups(s, k).map(_._1)
      assert(grams.distinct.size == grams.size)
    }
  }

  test("exact-substring query certifies full duplication for planted copies and tails") {
    import spark.implicits._
    val rows = graft.operators.Dedup.queries("dedup_exact_substrings")(
        spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"longest_dup_span", $"full_dup")
      .as[(Long, Long, Boolean)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    val n = rows.count(_._1 < 100000)
    // every original with an exact copy (id % 5 == 0) or a tailed variant
    // (id % 7 == 0) has its WHOLE text duplicated somewhere in the corpus
    for (id <- 0L until n.toLong if id % 5 == 0 || id % 7 == 0)
      assert(byId(id)._3, s"doc $id should be fully duplicated: ${byId(id)}")
    // and the +200000 tailed variants carry the whole original as a dup
    // span (>= the anchor-gram length by a wide margin)
    rows.filter(_._1 >= 200000).foreach { r =>
      assert(r._2 >= 40, s"tailed variant should embed its original: $r")
    }
  }
}
