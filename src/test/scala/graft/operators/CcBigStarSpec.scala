package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Large-star/small-star connected components (ccBigStar) behind
  * dedup_cc_bigstar: label-identical to min-label propagation on every
  * topology class the dedup graph can produce (chains, stars, cliques,
  * multi-component mixes, a seeded random graph), PLUS the property that
  * motivates it — a chain whose diameter exceeds MaxCcRounds, where label
  * propagation is guaranteed to trip its bound, converges fine under the
  * O(log n) star alternation.
  */
class CcBigStarSpec extends AnyFunSuite with graft.SharedSpark {

  private def edges(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("id1", "id2")
  }

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.ccBigStar(edges(pairs)).as[(Long, Long)].collect().toMap
  }

  /** Reference union-find, the independent oracle for the random graph. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain, star, clique, and multi-component mix get min-id labels") {
    // chain 0-..-5, hub star 10-{11..15}, clique {20,21,22}, pair 30-31
    val pairs = (0L until 5L).map(i => i -> (i + 1)) ++
      (11L to 15L).map(10L -> _) ++
      Seq(20L -> 21L, 21L -> 22L, 20L -> 22L, 30L -> 31L)
    val got = labelsOf(pairs)
    assert((0L to 5L).forall(got(_) == 0L), s"chain: $got")
    assert((10L to 15L).forall(got(_) == 10L))
    assert((20L to 22L).forall(got(_) == 20L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got.size == 6 + 6 + 3 + 2)
  }

  test("a chain deeper than MaxCcRounds converges (where propagation cannot)") {
    val n = Dedup.MaxCcRounds * 3L + 5L // diameter ~3x the propagation bound
    val chain = (0L until n).map(i => i -> (i + 1))
    val got = labelsOf(chain)
    assert(got.size == n + 1 && got.values.forall(_ == 0L),
      s"deep chain should collapse to component 0 (got ${got.values.toSet})")
    // propagation needs O(diameter) rounds on the same shape — pinned via a
    // tight explicit bound (the default-bound trip, which would take 64
    // driver rounds to demonstrate here, is ClusterConvergenceSpec's job)
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges(chain.take(40)), maxRounds = 8).count()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("seeded random graph matches an independent union-find oracle") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(300) {
      val a = rnd.nextInt(120).toLong
      val b = rnd.nextInt(120).toLong
      if (a == b) a -> (b + 1) else math.min(a, b) -> math.max(a, b)
    }.distinct
    assert(labelsOf(pairs) == unionFind(pairs))
  }

  test("randomized sweep: sparse/dense/chain-mixed graphs match union-find") {
    // a small property sweep (fixed seeds — deterministic) across density
    // regimes: sparse forests, dense near-cliques, and chain-heavy mixes,
    // the shapes where star-alternation bugs would hide (lost connectivity
    // in large-star, wrong root orientation in small-star)
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 20 + rnd.nextInt(100)
      val nEdges = seed % 3 match {
        case 0 => nNodes / 2 + 1 // sparse: mostly trees + singleton pairs
        case 1 => nNodes * 3 // dense: big components
        case _ => nNodes // mixed
      }
      val random = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        if (a == b) a -> (b + nNodes) else math.min(a, b) -> math.max(a, b)
      }
      // splice in a chain segment so every graph has a deep component
      val off = 1000L + seed * 100
      val chain = (0 until 10 + seed).map(i => (off + i) -> (off + i + 1))
      val pairs = (random ++ chain).distinct
      assert(labelsOf(pairs) == unionFind(pairs), s"divergence at seed $seed")
    }
  }

  test("empty edge list yields empty labels") {
    assert(labelsOf(Seq.empty).isEmpty)
  }

  test("dedup_cc_bigstar agrees row-for-row with dedup_clusters on real data") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val a = graft.SparkEntry.queries("dedup_cc_bigstar")(spark, d)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val b = graft.SparkEntry.queries("dedup_clusters")(spark, d)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(a.nonEmpty && a == b)
  }

  test("incremental star-contraction CC equals the full recompute on real data") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val inc = graft.SparkEntry.queries("dedup_cc_incremental")(spark, d)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val full = graft.SparkEntry.queries("dedup_clusters")(spark, d)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(inc.nonEmpty && inc == full)
    // the derived corpus genuinely exercises the incremental path: there
    // must be clusters spanning old (< 100000) and new (>= 100000) ids
    val byCluster = inc.groupBy(_._2)
    assert(byCluster.exists { case (_, ms) =>
      ms.exists(_._1 < 100000) && ms.exists(_._1 >= 100000)
    }, "no cluster spans the old corpus and the new batch — the delta union did nothing")
  }

  test("incremental CC on synthetic graphs: delta merging two old components") {
    // old: {0,1} and {10,11}; delta: new node 100000 bridges both
    val existing = Seq(0L -> 1L, 10L -> 11L)
    val delta = Seq(1L -> 100000L, 100000L -> 11L)
    val got = labelsOf(existing ++ delta)
    assert(Seq(0L, 1L, 10L, 11L, 100000L).forall(got(_) == 0L),
      s"bridged components must collapse to min 0: $got")
  }
}
