package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Convergence guarantees for the connected-components fixpoint behind
  * dedup_clusters: labels reach a fixpoint within the round bound, the
  * bound actually trips (loudly) on a graph whose diameter exceeds it,
  * and the result is fixpoint-consistent (both endpoints of every edge
  * carry the same component label — the property one more propagation
  * round would have to preserve).
  */
class ClusterConvergenceSpec extends AnyFunSuite with graft.SharedSpark {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("id1", "id2")
  }

  test("a chain, a triangle, and a singleton pair converge to min labels") {
    import spark.implicits._
    // chain 0-1-2-3-4 (diameter 4), triangle 10-11-12, pair 20-21
    val labels = Dedup.connectedComponents(edges(
      0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L,
      10L -> 11L, 11L -> 12L, 10L -> 12L,
      20L -> 21L))
      .as[(Long, Long)].collect().toMap
    assert((0L to 4L).forall(labels(_) == 0L), s"chain labels: $labels")
    assert((10L to 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
  }

  test("the round bound trips loudly when component diameter exceeds it") {
    val chain = (0L until 12L).map(i => i -> (i + 1)) // diameter 12
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges(chain: _*), maxRounds = 3).count()
    }
    assert(e.getMessage.contains("did not converge"))
    // ...and the same graph converges fine within the default bound
    assert(Dedup.connectedComponents(edges(chain: _*)).count() == 13)
  }

  test("dedup_clusters labels are fixpoint-consistent on real data") {
    import spark.implicits._
    val out = graft.SparkEntry.queries("dedup_clusters")(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(out.nonEmpty)
    // every member's label is the min doc_id of its cluster (canonical form),
    // which only holds if propagation truly reached the fixpoint
    out.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by its min member")
    }
  }
}
