package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BoundedCollectAgg must be exactly collect_list + filter(size <= cap) up
  * to element order, for any partitioning (merge-order independence) —
  * including groups landing precisely ON the cap and one past it.
  */
class BoundedCollectSpec extends AnyFunSuite with graft.SharedSpark {

  test("matches collect_list + size filter as a multiset, any partitioning") {
    import spark.implicits._
    val cap = 7
    val r = new scala.util.Random(29)
    // group sizes straddle the cap: 1..cap-1 (kept), cap (kept), cap+1 and
    // far beyond (dropped); values are random so multiset compare is honest
    val rows = (0 until 40).flatMap { g =>
      val size = Seq(1, 3, cap - 1, cap, cap + 1, 3 * cap)(g % 6)
      Seq.fill(size)((s"g$g", r.nextLong()))
    }
    val bounded = udaf(new BoundedCollectAgg(cap))
    for (parts <- Seq(1, 4, 16)) {
      val df = rows.toDF("k", "v").repartition(parts)
      val got = df.groupBy($"k").agg(bounded($"v").as("ids"))
        .filter($"ids".isNotNull)
        .as[(String, Array[Long])].collect()
        .map { case (k, ids) => k -> ids.sorted.toSeq }.toMap
      val want = df.groupBy($"k").agg(collect_list($"v").as("ids"))
        .filter(size($"ids") <= cap)
        .as[(String, Seq[Long])].collect()
        .map { case (k, ids) => k -> ids.sorted }.toMap
      assert(got == want, s"parts=$parts")
      // the boundary group (exactly cap elements) is KEPT
      assert(got.contains("g3") && got("g3").size == cap)
      // the cap+1 and 3*cap groups are DROPPED
      assert(!got.contains("g4") && !got.contains("g5"))
    }
  }
}
