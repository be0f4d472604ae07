package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Portable

/** Count-Min guarantees under real distributed aggregation: the sketch is
  * bit-identical for any partitioning (sums commute), estimates never
  * undercount, and the total overcount mass per row equals N (every item
  * lands in exactly one bucket per row).
  */
class CountMinSpec extends AnyFunSuite with graft.SharedSpark {

  test("sketch is partition-invariant, never undercounts, rows each sum to N") {
    import spark.implicits._
    val r = new scala.util.Random(29)
    val stream = Seq.fill(40000) {
      val j = math.min((1.0 / (r.nextDouble() + 1e-9)).toInt, 200)
      s"w$j"
    }
    val D = 3
    val W = 64
    def bucket(j: Int, t: String): Int = (Portable.h60Jvm(s"cm${j}_$t") % W).toInt
    val agg = new CountMinAgg(D, W, bucket)
    val sketches = Seq(1, 8).map { parts =>
      spark.createDataset(stream).repartition(parts).select(agg.toColumn).head()
    }
    assert(sketches(0).toSeq == sketches(1).toSeq, "merge order changed the sketch")
    val sk = sketches(0)
    val n = stream.size.toLong
    for (j <- 0 until D)
      assert(sk.slice(j * W, (j + 1) * W).sum == n, s"row $j mass != N")
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    for ((t, c) <- exact) {
      val est = (0 until D).map(j => sk(j * W + bucket(j, t))).min
      assert(est >= c, s"undercount for $t")
    }
  }
}
