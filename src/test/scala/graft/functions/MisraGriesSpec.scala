package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The Misra-Gries mergeable-summary guarantees, checked on skewed seeded
  * streams under real distributed partial/final aggregation (8 partitions
  * force nontrivial merge trees).
  */
class MisraGriesSpec extends AnyFunSuite with graft.SharedSpark {

  test("estimates never overcount and undercount by at most N/(k+1), any merge order") {
    import spark.implicits._
    val r = new scala.util.Random(17)
    // Zipf-ish: token "t<j>" with weight ~ 1/(j+1)
    val stream = Seq.fill(60000) {
      val j = math.min((1.0 / (r.nextDouble() + 1e-9)).toInt, 300)
      s"t$j"
    }
    val k = 32
    val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = stream.size.toLong
    val bound = n.toDouble / (k + 1)
    for (parts <- Seq(1, 8)) {
      val sketch = spark.createDataset(stream).repartition(parts)
        .select(new MisraGriesAgg(k).toColumn).head()
      assert(sketch.size <= k)
      for ((t, est) <- sketch) {
        val c = exact.getOrElse(t, 0L)
        assert(est <= c, s"overcount $t (parts=$parts)")
        assert(c - est <= bound, s"undercount beyond bound for $t (parts=$parts)")
      }
      // every guaranteed-heavy token survives in the sketch
      for ((t, c) <- exact if c > bound)
        assert(sketch.contains(t), s"heavy token $t missing (parts=$parts)")
    }
  }
}
