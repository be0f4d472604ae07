package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BottomKAgg must equal `ORDER BY (key, id) LIMIT k` exactly, for any
  * partitioning (merge-order independence) and through the lazy-compaction
  * path (inputs well past 4k trigger in-buffer truncation).
  */
class BottomKSpec extends AnyFunSuite with graft.SharedSpark {

  test("equals sort+limit for any partitioning, with compaction exercised") {
    import spark.implicits._
    val k = 7
    val r = new scala.util.Random(41)
    // 1000 rows >> 4k forces many compactions; random hex keys, distinct ids
    val rows = (0L until 1000L).map(id => (r.nextLong().toHexString, id))
    val want = rows.sorted.take(k).map(_._2).toSeq
    val agg = udaf(new BottomKAgg(k))
    for (parts <- Seq(1, 4, 16)) {
      val got = rows.toDF("k", "id").repartition(parts)
        .agg(agg($"k", $"id").as("ids"))
        .as[Array[Long]].head().toSeq
      assert(got == want, s"parts=$parts")
    }
  }
}
