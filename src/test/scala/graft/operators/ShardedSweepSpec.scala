package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** q59 (sharded sweep-line) must equal q53 (single-window sweep) on ANY
  * input, not just the sf0.01 oracle point: the bucket decomposition
  * (per-(type,bucket) local sweep + per-type prefix offsets) is an exact
  * algebraic refactoring of the global running sum. Randomized corpora with
  * planted adversarial structure: equal-ts ties (the -1-before-+1 ordering),
  * events exactly on bucket boundaries, bursts inside one bucket, and peaks
  * that straddle bucket edges (nonzero carried offset).
  */
class ShardedSweepSpec extends AnyFunSuite with graft.SharedSpark {

  /** Write a synthetic events table (generator layout: ts = int64 nanos,
    * read via Tables.events' nanosAsLong path) and return its dir.
    */
  private def eventsDir(rows: Seq[(Long, Long, Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sweep_events").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def run(name: String, dir: String): Seq[(String, Long, Long, Long)] = {
    import spark.implicits._
    Relational.queries(name)(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
  }

  test("sharded == single-window on randomized corpora with planted edge structure") {
    val rnd = new scala.util.Random(4242L)
    val baseNs = 1700000000L * 1000000000L
    val hourNs = 3600L * 1000000000L
    (1 to 3).foreach { trial =>
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
      var id = 0L
      def add(tsNs: Long, typ: String): Unit = { rows += ((id, tsNs, id % 97, typ)); id += 1 }
      // random spread over ~3 days
      (1 to 800).foreach { _ =>
        add(baseNs + (rnd.nextDouble() * 72 * hourNs).toLong, s"t${rnd.nextInt(4)}")
      }
      // equal-ts ties: bursts of identical timestamps
      (1 to 30).foreach { _ =>
        val t = baseNs + (rnd.nextDouble() * 72 * hourNs).toLong
        (1 to 5).foreach(_ => add(t, "tie"))
      }
      // events exactly ON hourly bucket boundaries (q59's bucket width)
      (0 until 20).foreach(h => add(baseNs + h * hourNs, "edge"))
      // a peak that STRADDLES a bucket edge: ramp up just before an hour
      // mark so the 5-minute activity windows are still open across it
      (0 until 10).foreach(i => add(baseNs + 10 * hourNs - i * 30_000_000_000L, "straddle"))
      val dir = eventsDir(rows.toSeq)
      val q53 = run("q53_peak_concurrency", dir)
      val q59 = run("q59_peak_concurrency_sharded", dir)
      assert(q59 == q53, s"trial $trial: sharded sweep diverged\nq53=$q53\nq59=$q59")
    }
  }
}
