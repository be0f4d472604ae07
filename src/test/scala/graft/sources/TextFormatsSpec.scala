package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format breadth beyond parquet: the driver's events table
  * round-trips through CSV and JSON (explicit schema, ISO timestamps) without
  * loss — the engine ingests the text formats a real pipeline lands in, not
  * just columnar files. Timestamps are carried as unix_micros BIGINTs inside
  * the text files (the same writer-neutral convention the oracle queries use)
  * so format-specific timestamp parsing can't corrupt the round-trip.
  */
class TextFormatsSpec extends AnyFunSuite with graft.SharedSpark {

  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    import spark.implicits._
    val r = df.agg(
      count(lit(1)),
      sum($"event_id"),
      // pmod keeps the per-row hash small enough that the ANSI-mode Long
      // sum cannot overflow while still detecting any row-level corruption
      sum(pmod(xxhash64($"event_id", $"user_id", $"event_type", $"ts_us",
        ($"value" * 100).cast("long")), lit(1000000007L))))
      .as[(Long, Long, Long)].head()
    r
  }

  test("events round-trip losslessly through CSV and JSON sinks and sources") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_fmt")
    try {
      val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select($"event_id", $"user_id", $"event_type",
          unix_micros($"ts").as("ts_us"), $"value", $"props")
      val want = fingerprint(events)

      events.write.option("header", "true").csv(s"$base/csv")
      val csv = spark.read.option("header", "true").schema(events.schema).csv(s"$base/csv")
      assert(fingerprint(csv) == want, "csv round-trip")

      events.write.json(s"$base/json")
      val json = spark.read.schema(events.schema).json(s"$base/json")
      assert(fingerprint(json) == want, "json round-trip")

      // schema-on-read: JSON without a supplied schema still infers the
      // numeric columns the fingerprint depends on
      val inferred = spark.read.json(s"$base/json")
        .select($"event_id", $"user_id", $"event_type", $"ts_us", $"value")
      assert(inferred.count() == events.count())
      assert(inferred.agg(sum($"event_id")).as[Long].head() ==
        events.agg(sum($"event_id")).as[Long].head())
    } finally {
      java.nio.file.Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("events round-trip losslessly through the ORC columnar sink/source with pushdown") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_orc")
    try {
      val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select($"event_id", $"user_id", $"event_type",
          unix_micros($"ts").as("ts_us"), $"value", $"props")
      val want = fingerprint(events)
      events.write.orc(s"$base/orc")
      val orc = spark.read.orc(s"$base/orc")
      assert(fingerprint(orc) == want, "orc round-trip")
      // predicate pushdown reaches the ORC scan like it does for parquet
      val plan = orc.filter($"user_id" === 7L).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)"),
        s"orc pushdown missing:\n$plan")
    } finally {
      java.nio.file.Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }
}
