package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver's events.parquet `ts` physical type has drifted across
  * generator versions (int64 TIMESTAMP(NANOS) → timestamp[us] NTZ); the r8
  * regen silently broke every events-family query because the loader assumed
  * one layout. Pin the contract: whatever layout the generator ships,
  * `Tables.events` surfaces the SAME session-tz TimestampType column with
  * the SAME wall-clock instants.
  */
class TablesSpec extends AnyFunSuite with SharedSpark {

  // one whole-microsecond instant, expressed per layout
  private val usInstants = Seq(1700000000000000L, 1700000123456789L, 0L)

  private def writeEvents(dir: String)(mk: => Unit): String = { mk; dir }

  private def tmp(): String =
    Files.createTempDirectory("tables_spec").toString

  private def readBack(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"loader must surface TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq.sorted
  }

  private def base(tsCol: org.apache.spark.sql.Column) = {
    import spark.implicits._
    usInstants.zipWithIndex.toDF("us", "event_id")
      .withColumn("ts", tsCol)
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .drop("us")
  }

  test("int64-nanos layout (legacy TIMESTAMP(NANOS) read via nanosAsLong)") {
    val dir = tmp()
    base(col("us") * lit(1000L)) // whole-us values as nanos
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(readBack(dir) === usInstants.sorted)
  }

  test("timestamp[us] NTZ layout (the r8 generator regen)") {
    val dir = tmp()
    base(timestamp_micros(col("us")).cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(readBack(dir) === usInstants.sorted)
  }

  test("plain TIMESTAMP (ltz) layout") {
    val dir = tmp()
    base(timestamp_micros(col("us")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(readBack(dir) === usInstants.sorted)
  }

  test("driver testdata carries every column the query surface reads") {
    // early-warning for the next schema regen: list the columns each table
    // must expose for the current 160-query surface (supersets are fine)
    val required = Map(
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val d = "/root/testdata/sf0.001"
    required.foreach { case (t, cols) =>
      val have = Tables.load(spark, d, t).columns.toSet ++
        (if (t == "events") Tables.events(spark, d).columns.toSet else Set.empty[String])
      val missing = cols.filterNot(have)
      assert(missing.isEmpty, s"$t lost columns ${missing.mkString(", ")} (regen drift)")
    }
  }

  test("driver testdata loads and covers a sane instant range") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType === TimestampType)
    val n = df.count()
    assert(n > 0)
    // all instants in [2000, 2100) — catches unit mix-ups (ns-as-us would
    // land in 1970, us-as-ns in year ~55798)
    val bad = df.filter(col("ts") < lit("2000-01-01").cast(TimestampType) ||
      col("ts") >= lit("2100-01-01").cast(TimestampType)).count()
    assert(bad === 0L, s"$bad of $n instants outside [2000,2100)")
  }
}
