package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("bucketed join runs without a shuffle exchange and matches the plain join") {
    import spark.implicits._
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet").select($"l_orderkey", $"l_quantity")
    val o = spark.read.parquet(s"$sfDir/orders.parquet").select($"o_orderkey", $"o_totalprice")
    Bucketing.writeBucketed(l, "lineitem_b", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "orders_b", "o_orderkey", 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val j = spark.table("lineitem_b")
        .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should be exchange-free:\n$plan")
      assert(j.count() == l.join(o, $"l_orderkey" === $"o_orderkey").count())

      // aggregation on the bucket key is exchange-free too
      val a = spark.table("lineitem_b").groupBy($"l_orderkey").count()
      assert(!a.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed aggregation should be exchange-free")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.sql("DROP TABLE IF EXISTS orders_b")
    }
  }

  test("pipeline_bucketed_join's executed join is exchange-free on the bucket key") {
    val df = LayoutQueries.queries("pipeline_bucketed_join")(spark, sfDir)
    df.count() // force execution so AQE (if any) finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"join keys must be satisfied by the bucket layout, not a shuffle:\n$plan")
    // (a local per-bucket Sort above each scan is expected: Spark 3+ does
    // not propagate bucket-file sort order to the scan's outputOrdering —
    // the sort is partition-local and cheap; the EXCHANGE is what the
    // layout eliminates)
    assert(plan.contains("Bucketed: true"), s"scans should be bucketed:\n$plan")
  }
}
