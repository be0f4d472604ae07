package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Chunking

class DedupMetricsAggSpec extends AnyFunSuite with graft.SharedSpark {

  test("single-pass typed aggregator equals the two-step relational metrics") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = Chunking.chunkTable(docs, "doc_id", "text", "fastcdc", 64, 42L)

    val onePass = chunks.select($"hash", $"length".cast("long"))
      .as[(Long, Long)]
      .repartition(4) // force a real partial+final merge across partitions
      .select(DedupMetricsAgg.column)
      .head()

    val twoStep = Chunking.dedupMetrics(chunks)
      .select($"unique_bytes", $"total_bytes", $"distinct_chunks", $"chunk_count",
        $"dedup_coeff", $"avg_chunk_size")
      .as[(Long, Long, Long, Long, Double, Double)].head()

    assert((onePass.unique_bytes, onePass.total_bytes, onePass.distinct_chunks,
      onePass.chunk_count, onePass.dedup_coeff, onePass.avg_chunk_size) == twoStep)
  }

  test("per-group usage: grouped metrics match dedupMetricsPerId") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = Chunking.chunkTable(docs, "doc_id", "text", "fixed", 64)

    val grouped = chunks.select($"id".cast("long"), $"hash", $"length".cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .agg(DedupMetricsAggKeyed.column)
      .collect().toMap

    val expected = Chunking.dedupMetricsPerId(chunks)
      .select($"id".cast("long"), $"unique_bytes", $"distinct_chunks")
      .as[(Long, Long, Long)].collect()

    assert(expected.nonEmpty)
    for ((id, ub, dc) <- expected) {
      val m = grouped(id)
      assert(m.unique_bytes == ub && m.distinct_chunks == dc, s"doc $id")
    }
  }
}
