package graft.plans

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The SQL table-valued surface (VERDICT r11 #7): three operator families
  * driven from PURE `spark.sql` via the injected Generators — chunking
  * (`cdc_chunks`), MinHash banding (`minhash_bands`) and LSH ANN serve
  * (`vec_lsh_sigs` + `vec_dot`) — each pinned frame-equal to its
  * DataFrame-API twin. The *_sql driver queries carry the DuckDB oracles;
  * these specs pin the SURFACE claim: a user writing only SQL gets
  * bit-identical results to the Scala API, because the Generators call the
  * same JVM cores.
  */
class SqlSurfaceSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  private def assertFrameEqual(sql: DataFrame, api: DataFrame, what: String): Unit = {
    assert(sql.count() == api.count(), s"$what: row counts differ")
    assert(sql.exceptAll(api).isEmpty && api.exceptAll(sql).isEmpty,
      s"$what: SQL surface diverges from the DataFrame API")
  }

  test("chunking family from SQL: LATERAL VIEW cdc_chunks dedup metrics == Chunking API") {
    GraftExtensions.register(spark)
    graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").createOrReplaceTempView("sqlspec_docs")
    val sql = spark.sql(
      """WITH ch AS (
        |  SELECT xxhash64(c.chunk) AS hash, c.length
        |  FROM sqlspec_docs LATERAL VIEW cdc_chunks(encode(text, 'utf-8'), 'fastcdc', 512, 42) c),
        |per AS (
        |  SELECT hash, first(length) AS len, count(*) AS cnt FROM ch GROUP BY hash)
        |SELECT sum(len) AS unique_bytes, sum(len * cnt) AS total_bytes,
        |  count(*) AS distinct_chunks, sum(cnt) AS chunk_count,
        |  round(sum(len) / CAST(sum(len * cnt) AS DOUBLE), 6) AS dedup_coeff,
        |  round(sum(len * cnt) / CAST(count(*) AS DOUBLE), 2) AS avg_chunk_size
        |FROM per""".stripMargin)
    val api = graft.operators.Chunking.dedupMetrics(
      graft.operators.Chunking.chunkTable(
        graft.Tables.documents(spark, sfDir).selectExpr("doc_id", "text"),
        "doc_id", "text", "fastcdc", 512, 42))
    assertFrameEqual(sql, api, "fastcdc dedup metrics")
  }

  test("minhash family from SQL: LATERAL VIEW minhash_bands candidates == batch band table") {
    val sqlPairs = graft.operators.Dedup
      .queries("dedup_minhash_pairs_sql")(spark, sfDir)
    val apiPairs = graft.operators.Dedup.minhashCandidatePairs(
      graft.operators.Dedup.corpus(spark, sfDir))
    assertFrameEqual(sqlPairs, apiPairs, "MinHash banded candidate pairs")
    assert(sqlPairs.count() > 0)
  }

  test("ANN family from SQL: vec_lsh_sigs + vec_dot top-k == sim_lsh_topk") {
    val sql = graft.operators.Similarity.queries("sim_lsh_topk_sql")(spark, sfDir)
    val api = graft.operators.Similarity.queries("sim_lsh_topk")(spark, sfDir)
    assertFrameEqual(sql, api, "LSH top-k serve")
    assert(sql.count() > 0)
  }
}
