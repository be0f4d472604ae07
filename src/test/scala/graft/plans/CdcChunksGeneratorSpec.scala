package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Chunking

class CdcChunksGeneratorSpec extends AnyFunSuite with graft.SharedSpark {

  test("cdc_chunks generator from SQL equals the DataFrame chunkTable lift") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("docs_v")

    val viaSql = spark.sql(
      """SELECT d.doc_id AS id, c.chunk_idx, c.offset, c.length, xxhash64(c.chunk) AS hash
        |FROM docs_v d
        |LATERAL VIEW cdc_chunks(encode(d.text, 'utf-8'), 'fastcdc', 64, 42) c
        |""".stripMargin)
      .as[(Long, Int, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

    val viaDf = Chunking.chunkTable(docs, "doc_id", "text", "fastcdc", 64, 42L)
      .selectExpr("id", "chunk_idx", "offset", "length", "hash")
      .as[(Long, Int, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

    assert(viaSql.nonEmpty && viaSql == viaDf)
  }

  test("cdc_chunks rejects non-constant config and wrong payload type") {
    import spark.implicits._
    Seq(("x", 1)).toDF("s", "n").createOrReplaceTempView("bad_v")
    val e1 = intercept[Exception](
      spark.sql("SELECT c.* FROM bad_v LATERAL VIEW cdc_chunks(encode(s,'utf-8'), 'fixed', n, 0) c").collect())
    assert(e1.getMessage.toLowerCase.contains("constant"))
    val e2 = intercept[Exception](
      spark.sql("SELECT c.* FROM bad_v LATERAL VIEW cdc_chunks(s, 'fixed', 64, 0) c").collect())
    assert(e2.getMessage.toLowerCase.contains("binary"))
  }
}
