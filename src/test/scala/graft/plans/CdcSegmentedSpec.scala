package graft.plans

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AeChunker

/** Direct coverage of the two segment-parallel native generators
  * (ChunkingSpec pins their end-to-end equality to the core ground truth;
  * this spec pins the SQL surface, argument validation, and the emission
  * contract of each generator in isolation).
  */
class CdcSegmentedSpec extends AnyFunSuite with graft.SharedSpark {

  private def bytes(n: Int, seed: Long): Array[Byte] = {
    val a = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(a)
    a
  }

  test("cdc_segmented_chunks from SQL emits cdc_chunks rows over the core overlap merge") {
    import spark.implicits._
    val data = bytes(100000, 5)
    Seq((1L, data)).toDF("id", "payload").createOrReplaceTempView("seg_v")
    val got = spark.sql(
      """SELECT c.chunk_idx, c.offset, c.length, c.chunk
        |FROM seg_v LATERAL VIEW cdc_segmented_chunks(payload, 'ae', 8192, 0, 4) c""".stripMargin)
      .as[(Int, Int, Int, Array[Byte])].collect().sortBy(_._1)
    val c = AeChunker(8192)
    val ends = graft.core.ParallelChunking.overlapMergedBoundaries(data, 4, c.boundsInRange, c.window)
    assert(got.map(_._1).toSeq == ends.indices)
    assert(got.map(_._2).toSeq == (0 +: ends.init).toSeq)
    assert(got.map(r => r._2 + r._3).toSeq == ends.toSeq)
    for ((_, off, len, chunk) <- got)
      assert(java.util.Arrays.equals(chunk, java.util.Arrays.copyOfRange(data, off, off + len)))
  }

  test("cdc_slice_chunks emits locally-distinct interiors plus exactly one edge per slice") {
    import spark.implicits._
    val data = bytes(40000, 9)
    Seq((1L, data)).toDF("id", "payload").createOrReplaceTempView("slice_v")
    val rows = spark.sql(
      """SELECT p, c.hash, c.length, c.edge, c.is_edge
        |FROM slice_v LATERAL VIEW explode(sequence(0, 3)) AS p
        |LATERAL VIEW cdc_slice_chunks(payload, 'fastcdc', 1024, 7, p, 4) c""".stripMargin)
      .as[(Int, Long, Int, Array[Byte], Boolean)].collect()
    for (p <- 0 to 3) {
      val (edges, interiors) = rows.filter(_._1 == p).partition(_._5)
      assert(edges.length == 1, s"slice $p must hold back exactly one edge chunk")
      val (_, _, el, eb, _) = edges.head
      assert(eb != null && eb.length == el, s"slice $p edge bytes/length disagree")
      // reconstruct the slice and check the edge is its last (even p) or
      // first (odd p) core chunk
      val slice = java.util.Arrays.copyOfRange(data, p * data.length / 4, (p + 1) * data.length / 4)
      val cs = graft.core.Chunker("fastcdc", 1024, 7L).chunks(slice)
      val (eo, elCore) = if (p % 2 == 0) cs.last else cs.head
      assert(java.util.Arrays.equals(eb, java.util.Arrays.copyOfRange(slice, eo, eo + elCore)))
      // interiors: distinct hashes, no edge bytes carried, count equal to
      // the number of locally-distinct interior chunk contents
      assert(interiors.map(_._2).distinct.length == interiors.length,
        s"slice $p interiors must be locally deduped")
      assert(interiors.forall(_._4 == null), s"slice $p interior rows must not carry bytes")
      val (lo, hi) = if (p % 2 == 0) (0, cs.length - 1) else (1, cs.length)
      val expectDistinct = (lo until hi)
        .map { i => val (off, len) = cs(i); slice.slice(off, off + len).toSeq }
        .distinct.size
      assert(interiors.length == expectDistinct, s"slice $p interior count")
    }
  }

  test("cdc_slice_chunks rejects non-constant config and non-binary payload") {
    import spark.implicits._
    Seq(("x", 1)).toDF("s", "n").createOrReplaceTempView("segbad_v")
    val fn = "cdc_slice_chunks"
    val e1 = intercept[Exception](spark.sql(
      s"SELECT $fn(encode(s,'utf-8'), 'ae', 8192, 0, 0, n) FROM segbad_v").collect())
    assert(e1.getMessage.toLowerCase.contains("constant"), fn)
    val e2 = intercept[Exception](spark.sql(
      s"SELECT $fn(s, 'ae', 8192, 0, 0, 4) FROM segbad_v").collect())
    assert(e2.getMessage.toLowerCase.contains("binary"), fn)
  }

  // cdc_segmented_chunks config errors surface from checkInputDataTypes when
  // the query is analysed: spark.sql analyses eagerly, so no action is run.
  private def analysisError(args: String): String = {
    import spark.implicits._
    Seq(("x", 1)).toDF("s", "n").createOrReplaceTempView("segcfg_v")
    intercept[AnalysisException](spark.sql(
      s"SELECT c.* FROM segcfg_v LATERAL VIEW cdc_segmented_chunks($args) c")).getMessage
  }

  test("cdc_segmented_chunks rejects a non-constant n_parts at analysis") {
    assert(analysisError("encode(s, 'utf-8'), 'ae', 8192, 0, n").contains("must be constants"))
  }

  test("cdc_segmented_chunks rejects n_parts <= 0 at analysis") {
    for (n <- Seq(0, -2))
      assert(analysisError(s"encode(s, 'utf-8'), 'ae', 8192, 0, $n").contains("n_parts must be > 0"))
  }

  test("cdc_segmented_chunks rejects an algo without a batch bounds form at analysis") {
    for (algo <- Seq("fastcdc", "fixed", "AE"))
      assert(analysisError(s"encode(s, 'utf-8'), '$algo', 8192, 0, 4").contains("must be 'ae' or 'rabin'"))
  }

  test("cdc_segmented_chunks rejects a non-binary payload at analysis") {
    assert(analysisError("s, 'ae', 8192, 0, 4").contains("payload must be BINARY"))
  }

  // each CDC generator builds its chunker while the frame is analysed, so
  // the chunker's own bound (ae needs expected_size > 256) fails the frame
  // build instead of a task
  private def aeBoundError(gen: Column): String = {
    import spark.implicits._
    val df = Seq((Array[Byte](1, 2, 3), 0)).toDF("payload", "part")
    intercept[AnalysisException](df.select(gen)).getMessage
  }

  test("cdc_chunks rejects an ae expected_size of 256 when the frame is built") {
    assert(aeBoundError(Native.cdcChunks(col("payload"), "ae", 256, 0L))
      .contains("AE repo-variant needs expectedSize > 256"))
  }

  test("cdc_segmented_chunks rejects an ae expected_size of 256 when the frame is built") {
    assert(aeBoundError(Native.cdcSegmentedChunks(col("payload"), "ae", 256, 0L, 4))
      .contains("AE repo-variant needs expectedSize > 256"))
  }

  test("cdc_slice_chunks rejects an ae expected_size of 256 when the frame is built") {
    assert(aeBoundError(Native.cdcSliceChunks(col("payload"), "ae", 256, 0L, col("part"), 2))
      .contains("AE repo-variant needs expectedSize > 256"))
  }
}
