package graft.plans

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.Literal

/** Typed DataFrame constructors for the engine's native expressions: each
  * builds the node that its SQL name resolves to, on any session, with no
  * function registered. Config arguments become literals of the types `lit`
  * gives them, so the analysis-time checks see what a SQL call passes.
  */
object Native {
  private def e(c: Column) = GraftColumn.expression(c)

  def cdcChunks(payload: Column, algo: String, expectedSize: Int, seed: Long): Column =
    GraftColumn(CdcChunks(e(payload), Literal(algo), Literal(expectedSize), Literal(seed)))

  def cdcSegmentedChunks(payload: Column, algo: String, expectedSize: Int, seed: Long,
      nParts: Int): Column = GraftColumn(CdcSegmentedChunks(
    e(payload), Literal(algo), Literal(expectedSize), Literal(seed), Literal(nParts)))

  def cdcSliceChunks(payload: Column, algo: String, expectedSize: Int, seed: Long,
      part: Column, nParts: Int): Column = GraftColumn(CdcSliceChunks(
    e(payload), Literal(algo), Literal(expectedSize), Literal(seed), e(part), Literal(nParts)))

  def vecDot(a: Column, b: Column): Column = GraftColumn(VecDot(e(a), e(b)))

  def bloomContains(bloom: Column, hash: Column, k: Int): Column =
    GraftColumn(BloomContains(e(bloom), e(hash), Literal(k)))
}
