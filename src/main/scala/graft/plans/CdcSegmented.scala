package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

import graft.core.{AeChunker, Chunker, ParallelChunking, RabinChunker}

/** Native generator for segment-parallel CDC (strategy A, SURVEY.md §2.3;
  * the reference's `parallel_chunking`, `ae.rs:55-92` / `rabin.rs:92-128`):
  * per blob, one [[ParallelChunking.overlapMergedBoundaries]] call scans
  * `n_parts` contiguous segments with the chunker's window lookback and
  * merges their candidate cuts with the min-distance filter; the merged
  * chunks come out as the same `(chunk_idx, offset, length, chunk)` rows as
  * `cdc_chunks`. Only the batch forms the reference defines are accepted:
  * `ae` (`ae.rs:31-53`) and `rabin` (`rabin.rs:61-90`).
  *
  * All segments of a blob are scanned in the task that holds the blob row:
  * parallelism is across blobs. Fanning one blob's segments out to several
  * tasks ships the payload once per segment, and on multi-MB blobs that
  * shuffle cost more CPU than the scans it parallelised.
  *
  * Config is checked when the plan is analysed, so a bad `algo` or
  * `n_parts` fails before any task runs. CodegenFallback, as for
  * `cdc_chunks`: the per-row cost is the byte scan, not expression dispatch.
  */
case class CdcSegmentedChunks(
    payload: Expression, algo: Expression, expectedSize: Expression,
    seed: Expression, nParts: Expression)
    extends Generator with CodegenFallback {

  override def prettyName: String = "cdc_segmented_chunks"
  override def children: Seq[Expression] = Seq(payload, algo, expectedSize, seed, nParts)

  override def checkInputDataTypes(): TypeCheckResult = {
    val signature = "cdc_segmented_chunks(payload, algo, expected_size, seed, n_parts)"
    val generic = CdcChunks.checkArgs(signature, payload, algo, Seq(expectedSize, seed, nParts))
    if (generic.isFailure) generic
    else if (!Set("ae", "rabin").contains(String.valueOf(algo.eval())))
      TypeCheckResult.TypeCheckFailure(
        s"$signature: algo must be 'ae' or 'rabin' (the batch bounds forms), got ${algo.eval()}")
    else if (Option(nParts.eval()).forall(_.toString.toLong <= 0))
      TypeCheckResult.TypeCheckFailure(s"$signature: n_parts must be > 0, got ${nParts.eval()}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def elementSchema: StructType = CdcChunks.elementSchema

  /** Exclusive chunk end offsets of one blob, as the core strategy-A merge. */
  @transient private lazy val mergedEnds: Array[Byte] => Array[Int] = {
    val size = expectedSize.eval().toString.toInt
    val parts = nParts.eval().toString.toInt
    algo.eval().toString match {
      case "ae" =>
        val c = AeChunker(size)
        ParallelChunking.overlapMergedBoundaries(_, parts, c.boundsInRange, c.window)
      case "rabin" =>
        val c = RabinChunker(size, seed.eval().toString.toLong.toInt)
        ParallelChunking.overlapMergedBoundaries(_, parts, c.boundsInRange, c.windowSize)
    }
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = payload.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null) Iterator.empty else CdcChunks.rows(bytes, mergedEnds(bytes))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CdcSegmentedChunks =
    copy(payload = c(0), algo = c(1), expectedSize = c(2), seed = c(3), nParts = c(4))
}

/** Native generator for stage 1 of edge-chunk re-chunking (strategy B,
  * `parallel.rs:38-51`, SURVEY.md §2.3 P3-P7): chunk slice `part` of
  * `n_parts` independently and emit
  *
  *  - one `(hash, length, edge=null, is_edge=false)` row per LOCALLY
  *    distinct interior chunk (the reference's per-thread HashSet — a chunk
  *    repeated across two slices counts twice, faithfully), and
  *  - one `(0, length, edge=bytes, is_edge=true)` row for the held-back
  *    edge chunk (even slices their last, odd slices their first).
  *
  * Interior chunk BYTES never leave the generator — only 64-bit xxhash64
  * identities (seed 42, the engine-wide chunk identity) and lengths flow
  * into the downstream aggregation; edge bytes (one chunk per slice) are
  * the only payload that shuffles, into the pairwise stitch join.
  */
case class CdcSliceChunks(
    payload: Expression, algo: Expression, expectedSize: Expression,
    seed: Expression, part: Expression, nParts: Expression)
    extends Generator with CodegenFallback {

  override def prettyName: String = "cdc_slice_chunks"
  override def children: Seq[Expression] = Seq(payload, algo, expectedSize, seed, part, nParts)

  override def checkInputDataTypes(): TypeCheckResult =
    CdcChunks.checkArgs("cdc_slice_chunks(payload, algo, expected_size, seed, part, n_parts)",
      payload, algo, Seq(expectedSize, seed, nParts), integral = Seq(part))

  @transient private lazy val nP: Int = nParts.eval().toString.toInt

  /** [left, right) byte range of slice `p` — the reference's thread-slice
    * arithmetic (`parallel.rs:30-35`), Long math so multi-GB payloads don't
    * overflow.
    */
  private def sliceRange(len: Int, p: Int): (Int, Int) =
    ((p.toLong * len / nP).toInt, ((p + 1).toLong * len / nP).toInt)

  override def elementSchema: StructType = StructType(Seq(
    StructField("hash", LongType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("edge", BinaryType, nullable = true),
    StructField("is_edge", BooleanType, nullable = false)))

  @transient private lazy val chunker: Chunker = Chunker(
    algo.eval().toString,
    expectedSize.eval().toString.toInt,
    seed.eval().toString.toLong)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = payload.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null || bytes.length < nP) return Iterator.empty
    val p = part.eval(input).toString.toInt
    val (left, right) = sliceRange(bytes.length, p)
    val slice = java.util.Arrays.copyOfRange(bytes, left, right)
    val cs = chunker.chunks(slice)
    val (lo, hi) = if (p % 2 == 0) (0, cs.length - 1) else (1, cs.length)
    val local = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    var i = lo
    while (i < hi) {
      val (off, len) = cs(i)
      local.getOrElseUpdate(CdcChunks.xxh64(slice, off, len), len)
      i += 1
    }
    val (eo, el) = if (p % 2 == 0) cs.last else cs.head
    local.iterator.map { case (h, l) => InternalRow(h, l, null, false) } ++
      Iterator.single(InternalRow(0L, el,
        java.util.Arrays.copyOfRange(slice, eo, eo + el), true))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CdcSliceChunks =
    copy(payload = c(0), algo = c(1), expectedSize = c(2), seed = c(3), part = c(4), nParts = c(5))
}
