package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

import graft.core.Chunker

/** Native Catalyst table-valued expression for CDC chunking:
  *
  * {{{
  * SELECT d.doc_id, c.chunk_idx, c.offset, c.length, xxhash64(c.chunk) AS hash
  * FROM docs d LATERAL VIEW cdc_chunks(encode(d.text, 'utf-8'), 'fastcdc', 512, 42) c
  * }}}
  *
  * A `Generator` (the engine-level UDTF shape, same contract as `explode`) —
  * unlike the UDF route it needs no intermediate array materialization of all
  * chunk structs per row before exploding, composes with LATERAL VIEW from
  * pure SQL, and reports its output schema to the analyzer. Config arguments
  * must be foldable (they parameterize the operator, like `sequence`'s step).
  *
  * Reference semantics: one blob → N contiguous chunk spans
  * (`chunker.rs:24-29` pull protocol, re-derived as offsets); chunk identity
  * is applied downstream with `xxhash64` for reproducibility (SURVEY.md §7.4).
  */
case class CdcChunks(payload: Expression, algo: Expression, expectedSize: Expression, seed: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(payload, algo, expectedSize, seed)

  override def checkInputDataTypes(): TypeCheckResult =
    CdcChunks.checkArgs("cdc_chunks(payload, algo, expected_size, seed)",
      payload, algo, Seq(expectedSize, seed))

  override def elementSchema: StructType = CdcChunks.elementSchema

  @transient private lazy val chunker: Chunker = Chunker(
    algo.eval().toString,
    expectedSize.eval().toString.toInt,
    seed.eval().toString.toLong)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = payload.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null) Iterator.empty else CdcChunks.rows(bytes, chunker.boundaries(bytes))
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CdcChunks =
    copy(payload = newChildren(0), algo = newChildren(1),
      expectedSize = newChildren(2), seed = newChildren(3))
}

object CdcChunks {

  /** Row shape of every chunk-emitting CDC generator. */
  val elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("offset", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("chunk", BinaryType, nullable = false)))

  /** Analysis-time argument check shared by the CDC generators: `algo` and
    * `config` are constants, the payload is BINARY, `algo` a STRING, and
    * `config` plus the per-row `integral` arguments are integral.
    */
  private[plans] def checkArgs(signature: String, payload: Expression, algo: Expression,
      config: Seq[Expression], integral: Seq[Expression] = Nil): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"$signature: $msg")
    if (!(algo +: config).forall(_.foldable)) fail("config arguments must be constants")
    else if (payload.dataType != BinaryType)
      fail(s"payload must be BINARY, got ${payload.dataType.simpleString}")
    else if (algo.dataType != StringType) fail("algo must be STRING")
    else if (!(config ++ integral).forall(e => Seq(IntegerType, LongType, ShortType, ByteType).contains(e.dataType)))
      fail("numeric arguments must be integral")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** One `(chunk_idx, offset, length, chunk)` row per exclusive chunk end
    * offset in `ends`, chunk i spanning `[ends(i - 1), ends(i))` with
    * `ends(-1) = 0`. Bytes after the last end (a strategy-A tail that failed
    * the min-distance merge) are not emitted.
    */
  private[plans] def rows(bytes: Array[Byte], ends: Array[Int]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var i = 0
      private var start = 0
      override def hasNext: Boolean = i < ends.length
      override def next(): InternalRow = {
        val end = ends(i)
        val row = InternalRow(i, start, end - start, java.util.Arrays.copyOfRange(bytes, start, end))
        i += 1
        start = end
        row
      }
    }
}

/** Session extension: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cdcChunksDescriptor)
    ext.injectFunction(GraftExtensions.vecDotDescriptor)
    ext.injectFunction(GraftExtensions.cdcSegmentedChunksDescriptor)
    ext.injectFunction(GraftExtensions.cdcSliceChunksDescriptor)
    ext.injectFunction(GraftExtensions.bloomContainsDescriptor)
    ext.injectFunction(GraftExtensions.minhashBandsDescriptor)
    ext.injectFunction(GraftExtensions.vecLshSigsDescriptor)
  }
}

object GraftExtensions {
  private[plans] val cdcChunksDescriptor = (
    FunctionIdentifier("cdc_chunks"),
    new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
    (args: Seq[Expression]) => {
      require(args.length == 4, "cdc_chunks(payload, algo, expected_size, seed)")
      CdcChunks(args(0), args(1), args(2), args(3))
    })

  private[plans] val vecDotDescriptor = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "vec_dot(array<double>, array<double>)")
      VecDot(args(0), args(1))
    })

  private[plans] val cdcSegmentedChunksDescriptor = (
    FunctionIdentifier("cdc_segmented_chunks"),
    new ExpressionInfo(classOf[CdcSegmentedChunks].getName, "cdc_segmented_chunks"),
    (args: Seq[Expression]) => {
      require(args.length == 5, "cdc_segmented_chunks(payload, algo, expected_size, seed, n_parts)")
      CdcSegmentedChunks(args(0), args(1), args(2), args(3), args(4))
    })

  private[plans] val cdcSliceChunksDescriptor = (
    FunctionIdentifier("cdc_slice_chunks"),
    new ExpressionInfo(classOf[CdcSliceChunks].getName, "cdc_slice_chunks"),
    (args: Seq[Expression]) => {
      require(args.length == 6, "cdc_slice_chunks(payload, algo, expected_size, seed, part, n_parts)")
      CdcSliceChunks(args(0), args(1), args(2), args(3), args(4), args(5))
    })

  private[plans] val bloomContainsDescriptor = (
    FunctionIdentifier("bloom_contains"),
    new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
    (args: Seq[Expression]) => {
      require(args.length == 3, "bloom_contains(bloom, hash, k)")
      BloomContains(args(0), args(1), args(2))
    })

  private[plans] val minhashBandsDescriptor = (
    FunctionIdentifier("minhash_bands"),
    new ExpressionInfo(classOf[MinhashBands].getName, "minhash_bands"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "minhash_bands(text)")
      MinhashBands(args(0))
    })

  private[plans] val vecLshSigsDescriptor = (
    FunctionIdentifier("vec_lsh_sigs"),
    new ExpressionInfo(classOf[VecLshSigs].getName, "vec_lsh_sigs"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "vec_lsh_sigs(emb)")
      VecLshSigs(args(0))
    })

  /** Imperative registration for an existing session. */
  def register(spark: SparkSession): Unit =
    Seq(cdcChunksDescriptor, vecDotDescriptor,
      cdcSegmentedChunksDescriptor, cdcSliceChunksDescriptor,
      bloomContainsDescriptor, minhashBandsDescriptor,
      vecLshSigsDescriptor).foreach {
      case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
