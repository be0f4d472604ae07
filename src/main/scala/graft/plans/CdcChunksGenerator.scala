package graft.plans

import scala.reflect.ClassTag

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

  /** JVM twin of the `xxhash64` Column expression (same default seed 42)
    * over `bytes[from, from + len)`, so chunk identities hashed inside JVM
    * loops match the batch chunk tables' `xxhash64(chunk)` bit-for-bit.
    */
  private[graft] def xxh64(bytes: Array[Byte], from: Int, len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, len, 42L)

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
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn[E <: Expression](name: String, params: String*)(
      build: Seq[Expression] => E)(implicit cls: ClassTag[E]): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.runtimeClass.getName, name),
    (args: Seq[Expression]) => {
      require(args.length == params.length, s"$name(${params.mkString(", ")})")
      build(args)
    })

  /** Every SQL function of the engine. Both registration paths — the
    * session extension and [[register]] — read this one list.
    */
  private[plans] val functions: Seq[Descriptor] = Seq(
    fn("cdc_chunks", "payload", "algo", "expected_size", "seed")(
      a => CdcChunks(a(0), a(1), a(2), a(3))),
    fn("vec_dot", "array<double>", "array<double>")(a => VecDot(a(0), a(1))),
    fn("cdc_segmented_chunks", "payload", "algo", "expected_size", "seed", "n_parts")(
      a => CdcSegmentedChunks(a(0), a(1), a(2), a(3), a(4))),
    fn("cdc_slice_chunks", "payload", "algo", "expected_size", "seed", "part", "n_parts")(
      a => CdcSliceChunks(a(0), a(1), a(2), a(3), a(4), a(5))),
    fn("bloom_contains", "bloom", "hash", "k")(a => BloomContains(a(0), a(1), a(2))),
    fn("minhash_bands", "text")(a => MinhashBands(a(0))),
    fn("vec_lsh_sigs", "emb")(a => VecLshSigs(a(0))))

  /** Imperative registration for an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
