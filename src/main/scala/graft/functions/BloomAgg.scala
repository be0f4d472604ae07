package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

import graft.plans.BloomUtil

/** Bloom filter over 64-bit item hashes as a mergeable typed aggregate:
  * an `mBits`-wide bitset (BinaryType on the wire), `k` probe bits per
  * item via [[BloomUtil]]'s double hashing — the SAME statics the
  * `bloom_contains` expression tests with, so set/test can never drift.
  *
  * Update sets k bits and merge is bytewise OR — both commutative and
  * associative, so the finished filter is bit-identical under any
  * partitioning or merge order (the same determinism argument as
  * CountMinAgg). Guarantee: never a false negative; false positives at
  * rate ≈ (1 − e^(−kn/m))^k, the caller's capacity planning problem.
  *
  * The 100 TB role: a fixed-size eval-set membership index that
  * broadcasts in KBs and is probed map-side at O(k) per item, so the
  * corpus side of a decontamination pass never shuffles its n-grams —
  * only bloom-candidate documents proceed to exact verification.
  */
final class BloomAgg(mBits: Int, k: Int)
    extends Aggregator[Long, Array[Byte], Array[Byte]] {
  require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
    s"mBits must be a power of two >= 64, got $mBits")
  require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")

  override def zero: Array[Byte] = new Array[Byte](mBits >>> 3)

  override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
    BloomUtil.set(b, h, k)
    b
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }

  override def finish(b: Array[Byte]): Array[Byte] = b

  override def bufferEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
  override def outputEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
}

object BloomAgg {

  /** The aggregate as a column function over BIGINT item hashes. */
  def udf(mBits: Int, k: Int): UserDefinedFunction =
    udaf(new BloomAgg(mBits, k), Encoders.scalaLong)
}
