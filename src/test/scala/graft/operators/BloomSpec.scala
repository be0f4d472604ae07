package graft.operators

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeProtocol

import graft.plans.BloomUtil

/** Native Bloom filter stack (BloomUtil statics ← BloomAgg ← bloom_contains
  * ← pipeline_bloom_decontaminate): the no-false-negative guarantee, a sane
  * deterministic false-positive rate, merge-order invariance, and — the
  * point of the prefilter — that it passes every truly contaminated doc
  * while pruning most of the corpus before the exact join.
  */
class BloomSpec extends AnyFunSuite with graft.SharedSpark {

  private val M = 1 << 14
  private val K = 4

  test("BloomUtil set/contains: members always hit, non-members rarely") {
    val bits = new Array[Byte](M >>> 3)
    val members = (0 until 500).map(i => i * 0x9E3779B97F4A7C15L + 17L)
    members.foreach(BloomUtil.set(bits, _, K))
    assert(members.forall(BloomUtil.contains(bits, _, K)), "false negative!")
    val fps = (0 until 2000)
      .map(i => i * 0x517CC1B727220A95L - 3L)
      .filterNot(members.contains)
      .count(BloomUtil.contains(bits, _, K))
    assert(fps < 200, s"fp count $fps out of ~2000 probes — expected well under 10%")
  }

  test("BloomAgg bitset equals a sequential build and survives repartitioning") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val hs = (0L until 300L).map(i => i * 0x2545F4914F6CDD1DL + 7L)
    val agg = udaf(new graft.functions.BloomAgg(M, K), Encoders.scalaLong)
    val distributed = hs.toDF("h").repartition(7)
      .agg(agg($"h").as("bloom")).as[Array[Byte]].head()
    val sequential = new Array[Byte](M >>> 3)
    hs.foreach(BloomUtil.set(sequential, _, K))
    assert(java.util.Arrays.equals(distributed, sequential),
      "merge-order changed the bitset — OR must be order-free")
    // and the SQL expression agrees with the static on both classes
    val probe = (hs.take(50) ++ Seq(999999999L, -42L)).toDF("h")
      .crossJoin(hs.toDF("h2").agg(agg($"h2").as("bloom")))
      .withColumn("got", call_function("bloom_contains", $"bloom", $"h", lit(K)))
      .as[(Long, Array[Byte], Boolean)].collect()
    probe.foreach { case (h, bloom, got) =>
      assert(got == BloomUtil.contains(bloom, h, K), s"expr/static disagree on $h")
    }
  }

  test("prefilter passes every contaminated doc and prunes most of the corpus") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val flags = DecontamQueries.bloomDecontamFlags(spark, d)
      .select($"doc_id", $"cand").as[(Long, Boolean)].collect().toMap
    val contaminated = graft.SparkEntry.queries("pipeline_bloom_decontaminate")(spark, d)
      .filter(col("contaminated"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(contaminated.nonEmpty, "derived eval set must contaminate its source docs")
    // no false negatives: every truly contaminated doc was a bloom candidate
    assert(contaminated.forall(flags(_)), "bloom prefilter dropped a true hit")
    // and the filter is actually a filter: most docs never reach the join
    val candFrac = flags.values.count(identity).toDouble / flags.size
    assert(candFrac < 0.5, s"prefilter passed $candFrac of the corpus — not pruning")
  }

  test("bloom and exact decontamination agree on the contaminated doc set") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val viaBloom = graft.SparkEntry.queries("pipeline_bloom_decontaminate")(spark, d)
      .filter(col("contaminated")).select(col("doc_id")).as[Long].collect().toSet
    val viaExact = graft.SparkEntry.queries("pipeline_decontaminate")(spark, d)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(viaBloom == viaExact,
      s"bloom-prefiltered and direct decontamination diverge: ${viaBloom.diff(viaExact)} / ${viaExact.diff(viaBloom)}")
  }

  // The counting form of the sidecar probe prices driver-side planning at
  // file counts far beyond the driver SFs (BASELINE.md, "Round-13:
  // driver-side file-list planning priced"): the sf0.001 index replicated
  // N-fold under distinct paths must report exactly N times the real file
  // total and N times the real matched files, each replica of a matched
  // file matched.
  test("bloom index replicated N-fold plans exactly N times the files and matches") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val reps = 3
    val (realMatched, realTotal) = LakeFixture.bloomIdxMatchedFiles(spark, d)
    assert(realMatched.nonEmpty && realMatched.length < realTotal)
    val realIdx = LakeFixture.bloomIdxDataDir(spark, d).stripSuffix("/data") + "/index"
    val synth = graft.Fixtures.tempDir("graft_synthidx").resolve("index").toString
    spark.read.parquet(realIdx)
      .crossJoin(spark.range(reps).select($"id".as("rep")))
      .withColumn("file", concat($"file", lit("#rep"), $"rep"))
      .drop("rep")
      .write.parquet(synth)
    val (matched, total) = LakeProtocol.matchedFilesInIndex(spark, synth,
      LakeFixture.BloomIdxKeys.toDF("k"))
    assert(total == reps * realTotal)
    assert(matched.length == reps * realMatched.length)
    assert(matched.toSet == (for (f <- realMatched; r <- 0 until reps) yield s"$f#rep$r").toSet)
  }
}
