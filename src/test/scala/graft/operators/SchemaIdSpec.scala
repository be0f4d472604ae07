package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeIndex

/** Contracts of column-ID schema evolution ([[PipelineOps.schemaIdDir]] /
  * [[PipelineOps.idMappedRelease]]) the release-report oracle cannot see:
  * that old files are physically unrewritten (old footer names and INT32
  * score survive serving through schema v2), that the dropped column is
  * pruned from the scan, and that the widen is load-bearing.
  */
class SchemaIdSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def root = PipelineOps.schemaIdDir(spark, sfDir)

  test("old files are unrewritten: r1 keeps its write-time footer schema") {
    // force the v2-mapped serve first, then inspect the physical layer
    val served = PipelineOps.idMappedRelease(spark, sfDir, "r1")
    served.count()
    val raw = spark.read.parquet(s"$root/data/release=r1")
    val byName = raw.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName.keySet == Set("doc_id", "lang", "n_chars", "score"),
      "r1 footer names drifted — the rename rewrote data")
    assert(byName("score") == IntegerType,
      "r1 score widened on disk — the widen rewrote data")
    // and the mapped serve reads exactly those files, in place
    val rawFiles = raw.inputFiles.map(LakeIndex.normPath).toSet
    val servedFiles = served.inputFiles.map(LakeIndex.normPath).toSet
    assert(servedFiles == rawFiles, "mapped scan reads different files")
  }

  test("rename by field id: r1's n_chars answers as char_count verbatim") {
    import spark.implicits._
    val mapped = PipelineOps.idMappedRelease(spark, sfDir, "r1")
      .select($"doc_id", $"char_count")
    val raw = spark.read.parquet(s"$root/data/release=r1")
      .select($"doc_id", $"n_chars".as("char_count"))
    assert(mapped.exceptAll(raw).isEmpty && raw.exceptAll(mapped).isEmpty)
  }

  test("type widen is load-bearing: r2 scores exceed Int.MaxValue; union is bigint") {
    import spark.implicits._
    val u = PipelineOps.idMappedRelease(spark, sfDir, "r1")
      .unionByName(PipelineOps.idMappedRelease(spark, sfDir, "r2"))
    assert(u.schema("score").dataType == LongType)
    val mx = u.agg(max($"score")).as[Long].head()
    assert(mx > Int.MaxValue.toLong,
      "premise broken: no r2 score above Int.MaxValue — widen untested")
  }

  test("dropped column is pruned: lang never reaches r1's ReadSchema") {
    val mapped = PipelineOps.idMappedRelease(spark, sfDir, "r1")
    assert(!mapped.columns.contains("lang"))
    val plan = mapped.queryExecution.executedPlan.toString
    assert(!plan.contains("lang"),
      s"dropped column still read from parquet:\n$plan")
  }

  test("added field serves as typed NULL for old files, real values for new") {
    import spark.implicits._
    val r1 = PipelineOps.idMappedRelease(spark, sfDir, "r1", Some(2L))
    val r2 = PipelineOps.idMappedRelease(spark, sfDir, "r2", Some(2L))
    assert(r1.schema("quality_tier").dataType == LongType)
    assert(r1.filter($"quality_tier".isNotNull).count() == 0L)
    assert(r2.filter($"quality_tier".isNull).count() == 0L)
  }

  test("initial-default vs null coexist per field under schema v3") {
    import spark.implicits._
    val r1 = PipelineOps.idMappedRelease(spark, sfDir, "r1", Some(3L))
    // field 6 (default 99): every pre-v3 row serves the default, typed
    assert(r1.schema("region_code").dataType == IntegerType)
    assert(r1.filter($"region_code" =!= 99).count() == 0L)
    assert(r1.filter($"region_code".isNull).count() == 0L)
    // field 5 (no default): still typed NULL from the same files
    assert(r1.filter($"quality_tier".isNotNull).count() == 0L)
    // and pinning v2 hides the v3 field entirely
    assert(!PipelineOps.idMappedRelease(spark, sfDir, "r1", Some(2L))
      .columns.contains("region_code"))
  }

  test("promotion matrix: p1 footers byte-identical and physically " +
      "FLOAT/DECIMAL(9,2)/INT32 after the widened serve") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val proot = PipelineOps.schemaPromoDir(spark, sfDir)
    val p1File = java.nio.file.Paths.get(
      spark.read.parquet(s"$proot/data/release=p1")
        .inputFiles.map(LakeIndex.normPath).head)
    val before = java.nio.file.Files.readAllBytes(p1File)
    val served = PipelineOps.promoMappedRelease(spark, sfDir, "p1")
    served.count()
    assert(java.util.Arrays.equals(before,
      java.nio.file.Files.readAllBytes(p1File)),
      "the promoted read rewrote p1's bytes")
    val phys = spark.read.parquet(s"$proot/data/release=p1").schema
    assert(phys("weight").dataType == FloatType)
    assert(phys("price").dataType == DecimalType(9, 2))
    assert(phys("score").dataType == IntegerType)
    // ...while the served view carries the widened types
    assert(served.schema("weight").dataType == DoubleType)
    assert(served.schema("price").dataType == DecimalType(18, 4))
    assert(served.schema("score").dataType == LongType)
  }

  test("write-default is stamped into p2's files; initial-default is a " +
      "read-time constant for p1 — and they differ") {
    import spark.implicits._
    val proot = PipelineOps.schemaPromoDir(spark, sfDir)
    // the writer omitted `flag`, yet p2's FOOTER carries the column: the
    // write path materialized the write-default (5) physically
    val p2raw = spark.read.parquet(s"$proot/data/release=p2")
    assert(p2raw.columns.contains("flag"),
      "write-default was not materialized at write time")
    assert(p2raw.filter($"flag" =!= 5).count() == 0L)
    // p1's files have NO flag column; the read serves the
    // initial-default (7), never the write-default
    assert(!spark.read.parquet(s"$proot/data/release=p1")
      .columns.contains("flag"))
    val p1 = PipelineOps.promoMappedRelease(spark, sfDir, "p1")
    assert(p1.filter($"flag" =!= 7).count() == 0L)
    assert(p1.filter($"flag".isNull).count() == 0L)
  }

  test("float→double and decimal widening are exact on the dyadic/string-" +
      "built fixture values (no lossy promote)") {
    import spark.implicits._
    val proot = PipelineOps.schemaPromoDir(spark, sfDir)
    val served = PipelineOps.promoMappedRelease(spark, sfDir, "p1")
    val raw = spark.read.parquet(s"$proot/data/release=p1")
    // the widened double equals the float bit-promoted: reconstruct from
    // the raw column and diff — any lossy cast breaks equality
    val joined = served.select($"doc_id", $"weight", $"price")
      .join(raw.select($"doc_id", $"weight".cast("double").as("w2"),
        $"price".cast("decimal(18,4)").as("p2")), "doc_id")
    assert(joined.filter($"weight" =!= $"w2" || $"price" =!= $"p2")
      .count() == 0L)
  }
}
