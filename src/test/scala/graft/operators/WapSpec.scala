package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeIndex

/** Structural contracts of the write-audit-publish lifecycle
  * ([[LakeFixture.wapDir]]) the audit/publish oracles can't see: the
  * failed candidate is physically abandoned, and the GC of its staged
  * root cannot damage the published snapshot or its ancestor (hard-linked
  * retention is what makes staged-snapshot abandonment free and safe).
  */
class WapSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("exactly one candidate publishes; the failed one's staged root is gone") {
    import spark.implicits._
    val root = LakeFixture.wapDir(spark, sfDir)
    val log = spark.read.parquet(s"$root/publish_log")
      .select($"candidate", $"n_violations", $"published", $"base")
      .as[(String, Long, Boolean, String)].collect()
      .map { case (c, v, p, b) => c -> ((v, p, b)) }.toMap
    assert(log.keySet == Set("good", "bad"))
    val (gv, gp, gBase) = log("good")
    val (bv, bp, bBase) = log("bad")
    assert(gv == 0L && gp, "clean candidate must pass and publish")
    assert(bv > 0L && !bp, "poisoned candidate must fail and be held back")
    // the abandoned candidate's whole staged tree is physically gone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(bBase)),
      s"abandoned staged tree survived GC: $bBase")
    // the published pointer is the good snapshot
    assert(gBase == LakeIndex.normPath(
      s"${LakeFixture.mergeExecDir(spark, sfDir)}/data"))
  }

  test("abandon-GC is link-safe: published snapshot and its parent still serve") {
    import spark.implicits._
    LakeFixture.wapDir(spark, sfDir) // ensure the GC ran
    val published = spark.read
      .parquet(s"${LakeFixture.mergeExecDir(spark, sfDir)}/data")
    val parent = spark.read
      .parquet(s"${LakeFixture.deleteExecDir(spark, sfDir)}/data")
    // both trees fully readable post-GC, and the published state is
    // still exactly the merged state (no shared byte was harmed)
    assert(published.count() > 0L && parent.count() > 0L)
    assert(published.filter($"qty" <= 0L).count() == 0L)
    // the parent still contains zero wave-1 erase keys (its contract)
    val erased = LakeFixture.eraseOrderKeys(spark, sfDir).as[Long].collect().toSet
    assert(parent.filter($"l_orderkey".isin(erased.toSeq: _*)).count() == 0L)
  }
}
