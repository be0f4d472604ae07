package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Structural contracts of branch merge-back ([[LakeFixture
  * .branchMergeDir]] / [[LakeProtocol.mergeManifests]]) the monthly
  * readout oracle cannot see: order-independence at manifest grain, the
  * zero-data-I/O property, the conflict guard, and the refs history.
  */
class BranchMergeSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def root = LakeFixture.branchMergeDir(spark, sfDir)

  private def manOf(id: Long): Set[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$root/manifests").filter($"snap_id" === id)
      .select($"file", $"base").as[(String, String)].collect().toSet
  }

  test("merging in either order converges to the same manifest (A∘B ≡ B∘A)") {
    val order1 = manOf(10L)
    val order2 = manOf(12L)
    assert(order1.nonEmpty && order1 == order2,
      "merge result depends on merge order")
    // and to the same served rows
    val cols = Seq("l_orderkey", "qty", "net_cents", "ship_month").map(col)
    val t1 = LakeProtocol.readManifestSnapshot(
      spark, LakeFixture.branchMergeDir(spark, sfDir), 10L).select(cols: _*)
    val t2 = LakeProtocol.readManifestSnapshot(
      spark, LakeFixture.branchMergeDir(spark, sfDir), 12L).select(cols: _*)
    assert(t1.exceptAll(t2).isEmpty && t2.exceptAll(t1).isEmpty)
  }

  test("merges are pure metadata: every referenced file is a source file") {
    import spark.implicits._
    val broot = LakeFixture.branchMetaDir(spark, sfDir)
    val sourceFiles = spark.read.parquet(s"$broot/manifests")
      .filter($"snap_id".isin(4L, 6L))
      .select($"file").as[String].collect().map(LakeIndex.normPath).toSet
    // the hotfix rewrite root (its files were written by the branch
    // COMMIT, not by the merge) — everything in snapshot 10 must come
    // from main's head, the audit head, or the hotfix head
    val merged = manOf(10L)
    val hotfixBases = merged.map(_._2)
      .filterNot(b => sourceFiles.exists(_.startsWith(b)))
    merged.foreach { case (f, b) =>
      assert(sourceFiles.contains(LakeIndex.normPath(f)) ||
        hotfixBases.contains(b),
        s"merge fabricated a file outside every source manifest: $f")
    }
    // the merge happened AFTER the hotfix commit: hotfix files exist
    merged.filter(t => hotfixBases.contains(t._2)).foreach { case (f, _) =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
    }
  }

  test("the conflict guard refuses a branch whose removals main also removed") {
    val main = Map("a" -> (("fa", "b")), "c" -> (("fc", "b")))
    val ex = intercept[IllegalArgumentException] {
      LakeProtocol.mergeManifests(main,
        mainRemovedSinceFork = Set("x"),
        branchAdded = Map("y" -> (("fy", "b"))),
        branchRemoved = Set("x", "c"))
    }
    assert(ex.getMessage.contains("rebase"),
      "conflict error should direct to the rebase machinery")
    // add-vs-add is a conflict too: both sides writing the same relpath
    // since the fork must refuse, never last-write-win
    val addClash = intercept[IllegalArgumentException] {
      LakeProtocol.mergeManifests(main, Set.empty,
        branchAdded = Map("a" -> (("fa2", "b2"))), branchRemoved = Set.empty)
    }
    assert(addClash.getMessage.contains("add-conflict"))
    // and the disjoint case applies cleanly
    val ok = LakeProtocol.mergeManifests(main, Set("x"),
      Map("y" -> (("fy", "b"))), Set("c"))
    assert(ok == Map("a" -> (("fa", "b")), "y" -> (("fy", "b"))))
  }

  test("refs_log records the hotfix commit and both merge movements of main") {
    import spark.implicits._
    val log = spark.read.parquet(s"$root/refs_log")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(log.toSeq == Seq(
      (3L, "hotfix", "branch", 4L), (4L, "hotfix", "branch", 8L),
      (5L, "main", "branch", 9L), (6L, "main", "branch", 10L)))
    val snaps = spark.read.parquet(s"$root/snapshots")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // merge snapshots carry BOTH parents: main's old head + the branch head
    assert(snaps.filter(_._2 == "merge").map(t => (t._1, t._3, t._4)).toSeq ==
      Seq((9L, 4L, 6L), (10L, 9L, 8L), (11L, 4L, 8L), (12L, 11L, 6L)))
  }

  test("the hotfix delete semantically landed; the batch survived it") {
    import spark.implicits._
    val merged = LakeProtocol.readManifestSnapshot(
      spark, LakeFixture.branchMergeDir(spark, sfDir), 10L)
    val hotKeys = LakeFixture.orderKeysOfCustomersMod(spark, sfDir, 163)
    assert(merged.join(hotKeys, $"l_orderkey" === $"k", "left_semi")
      .count() == 0L, "a hotfix-deleted key survived the merge")
    val batch = LakeFixture.branchBatchRows(spark, sfDir)
    val batchN = batch.count()
    assert(batchN > 0L &&
      merged.join(batch.select($"l_orderkey".as("bk")),
        $"l_orderkey" === $"bk", "left_semi").count() == batchN,
      "branch batch rows lost through the merge")
  }

  test("an unknown merge-world snapshot id is rejected, not served empty") {
    val e = intercept[IllegalArgumentException](
      LakeProtocol.readManifestSnapshot(spark, root, 999L))
    assert(e.getMessage.contains("unknown snapshot 999"))
  }
}
