package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeIndex

/** Structural contracts of the optimistic-concurrency commit protocol
  * that the DuckDB oracle (which only checks the converged row state)
  * cannot see:
  *
  *  - the race produced a REAL file-level conflict (the loser's staged
  *    plan rewrote files the winner's commit removed), and the loser's
  *    staging was written and then discarded wholesale;
  *  - both deletes landed: no key of either writer survives the tip,
  *    and every other row carried through untouched;
  *  - commit order does not matter: replaying the race with A winning
  *    converges to the identical tree row-for-row.
  */
class ConcurrencySpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def keysOf(m: Int): DataFrame =
    PipelineOps.orderKeysOfCustomersMod(spark, sfDir, m)

  private def dataCols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
    "ship_day", "ship_month")

  test("the race conflicts for real, and the stale staging is discarded") {
    import spark.implicits._
    val root = PipelineOps.concurrentCommitDir(spark, sfDir)
    val log = spark.read.parquet(s"$root/commit_log")
      .orderBy($"step")
      .select($"step", $"writer", $"base_tip", $"outcome",
        $"n_conflict_files", $"n_staged_discarded", $"new_tip")
      .as[(Long, String, String, String, Long, Long, String)].collect()
    assert(log.map(r => (r._1, r._2, r._4)).toSeq ==
      Seq((0L, "B", "committed"), (1L, "A", "conflict"), (2L, "A", "committed")))
    // the conflict was file-level and nonempty, and A had real staged work
    assert(log(1)._5 > 0L, "no conflicting files — the race was fake")
    assert(log(1)._6 > 0L, "nothing was staged — nothing was at risk")
    // the staging is GONE (discarded wholesale, the WAP-abandon shape)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/stagedA")))
    // A's failed attempt validated against the OLD tip, its retry
    // against the NEW one
    assert(log(1)._3 == "T0" && log(2)._3 == "T1")
  }

  test("both deletes landed; everything else carried through") {
    import spark.implicits._
    val root = PipelineOps.concurrentCommitDir(spark, sfDir)
    val tip = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/tip.txt"))
    val tree = spark.read.parquet(s"$tip/data")
    val gone = keysOf(383).unionByName(keysOf(389)).distinct()
    assert(tree.join(broadcast(gone), $"l_orderkey" === $"k", "left_semi")
      .count() == 0L, "a deleted key survived the converged tip")
    // survivors ≡ the base tree minus both key sets, row-for-row
    val want = spark.read
      .parquet(LakeIndex.normPath(PipelineOps.bloomIdxDataDir(spark, sfDir)))
      .join(broadcast(gone), $"l_orderkey" === $"k", "left_anti")
      .select(dataCols.map(col): _*)
    val got = tree.select(dataCols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("commit order does not matter: A-first converges to the same tree") {
    import spark.implicits._
    val base = LakeIndex.normPath(PipelineOps.bloomIdxDataDir(spark, sfDir))
    // replay the race with A winning: A commits from base, B rebases on A
    val tA = PipelineOps.applyMutation(spark, graft.Fixtures.tempDir("graft_occ_alt_a"), base,
      base.stripSuffix("/data") + "/index",
      LakeIndex.normPath(PipelineOps.mvRollupDir(spark, sfDir)), keysOf(383))
    val tAB = PipelineOps.applyMutation(spark, graft.Fixtures.tempDir("graft_occ_alt_b"),
      s"$tA/data", s"$tA/index", s"$tA/mv", keysOf(389))
    val root = PipelineOps.concurrentCommitDir(spark, sfDir)
    val tip = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/tip.txt"))
    val ba = spark.read.parquet(s"$tip/data").select(dataCols.map(col): _*)
    val ab = spark.read.parquet(s"$tAB/data").select(dataCols.map(col): _*)
    assert(ba.exceptAll(ab).isEmpty && ab.exceptAll(ba).isEmpty,
      "the converged state depends on commit order")
  }
}
