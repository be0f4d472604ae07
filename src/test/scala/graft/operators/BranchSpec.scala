package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Structural contracts of the branch/tag/cherry-pick metadata layer
  * that the DuckDB oracles (which only check served row STATE) cannot
  * see:
  *
  *  - branch commit and cherry-pick are pure manifest algebra:
  *    manifest(6) = manifest(2) ⊎ batch, manifest(7) = manifest(4) ⊎
  *    the SAME physical batch files (re-linked, not copied);
  *  - history is never rewritten: snapshots 0-4's manifests are
  *    byte-identical to the base lineage's;
  *  - refs move correctly: the tag never moves, main moves only at the
  *    pick step, and the pre-pick main still serves the old state —
  *    branch isolation;
  *  - the branch head equals wave-1 state plus the batch row-for-row.
  */
class BranchSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def dataCols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
    "ship_day", "ship_month")

  private def manifestFiles(root: String, id: Long): Set[String] = {
    import spark.implicits._
    spark.read.parquet(s"$root/manifests").filter($"snap_id" === id)
      .select($"file").as[String].collect().toSet
  }

  test("branch commit and cherry-pick are pure manifest algebra") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    val batch = spark.read.parquet(s"$root/branch_files").inputFiles
      .map(LakeIndex.normPath).toSet
    assert(batch.nonEmpty)
    val f2 = manifestFiles(root, 2L)
    val f4 = manifestFiles(root, 4L)
    val f6 = manifestFiles(root, 6L)
    val f7 = manifestFiles(root, 7L)
    // branch commit: inherited files + batch, disjointly
    assert((f2 & batch).isEmpty && (f4 & batch).isEmpty)
    assert(f6 == (f2 ++ batch))
    // cherry-pick re-links the SAME physical files onto main's manifest
    assert(f7 == (f4 ++ batch))
    assert((f7 -- f4) == (f6 -- f2), "pick added different files than the branch")
    // the pick is zero-copy: every file it added is a path the branch
    // commit already created (shared physically, not duplicated)
    (f7 -- f4).foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)), f)
      assert(f.startsWith(LakeIndex.normPath(s"$root/branch_files")), f)
    }
  }

  test("history snapshots 0-4 are copied verbatim, never rewritten") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    (0L to 4L).foreach { id =>
      val base = spark.read.parquet(s"$meta/manifests")
        .filter($"snap_id" === id).select($"file").as[String].collect().toSet
      assert(manifestFiles(root, id) == base, s"snapshot $id manifest drifted")
    }
  }

  test("the lineage records the branch commit and the pick with true parents") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    val snaps = spark.read.parquet(s"$root/snapshots")
      .select($"snap_id", $"op", $"parent_id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val base = spark.read.parquet(s"$meta/snapshots")
      .select($"snap_id", $"op", $"parent_id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // history rows verbatim, then: the branch commit hangs off snapshot 2,
    // the cherry-pick off main's old head 4 — the lineage an auditor reads
    assert(snaps.take(base.length).toSeq == base.toSeq)
    assert(snaps.drop(base.length).toSeq ==
      Seq((6L, "branch_append", 2L), (7L, "cherry_pick", 4L)))
  }

  test("refs move correctly; the tag is immutable; main moves only at the pick") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    val cur = LakeFixture.currentRefs(spark, sfDir)
      .map { case (r, t, i) => r -> ((t, i)) }.toMap
    assert(cur("main") == (("branch", 7L)))
    assert(cur("audit") == (("branch", 6L)))
    assert(cur("v1_compacted") == (("tag", 1L)))
    val log = spark.read.parquet(s"$root/refs_log")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // the tag appears exactly once — tags never move
    assert(log.count(_._2 == "v1_compacted") == 1)
    // main's movements: created at 4, moved once, by the pick, to 7
    val mains = log.filter(_._2 == "main").map(r => (r._1, r._4))
    assert(mains.toSeq == Seq((0L, 4L), (2L, 7L)))
    assert(cur.size == 3)
  }

  test("branch isolation: pre-pick main still serves the old chain tip") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    // resolve main BEFORE the pick step from the log
    val pre = spark.read.parquet(s"$root/refs_log")
      .filter($"ref" === "main" && $"step" < 2L)
      .orderBy($"step".desc).limit(1).select($"snap_id").as[Long].head()
    assert(pre == 4L)
    val served = LakeProtocol.readManifestSnapshot(
      spark, LakeFixture.branchMetaDir(spark, sfDir), pre)
      .select(dataCols.map(col): _*)
    val chainTip = spark.read
      .parquet(s"${LakeFixture.deleteExec2Dir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
    assert(served.exceptAll(chainTip).isEmpty && chainTip.exceptAll(served).isEmpty,
      "branch work leaked into the untouched main head")
  }

  test("branch commits reconcile their index: rows <-> manifest files 1:1, and it skips") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    Seq(6L, 7L).foreach { id =>
      val idxFiles = spark.read.parquet(s"$root/idx$id")
        .select($"file").as[String].collect().toSet
      assert(idxFiles == manifestFiles(root, id).map(LakeIndex.normPath),
        s"branch snapshot $id index drifted from its manifest")
      // row counts are true per file (the meta-rowcounts contract shape)
      val got = spark.read.parquet(s"$root/idx$id")
        .agg(sum($"n_rows")).as[Long].head()
      assert(got == LakeProtocol.readManifestSnapshot(
        spark, LakeFixture.branchMetaDir(spark, sfDir), id).count())
    }
    // the lookup actually skips, and the batch-key probes route through
    // the FRESH index rows to the branch root (the inherited rows alone
    // could never answer them)
    val twins = spark.read.parquet(s"$root/branch_files")
      .select($"l_orderkey").orderBy($"l_orderkey")
      .limit(2).as[Long].collect()
    assert(twins.length == 2)
    val probes = (LakeFixture.BloomIdxKeys ++ twins).toDF("k")
    val (matched, total) =
      LakeProtocol.matchedFilesInIndex(spark, s"$root/idx6", probes)
    assert(matched.nonEmpty && matched.length < total,
      s"no skipping: ${matched.length} of $total")
    val branchRoot = LakeIndex.normPath(s"$root/branch_files")
    assert(matched.exists(f => LakeIndex.normPath(f).startsWith(branchRoot)),
      "no probe routed to the branch root — fresh index rows unexercised")
  }

  test("the branch head equals wave-1 state plus the batch row-for-row") {
    val served = LakeProtocol.readManifestSnapshot(
      spark, LakeFixture.branchMetaDir(spark, sfDir), 6L)
      .select(dataCols.map(col): _*)
    val want = spark.read
      .parquet(s"${LakeFixture.deleteExecDir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
      .unionByName(LakeFixture.branchBatchRows(spark, sfDir)
        .select(dataCols.map(col): _*))
    assert(served.exceptAll(want).isEmpty && want.exceptAll(served).isEmpty)
  }

  test("an unknown branch-world snapshot id is rejected, not served empty") {
    val e = intercept[IllegalArgumentException](LakeProtocol.readManifestSnapshot(
      spark, LakeFixture.branchMetaDir(spark, sfDir), 999L))
    assert(e.getMessage.contains("unknown snapshot 999"))
  }
}
