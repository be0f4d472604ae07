package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeProtocol

/** Structural contracts of REF-AWARE expiration + GC
  * ([[LakeFixture.refsGcDir]]) that the per-ref state oracle cannot see:
  * WHICH files died, which survived, and WHY survival required the
  * multi-ref reachability rule instead of [[LakeFixture.gcExpireDir]]'s
  * single-chain tip+parent policy. The clone's refcount structure (one
  * physical file per relpath, shared by every snapshot referencing it)
  * makes the checks exact.
  */
class RefsGcSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def root = LakeFixture.refsGcDir(spark, sfDir)

  private def deleted: Set[String] = {
    import spark.implicits._
    spark.read.parquet(s"$root/gc_deleted").as[String].collect().toSet
  }

  private def manifestsAll: Seq[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$root/manifests_all")
      .as[(Long, String)].collect().toSeq
  }

  private def liveIds: Set[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$root/snapshots")
      .select($"snap_id").as[Long].collect().toSet
  }

  test("retention = every ref head + main's parent; the rest expired") {
    import spark.implicits._
    val refs = spark.read.parquet(s"$root/refs")
      .as[(String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(refs == Seq(("audit", "branch", 6L), ("main", "branch", 7L),
      ("v1_compacted", "tag", 1L)))
    assert(liveIds == Set(1L, 4L, 6L, 7L))
    // the pre-GC world held the whole chain plus both branch commits
    assert(manifestsAll.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L, 6L, 7L))
  }

  test("no live file died; orphans died; no under-delete survives") {
    val live = liveIds
    val liveFiles = manifestsAll.collect { case (sid, f) if live(sid) => f }.toSet
    assert(deleted.intersect(liveFiles).isEmpty)
    val orphans = Set(s"$root/files/orphan_a.parquet",
      s"$root/files/orphan_b.parquet")
    assert(orphans.subsetOf(deleted))
    // under-delete pin: every file still on disk is reachable from a ref
    val remaining = scala.collection.mutable.ArrayBuffer[String]()
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/files"))
      .forEach(p =>
        if (java.nio.file.Files.isRegularFile(p)) remaining += p.toString)
    assert(remaining.nonEmpty && remaining.toSet == liveFiles,
      "files on disk diverge from the union of live manifests")
  }

  test("GC is complete: every file no ref reaches is physically gone") {
    val live = liveIds
    val liveFiles = manifestsAll.collect { case (sid, f) if live(sid) => f }.toSet
    val expiredOnly = manifestsAll.collect {
      case (sid, f) if !live(sid) && !liveFiles.contains(f) => f
    }.toSet
    assert(expiredOnly.nonEmpty, "degenerate DAG: nothing to GC")
    assert(expiredOnly.subsetOf(deleted))
    expiredOnly.foreach(f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f)), f))
  }

  test("the single-chain tip+parent policy would have destroyed ref-pinned files") {
    // tag-pinned compaction files (snapshot 1) and the audit head's
    // inherited wave-1 files (expired snapshot 2's) are live ONLY through
    // refs — under main-chain {7, 4} retention they would be unreferenced
    val byId = manifestsAll.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mainChainFiles = byId(7L) ++ byId(4L)
    val tagOnly = byId(1L) -- mainChainFiles
    val auditInherited = byId(6L).intersect(byId(2L)) -- mainChainFiles
    assert(tagOnly.nonEmpty, "compaction produced no tag-exclusive files")
    assert(auditInherited.nonEmpty,
      "audit head inherited no wave-1-exclusive files")
    (tagOnly ++ auditInherited).foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)),
        s"ref-reachable file GC'd: $f")
      assert(!deleted.contains(f), s"ref-reachable file in gc_deleted: $f")
    }
    // and expired snapshot 2 is really expired — reachability saved its
    // FILES (via the audit head), not the snapshot row itself
    assert(!liveIds.contains(2L))
  }

  test("live snapshots serve their exact pre-GC state after the purge") {
    val cols = Seq("l_orderkey", "qty", "net_cents", "ship_month").map(col)
    Seq(1L, 4L, 6L, 7L).foreach { id =>
      val post = LakeProtocol.readCloneSnapshot(spark, LakeFixture.refsGcDir(spark, sfDir), id)
        .select(cols: _*)
      val pre = LakeProtocol.readManifestSnapshot(
        spark, LakeFixture.branchMetaDir(spark, sfDir), id)
        .select(cols: _*)
      assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty,
        s"snapshot $id drifted through ref-aware GC")
    }
  }

  test("an expired or unknown snapshot id is rejected after ref-aware GC, not served empty") {
    Seq(2L, 999L).foreach { id =>
      val e = intercept[IllegalArgumentException](
        LakeProtocol.readCloneSnapshot(spark, root, id))
      assert(e.getMessage.contains(s"snapshot $id expired or unknown"))
    }
  }
}
