package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeIndex

/** Structural contracts of snapshot expiration + orphan GC
  * ([[PipelineOps.gcExpireDir]]) that the state-readout oracle cannot
  * see: WHICH files died and which survived. The clone's refcount
  * structure (one physical file per relative path, shared by every
  * snapshot that references it) makes these checks exact.
  */
class GcExpireSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def root = PipelineOps.gcExpireDir(spark, sfDir)

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

  test("retention kept the tip and its parent; expired ids are gone") {
    import spark.implicits._
    assert(liveIds == Set(3L, 4L))
    val preIds = manifestsAll.map(_._1).toSet
    assert(preIds == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("every GC'd file was unreferenced by live manifests; orphans died") {
    val live = liveIds
    val liveFiles = manifestsAll.collect { case (sid, f) if live(sid) => f }.toSet
    assert(deleted.intersect(liveFiles).isEmpty)
    // the planted debris is among the dead
    val orphans = Set(s"$root/files/orphan_a.parquet",
      s"$root/files/orphan_b.parquet")
    assert(orphans.subsetOf(deleted))
    orphans.foreach(o =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(o))))
  }

  test("GC is complete: every expired-only file is physically gone") {
    val live = liveIds
    val liveFiles = manifestsAll.collect { case (sid, f) if live(sid) => f }.toSet
    val expiredOnly = manifestsAll.collect {
      case (sid, f) if !live(sid) && !liveFiles.contains(f) => f
    }.toSet
    assert(expiredOnly.nonEmpty, "degenerate chain: nothing to GC")
    assert(expiredOnly.subsetOf(deleted))
    expiredOnly.foreach(f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f)), f))
  }

  test("every retained snapshot's file set is untouched (same inode as source)") {
    import spark.implicits._
    val live = liveIds
    val cloneLive = manifestsAll.filter(t => live(t._1))
    // map back to the original chain paths via the pre-GC metadata pair
    val meta = PipelineOps.snapshotMetaDir(spark, sfDir)
    val baseOf = spark.read.parquet(s"$meta/snapshots")
      .select($"snap_id", $"base").as[(Long, String)].collect().toMap
    val orig = spark.read.parquet(s"$meta/manifests")
      .as[(Long, String)].collect().filter(t => live(t._1))
      .map { case (sid, f) =>
        val base = java.nio.file.Paths.get(LakeIndex.normPath(baseOf(sid)))
        (sid, base.relativize(java.nio.file.Paths.get(f)).toString) -> f
      }.toMap
    assert(cloneLive.nonEmpty && cloneLive.size == orig.size)
    cloneLive.foreach { case (sid, f) =>
      val p = java.nio.file.Paths.get(f)
      assert(java.nio.file.Files.exists(p), s"live file GC'd: $f")
      val rel = java.nio.file.Paths.get(s"$root/files").relativize(p).toString
      assert(java.nio.file.Files.isSameFile(p,
        java.nio.file.Paths.get(orig((sid, rel)))), s"content drifted: $f")
    }
  }

  test("live snapshots serve their exact pre-GC state after the purge") {
    val cols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
      "ship_day", "ship_month").map(col)
    Seq(3L, 4L).foreach { id =>
      val post = PipelineOps.readLiveSnapshot(spark, sfDir, id).select(cols: _*)
      val pre = PipelineOps.readSnapshot(spark, sfDir, id).select(cols: _*)
      assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty,
        s"snapshot $id drifted through GC")
    }
  }
}
