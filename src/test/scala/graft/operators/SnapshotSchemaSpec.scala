package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The schema-homogeneity invariant behind
  * [[graft.sources.lake.LakeProtocol.readMatchedFiles]]: a snapshot's
  * files are scanned with the footer schema of ONE of them (cached per
  * discovery base), so every file of every manifest-addressed snapshot
  * must carry the same footer schema. Walks each world snapshot by
  * snapshot and file by file; the catalog world is walked through the
  * (metadata root, snapshot) pairs its log resolves to.
  */
class SnapshotSchemaSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  /** snap_id → files, from `metaRoot/manifests`. */
  private def snapshots(metaRoot: String): Map[Long, Seq[String]] = {
    import spark.implicits._
    spark.read.parquet(s"$metaRoot/manifests").select($"snap_id", $"file")
      .as[(Long, String)].collect().toSeq.groupMap(_._1)(_._2)
  }

  private def assertOneSchema(where: String, files: Seq[String]): Unit = {
    assert(files.nonEmpty, s"$where has no files")
    val schemas = files.map(f => f -> spark.read.parquet(f).schema)
    val (f0, s0) = schemas.head
    schemas.find(_._2 != s0).foreach { case (f, sc) =>
      fail(s"$where: $f has $sc but $f0 has $s0")
    }
  }

  private val worlds: Seq[(String, (SparkSession, String) => String)] = Seq(
    "chain" -> LakeFixture.snapshotMetaDir,
    "rollback" -> LakeFixture.rollbackMetaDir,
    "branch" -> LakeFixture.branchMetaDir,
    "merge" -> LakeFixture.branchMergeDir,
    "GC" -> LakeFixture.gcExpireDir,
    "refs-GC" -> LakeFixture.refsGcDir)

  worlds.foreach { case (world, dir) =>
    test(s"every $world snapshot's files share one footer schema") {
      val snaps = snapshots(dir(spark, sfDir))
      assert(snaps.nonEmpty, s"$world world has no snapshots")
      snaps.toSeq.sortBy(_._1).foreach { case (id, fs) =>
        assertOneSchema(s"$world snapshot $id", fs)
      }
    }
  }

  test("every catalog version's snapshot files share one footer schema") {
    import spark.implicits._
    val log = spark.read.parquet(s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .select($"version", $"meta_root", $"snap_id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(log.nonEmpty)
    log.foreach { case (v, metaRoot, id) =>
      assertOneSchema(s"catalog v$v (snapshot $id of $metaRoot)",
        snapshots(metaRoot).getOrElse(id, Seq.empty))
    }
  }
}
