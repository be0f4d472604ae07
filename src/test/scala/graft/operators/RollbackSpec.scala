package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural contracts of snapshot rollback
  * ([[LakeFixture.rollbackMetaDir]]): the rollback is METADATA-ONLY and
  * its manifest is the target snapshot's file list verbatim — nothing
  * the state oracle can observe.
  */
class RollbackSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("rollback manifest is snapshot 2's verbatim; lineage keeps the tip") {
    import spark.implicits._
    val root = LakeFixture.rollbackMetaDir(spark, sfDir)
    val snaps = spark.read.parquet(s"$root/snapshots")
      .select($"snap_id", $"op", $"parent_id", $"base")
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    val rb = snaps.last
    assert(rb._2 == "rollback" && rb._1 == 5L && rb._3 == 4L,
      s"rollback row malformed: $rb")
    // all five historical snapshots survive (rollback abandons nothing)
    assert(snaps.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val mans = spark.read.parquet(s"$root/manifests")
    def files(id: Long): Set[String] = mans.filter($"snap_id" === id)
      .select($"file").as[String].collect().toSet
    assert(files(5L) == files(2L) && files(5L).nonEmpty,
      "rollback manifest diverges from the target snapshot's")
    assert(rb._4 == snaps.find(_._1 == 2L).get._4, "base pointer diverges")
    // metadata-only: the rollback root holds nothing but the two tables
    val entries = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(entries == Set("snapshots", "manifests"), entries.toString)
    // every manifest file still exists (no data was touched)
    files(5L).foreach(f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)), f))
  }
}
