package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the two-level manifest layout ([[PipelineOps
  * .manifestListDir]] / [[PipelineOps.planViaManifestList]]) the
  * window-report oracle cannot see: group pruning actually happens, the
  * planned file set matches the flat manifest exactly, and the list's
  * range stats are consistent with the manifests they describe.
  */
class ManifestListSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def root = PipelineOps.manifestListDir(spark, sfDir)

  private def tipFiles: Array[String] = {
    import spark.implicits._
    val meta = PipelineOps.snapshotMetaDir(spark, sfDir)
    val tip = spark.read.parquet(s"$meta/snapshots")
      .agg(max($"snap_id")).as[Long].head()
    spark.read.parquet(s"$meta/manifests")
      .filter($"snap_id" === tip).select($"file").as[String].collect()
  }

  private val MonthRe = "ship_month=([0-9]{4}-[0-9]{2})".r
  private def monthOf(f: String): String =
    MonthRe.findFirstMatchIn(f).get.group(1)

  test("planning prunes manifest groups and lists exactly the window's files") {
    val (files, opened, total) = PipelineOps.planViaManifestList(
      spark, sfDir, "1995-01", "1995-12")
    assert(total > 1L, "degenerate layout: one group prunes nothing")
    assert(opened < total, s"no pruning: opened $opened of $total groups")
    val expected = tipFiles.filter { f =>
      val m = monthOf(f); m >= "1995-01" && m <= "1995-12"
    }.toSet
    assert(expected.nonEmpty && files.toSet == expected,
      "planned file set diverges from the flat manifest's window slice")
  }

  test("the list's range stats are exact over their manifest groups") {
    import spark.implicits._
    val list = spark.read.parquet(s"$root/manifest_list")
      .as[(Long, Long, String, String)].collect().sortBy(_._1)
    var seenFiles = 0L
    list.foreach { case (g, nf, lo, hi) =>
      val months = spark.read.parquet(s"$root/manifest/group=$g")
        .select($"ship_month").as[String].collect()
      assert(months.length.toLong == nf, s"group $g file count drifted")
      assert(months.min == lo && months.max == hi,
        s"group $g range stats drifted")
      seenFiles += nf
    }
    assert(seenFiles == tipFiles.length.toLong,
      "manifest groups do not partition the flat manifest")
    // groups cover disjoint month ranges (sorted grouping), so range
    // pruning can never need to open a skipped group
    list.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3,
        s"groups ${a._1}/${b._1} overlap — pruning unsound")
      case _ =>
    }
  }

  test("an out-of-range window opens zero manifest groups") {
    val (files, opened, _) = PipelineOps.planViaManifestList(
      spark, sfDir, "2199-01", "2199-12")
    assert(files.isEmpty && opened == 0L)
  }
}
