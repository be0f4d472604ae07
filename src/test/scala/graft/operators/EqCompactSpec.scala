package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Lifecycle contracts of equality-delete compaction
  * ([[LakeFixture.eqCompactDir]]) the monthly-readout oracle cannot see:
  * WHICH files were rewritten vs retained, that the sequence rule kept
  * the batch files physically untouched despite their keys sitting in a
  * delete file, and that both delete files actually retired.
  */
class EqCompactSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def root = LakeFixture.eqCompactDir(spark, sfDir)

  private def plan: Seq[(String, String, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$root/plan")
      .as[(String, String, String)].collect().toSeq
  }

  private def deleteKeys = {
    import spark.implicits._
    val w1 = LakeFixture.eqDeleteDir(spark, sfDir)
    val mg = LakeFixture.eqMergeDir(spark, sfDir)
    spark.read.parquet(s"$w1/eq_deletes")
      .unionByName(spark.read.parquet(s"$mg/eq_deletes"))
      .select($"k")
  }

  test("compacted serve equals the pre-compaction probe serve row-for-row") {
    val cols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
      "ship_day", "ship_month").map(col)
    val post = spark.read.parquet(s"$root/data").select(cols: _*)
    val pre = LakeFixture.eqMergeServe(spark, sfDir).select(cols: _*)
    assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty,
      "compaction changed the served state")
  }

  test("both delete files retired; the live delete set is empty") {
    import spark.implicits._
    val w1 = LakeFixture.eqDeleteDir(spark, sfDir)
    val mg = LakeFixture.eqMergeDir(spark, sfDir)
    val expected =
      spark.read.parquet(s"$w1/eq_deletes").inputFiles
        .map(f => (LakeIndex.normPath(f), 1L)).toSet ++
      spark.read.parquet(s"$mg/eq_deletes").inputFiles
        .map(f => (LakeIndex.normPath(f), 2L)).toSet
    val retired = spark.read.parquet(s"$root/retired_deletes")
      .as[(String, Long)].collect().toSet
    assert(retired == expected, "retired set diverges from the delete files")
    val live = spark.read.parquet(s"$root/live_deletes")
    assert(live.count() == 0L)
    assert(live.columns.sorted.toSeq == Seq("k", "seq_del"),
      "live delete schema drifted — future commits could not append")
  }

  test("sequence rule: batch files retained by link despite matching keys") {
    import spark.implicits._
    val mg = LakeFixture.eqMergeDir(spark, sfDir)
    val batchDir = java.nio.file.Paths.get(
      LakeIndex.normPath(s"$mg/batch"))
    val batchRows = plan.filter(_._2 == "batch")
    assert(batchRows.nonEmpty && batchRows.forall(_._3 == "retained_newer"))
    // the counterfactual premise: those files' keys ARE in a delete file
    val overlap = spark.read.parquet(batchDir.toString)
      .select($"l_orderkey")
      .join(deleteKeys, $"l_orderkey" === $"k", "left_semi").count()
    assert(overlap > 0L, "premise broken: no batch key in any delete file")
    batchRows.foreach { case (src, _, _) =>
      val dst = java.nio.file.Paths.get(s"$root/data").resolve(
        batchDir.relativize(java.nio.file.Paths.get(src)).toString)
      assert(java.nio.file.Files.exists(dst), s"batch file dropped: $src")
      assert(java.nio.file.Files.isSameFile(dst, java.nio.file.Paths.get(src)),
        s"batch file rewritten despite no strictly-newer delete: $src")
    }
  }

  test("zero unmatched-file rewrites; every rewritten file matched for real") {
    import spark.implicits._
    // the seq-0 tree: the path the delete write recorded (pinned against
    // the bloom layout by EqDeleteSpec)
    val oldData = java.nio.file.Paths.get(LakeIndex.normPath(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"${LakeFixture.eqDeleteDir(spark, sfDir)}/data_base.txt"))))
    val baseRows = plan.filter(_._2 == "base")
    val rewritten = baseRows.collect { case (f, _, "rewritten") => f }
    val retained = baseRows.collect { case (f, _, "retained") => f }
    assert(rewritten.nonEmpty && retained.nonEmpty,
      "degenerate plan: nothing rewritten or nothing retained")
    // every rewritten file really holds ≥1 matching row
    val hitFiles = LakeProtocol.readMatchedFiles(
        spark, oldData.toString, rewritten.toSeq)
      .select(LakeProtocol.metaFilePath.as("file"), $"l_orderkey")
      .join(deleteKeys, $"l_orderkey" === $"k", "left_semi")
      .select($"file").distinct().as[String].collect()
      .map(LakeIndex.normPath).toSet
    assert(hitFiles == rewritten.toSet,
      "a file was rewritten without holding any matching row")
    // every retained base file holds NONE, and survived by link
    val retainedHits = LakeProtocol.readMatchedFiles(
        spark, oldData.toString, retained.toSeq)
      .join(deleteKeys, $"l_orderkey" === $"k", "left_semi").count()
    assert(retainedHits == 0L,
      "a retained file still holds a deleted key — under-compaction")
    retained.foreach { f =>
      val dst = java.nio.file.Paths.get(s"$root/data").resolve(
        oldData.relativize(java.nio.file.Paths.get(f)).toString)
      assert(java.nio.file.Files.isSameFile(dst, java.nio.file.Paths.get(f)),
        s"retained file was copied or rewritten: $f")
    }
  }

  test("no deleted key survives outside the sequence-protected batch leg") {
    import spark.implicits._
    // new part files = data files whose NAME matches no source file (part
    // names are uuid-unique), i.e. the rewritten output leg
    val srcNames = plan.map(t =>
      java.nio.file.Paths.get(t._1).getFileName.toString).toSet
    val outLeg = spark.read.parquet(s"$root/data").inputFiles
      .map(LakeIndex.normPath)
      .filterNot(f =>
        srcNames(java.nio.file.Paths.get(f).getFileName.toString))
    assert(outLeg.nonEmpty, "rewrite produced no files")
    val survivors = LakeProtocol.readMatchedFiles(
        spark, s"$root/data", outLeg.toSeq)
      .join(deleteKeys, $"l_orderkey" === $"k", "left_semi").count()
    assert(survivors == 0L, "a deleted key survived the rewrite")
  }
}
