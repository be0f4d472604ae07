package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Contracts of the mutation writer's file-size targeting
  * ([[LakeProtocol.writeMonthTargeted]] / [[LakeProtocol.applyMutation]]'s
  * step 3): per-file row bound, manifest count O(months ×
  * ceil(rows/target)), and — with the default target — the one-file-per-
  * month layout every existing oracle pins, unchanged.
  */
class MutationWriterSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val Target = 500L

  // a delete wave executed with a TINY per-file target, so the split is
  // observable at sf0.001 (months run ~1-3k rewritten rows)
  private lazy val tinyRoot: String = {
    val bloom = LakeFixture.bloomIdxDataDir(spark, sfDir)
    val idx = bloom.stripSuffix("/data") + "/index"
    val w1 = LakeFixture.deleteExecDir(spark, sfDir)
    LakeProtocol.applyMutation(spark, graft.Fixtures.tempDir("graft_tinytarget"), bloom, idx,
      s"$w1/mv", LakeFixture.eraseOrderKeys(spark, sfDir),
      targetRows = Target)
  }

  private def newFilesByMonth = {
    import spark.implicits._
    val data = spark.read.parquet(s"$tinyRoot/data")
    // new files = written by the mutation (not hard-linked retains):
    // retained files share their inode with the source tree
    val src = spark.read.parquet(LakeFixture.bloomIdxDataDir(spark, sfDir))
      .inputFiles.map(f =>
        java.nio.file.Paths.get(LakeIndex.normPath(f)).getFileName.toString)
      .toSet
    data.select(LakeProtocol.metaFilePath.as("file"), $"ship_month")
      .groupBy($"file", $"ship_month").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
      .filterNot(t =>
        src(java.nio.file.Paths.get(t._1).getFileName.toString))
  }

  test("no written file exceeds the per-file row target") {
    val files = newFilesByMonth
    assert(files.nonEmpty, "mutation wrote no files")
    files.foreach { case (f, _, n) =>
      assert(n <= Target, s"file over target ($n > $Target): $f")
    }
  }

  test("file count stays O(months × ceil(rows/target))") {
    import spark.implicits._
    // drive the writer directly with a target small enough to split at
    // sf0.001 (per-month mutation working sets here are under any
    // realistic target, so the applyMutation fixture cannot exercise it)
    val tgt = 20L
    val out = graft.Fixtures.tempDir("graft_wmt").resolve("data").toString
    val df = graft.Tables.lineitem(spark, sfDir).select(
      $"l_orderkey".cast("long").as("l_orderkey"),
      $"l_quantity".cast("long").as("qty"),
      date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
    LakeProtocol.writeMonthTargeted(spark, df, out, tgt)
    val byMonth = spark.read.parquet(out)
      .select(LakeProtocol.metaFilePath.as("file"), $"ship_month")
      .groupBy($"file", $"ship_month").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().groupBy(_._2)
    byMonth.foreach { case (m, fs) =>
      fs.foreach { case (f, _, n) =>
        assert(n <= tgt, s"file over target ($n > $tgt): $f") }
      val rows = fs.map(_._3).sum
      val ceilN = (rows + tgt - 1) / tgt
      assert(fs.size >= ceilN,
        s"$m: ${fs.size} files cannot hold $rows rows under the cap")
      // bucket-hash imbalance can at most double the ideal count (each
      // of the ceil(rows/target) buckets writes ≤ floor(its rows/target)
      // + 1 files)
      assert(fs.size <= 2 * ceilN,
        s"$m: ${fs.size} files for $rows rows — small-file regression")
    }
    // the split actually happened somewhere (non-degenerate fixture)
    assert(byMonth.exists(_._2.size > 1),
      "premise broken: no month split into multiple files")
  }

  test("the served state is independent of the file-size target") {
    import spark.implicits._
    val cols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
      "ship_day", "ship_month").map(col)
    val tiny = spark.read.parquet(s"$tinyRoot/data").select(cols: _*)
    val ref = spark.read.parquet(
      s"${LakeFixture.deleteExecDir(spark, sfDir)}/data").select(cols: _*)
    assert(tiny.exceptAll(ref).isEmpty && ref.exceptAll(tiny).isEmpty,
      "file-size targeting changed the table contents")
  }

  test("default target keeps the one-file-per-month layout at test SF") {
    import spark.implicits._
    val w1 = LakeFixture.deleteExecDir(spark, sfDir)
    val perMonth = spark.read.parquet(s"$w1/data")
      .select(LakeProtocol.metaFilePath.as("file"), $"ship_month")
      .groupBy($"ship_month")
      .agg(countDistinct($"file").as("nf"))
      .agg(max($"nf")).as[Long].head()
    // retained + at most one written file per month
    assert(perMonth <= 2L,
      s"default-target layout regressed to $perMonth files in a month")
  }
}
