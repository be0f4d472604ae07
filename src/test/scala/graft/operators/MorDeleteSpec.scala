package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Structural contracts of the merge-on-read delete lifecycle
  * (position-delete sidecars → scan-time apply → compaction fold-in) that
  * the DuckDB oracles cannot see, because they only check row STATE:
  *
  *  - the delete itself rewrites ZERO data files — the snapshot is the
  *    original tree plus a sidecar;
  *  - every sidecar position addresses a real physical row whose key is
  *    in the erase set, and no purge row escapes the sidecar;
  *  - compaction's fold-in equals the copy-on-write delete row-for-row;
  *  - compaction rewrites ONLY files that carry delete positions — every
  *    other file carries over by hard link (same inode).
  */
class MorDeleteSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def dataCols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
    "ship_day", "ship_month")

  test("MOR delete writes a sidecar and touches zero data files") {
    val root = LakeFixture.morDeleteDir(spark, sfDir)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/data_base.txt"))
    // the snapshot's data pointer IS the original bloom-indexed tree
    assert(base == LakeIndex.normPath(LakeFixture.bloomIdxDataDir(spark, sfDir)))
    // nothing under the MOR root but the sidecar and the pointer
    val entries = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(entries == Set("deletes", "data_base.txt"), entries.toString)
    // every sidecar file path points INTO the untouched original tree
    import spark.implicits._
    val strays = spark.read.parquet(s"$root/deletes")
      .filter(!$"file".startsWith(base)).count()
    assert(strays == 0L)
  }

  test("sidecar positions address exactly the purge rows, 1:1") {
    import spark.implicits._
    val root = LakeFixture.morDeleteDir(spark, sfDir)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/data_base.txt"))
    val del = spark.read.parquet(s"$root/deletes")
    val eraseKeys = LakeFixture.eraseOrderKeys(spark, sfDir)
      .as[Long].collect().toSet
    // read the tree with physical positions; join the sidecar back
    val tree = spark.read.parquet(base)
      .select(
        LakeProtocol.metaFilePath.as("file"),
        col("_metadata.row_index").as("pos"),
        col("l_orderkey").as("tree_key"))
    val joined = del.join(tree, Seq("file", "pos"))
      .select($"l_orderkey", $"tree_key").as[(Long, Long)].collect()
    // every position resolves to a row, carrying the key the sidecar says
    assert(joined.length.toLong == del.count())
    assert(joined.forall { case (k, tk) => k == tk && eraseKeys.contains(k) })
    // and no purge row escaped the sidecar: tree rows with erased keys
    // are EXACTLY the sidecar rows
    val treePurge = tree.filter($"tree_key".isin(eraseKeys.toSeq: _*)).count()
    assert(treePurge == joined.length.toLong)
  }

  test("compaction fold-in equals the copy-on-write delete row-for-row") {
    import spark.implicits._
    val mor = spark.read
      .parquet(s"${LakeFixture.morCompactDir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
    val cow = spark.read
      .parquet(s"${LakeFixture.deleteExecDir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
    assert(mor.exceptAll(cow).isEmpty && cow.exceptAll(mor).isEmpty)
  }

  test("MOR merge equals the copy-on-write merge row-for-row, zero rewrites") {
    import spark.implicits._
    val mor = LakeFixture.morMergeRead(spark, sfDir).select(dataCols.map(col): _*)
    val cow = spark.read
      .parquet(s"${LakeFixture.mergeExecDir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
    assert(mor.exceptAll(cow).isEmpty && cow.exceptAll(mor).isEmpty,
      "merge-on-read state diverges from the copy-on-write merge")
    // the MOR merge snapshot is sidecar + batch only — the original tree
    // is untouched (its pointer is wave 1's, pinned in the first test)
    val root = LakeFixture.morMergeDir(spark, sfDir)
    val entries = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(entries == Set("deletes2", "batch"), entries.toString)
    // every replaced-row position addresses a batch-keyed row of the tree
    val base = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"${LakeFixture.morDeleteDir(spark, sfDir)}/data_base.txt"))
    val tree = spark.read.parquet(base)
      .select(
        LakeProtocol.metaFilePath.as("file"),
        col("_metadata.row_index").as("pos"),
        col("l_orderkey").as("tree_key"))
    val del2 = spark.read.parquet(s"$root/deletes2")
    val joined = del2.join(tree, Seq("file", "pos"))
    assert(joined.count() == del2.count())
    assert(joined.filter($"l_orderkey" =!= $"tree_key").count() == 0L)
  }

  test("compaction rewrites only files with deletes; the rest hard-link") {
    import spark.implicits._
    val morRoot = LakeFixture.morDeleteDir(spark, sfDir)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$morRoot/data_base.txt"))
    val oldData = java.nio.file.Paths.get(base)
    val newData = java.nio.file.Paths.get(
      s"${LakeFixture.morCompactDir(spark, sfDir)}/data")
    val delFiles = spark.read.parquet(s"$morRoot/deletes")
      .select($"file").distinct().as[String].collect().toSet
    val baseFiles = spark.read.parquet(base).inputFiles
      .map(LakeIndex.normPath)
    assert(delFiles.nonEmpty && delFiles.size < baseFiles.length,
      s"degenerate layout: ${delFiles.size} of ${baseFiles.length}")
    baseFiles.filterNot(delFiles.contains).foreach { f =>
      val src = java.nio.file.Paths.get(f)
      val dst = newData.resolve(oldData.relativize(src).toString)
      assert(java.nio.file.Files.exists(dst), s"missing carry-over $dst")
      assert(java.nio.file.Files.isSameFile(src, dst), s"copied, not linked: $dst")
    }
    // no rewritten file reuses a carried-over name, and none of the
    // delete-carrying originals appear in the new tree
    delFiles.foreach { f =>
      val rel = oldData.relativize(java.nio.file.Paths.get(f)).toString
      assert(!java.nio.file.Files.exists(newData.resolve(rel)),
        s"delete-carrying file carried over verbatim: $rel")
    }
  }
}
