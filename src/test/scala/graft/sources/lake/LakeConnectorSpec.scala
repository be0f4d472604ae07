package graft.sources.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LakeFixture

/** Contracts of the `graft-lake` DataSourceV2 connector the lake_* query
  * oracles cannot see: the scan opens ONLY pruned files (partition window
  * AND bloom probe), pruned columns reach the parquet projection, the
  * composed multi-delete read equals the library-helper composition
  * row-for-row, the equality-delete sequence rule's counterfactual (a
  * seq-ignorant reader would over-delete), and old footers staying
  * byte-identical under the column-ID mapping.
  */
class LakeConnectorSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def opts(kv: (String, String)*): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(kv.toMap.asJava)

  private def scanOf(
      o: CaseInsensitiveStringMap, filters: Array[Filter],
      cols: Option[Seq[String]] = None): GraftLakeScan = {
    val t = new GraftLakeSource().getTable(null, Array.empty, o)
      .asInstanceOf[GraftLakeTable]
    val b = t.newScanBuilder(o).asInstanceOf[GraftLakeScanBuilder]
    b.pushFilters(filters)
    cols.foreach { cs =>
      val full = t.schema()
      b.pruneColumns(org.apache.spark.sql.types.StructType(
        full.fields.filter(f => cs.contains(f.name))))
    }
    b.build().asInstanceOf[GraftLakeScan]
  }

  test("format short name resolves through the services registration") {
    val df = spark.read.format("graft-lake")
      .option("metaRoot", LakeFixture.snapshotMetaDir(spark, sfDir)).load()
    assert(df.columns.contains("ship_month"))
  }

  test("partition window prunes the planned file set to exactly the window") {
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    val o = opts("metaRoot" -> meta)
    val all = scanOf(o, Array.empty).plannedFiles
    val windowed = scanOf(o, Array(
      GreaterThanOrEqual("ship_month", "1995-01"),
      LessThanOrEqual("ship_month", "1995-06"))).plannedFiles
    assert(windowed.nonEmpty && windowed.size < all.size,
      s"window did not prune: ${windowed.size} of ${all.size}")
    val monthRe = "ship_month=([0-9]{4}-[0-9]{2})".r
    val inWindow = (f: String) => monthRe.findFirstMatchIn(f)
      .map(_.group(1)).exists(m => m >= "1995-01" && m <= "1995-06")
    assert(windowed.forall(inWindow), "connector opened an out-of-window file")
    // and the pruned set is EXACTLY the in-window subset, not a sample
    assert(windowed.toSet == all.filter(inWindow).toSet)
  }

  test("key probe prunes through the snapshot's own bloom sidecar") {
    import spark.implicits._
    val root = LakeFixture.branchMetaDir(spark, sfDir)
    val auditId = 6L
    val o = opts("metaRoot" -> root, "snapshot" -> "6")
    val all = scanOf(o, Array.empty).plannedFiles
    val probes = LakeFixture.BloomIdxKeys
    val pruned = scanOf(o,
      Array(In("l_orderkey", probes.map(_.asInstanceOf[Any]).toArray)))
      .plannedFiles
    val (expected, _) = LakeProtocol.matchedFilesInIndex(
      spark, s"$root/idx$auditId", probes.toDF("k"))
    assert(pruned.toSet == expected.map(LakeIndex.normPath).toSet,
      "pruned set != the index-matched set")
    assert(pruned.size < all.size, "bloom probe did not prune")
  }

  test("pruned columns reach the scan's read schema") {
    val o = opts("metaRoot" -> LakeFixture.snapshotMetaDir(spark, sfDir))
    val s = scanOf(o, Array.empty, cols = Some(Seq("l_orderkey", "ship_month")))
    assert(s.readSchema().fieldNames.toSeq == Seq("l_orderkey", "ship_month"))
  }

  test("composed multi-delete read == the library-helper composition, and " +
      "triple-marked customer-0 rows are removed exactly once") {
    import spark.implicits._
    val meta = LakeFixture.lakeMetaDir(spark, sfDir)
    val viaConnector = spark.read.format("graft-lake")
      .option("metaRoot", meta).load()
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
    // library composition over the same metadata: DV, then positions,
    // then the sequence-aware equality probe — the proven helpers
    val base = LakeFixture.bloomIdxDataDir(spark, sfDir)
    val dv = spark.read.parquet(s"${LakeFixture.dvDeleteDir(spark, sfDir)}/dv1")
    val pos = spark.read.parquet(s"$meta/pos").select($"file", $"pos")
    val eq = spark.read.parquet(s"$meta/eq")
    val scan = spark.read.parquet(base)
      .withColumn("file", LakeProtocol.metaFilePath)
      .withColumn("pos", col("_metadata.row_index"))
    val viaLibrary = LakeProtocol.dvApply(scan, dv)
      .join(broadcast(pos), Seq("file", "pos"), "left_anti")
      .drop("file", "pos")
      .withColumn("seq_data", lit(0L))
      .join(broadcast(eq), col("l_orderkey") === col("k") &&
        col("seq_del") > col("seq_data"), "left_anti")
      .drop("seq_data")
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
    assert(viaConnector.exceptAll(viaLibrary).isEmpty &&
      viaLibrary.exceptAll(viaConnector).isEmpty,
      "connector multi-delete read drifted from the library composition")
    // customer 0 sits in all three erase sets; its rows must be gone —
    // and the survivor count must equal full minus the union of the three
    // key sets (each overlapping row removed exactly once, never twice)
    val cust0Orders = graft.Tables.orders(spark, sfDir)
      .filter($"o_custkey" === 0L).select($"o_orderkey".as("k"))
    assert(viaConnector.join(broadcast(cust0Orders),
      $"l_orderkey" === $"k", "left_semi").count() == 0L)
    val unionKeys = Seq(271, 337, 293)
      .map(m => LakeFixture.orderKeysOfCustomersMod(spark, sfDir, m))
      .reduce(_ unionByName _).distinct()
    val expectSurvivors = spark.read.parquet(base).count() -
      spark.read.parquet(base)
        .join(broadcast(unionKeys), col("l_orderkey") === col("k"), "left_semi")
        .count()
    assert(viaConnector.count() == expectSurvivors)
  }

  test("equality deletes respect the strictly-older sequence rule " +
      "(counterfactual: same keys at seq <= file seq must NOT apply)") {
    import spark.implicits._
    val root = graft.Fixtures.tempDir("graft_lakeseq")
    val dataDir = root.resolve("data").toString
    Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("l_orderkey", "v").coalesce(1)
      .write.mode("overwrite").parquet(dataDir)
    val dataFile = spark.read.parquet(dataDir).inputFiles
      .map(LakeIndex.normPath).head
    Seq((1L, 3L)).toDF("k", "seq_del").coalesce(1)
      .write.mode("overwrite").parquet(root.resolve("eq").toString)
    val eqFile = spark.read.parquet(root.resolve("eq").toString)
      .inputFiles.map(LakeIndex.normPath).head
    def world(fileSeq: Long): String = {
      val m = root.resolve(s"meta_$fileSeq")
      Seq((0L, "data", dataFile, dataDir, fileSeq, ""),
        (0L, "eq_del", eqFile, root.resolve("eq").toString, 3L, "l_orderkey"))
        .toDF("snap_id", "content", "file", "base", "seq", "key_col")
        .coalesce(1).write.mode("overwrite")
        .parquet(m.resolve("manifests").toString)
      Seq((0L, "w", -1L)).toDF("snap_id", "op", "parent_id").coalesce(1)
        .write.mode("overwrite").parquet(m.resolve("snapshots").toString)
      m.toString
    }
    def keysAt(fileSeq: Long): Set[Long] =
      spark.read.format("graft-lake").option("metaRoot", world(fileSeq))
        .load().select($"l_orderkey").as[Long].collect().toSet
    assert(keysAt(0L) == Set(2L, 3L), "seq 3 delete must apply to seq-0 data")
    assert(keysAt(3L) == Set(1L, 2L, 3L),
      "seq 3 delete must NOT apply to seq-3 data (strictly older only)")
    assert(keysAt(7L) == Set(1L, 2L, 3L),
      "seq 3 delete must NOT apply to newer data")
  }

  test("column-ID serve leaves old footers byte-identical (rename/widen " +
      "are read-time indirections)") {
    import spark.implicits._
    val root = LakeFixture.schemaIdDir(spark, sfDir)
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(spark.read.parquet(s"$root/data/release=r1")
        .inputFiles.map(LakeIndex.normPath).head))
    val served = spark.read.format("graft-lake")
      .option("schemaRoot", root).option("schemaVersion", "2").load()
    // the v2 view serves char_count/bigint score; lang is never requested
    assert(served.columns.toSeq ==
      Seq("doc_id", "char_count", "score", "quality_tier", "release"))
    val viaLibrary = LakeFixture.idMappedRelease(spark, sfDir, "r1", Some(2L))
      .unionByName(LakeFixture.idMappedRelease(spark, sfDir, "r2", Some(2L)))
      .select(served.columns.map(col).toIndexedSeq: _*)
    assert(served.exceptAll(viaLibrary).isEmpty &&
      viaLibrary.exceptAll(served).isEmpty,
      "connector schema serve drifted from idMappedRelease")
    val after = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(spark.read.parquet(s"$root/data/release=r1")
        .inputFiles.map(LakeIndex.normPath).head))
    assert(java.util.Arrays.equals(before, after), "old footer rewritten")
  }

  test("promotion matrix through the connector == the library promo serve " +
      "(float→double, decimal widen, defaults)") {
    import org.apache.spark.sql.functions.col
    val served = spark.read.format("graft-lake")
      .option("schemaRoot", LakeFixture.schemaPromoDir(spark, sfDir)).load()
    val viaLibrary = LakeFixture.promoMappedRelease(spark, sfDir, "p1")
      .unionByName(LakeFixture.promoMappedRelease(spark, sfDir, "p2"))
      .select(served.columns.map(col).toIndexedSeq: _*)
    assert(served.schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 4))
    assert(served.exceptAll(viaLibrary).isEmpty &&
      viaLibrary.exceptAll(served).isEmpty,
      "connector promotion serve drifted from promoMappedRelease")
  }

  test("DV serve through the connector == the library dvApply serve") {
    import spark.implicits._
    val meta = LakeFixture.lakeMetaDir(spark, sfDir)
    val viaConnector = spark.read.format("graft-lake")
      .option("metaRoot", meta).option("snapshot", "1").load()
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
    val viaLibrary = LakeFixture.dvServeRead(spark, sfDir, "dv1")
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
    assert(viaConnector.exceptAll(viaLibrary).isEmpty &&
      viaLibrary.exceptAll(viaConnector).isEmpty)
  }

  test("the scan reports pruned-size statistics: a small lake read " +
      "auto-broadcasts in a join, no hint needed") {
    import spark.implicits._
    val meta = LakeFixture.lakeMetaDir(spark, sfDir)
    val dim = spark.read.format("graft-lake")
      .option("metaRoot", meta).option("snapshot", "1").load()
      .select($"l_orderkey", $"net_cents")
    val fact = graft.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity")
    val joined = fact.join(dim, "l_orderkey")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a sub-threshold lake side must auto-broadcast (needs the scan's " +
        s"size statistics):\n$plan")
  }

  test("streaming source: one micro-batch per appended snapshot, emitted " +
      "rows == the batch incremental append scan (VERDICT r16 #5)") {
    import spark.implicits._
    val root = LakeFixture.lakeStreamDir(spark, sfDir)
    val sink = "lake_stream_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val chk = graft.Fixtures.tempDir("graft_lakestream_chk")
    val q = spark.readStream.format("graft-lake")
      .option("metaRoot", root)
      .option("startSnapshot", "0")
      .option("maxSnapshotsPerTrigger", "1")
      .load()
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", chk.resolve("chk").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // one micro-batch per appended snapshot (admission control)
    val appended = spark.read.parquet(s"$root/snapshots").count() - 1
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == appended,
      s"expected $appended one-snapshot micro-batches, saw $dataBatches")
    val emitted = spark.table(sink)
    val batch = LakeFixture.branchBatchRows(spark, sfDir)
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
    assert(emitted.exceptAll(batch).isEmpty && batch.exceptAll(emitted).isEmpty,
      "streamed rows drifted from the branch append batch")
    spark.catalog.dropTempView(sink)
  }

  test("streaming source REFUSES a non-append snapshot step (delete files " +
      "added) — the incremental-append contract") {
    import spark.implicits._
    // lakeMetaDir's snapshot 1 adds DV delete files over snapshot 0
    val meta = LakeFixture.lakeMetaDir(spark, sfDir)
    val chk = graft.Fixtures.tempDir("graft_lakestream_chk2")
    val sink = "lake_stream_refuse_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-lake")
      .option("metaRoot", meta)
      .option("startSnapshot", "0")
      .load()
      .select($"l_orderkey")
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", chk.resolve("chk").toString)
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("not append-only")),
      s"expected the append-only refusal, got: ${chain(e).mkString(" | ")}")
    spark.catalog.dropTempView(sink)
  }
}
