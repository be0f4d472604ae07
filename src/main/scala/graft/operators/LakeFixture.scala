package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Once-per-JVM ICEBERG-V3-SHAPED metadata world for the `graft-lake`
  * connector (graft.sources.lake): ONE snapshot lineage whose manifests
  * carry data files AND delete files of all three row-level forms, each
  * entry tagged with its content type and commit sequence number — the
  * metadata layout a v3 reader actually plans from, where the r15 fixtures
  * kept each delete form in its own root with its own serve path.
  *
  * Layout under the returned root:
  *
  *   snapshots/   (snap_id, op, parent_id)
  *   manifests/   (snap_id, content, file, base, seq, key_col)
  *                content ∈ data | dv | pos_del | eq_del
  *   refs_log/    (step, ref, ref_type, snap_id) — main plus a `stable`
  *                tag pinned at the DV-only snapshot
  *
  * The lineage over the bloom-indexed ship-month tree (all data files at
  * sequence 0, never rewritten — every commit is delete files only):
  *
  *   - snap 0: the original tree, no deletes;
  *   - snap 1 (op dv_delete, seq 1): erase wave 1 (customers % 271) lands
  *     as DELETION VECTORS — the [[PipelineOps.dvDeleteDir]] `dv1` sidecar
  *     files referenced as content=dv entries;
  *   - snap 2 (op multi_delete): wave 2 (customers % 337) lands as a
  *     POSITION-DELETE file at seq 2 and wave 3 (customers % 293) as an
  *     EQUALITY-DELETE file (key_col l_orderkey) at seq 3 — so one
  *     snapshot's metadata simultaneously carries a DV, a position
  *     sidecar and an equality manifest, which is exactly the composed
  *     read the r15 verdict flagged as missing. Customer 0 sits in ALL
  *     three erase sets, so the overlap-removed-exactly-once property is
  *     load-bearing, not incidental.
  *
  * Sequence rules are the Iceberg ones: a delete at sequence s applies
  * only to data files with sequence < s; every data file here is seq 0,
  * and LakeConnectorSpec pins the counterfactual (a seq-ignorant reader
  * over-deletes nothing here by luck — the spec builds a seq-inverted
  * twin where it would).
  *
  * At 100 TB nothing in this layout grows with table size except the
  * manifests table (one row per file — the same linear metadata every
  * real lakehouse carries); DV rows are one per touched file, the eq
  * manifest is |keys|, and the pos sidecar |deleted rows| — each the
  * cheapest representation of its wave, which is why real tables mix
  * forms per commit in the first place.
  */
object LakeFixture {

  def lakeMetaDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_lake", d) { root =>
      import s.implicits._
      import PipelineOps._
      val dataBase = normPath(bloomIdxDataDir(s, d))
      val dataFiles = s.read.parquet(dataBase).inputFiles.map(normPath).toSeq

      // wave 2 (customers % 337) as a position-delete sidecar
      purgePositions(s, d, orderKeysOfCustomersMod(s, d, 337))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("pos").toString)
      // wave 3 (customers % 293) as an equality-delete manifest at seq 3
      orderKeysOfCustomersMod(s, d, 293).select($"k", lit(3L).as("seq_del"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("eq").toString)
      // wave 1 (customers % 271) deletion vectors: the dvDeleteDir `dv1`
      // sidecar files referenced IN PLACE — a manifest entry is a pointer,
      // not a copy, same as the branch/cherry-pick metadata commits
      val dvBase = s"${dvDeleteDir(s, d)}/dv1"
      val dvFiles = s.read.parquet(dvBase).inputFiles.map(normPath).toSeq
      val posFiles = s.read.parquet(root.resolve("pos").toString)
        .inputFiles.map(normPath).toSeq
      val eqFiles = s.read.parquet(root.resolve("eq").toString)
        .inputFiles.map(normPath).toSeq

      def rows(snap: Long, content: String, files: Seq[String], base: String,
          seq: Long, keyCol: String) =
        files.map(f => (snap, content, f, base, seq, keyCol))
      val dataRows = (snap: Long) =>
        rows(snap, "data", dataFiles, dataBase, 0L, "")
      (dataRows(0L) ++
        dataRows(1L) ++ rows(1L, "dv", dvFiles, dvBase, 1L, "") ++
        dataRows(2L) ++ rows(2L, "dv", dvFiles, dvBase, 1L, "") ++
        rows(2L, "pos_del", posFiles, root.resolve("pos").toString, 2L, "") ++
        rows(2L, "eq_del", eqFiles, root.resolve("eq").toString, 3L,
          "l_orderkey"))
        .toDF("snap_id", "content", "file", "base", "seq", "key_col")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      Seq((0L, "original", -1L), (1L, "dv_delete", 0L),
        (2L, "multi_delete", 1L))
        .toDF("snap_id", "op", "parent_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      Seq((0L, "main", "branch", 2L), (0L, "stable", "tag", 1L))
        .toDF("step", "ref", "ref_type", "snap_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("refs_log").toString)
      root.toString
    }

  /** The STREAMING lineage world (VERDICT r16 #5 / the 24th replay
    * contract): snapshot 0 is the inherited pre-branch table state
    * (snapshot 2 of [[PipelineOps.branchMetaDir]]'s world, files
    * referenced in place), and snapshots 1..5 each APPEND one wave of
    * the audit batch ([[PipelineOps.branchBatchRows]] split 5 ways by
    * `l_orderkey % 5`, each wave month-partitioned like any real
    * append). Tailing this world from `startSnapshot=0` therefore emits
    * EXACTLY the rows the batch `pipeline_incremental_scan` reads
    * between the branch fork and head — the stream contract is judged
    * by that oracle verbatim.
    */
  def lakeStreamDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_lakestream", d) { root =>
      import s.implicits._
      import PipelineOps.normPath
      val branchRoot = PipelineOps.branchMetaDir(s, d)
      val inherited = s.read.parquet(s"$branchRoot/manifests")
        .filter($"snap_id" === 2L).select($"file", $"base")
        .as[(String, String)].collect().toSeq
      // rank-based wave split (not a key modulus): every wave is
      // non-empty down to the smallest fixtures, so the lineage length
      // is data-size independent above 5 rows
      val batch = PipelineOps.branchBatchRows(s, d)
      val nWaves = math.min(5L, math.max(1L, batch.count())).toInt
      val waved = batch.withColumn("wave",
        pmod(org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"l_orderkey")) - 1,
          lit(nWaves)).cast("int"))
      val waves = (0 until nWaves).map { w =>
        val dir = root.resolve(s"wave$w").toString
        waved.filter($"wave" === w).drop("wave")
          .repartition(col("ship_month"))
          .write.mode("overwrite").partitionBy("ship_month").parquet(dir)
        (normPath(dir), s.read.parquet(dir).inputFiles.map(normPath).toSeq)
      }
      // manifests: snap n = snap n-1's rows + wave n's files
      val snapRows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
      var acc: Seq[(String, String)] = inherited
      snapRows ++= acc.map { case (f, b) => (0L, f, b) }
      waves.zipWithIndex.foreach { case ((base, fs), i) =>
        acc = acc ++ fs.map(f => (f, base))
        snapRows ++= acc.map { case (f, b) => ((i + 1).toLong, f, b) }
      }
      snapRows.toSeq.toDF("snap_id", "file", "base").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      ((0L, "genesis", -1L) +: (1 to nWaves).map(i =>
        (i.toLong, "append", (i - 1).toLong)))
        .toDF("snap_id", "op", "parent_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      root.toString
    }
}
