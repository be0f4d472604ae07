package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeIndex

/** Semantic contracts of the snapshot changelog scan
  * ([[PipelineOps.snapshotChangelog]]) beyond the oracle's bit-check:
  * the emitted rows must be a CORRECT DELTA (apply ≡ target snapshot),
  * the typing must be internally consistent, and the planning must stay
  * metadata-bounded (changed files only, never the whole table).
  */
class ChangelogSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val payload = Seq("l_orderkey", "ship_month", "ship_day", "qty",
    "net_cents")

  test("changelog applied to the source snapshot reproduces the target — every pair") {
    import spark.implicits._
    def state(id: Long) = PipelineOps.readSnapshot(spark, sfDir, id)
      .groupBy(payload.map(col): _*).agg(count(lit(1)).as("n"))
    // pairs spanning one wave, the merge, the whole chain, and a
    // branch-to-tip jump across every mutation kind
    Seq((0L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (0L, 4L)).foreach {
      case (a, b) =>
        val log = PipelineOps.snapshotChangelog(spark, sfDir, a, b)
          .withColumn("signed",
            when($"change_type".isin("insert", "update_post"), $"n")
              .otherwise(-$"n"))
          .groupBy(payload.map(col): _*).agg(sum($"signed").as("delta"))
        val applied = state(a).join(log, payload, "full_outer")
          .withColumn("n_new",
            coalesce($"n", lit(0L)) + coalesce($"delta", lit(0L)))
          .filter($"n_new" =!= 0L)
          .select(payload.map(col) :+ $"n_new".as("n"): _*)
        val target = state(b)
        assert(applied.exceptAll(target).isEmpty &&
          target.exceptAll(applied).isEmpty,
          s"changelog($a→$b) ∘ apply diverges from the target snapshot")
        // the delta never over-deletes: applying can't drive a group
        // negative
        val neg = state(a).join(log, payload, "full_outer")
          .filter(coalesce($"n", lit(0L)) + coalesce($"delta", lit(0L)) < 0L)
          .count()
        assert(neg == 0L, s"changelog($a→$b) over-deletes")
    }
  }

  test("typing is consistent and matches each pair's known wave shape") {
    import spark.implicits._
    def verbs(a: Long, b: Long): Set[String] =
      PipelineOps.snapshotChangelog(spark, sfDir, a, b)
        .select($"change_type").distinct().as[String].collect().toSet
    // compaction (snapshot 1 is a pure rewrite of 0): NO row changes —
    // the relpath manifest diff scans every file yet the payload
    // multisets cancel exactly
    assert(PipelineOps.snapshotChangelog(spark, sfDir, 0L, 1L).isEmpty)
    // delete wave 1 emits only deletes
    assert(verbs(0L, 2L) == Set("delete"))
    // at sf0.001 the moduli 271/293/337 all hit ONLY customer 0 (the
    // deliberate interleaving), so the net 2→4 window is inserts-only:
    // customer 0's merge re-inserts are purged again by wave 2 and just
    // the synthetic insert lines survive. The update_pre/update_post
    // verbs are exercised (and hash-checked) by the sf0.01 driver oracle,
    // where %293 hits customers the erase waves don't.
    assert(verbs(2L, 4L) == Set("insert"))
    val log = PipelineOps.snapshotChangelog(spark, sfDir, 0L, 4L)
    val types = log.groupBy($"l_orderkey")
      .agg(collect_set($"change_type").as("ts"))
      .as[(Long, Seq[String])].collect()
    types.foreach { case (k, ts) =>
      val set = ts.toSet
      val ok =
        set == Set("insert") || set == Set("delete") ||
          (set.contains("update_pre") || set.contains("update_post")) &&
            set.subsetOf(Set("update_pre", "update_post"))
      assert(ok, s"key $k carries inconsistent change types: $set")
    }
    assert(log.filter($"n" <= 0).count() == 0L)
  }

  test("persisted changelog fixture serves the live 2→4 diff verbatim") {
    // every consumer (the readout, the MV apply, the CDF replay waves)
    // reads [[PipelineOps.changelogDir]] instead of re-running the diff;
    // the fixture must therefore be frame-equal to a fresh scan
    val fixture = spark.read.parquet(PipelineOps.changelogDir(spark, sfDir))
    val live = PipelineOps.snapshotChangelog(spark, sfDir, 2L, 4L)
    assert(fixture.exceptAll(live).isEmpty && live.exceptAll(fixture).isEmpty,
      "persisted changelog diverges from a fresh 2→4 scan")
  }

  test("planning reads only changed files (manifest relpath diff)") {
    import spark.implicits._
    val meta = PipelineOps.snapshotMetaDir(spark, sfDir)
    val baseOf = spark.read.parquet(s"$meta/snapshots")
      .select($"snap_id", $"base").as[(Long, String)].collect().toMap
    def rels(id: Long): Set[String] = {
      val base = java.nio.file.Paths.get(LakeIndex.normPath(baseOf(id)))
      spark.read.parquet(s"$meta/manifests").filter($"snap_id" === id)
        .select($"file").as[String].collect()
        .map(f => base.relativize(java.nio.file.Paths.get(f)).toString).toSet
    }
    val (a, b) = (rels(2L), rels(4L))
    val retained = a.intersect(b)
    // the chain retains most files across 2→4 — the changelog scan set
    // (symmetric difference) is a strict, much smaller subset
    assert(retained.nonEmpty, "degenerate: no retained files")
    val changed = (a diff b).size + (b diff a).size
    assert(changed < (a.size + b.size),
      s"manifest diff degenerated to a full scan: $changed")
  }
}
