package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.lake.LakeIndex.{matchedFilesOnly, normPath}
import graft.sources.lake.LakeProtocol._

/** Lake serving through the library protocol: every readout of the
  * mutation chain (copy-on-write, merge-on-read, deletion-vector and
  * equality deletes, MERGE), its metadata tables, snapshots, time
  * travel, rollback, branches and tags, expiration and GC, the catalog,
  * the manifest list, changelogs and schema evolution. The worlds these
  * queries read are built once per JVM by [[LakeFixture]]; the protocol
  * primitives they call live in [[graft.sources.lake.LakeProtocol]].
  * Readouts that must converge to one state share one oracle string.
  */
object LakeServeQueries extends graft.QueryRegistry {
  import Portable._
  import LakeFixture._
  import LayoutQueries.bloomLookupOracle

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- compaction EXECUTION (the execute half of
    // pipeline_compaction_plan, which only plans bins): the ship-month
    // fact layout ([[LakeFixture.bloomIdxDir]]'s data tree, written by whatever task
    // parallelism produced it — several small files per month) is
    // rewritten once per JVM to ONE file per partition
    // (repartition(ship_month) before partitionBy aligns tasks to
    // partitions — the OPTIMIZE/rewriteDataFiles pass). The query reports
    // the per-month row/order counts FROM THE COMPACTED TREE and the
    // oracle recomputes them from the raw fact table, so a row lost or
    // duplicated by the rewrite hash-mismatches; DiagnosticsSpec pins the
    // structural claim (exactly one file per month dir, total file count
    // strictly down). At 100 TB compaction is what keeps the file count —
    // and with it planning time and open-file cost — bounded as
    // micro-batches accumulate.
    ("pipeline_compaction_exec", (s, d) => {
      graft.Tables.readCached(s, compactedDir(s, d))
        .transform(monthRollup)
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- point lookup THROUGH the compacted layout's own re-built
    // sidecars ([[LakeFixture.compactedIdxDir]] — the index maintenance an OPTIMIZE
    // pass owes its table: compaction rewrites every file, so the old
    // sidecars describe dead paths and the point-lookup serve would
    // silently die without a re-index). Same seven dashboard keys and the
    // VERBATIM pipeline_bloom_index oracle: hash-matching it proves the
    // compacted tree + fresh index serve exactly what the original layout
    // served. Within-month skipping necessarily coarsens to month-level
    // at one file per month — the documented compaction trade
    // (DiagnosticsSpec pins index↔tree 1:1 and that skipping survives).
    ("pipeline_compaction_lookup", (s, d) => {
      import s.implicits._
      val probes = BloomIdxKeys.toDF("k")
      val files = matchedFilesOnly(s, compactedIdxDir(s, d), probes)
      readMatchedFiles(s, compactedDir(s, d), files.toSeq)
        .join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"),
          countDistinct($"ship_month").as("n_ship_months"))
        .orderBy($"l_orderkey")
    }, Some(bloomLookupOracle)),

    // ---- GDPR deletion planning (right-to-be-forgotten, the fourth
    // privacy leg after pii_redact / k_anonymity+l_diversity /
    // dp_histogram — and the one that touches STORAGE): erase-requests
    // arrive as customer keys (every 271st customer); the planner resolves
    // them to order keys, probes the lineitem bloom sidecars with those
    // keys, and builds the per-month rewrite manifest — rows to purge and
    // orders affected per partition — by scanning ONLY the bloom-matched
    // files (the deletion-vector / rewrite-planning pass of a lakehouse
    // DELETE; scanning the full fact table to find a handful of users is
    // exactly what the sidecars exist to avoid). Exactness rides the
    // bloom's no-false-negative guarantee — a missed file would drop
    // purge rows and hash-mismatch the oracle, which recomputes the
    // manifest from the raw tables. Same eager metadata-scale planning
    // collect as pipeline_bloom_index (documented there).
    ("pipeline_delete_plan", (s, d) => {
      import s.implicits._
      val keys = eraseOrderKeys(s, d)
      val files = bloomIdxMatchedFilesOnlyFor(s, d, keys)
      readBloomMatched(s, d, files.toSeq)
        .join(keys.withColumnRenamed("k", "l_orderkey"), Seq("l_orderkey"))
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows_purge"),
          countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows_purge,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 = 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- GDPR deletion EXECUTION (the plan above, run to completion —
    // see [[LakeFixture.deleteExecDir]]): unmatched files carry over by hard link
    // (zero bytes rewritten), matched files are rewritten minus the purge
    // rows, bloom sidecars reconcile incrementally (retained rows remapped,
    // fresh bitsets only for rewritten files), and the daily MV refreshes
    // only months that actually lost rows. This query is the post-delete
    // monthly report FROM THE REWRITTEN TREE; the oracle recomputes it from
    // the raw tables minus the erased customers' orders, so any under- or
    // over-purge hash-mismatches. DiagnosticsSpec pins the metadata story:
    // index rows ↔ tree files 1:1, retained files untouched, erased keys
    // unfindable through the new sidecars.
    ("pipeline_delete_exec", (s, d) => {
      graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/data")
        .transform(monthRollup)
    }, Some(wave1ServeOracleSql)),

    // ---- the MV after the delete: the daily rollup incremental-refreshed
    // through the mutation (untouched months linked over, lost-row months
    // recomputed from the post-delete tree). Reading the WHOLE view and
    // oracle-recomputing it from raw-minus-erased is the strongest
    // consistency check: a stale touched month, a clobbered untouched one,
    // or a refresh computed from pre-delete data all hash-mismatch. Output
    // is calendar-bounded (~2.5k daily rows for the 1995-2001 ship range)
    // at every SF.
    ("pipeline_delete_mv", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(l_shipdate AS DATE) AS ship_day,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 <> 0
        |GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- point-lookup service through the RECONCILED sidecars: probes mix
    // the seven dashboard order keys with the erased orders of the lowest
    // erased customers (custkey ≤ 271 — deterministic at every SF). The
    // lookup plans its file list against the POST-delete index and scans
    // only those files of the post-delete tree; erased orders come back
    // with zero rows (right-to-be-forgotten, served), retained keys with
    // their true aggregates. The oracle recomputes from raw-minus-erased,
    // so a stale sidecar row pointing at a rewritten-away file, or purge
    // rows surviving in a matched file, both surface.
    ("pipeline_delete_serve", (s, d) => {
      import s.implicits._
      val root = deleteExecDir(s, d)
      val probes = eraseOrderKeys(s, d)
        .join(Tables.orders(s, d).filter($"o_custkey" <= 271L)
          .select($"o_orderkey"), $"k" === $"o_orderkey", "left_semi")
        .unionByName(BloomIdxKeys.toDF("k")).distinct()
      val files = matchedFilesOnly(s, s"$root/index", probes)
      readMatchedFiles(s, s"$root/data", files.toSeq)
        .join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""SELECT l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_custkey % 271 <> 0
         |  AND (l_orderkey IN (${BloomIdxKeys.mkString(", ")})
         |    OR o_orderkey IN (SELECT o_orderkey FROM orders
         |         WHERE o_custkey % 271 = 0 AND o_custkey <= 271))
         |GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- MERGE-ON-READ delete, step 1: write position-delete sidecars
    // ([[LakeFixture.morDeleteDir]]) — erase wave 1 expressed as (file, physical row
    // position) rows, ZERO data files rewritten (MorDeleteSpec pins the
    // tree is byte-untouched). This is the Iceberg position-delete /
    // Delta deletion-vector shape: at 100 TB a small delete costs
    // |deleted rows| of sidecar write, not |matched files| of rewrite.
    // The readout is the sidecar's per-month delete manifest; the oracle
    // recomputes it from the raw tables, so a missed bloom file (dropped
    // positions) or a mis-keyed scan both hash-mismatch.
    ("pipeline_mor_delete", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${morDeleteDir(s, d)}/deletes")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_del_pos"),
          countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_del_pos,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 = 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- MERGE-ON-READ delete, step 2: SERVE through the sidecar
    // ([[LakeFixture.morServeRead]]) — the monthly report over the ORIGINAL tree with
    // the position deletes anti-joined out at scan time (broadcast hash
    // probe per row, no fact-side shuffle). Judged by the VERBATIM
    // copy-on-write oracle of pipeline_delete_exec: both mutation
    // strategies must converge to the identical post-delete state, so an
    // unapplied position, a double-counted file, or a position drifting
    // across scans (row_index is physical and stable) all hash-mismatch.
    ("pipeline_mor_serve", (s, d) => {
      morServeRead(s, d)
        .transform(monthRollup)
    }, Some(wave1ServeOracleSql)),

    // ---- MERGE-ON-READ delete, step 3: COMPACTION folds the sidecar in
    // and retires it ([[LakeFixture.morCompactDir]]) — only files that actually carry
    // delete positions rewrite (a subset of the CoW path's bloom-matched
    // set: false-positive matches stay linked), everything else carries
    // over by hard link. Same VERBATIM CoW oracle: the folded tree must
    // equal the copy-on-write result row-for-row (also pinned directly by
    // MorDeleteSpec), closing the MOR lifecycle delete → serve → fold.
    ("pipeline_mor_compact", (s, d) => {
      graft.Tables.readCached(s, s"${morCompactDir(s, d)}/data")
        .transform(monthRollup)
    }, Some(wave1ServeOracleSql)),

    // ---- MERGE-ON-READ upsert ([[LakeFixture.morMergeDir]]): the MOR twin of the
    // copy-on-write MERGE below, composing with wave 1's position-delete
    // sidecar over the SAME untouched original tree — replaced rows get a
    // second position-delete sidecar, the batch lands as plain appended
    // files, and the serve applies both sidecars in ONE unioned broadcast
    // anti-join before unioning the batch in. Judged by the VERBATIM
    // copy-on-write merge oracle: both merge strategies must converge to
    // the identical post-merge state (also pinned row-for-row against the
    // CoW tree by MorDeleteSpec). Zero original files rewritten — at
    // 100 TB the upsert costs |batch| + |replaced rows| of write.
    ("pipeline_mor_merge", (s, d) => {
      morMergeRead(s, d)
        .transform(monthQtyRollup)
    }, Some(mergedStateOracleSql)),

    // ---- DELETION VECTORS, serve ([[LakeFixture.dvDeleteDir]]): the FOURTH delete
    // form (Delta DVs / Iceberg v3) — wave 1 as ONE bitmap per touched
    // file, applied at scan time by a broadcast per-FILE join + a
    // codegen'd bit test (no join on position, no fact-side shuffle).
    // Judged by the VERBATIM copy-on-write delete oracle: all four
    // strategies must converge to the identical post-delete state.
    ("pipeline_dv_serve", (s, d) => {
      dvServeRead(s, d, "dv1")
        .transform(monthRollup)
    }, Some(wave1ServeOracleSql)),

    // ---- DELETION VECTORS, update ([[LakeProtocol.dvMergeBitmaps]]): wave 2 arrives
    // and each touched file's vector is REPLACED by the OR of old and new
    // bits — the property DVs buy over position-delete files, whose
    // sidecar list grows per commit until compaction. Wave-1-only files
    // keep their vector verbatim (DvSpec pins byte-identity); customer 0
    // sits in BOTH erase sets, so overlapping bits must OR idempotently.
    // The oracle recomputes the double-delete state from raw.
    ("pipeline_dv_update", (s, d) => {
      dvServeRead(s, d, "dv")
        .transform(monthRollup)
    }, Some(doubleDeleteServeOracleSql())),

    // ---- DELETION VECTORS, compaction ([[LakeFixture.dvCompactDir]]): the merged
    // sidecar folds into the tree and RETIRES — no refinement needed (a
    // vector IS the exact per-file delete set, so exactly the touched
    // files rewrite; bloom false positives cannot exist here), untouched
    // files hard-link through, and post-compaction readers scan with no
    // probe at all. Judged by the VERBATIM double-delete oracle —
    // compaction must be invisible; DvSpec pins retirement, exact
    // rewrite set, and folded ≡ probe serve row-for-row.
    ("pipeline_dv_compact", (s, d) => {
      graft.Tables.readCached(s, s"${dvCompactDir(s, d)}/data")
        .transform(monthRollup)
    }, Some(doubleDeleteServeOracleSql())),

    // ---- EQUALITY DELETE, step 1 ([[LakeFixture.eqDeleteDir]]/[[LakeFixture.eqMergeDir]]): the
    // third delete strategy, completing the Iceberg v2 delete taxonomy
    // beside copy-on-write and position deletes — the delete file carries
    // ONLY key values + the commit's sequence number, so writing it opens
    // ZERO data files (no bloom probe, no position scan; the resolution
    // cost is deferred to readers and, eventually, one compaction). The
    // readout is both delete files' key manifests bucketed by k % 10; the
    // oracle recomputes both key sets from raw, so a lost key, a
    // mis-sequenced file, or batch keys leaking into wave 1 all
    // hash-mismatch.
    ("pipeline_eq_delete", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${eqDeleteDir(s, d)}/eq_deletes")
        .unionByName(graft.Tables.readCached(s, s"${eqMergeDir(s, d)}/eq_deletes"))
        .groupBy($"seq_del".as("wave"), ($"k" % 10L).as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"wave", $"bucket")
    }, Some(
      s"""WITH w1 AS (
         |  SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS wave
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE c_custkey % 271 = 0),
         |w2 AS (
         |  SELECT k, CAST(2 AS BIGINT) AS wave FROM (
         |    SELECT DISTINCT l_orderkey AS k
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |    WHERE o_custkey % 293 = 0
         |    UNION
         |    SELECT o_orderkey + $MergeInsertOffset AS k
         |    FROM orders WHERE o_custkey % 293 = 0)),
         |alld AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
         |SELECT wave, k % 10 AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  min(k) AS min_k, max(k) AS max_k
         |FROM alld GROUP BY 1, 2 ORDER BY wave, bucket""".stripMargin)),

    // ---- EQUALITY DELETE, step 2: SERVE ([[LakeFixture.eqServeRead]]) — the monthly
    // report over the ORIGINAL tree with the wave-1 equality delete
    // anti-joined out at scan time under the sequence rule (seq_del 1 >
    // seq_data 0, so it applies). Judged by the VERBATIM copy-on-write
    // oracle: all three delete strategies must converge to the identical
    // post-delete state.
    ("pipeline_eq_serve", (s, d) => {
      eqServeRead(s, d)
        .transform(monthRollup)
    }, Some(wave1ServeOracleSql)),

    // ---- EQUALITY DELETE, step 3: the composed MERGE serve
    // ([[LakeFixture.eqMergeServe]]) — wave-1 delete (seq 1) + merge batch and its
    // replacement delete (seq 2) over the untouched seq-0 tree, one
    // unioned broadcast probe. The SEQUENCE rule is load-bearing here,
    // not decorative: customer 0's keys are in BOTH delete files, yet the
    // batch's re-inserted rows for them must survive because no delete is
    // strictly newer than the batch — a sequence-ignorant reader fails
    // this oracle (EqDeleteSpec pins the counterfactual). Judged by the
    // VERBATIM copy-on-write merge oracle.
    ("pipeline_eq_merge_serve", (s, d) => {
      eqMergeServe(s, d)
        .transform(monthQtyRollup)
    }, Some(mergedStateOracleSql)),

    // ---- EQUALITY DELETE, step 4: COMPACTION ([[LakeFixture.eqCompactDir]]) — the
    // monthly report over the FOLDED tree, scanned with NO delete probe
    // at all: both equality-delete files were rewritten in (only files
    // actually holding matching rows touched; the seq-2 batch files
    // retained verbatim under the strictly-older rule despite their keys
    // sitting in the seq-2 delete file) and RETIRED. Judged by the
    // VERBATIM copy-on-write merge oracle — compaction must be invisible
    // to readers; a delete applied to the wrong sequence, a lost rewrite,
    // or a batch file wrongly emptied all hash-mismatch. EqCompactSpec
    // pins the lifecycle: delete files retired, zero unmatched-file
    // rewrites, serve ≡ the pre-compaction probe serve row-for-row.
    ("pipeline_eq_compact", (s, d) => {
      graft.Tables.readCached(s, s"${eqCompactDir(s, d)}/data")
        .transform(monthQtyRollup)
    }, Some(mergedStateOracleSql)),

    // ---- OPTIMISTIC CONCURRENCY serve ([[LakeFixture.concurrentCommitDir]]): the
    // monthly report through the tip AFTER the race — writer B's delete
    // committed first, writer A detected the file-level conflict (its
    // staged plan rewrote files B's commit removed), discarded its
    // staging and rebased against B's tip. Deletes of fixed key sets
    // commute, so the converged state is order-independent
    // (ConcurrencySpec pins B∘A ≡ A∘B row-for-row); the oracle
    // recomputes it from raw — a lost rebase (A's delete silently
    // dropped), a double-applied wave, or a stale-staging commit (files
    // carrying B's deleted rows back in) all hash-mismatch.
    ("pipeline_concurrent_commit", (s, d) => {
      val tip = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"${concurrentCommitDir(s, d)}/tip.txt"))
      graft.Tables.readCached(s, s"$tip/data")
        .transform(monthRollup)
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 383 <> 0 AND o_custkey % 389 <> 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- CHANGELOG-DRIVEN MV MAINTENANCE: the consumption side of
    // [[LakeFixture.snapshotChangelog]] — the daily rollup is refreshed from snapshot
    // 2's MV to snapshot 4's state by APPLYING the 2→4 changelog as
    // signed per-(month, day) deltas (insert/update_post add, delete/
    // update_pre subtract), never rescanning the fact: exactly how a
    // Delta-CDF consumer maintains a downstream aggregate. Judged by the
    // VERBATIM oracle of pipeline_delete_mv2 (the engine's own
    // thrice-refreshed MV of the same epoch) — a wrong verb sign, a lost
    // delta group, or a fully-deleted day surviving all hash-mismatch.
    // At 100 TB the refresh reads |changed rows| + the rollup, never the
    // table.
    ("pipeline_changelog_apply_mv", (s, d) => {
      import s.implicits._
      val mv2 = graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
      val delta = graft.Tables.readCached(s, changelogDir(s, d))
        .withColumn("sgn",
          when($"change_type".isin("insert", "update_post"), $"n")
            .otherwise(-$"n"))
        .groupBy($"ship_month", $"ship_day")
        .agg(sum($"sgn").as("d_items"),
          sum($"sgn" * $"qty").as("d_qty"),
          sum($"sgn" * $"net_cents").as("d_cents"))
      mv2.join(delta, Seq("ship_month", "ship_day"), "full_outer")
        .select($"ship_month", $"ship_day",
          (coalesce($"n_items", lit(0L)) + coalesce($"d_items", lit(0L)))
            .as("n_items"),
          (coalesce($"sum_qty", lit(0L)) + coalesce($"d_qty", lit(0L)))
            .as("sum_qty"),
          (coalesce($"revenue_cents", lit(0L)) + coalesce($"d_cents", lit(0L)))
            .as("revenue_cents"))
        .filter($"n_items" > 0L)
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month, ship_day,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- TWO-LEVEL MANIFEST PLANNING ([[LakeFixture.manifestListDir]]): a one-year
    // month-window report over the chain tip, PLANNED through the
    // manifest-list layer — the list's partition-range stats prune
    // whole manifest groups before any file is listed, so plan I/O is
    // |groups| + |matching entries|, flat in total file count (priced in
    // BASELINE.md, "Round 15: two-level manifest planning priced"). The
    // serve reads exactly the planned files; the oracle recomputes the
    // window from raw, so a group pruned wrongly (lost months), a stale
    // list row, or an over-wide plan leaking a neighboring month all
    // hash-mismatch.
    ("pipeline_manifest_list", (s, d) => {
      val (files, _, _) = planViaManifestList(s, manifestListDir(s, d), "1995-01", "1995-12")
      // the layout's own pinned discovery base — the serve plans entirely
      // from the two-level fixture, never re-deriving the tip
      val base = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"${manifestListDir(s, d)}/base.txt"))
      readMatchedFiles(s, base, files)
        .transform(monthQtyRollup)
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged
         |WHERE o_custkey % 337 <> 0
         |  AND ship_month BETWEEN '1995-01' AND '1995-12'
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- SNAPSHOT ROLLBACK serve ([[LakeFixture.rollbackMetaDir]]): the monthly
    // report read through the ROLLBACK snapshot's manifest — the current
    // pointer moved back past the merge and delete-w2 waves by one pure
    // metadata write, so the readout must equal the wave-1 state again
    // and is judged by pipeline_delete_exec's VERBATIM oracle. Lineage
    // keeps the whole history (the rollback row's parent is the old tip),
    // so the abandoned waves stay time-travelable until expiration GC'd.
    ("pipeline_snapshot_rollback", (s, d) => {
      import s.implicits._
      val root = rollbackMetaDir(s, d)
      val cur = graft.Tables.readCached(s, s"$root/snapshots")
        .orderBy($"snap_id".desc).limit(1)
        .select($"snap_id", $"base").as[(Long, String)].head()
      val files = graft.Tables.readCached(s, s"$root/manifests")
        .filter($"snap_id" === cur._1).select($"file").as[String].collect()
      readMatchedFiles(s, cur._2, files.toSeq)
        .transform(monthRollup)
    }, Some(wave1ServeOracleSql)),

    // ---- CATALOG time travel ([[LakeFixture.catalogDir]]): the state summary of
    // EVERY catalog version of ship_fact — v0 resolves to the chain's
    // tip metadata (the wave-2 state), v1 to the rollback commit's
    // (wave-1 again): the catalog's append-only pointer log IS the
    // table's readable history, and each version plans through its own
    // resolved metadata world via the one shared [[LakeProtocol.readSnapshotFrom]]
    // path. The oracle recomputes both epochs from raw, so a pointer at
    // the wrong world, a version resolved to the wrong snapshot, or a
    // swap that mutated history instead of appending all hash-mismatch.
    // CatalogSpec pins the CAS contract (stale swaps refuse; a commit
    // appends exactly one row).
    ("pipeline_catalog_time_travel", (s, d) => {
      import s.implicits._
      val log = graft.Tables.readCached(s, s"${catalogDir(s, d)}/catalog_log")
        .filter($"table_name" === "ship_fact")
        .select($"version", $"meta_root", $"snap_id")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      parallelFrames(log.toSeq.map { case (v, metaRoot, snap) => () =>
        readSnapshotFrom(s, metaRoot, snap)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"qty").as("sum_qty"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(v).as("version"), $"n_rows", $"n_orders",
            $"sum_qty", $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"version")
    }, Some(
      s"""$mergeStateCtes
         |SELECT CAST(0 AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT),
         |  CAST(count(*) AS BIGINT),
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
         |  CAST(sum(qty) AS BIGINT), CAST(sum(net_cents) AS BIGINT)
         |FROM base WHERE o_custkey % 271 <> 0
         |ORDER BY version""".stripMargin)),

    // ---- BRANCHES + TAGS ([[LakeFixture.branchMetaDir]]): the multi-ref metadata
    // layer — per-ref state summary served through each CURRENT head's
    // manifest (main after the cherry-pick → snapshot 7, the audit
    // branch → its append commit 6, the immutable tag → the compaction
    // snapshot 1). The oracle recomputes all three epochs from raw
    // (merge chain + wave-1 state + the branch batch), so a ref pointing
    // at the wrong snapshot, a branch commit leaking into main, or a
    // cherry-pick double-applying the batch all hash-mismatch.
    ("pipeline_snapshot_branch", (s, d) => {
      import s.implicits._
      // per-ref frames resolve their manifests with driver-blocking
      // collects — build them concurrently (guide §2.6, [[LakeFixture.parallelFrames]])
      parallelFrames(currentRefs(s, d).map { case (ref, tpe, id) => () =>
        readManifestSnapshot(s, branchMetaDir(s, d), id)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"qty").as("sum_qty"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(ref).as("ref"), lit(tpe).as("ref_type"),
            lit(id).as("snap_id"), $"n_rows", $"n_orders", $"sum_qty",
            $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"ref")
    }, Some(branchRefsOracleSql)),

    // ---- REF-AWARE EXPIRATION + GC ([[LakeFixture.refsGcDir]]): the per-ref state
    // summary AGAIN — but served from the post-GC clone, after retention
    // kept only {every ref head} ∪ {main head's parent} and the orphan
    // walk physically deleted every clone file no LIVE manifest
    // references. Judged by pipeline_snapshot_branch's oracle VERBATIM
    // (shared text): an over-eager GC — the single-chain tip+parent
    // policy would have deleted the tag-pinned compaction files and the
    // audit branch's inherited wave-1 files — fails this query loudly at
    // scan time; an under-delete is pinned by RefsGcSpec. Expired
    // snapshot 2's files survive ONLY because the audit head's manifest
    // still reaches them: retention is manifest reachability across ALL
    // refs, not chain membership.
    ("pipeline_refs_expire", (s, d) => {
      import s.implicits._
      val root = refsGcDir(s, d)
      val refs = graft.Tables.readCached(s, s"$root/refs")
        .as[(String, String, Long)].collect().sortBy(_._1)
      parallelFrames(refs.toSeq.map { case (ref, tpe, id) => () =>
        readCloneSnapshot(s, refsGcDir(s, d), id)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"qty").as("sum_qty"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(ref).as("ref"), lit(tpe).as("ref_type"),
            lit(id).as("snap_id"), $"n_rows", $"n_orders", $"sum_qty",
            $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"ref")
    }, Some(branchRefsOracleSql)),

    // ---- CHERRY-PICK serve: the monthly report through main's head
    // AFTER the pick (snapshot 7 = snapshot 4's manifest + the branch's
    // batch files RE-LINKED — zero data files written; BranchSpec pins
    // the manifest algebra and physical sharing). The oracle is the
    // post-chain state plus the batch, recomputed from raw: a pick that
    // dropped a file, double-linked the batch, or disturbed 4's
    // manifest hash-mismatches by month.
    ("pipeline_cherry_pick", (s, d) => {
      val mainId = currentRefs(s, d).collectFirst {
        case ("main", _, id) => id }.get
      readManifestSnapshot(s, branchMetaDir(s, d), mainId)
        .transform(monthQtyRollup)
    }, Some(
      s"""$mergeStateCtes,
         |bb AS (
         |  SELECT o_orderkey + $BranchBatchOffset AS l_orderkey,
         |    strftime(o_orderdate, '%Y-%m') AS ship_month,
         |    CAST(2 AS BIGINT) AS qty,
         |    (o_orderkey % 991) * 100 + 7 AS net_cents
         |  FROM orders WHERE o_custkey % 499 = 0)
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM (
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM merged
         |  WHERE o_custkey % 337 <> 0
         |  UNION ALL
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM bb)
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- INCREMENTAL APPEND SCAN: rows ADDED between the audit
    // branch's fork (snapshot 2) and its head (6) — the Iceberg
    // incremental-read fast path for append-only deltas: the manifests
    // diff on relpath (metadata-scale) and ONLY the added files are
    // read; no row-level diff is ever computed (contrast
    // pipeline_snapshot_changelog, which must full-outer rewrites). A
    // downstream consumer tailing a table pays |new files|, never table
    // size. Oracle = the branch batch recomputed from raw, monthly.
    ("pipeline_incremental_scan", (s, d) => {
      import s.implicits._
      val root = branchMetaDir(s, d)
      val mans = graft.Tables.readCached(s, s"$root/manifests")
        .filter($"snap_id".isin(2L, 6L))
        .select($"snap_id", $"file", $"base")
        .as[(Long, String, String)].collect()
      def rel(f: String, b: String) =
        java.nio.file.Paths.get(normPath(b))
          .relativize(java.nio.file.Paths.get(normPath(f))).toString
      val before = mans.collect { case (2L, f, b) => rel(f, b) }.toSet
      val added = mans.collect {
        case (6L, f, b) if !before(rel(f, b)) => (normPath(b), normPath(f))
      }
      added.groupBy(_._1).map { case (b, fs) =>
        readMatchedFiles(s, b, fs.map(_._2).toSeq)
          .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
      }.reduceOption(_ unionByName _)
        .getOrElse(sys.error(
          "no files added between snapshots 2 and 6 — branch fixture drift"))
        .transform(monthQtyRollup)
    }, Some(
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT o_orderkey + $BranchBatchOffset) AS BIGINT) AS n_orders,
         |  CAST(sum(2) AS BIGINT) AS sum_qty,
         |  CAST(sum((o_orderkey % 991) * 100 + 7) AS BIGINT) AS revenue_cents
         |FROM orders WHERE o_custkey % 499 = 0
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- BRANCH MERGE-BACK ([[LakeFixture.branchMergeDir]]): the monthly report
    // through main's head AFTER both diverged branches folded back in —
    // the audit append (fork 2) and a hotfix copy-on-write delete of
    // customers % 163 == 0 (fork 4), each validated file-level against
    // main's movement since its fork and applied as pure manifest
    // algebra (zero data files written by either merge). The oracle
    // recomputes the converged state from raw: post-chain survivors
    // minus the hotfix customers plus the branch batch. A lost delta, a
    // double-applied batch, a merge that resurrected a removed file, or
    // an order-dependent result (BranchMergeSpec pins A∘B ≡ B∘A on the
    // twin snapshots) all hash-mismatch.
    ("pipeline_branch_merge", (s, d) => {
      import s.implicits._
      val mainId = graft.Tables.readCached(s, s"${branchMergeDir(s, d)}/refs_log")
        .filter($"ref" === "main").orderBy($"step".desc).limit(1)
        .select($"snap_id").as[Long].head()
      readManifestSnapshot(s, branchMergeDir(s, d), mainId)
        .transform(monthQtyRollup)
    }, Some(
      s"""$mergeStateCtes,
         |bb AS (
         |  SELECT o_orderkey + $BranchBatchOffset AS l_orderkey,
         |    strftime(o_orderdate, '%Y-%m') AS ship_month,
         |    CAST(2 AS BIGINT) AS qty,
         |    (o_orderkey % 991) * 100 + 7 AS net_cents
         |  FROM orders WHERE o_custkey % 499 = 0),
         |fin AS (
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM merged
         |  WHERE o_custkey % 337 <> 0 AND o_custkey % 163 <> 0
         |  UNION ALL
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM bb)
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM fin GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- POINT LOOKUPS through a BRANCH ref: the audit head is a full
    // table — its commit reconciled a sidecar index ([[LakeFixture.branchMetaDir]]:
    // inherited files keep the parent snapshot's index rows, batch files
    // get fresh bitsets), so the seven dashboard keys PLUS the two
    // smallest branch-batch keys (derived, both engines agree: the
    // ordered key set is deterministic) are served by bloom-planned file
    // opens spanning BOTH physical roots, never a scan — the batch-key
    // probes can only be answered through the FRESH index rows routing
    // to the branch root. A stale inherited row, an unindexed batch file
    // (its keys unfindable — bloom has no false negatives), or a probe
    // resolved against the wrong root all hash-mismatch.
    ("pipeline_branch_lookup", (s, d) => {
      import s.implicits._
      val root = branchMetaDir(s, d)
      val auditId = currentRefs(s, d).collectFirst {
        case ("audit", _, id) => id }.get
      val twins = graft.Tables.readCached(s, s"$root/branch_files")
        .select($"l_orderkey").orderBy($"l_orderkey")
        .limit(2).as[Long].collect()
      val probes = (BloomIdxKeys ++ twins).toDF("k")
      val files = matchedFilesOnly(s, s"$root/idx$auditId", probes)
      // resolve each matched file's discovery base through the manifest
      // (metadata-scale: one row per file of ONE snapshot)
      val baseOf = graft.Tables.readCached(s, s"$root/manifests")
        .filter($"snap_id" === auditId)
        .select($"base", $"file").as[(String, String)].collect()
        .map { case (b, f) => normPath(f) -> normPath(b) }.toMap
      // a drifted index row (path normalization mismatch vs the manifest)
      // must fail loudly with the offending path, not as a bare
      // NoSuchElementException
      val legs = files.toSeq.groupBy(f => baseOf.getOrElse(f, sys.error(
          s"index file $f missing from snapshot $auditId manifest"))).map { case (b, fs) =>
        readMatchedFiles(s, b, fs)
          .select($"l_orderkey", $"qty", $"net_cents")
      }.reduceOption(_ unionByName _)
        .getOrElse(graft.Tables.readCached(s, bloomIdxDataDir(s, d))
          .select($"l_orderkey", $"qty", $"net_cents").filter(lit(false)))
      legs.join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""WITH audit AS (
         |  SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_cents
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_custkey % 271 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + $BranchBatchOffset, CAST(2 AS BIGINT),
         |    (o_orderkey % 991) * 100 + 7
         |  FROM orders WHERE o_custkey % 499 = 0)
         |SELECT l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM audit
         |WHERE l_orderkey IN (${BloomIdxKeys.mkString(", ")})
         |   OR l_orderkey IN (
         |     SELECT o_orderkey + $BranchBatchOffset FROM orders
         |     WHERE o_custkey % 499 = 0 ORDER BY o_orderkey LIMIT 2)
         |GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- PARTITION EVOLUTION serve ([[LakeFixture.partEvoDir]]): a ship-range
    // probe SPANNING the month→week cutover, planned per layout leg —
    // the month-partitioned history prunes on ship_month, the
    // week-partitioned present prunes on the integer epoch-week
    // transform (with the day-grain residual on each side), and the two
    // pruned scans union into one report. The oracle recomputes the
    // range from raw, so a boundary row lost or double-served at the
    // cutover seam (the bug class spec evolution invites) hash-
    // mismatches; PartEvoSpec pins both legs actually pruned (opened
    // files ≪ layout files) and old ∪ new ≡ the fact exactly.
    ("pipeline_partition_evolution", (s, d) => {
      import s.implicits._
      val root = partEvoDir(s, d)
      val (lo, hi) = ("1997-11-15", "1998-03-15")
      val wLo = java.time.LocalDate.parse("1998-01-01").toEpochDay / 7
      val wHi = java.time.LocalDate.parse(hi).toEpochDay / 7
      val old = graft.Tables.readCached(s, s"$root/old")
        .filter($"ship_month".isin("1997-11", "1997-12") &&
          $"ship_day" >= lo)
        .select($"ship_month", $"qty", $"net_cents")
      val neu = graft.Tables.readCached(s, s"$root/new")
        .filter($"ship_week".between(wLo, wHi) && $"ship_day" <= hi)
        .select(date_format($"ship_day", "yyyy-MM").as("ship_month"),
          $"qty", $"net_cents")
      old.unionByName(neu)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"), sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-11-15' AND DATE '1998-03-15'
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- WRITE-AUDIT-PUBLISH, audit readout ([[LakeFixture.wapDir]]): the
    // expectations verdict over BOTH staged merge candidates — the clean
    // batch (0 violations → published) and the poisoned twin (qty
    // negated on %7 keys → held back). The oracle recomputes both
    // candidates' staged STATE from raw (the poisoned rows are exactly
    // the batch rows with l_orderkey % 7 == 0 — synthetic keys included,
    // since the predicate applies to the key itself on both engines), so
    // a mis-audited candidate or a wrong publish verdict hash-mismatches.
    ("pipeline_wap_audit", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${wapDir(s, d)}/publish_log")
        .select($"candidate", $"n_checked", $"n_violations", $"published")
        .orderBy($"candidate")
    }, Some(
      s"""$mergeStateCtes
         |SELECT 'bad' AS candidate,
         |  CAST(count(*) AS BIGINT) AS n_checked,
         |  CAST(sum(CASE WHEN (o_custkey % 293 = 0 OR o_custkey = -1)
         |    AND l_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         |  sum(CASE WHEN (o_custkey % 293 = 0 OR o_custkey = -1)
         |    AND l_orderkey % 7 = 0 THEN 1 ELSE 0 END) = 0 AS published
         |FROM merged
         |UNION ALL
         |SELECT 'good', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
         |  0 = 0
         |FROM merged
         |ORDER BY candidate""".stripMargin)),

    // ---- WRITE-AUDIT-PUBLISH, published-pointer serve: the monthly
    // report read THROUGH the publish log's pointer (one metadata row →
    // base path), judged by the VERBATIM copy-on-write merge oracle — if
    // the audit gate had published the poisoned candidate, every %7
    // batch row's qty sign flips and the hash mismatches. WapSpec pins
    // the lifecycle's destructive half: the failed candidate's staged
    // root is GONE, and both the published snapshot and its wave-1
    // parent still serve (hard-linked retention makes abandonment safe).
    ("pipeline_wap_publish", (s, d) => {
      import s.implicits._
      val base = graft.Tables.readCached(s, s"${wapDir(s, d)}/publish_log")
        .filter($"published").select($"base").as[String].head()
      graft.Tables.readCached(s, base)
        .transform(monthQtyRollup)
    }, Some(mergedStateOracleSql)),

    // ---- copy-on-write MERGE (upsert) EXECUTION on top of delete wave 1
    // ([[LakeFixture.mergeExecDir]]): the CDC change-detection → APPLY loop run to
    // completion. The batch ([[LakeFixture.mergeUpsertRows]]) replaces every %293
    // customer's order lines with qty+1 twins (re-inserting customer 0's
    // wave-1-purged orders — insert-or-replace) and inserts one synthetic
    // line per target order, some into months the tree had no partition
    // for. Only bloom-matched files rewrite; inserts append; the index
    // reconciles incrementally; only gaining/losing MV months refresh.
    // This query is the post-merge monthly report FROM THE REWRITTEN TREE;
    // the oracle recomputes the merged state from the raw tables, so a
    // lost update, a dropped insert, a double-applied replacement or an
    // unrewritten matched file all hash-mismatch.
    ("pipeline_merge_exec", (s, d) => {
      graft.Tables.readCached(s, s"${mergeExecDir(s, d)}/data")
        .transform(monthQtyRollup)
    }, Some(mergedStateOracleSql)),

    // ---- the MV after the merge: the daily rollup incremental-refreshed
    // through an upsert — months that lost OR gained rows recomputed from
    // the post-merge tree (including months that did not exist before the
    // insert slice), untouched months carried over by link. Full readout
    // vs a raw-recompute oracle: a stale gained month (the refresh trap an
    // insert introduces that a delete never does) hash-mismatches.
    ("pipeline_merge_mv", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${mergeExecDir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month, ship_day,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- point-lookup service through the post-MERGE sidecars: probes mix
    // the seven dashboard keys, updated order keys (≤ 1499, so the same
    // probe set at every SF), their synthetic insert twins (+10^12 — rows
    // that exist ONLY via the merge's fresh files and index rows), and the
    // wave-1 erased orders of customers ≤ 271 (customer 0's come back
    // UPDATED — re-inserted by the merge; customer 271's stay gone). The
    // oracle recomputes each group from the merged state, so a stale
    // sidecar, a missing insert index row, or an unreplaced update all
    // surface.
    ("pipeline_merge_serve", (s, d) => {
      import s.implicits._
      val root = mergeExecDir(s, d)
      val updKeys = Tables.orders(s, d)
        .filter($"o_custkey" % 293 === 0 && $"o_orderkey" <= 1499L)
        .select($"o_orderkey".as("k"))
      val probes = updKeys
        .unionByName(updKeys.select(($"k" + MergeInsertOffset).as("k")))
        .unionByName(Tables.orders(s, d)
          .filter($"o_custkey" % 271 === 0 && $"o_custkey" <= 271L)
          .select($"o_orderkey".as("k")))
        .unionByName(BloomIdxKeys.toDF("k")).distinct()
      val files = matchedFilesOnly(s, s"$root/index", probes)
      readMatchedFiles(s, s"$root/data", files.toSeq)
        .join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""$mergeStateCtes
         |SELECT l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged
         |WHERE l_orderkey IN (${BloomIdxKeys.mkString(", ")})
         |  OR l_orderkey IN (SELECT o_orderkey FROM orders
         |       WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499)
         |  OR l_orderkey IN (SELECT o_orderkey + $MergeInsertOffset FROM orders
         |       WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499)
         |  OR l_orderkey IN (SELECT o_orderkey FROM orders
         |       WHERE o_custkey % 271 = 0 AND o_custkey <= 271)
         |GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- mutation COMPOSABILITY: a SECOND erase wave (customers
    // c % 337 == 0) applied to the MERGE snapshot — the interleaved chain
    // delete w1 → upsert → delete w2, each wave PLANNED THROUGH THE
    // PREVIOUS MUTATION'S RECONCILED SIDECARS and refreshing its
    // already-refreshed MV ([[LakeFixture.deleteExec2Dir]]). This is the property a
    // lakehouse table actually needs — every mutation must leave an index
    // and summaries accurate enough to plan the next one; a stale sidecar
    // surviving the merge would either leak wave-2 purge rows (false
    // negative: impossible by construction, hash-checked here) or be
    // caught by DiagnosticsSpec's 1:1 index↔tree pin. Oracle recomputes
    // the merged-then-doubly-purged monthly report from the raw tables:
    // customer 0's re-inserted updates must be purged AGAIN, its synthetic
    // inserts (keys in no erase set) must survive.
    ("pipeline_delete_exec2", (s, d) => {
      graft.Tables.readCached(s, s"${deleteExec2Dir(s, d)}/data")
        .transform(monthRollup)
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- snapshot LINEAGE readout (the table-history view an Iceberg
    // `snapshots` metadata table serves): one row per snapshot of the
    // ship-month fact's mutation chain — original layout, compaction
    // rewrite, delete wave 1, MERGE upsert, delete wave 2 — each row's
    // row/order/month counts computed FROM THAT SNAPSHOT'S OWN TREE and
    // oracle-recomputed from the raw tables under the snapshot's
    // cumulative semantics. The hash match proves the chain is what it
    // claims: compaction preserved every row, each delete removed exactly
    // its erase set, the merge replaced/inserted exactly its batch. At
    // 100 TB these numbers come from snapshot manifests, not scans — here
    // the scan IS the audit (pipeline_time_travel serves the
    // manifest-addressed path).
    // ---- METADATA TABLE: row counts per snapshot answered WITHOUT
    // touching data — each snapshot's own sidecar index carries (file,
    // n_rows), so `SELECT count(*) VERSION AS OF s` is a metadata-scale
    // sum over |files| index rows (the Iceberg `$files` / statistics
    // shape; pipeline_snapshot_log below answers the same question BY
    // SCANNING, this one is its scale-FREE twin). Hash-checking the sums
    // against the raw-recompute oracle turns the whole chain's index
    // row-accounting into a correctness contract: any reconciliation
    // that lost or double-counted a file's rows (retained remap, fresh
    // build, compaction re-index) mismatches here even if point lookups
    // still happen to succeed.
    ("pipeline_meta_rowcounts", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val snaps = graft.Tables.readCached(s, s"$meta/snapshots")
        .select($"snap_id", $"op", $"idx")
        .as[(Long, String, String)].collect().sortBy(_._1)
      // file COUNTS stay out of the readout — they are layout-dependent
      // (the file-size targeting changes them); row sums are layout-free
      snaps.map { case (id, op, idx) =>
        graft.Tables.readCached(s, idx)
          .agg(sum($"n_rows").as("n_rows"))
          .select(lit(id).as("snap_id"), lit(op).as("op"), $"n_rows")
      }.reduce(_ unionByName _).orderBy($"snap_id")
    }, Some(
      s"""$mergeStateCtes,
        |s0 AS (SELECT CAST(0 AS BIGINT) AS snap_id, 'original' AS op,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM base),
        |s1 AS (SELECT CAST(1 AS BIGINT), 'compacted',
        |  CAST(count(*) AS BIGINT) FROM base),
        |s2 AS (SELECT CAST(2 AS BIGINT), 'delete_w1',
        |  CAST(count(*) AS BIGINT) FROM base WHERE o_custkey % 271 <> 0),
        |s3 AS (SELECT CAST(3 AS BIGINT), 'merge',
        |  CAST(count(*) AS BIGINT) FROM merged),
        |s4 AS (SELECT CAST(4 AS BIGINT), 'delete_w2',
        |  CAST(count(*) AS BIGINT) FROM merged WHERE o_custkey % 337 <> 0)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |UNION ALL SELECT * FROM s4
        |ORDER BY snap_id""".stripMargin)),

    // ---- METADATA TABLE: per-PARTITION row counts of the chain tip
    // (the Iceberg `$partitions` view) answered without touching data —
    // the tip's sidecar carries (file, n_rows) and the partition tuple
    // is the file's ship_month dir, so the whole readout is one
    // metadata-scale aggregation over |files| index rows. The oracle
    // recomputes the tip's monthly counts from raw: a sidecar row
    // crediting the wrong partition (path-parse drift) or a lost file
    // hash-mismatches per month, not just in the global sum.
    ("pipeline_meta_partitions", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val tipIdx = graft.Tables.readCached(s, s"$meta/snapshots")
        .orderBy($"snap_id".desc).limit(1).select($"idx").as[String].head()
      graft.Tables.readCached(s, tipIdx)
        .withColumn("mm",
          regexp_extract($"file", "ship_month=([0-9]{4}-[0-9]{2})", 1))
        // mirror manifestListDir: a sidecar path with no partition dir must
        // fail loudly, never mis-credit its rows to partition ""
        .select(when($"mm" === "", raise_error(concat(
            lit("index file carries no partition dir: "), $"file")))
          .otherwise($"mm").as("ship_month"), $"n_rows")
        .groupBy($"ship_month")
        .agg(sum($"n_rows").as("n_rows"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month, CAST(count(*) AS BIGINT) AS n_rows
         |FROM merged WHERE o_custkey % 337 <> 0
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    ("pipeline_snapshot_log", (s, d) => {
      import s.implicits._
      def stat(id: Long, op: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            countDistinct($"ship_month").as("n_months"))
          .select(lit(id).as("snap_id"), lit(op).as("op"),
            $"n_rows", $"n_orders", $"n_months")
      stat(0L, "original", graft.Tables.readCached(s, bloomIdxDataDir(s, d)))
        .unionByName(stat(1L, "compacted", graft.Tables.readCached(s, compactedDir(s, d))))
        .unionByName(stat(2L, "delete_w1",
          graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/data")))
        .unionByName(stat(3L, "merge",
          graft.Tables.readCached(s, s"${mergeExecDir(s, d)}/data")))
        .unionByName(stat(4L, "delete_w2",
          graft.Tables.readCached(s, s"${deleteExec2Dir(s, d)}/data")))
        .orderBy($"snap_id")
    }, Some(
      s"""$mergeStateCtes,
        |s0 AS (SELECT CAST(0 AS BIGINT) AS snap_id, 'original' AS op,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT ship_month) AS BIGINT) AS n_months FROM base),
        |s1 AS (SELECT CAST(1 AS BIGINT), 'compacted',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM base),
        |s2 AS (SELECT CAST(2 AS BIGINT), 'delete_w1',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM base
        |  WHERE o_custkey % 271 <> 0),
        |s3 AS (SELECT CAST(3 AS BIGINT), 'merge',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM merged),
        |s4 AS (SELECT CAST(4 AS BIGINT), 'delete_w2',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM merged
        |  WHERE o_custkey % 337 <> 0)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |UNION ALL SELECT * FROM s4
        |ORDER BY snap_id""".stripMargin)),

    // ---- snapshot TIME TRAVEL: two different snapshots of the mutation
    // chain read IN ONE QUERY through the persisted snapshots+manifests
    // metadata pair ([[LakeFixture.snapshotMetaDir]] / [[LakeFixture.readSnapshot]]) — the
    // Iceberg "read as of" half the lineage audit above doesn't serve.
    // Per month: row/revenue state at delete_w1 vs at delete_w2, plus the
    // deltas the interleaved merge+delete produced (months the merge's
    // insert slice CREATED appear with n_rows_w1 = 0). The oracle
    // recomputes both epochs from the raw tables under each snapshot's
    // cumulative semantics; DiagnosticsSpec pins that the manifest-
    // addressed scan of snapshot k opens exactly manifest(k)'s files and
    // none of any later snapshot.
    ("pipeline_time_travel", (s, d) => {
      import s.implicits._
      val w1 = readSnapshot(s, d, 2L).groupBy($"ship_month")
        .agg(count(lit(1)).as("n1"), sum($"net_cents").as("c1"))
      val w2 = readSnapshot(s, d, 4L).groupBy($"ship_month")
        .agg(count(lit(1)).as("n2"), sum($"net_cents").as("c2"))
      w1.join(w2, Seq("ship_month"), "full_outer")
        .select($"ship_month",
          coalesce($"n1", lit(0L)).as("n_rows_w1"),
          coalesce($"n2", lit(0L)).as("n_rows_w2"),
          (coalesce($"n2", lit(0L)) - coalesce($"n1", lit(0L))).as("rows_delta"),
          (coalesce($"c2", lit(0L)) - coalesce($"c1", lit(0L))).as("cents_delta"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes,
         |w1 AS (SELECT ship_month, CAST(count(*) AS BIGINT) AS n1,
         |    CAST(sum(net_cents) AS BIGINT) AS c1
         |  FROM base WHERE o_custkey % 271 <> 0 GROUP BY 1),
         |w2 AS (SELECT ship_month, CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(net_cents) AS BIGINT) AS c2
         |  FROM merged WHERE o_custkey % 337 <> 0 GROUP BY 1)
         |SELECT COALESCE(w1.ship_month, w2.ship_month) AS ship_month,
         |  CAST(COALESCE(n1, 0) AS BIGINT) AS n_rows_w1,
         |  CAST(COALESCE(n2, 0) AS BIGINT) AS n_rows_w2,
         |  CAST(COALESCE(n2, 0) - COALESCE(n1, 0) AS BIGINT) AS rows_delta,
         |  CAST(COALESCE(c2, 0) - COALESCE(c1, 0) AS BIGINT) AS cents_delta
         |FROM w1 FULL OUTER JOIN w2 ON w1.ship_month = w2.ship_month
         |ORDER BY ship_month""".stripMargin)),

    // ---- TIME-TRAVEL POINT LOOKUP: the two halves composed — "as of
    // snapshot N" resolution through the persisted snapshots metadata AND
    // bloom-sidecar file skipping, using each epoch's OWN reconciled
    // index (the one that snapshot's mutation left behind; a time-travel
    // reader must never plan through the current index). Probes mix
    // dashboard keys, merge-updated keys, their synthetic insert twins,
    // and the wave-1-erased orders of customers ≤ 271; reading delete_w1
    // vs merge side by side shows the merge's effects per key: customer
    // 0's orders ABSENT at w1 and RESURRECTED with qty+1 at the merge,
    // synthetic keys appearing only at the merge, updated keys gaining
    // exactly one qty per line. Oracle recomputes both epochs from raw.
    ("pipeline_time_travel_serve", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val snaps = graft.Tables.readCached(s, s"$meta/snapshots")
        .select($"snap_id", $"base", $"idx").as[(Long, String, String)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      val updKeys = Tables.orders(s, d)
        .filter($"o_custkey" % 293 === 0 && $"o_orderkey" <= 1499L)
        .select($"o_orderkey".as("k"))
      val probes = updKeys
        .unionByName(updKeys.select(($"k" + MergeInsertOffset).as("k")))
        .unionByName(Tables.orders(s, d)
          .filter($"o_custkey" % 271 === 0 && $"o_custkey" <= 271L)
          .select($"o_orderkey".as("k")))
        .unionByName(BloomIdxKeys.toDF("k")).distinct()
      def epoch(id: Long, nc: String, qc: String): DataFrame = {
        val (base, idx) = snaps(id)
        val files = matchedFilesOnly(s, idx, probes)
        readMatchedFiles(s, base, files.toSeq)
          .join(broadcast(probes), $"l_orderkey" === $"k")
          .groupBy($"l_orderkey")
          .agg(count(lit(1)).as(nc), sum($"qty").as(qc))
      }
      // The two epochs are independent reads whose planning each blocks the
      // driver on an index-probe collect; resolve them CONCURRENTLY (guide
      // §2.6 "overlap independent jobs") — each epoch's result frame is
      // unchanged, only the driver no longer serializes the two probes.
      val Seq(w1, mg) = parallelFrames(
        () => epoch(2L, "n_w1", "qty_w1"),
        () => epoch(3L, "n_merge", "qty_merge"))
      w1.join(mg, Seq("l_orderkey"), "full_outer")
        .select($"l_orderkey",
          coalesce($"n_w1", lit(0L)).as("n_w1"),
          coalesce($"qty_w1", lit(0L)).as("qty_w1"),
          coalesce($"n_merge", lit(0L)).as("n_merge"),
          coalesce($"qty_merge", lit(0L)).as("qty_merge"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""$mergeStateCtes,
         |pr AS (
         |  SELECT o_orderkey AS k FROM orders
         |    WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499
         |  UNION SELECT o_orderkey + $MergeInsertOffset FROM orders
         |    WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499
         |  UNION SELECT o_orderkey FROM orders
         |    WHERE o_custkey % 271 = 0 AND o_custkey <= 271
         |  UNION SELECT CAST(unnest([${BloomIdxKeys.mkString(", ")}]) AS BIGINT)),
         |w1e AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n1,
         |    CAST(sum(qty) AS BIGINT) AS q1
         |  FROM base JOIN pr ON l_orderkey = k
         |  WHERE o_custkey % 271 <> 0 GROUP BY 1),
         |mge AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(qty) AS BIGINT) AS q2
         |  FROM merged JOIN pr ON l_orderkey = k GROUP BY 1)
         |SELECT COALESCE(w1e.l_orderkey, mge.l_orderkey) AS l_orderkey,
         |  CAST(COALESCE(n1, 0) AS BIGINT) AS n_w1,
         |  CAST(COALESCE(q1, 0) AS BIGINT) AS qty_w1,
         |  CAST(COALESCE(n2, 0) AS BIGINT) AS n_merge,
         |  CAST(COALESCE(q2, 0) AS BIGINT) AS qty_merge
         |FROM w1e FULL OUTER JOIN mge ON w1e.l_orderkey = mge.l_orderkey
         |ORDER BY l_orderkey""".stripMargin)),

    // ---- SNAPSHOT EXPIRATION + ORPHAN GC ([[LakeFixture.gcExpireDir]]): retention
    // keeps the chain's current snapshot and its parent (delete_w2 and
    // merge); the original, the compaction branch and delete wave 1
    // EXPIRE, and every clone file no live manifest references — their
    // exclusive data files plus planted orphan debris — is physically
    // deleted. This readout serves BOTH live snapshots' monthly state
    // through the post-GC metadata, so an over-eager GC (a deleted file a
    // live manifest still needs) fails loudly at scan time and an
    // under-delete is pinned by GcExpireSpec; the oracle recomputes each
    // live epoch from the raw tables. At 100 TB expire+GC is
    // metadata-scale: one manifest anti-join picks the dead files, data
    // rows are never read.
    ("pipeline_snapshot_expire", (s, d) => {
      import s.implicits._
      val root = gcExpireDir(s, d)
      val live = graft.Tables.readCached(s, s"$root/snapshots")
        .select($"snap_id").as[Long].collect().sorted
      parallelFrames(live.toSeq.map { id => () =>
        readCloneSnapshot(s, gcExpireDir(s, d), id)
          .groupBy($"ship_month")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(id).as("snap_id"), $"ship_month", $"n_rows",
            $"n_orders", $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"snap_id", $"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT CAST(3 AS BIGINT) AS snap_id, ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged GROUP BY 1, 2
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), ship_month,
         |  CAST(count(*) AS BIGINT),
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
         |  CAST(sum(net_cents) AS BIGINT)
         |FROM merged WHERE o_custkey % 337 <> 0 GROUP BY 1, 2
         |ORDER BY snap_id, ship_month""".stripMargin)),

    // ---- CHANGELOG EMISSION between persisted snapshots
    // ([[LakeFixture.snapshotChangelog]]): the net typed change rows from delete
    // wave 1's snapshot (id 2) ACROSS the merge wave to the chain tip
    // (id 4), computed purely from the engine's manifests + changed
    // files — removed/added file sets come from the relative-path
    // manifest diff, retained files are provably identical and never
    // read, and a snapshot-3 file rewritten again at 4 appears in
    // neither manifest so its transient rows cancel (NET change, the
    // Iceberg changelog-scan contract). The oracle recomputes both
    // epochs from raw and diffs the same payload multisets: a phantom
    // collateral row (a rewrite emitting a changed copy), a dropped
    // insert, an unpurged delete, or a mistyped update all
    // hash-mismatch. Output is |changed rows|, never table size.
    ("pipeline_snapshot_changelog", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, changelogDir(s, d))
        .orderBy($"l_orderkey", $"change_type", $"ship_day", $"qty",
          $"net_cents")
    }, Some(
      s"""$mergeStateCtes,
         |pre AS (
         |  SELECT l_orderkey, ship_month, ship_day, qty, net_cents,
         |    CAST(count(*) AS BIGINT) AS n_pre
         |  FROM base WHERE o_custkey % 271 <> 0 GROUP BY 1, 2, 3, 4, 5),
         |post AS (
         |  SELECT l_orderkey, ship_month, ship_day, qty, net_cents,
         |    CAST(count(*) AS BIGINT) AS n_post
         |  FROM merged WHERE o_custkey % 337 <> 0 GROUP BY 1, 2, 3, 4, 5),
         |d AS (
         |  SELECT l_orderkey, ship_month, ship_day, qty, net_cents,
         |    COALESCE(n_post, 0) - COALESCE(n_pre, 0) AS diff
         |  FROM pre FULL OUTER JOIN post USING (l_orderkey, ship_month,
         |    ship_day, qty, net_cents)
         |  WHERE COALESCE(n_post, 0) <> COALESCE(n_pre, 0)),
         |f AS (
         |  SELECT *,
         |    max(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY l_orderkey) AS has_pos,
         |    max(CASE WHEN diff < 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY l_orderkey) AS has_neg
         |  FROM d)
         |SELECT CASE WHEN diff > 0 AND has_neg = 1 THEN 'update_post'
         |            WHEN diff > 0 THEN 'insert'
         |            WHEN has_pos = 1 THEN 'update_pre'
         |            ELSE 'delete' END AS change_type,
         |  l_orderkey, ship_month, ship_day, qty, net_cents,
         |  CAST(abs(diff) AS BIGINT) AS n
         |FROM f
         |ORDER BY l_orderkey, change_type, ship_day, qty, net_cents""".stripMargin)),

    // ---- the MV after ALL THREE mutations (delete → merge → delete):
    // full daily readout of the thrice-refreshed rollup, oracle recomputed
    // from the merged-then-w2-purged state — a stale month from any wave's
    // refresh (including a merge-GAINED month wave 2 must still know
    // about) hash-mismatches.
    ("pipeline_delete_mv2", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${deleteExec2Dir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      s"""$mergeStateCtes
        |SELECT ship_month, ship_day,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
        |FROM merged WHERE o_custkey % 337 <> 0
        |GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- schema evolution on read: two parquet releases of the same
    // table, the newer one with an ADDED column, unified by mergeSchema +
    // partition discovery (release=<v> dirs) — the additive-evolution read
    // path a long-lived lakehouse table needs (reading old files yields
    // NULL for the new column; no rewrite of historical data). The report
    // proves the semantics: r1 rows carry only NULL tiers, r2 rows all
    // carry one, both releases' row/char totals survive the union. Oracle
    // recomputes both releases from the source table, so one misfilled
    // NULL or dropped row hash-mismatches. Scale note: mergeSchema reads
    // every file FOOTER at planning time — on a 100 TB table pin the
    // unified schema in a catalog/metastore instead and keep per-file
    // schema reconciliation at the scan (this read path is exactly what
    // the catalog would replay); the data-plane shape (scan + 2-row agg)
    // is unchanged.
    ("pipeline_schema_evolution", (s, d) => {
      import s.implicits._
      s.read.option("mergeSchema", "true").parquet(schemaEvoDir(s, d))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L)).as("n_null_tier"),
          countDistinct($"quality_tier").as("n_tiers"),
          sum($"n_chars").as("n_chars_total"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'r1' ELSE 'r2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tier,
        |  CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN n_chars // 100 END) AS BIGINT) AS n_tiers,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- COLUMN-ID schema evolution ([[LakeFixture.schemaIdDir]]): rename, drop and
    // type-widen WITHOUT rewriting old files — the evolution classes
    // mergeSchema cannot express (it matches by NAME, so a rename forks
    // the column and a widen aborts the footer merge). Both releases
    // serve through the CURRENT schema via the id-mapped scan
    // ([[LakeFixture.idMappedRelease]]): r1's physical n_chars answers as
    // char_count (field 3 renamed), its INT32 score upcasts to bigint
    // (field 4 widened — r2's scores exceed Int.MaxValue, so a
    // non-widening reader overflows or aborts), lang is never read
    // (field 2 dropped), quality_tier is typed NULL (field 5 postdates
    // r1). The oracle recomputes both releases from raw; SchemaIdSpec
    // pins that r1's files still carry the OLD footer schema afterward.
    ("pipeline_schema_rename", (s, d) => {
      import s.implicits._
      // pinned to schema v2 — a reader resolves through the snapshot's
      // schema version, exactly like an Iceberg scan pins schema-id
      idMappedRelease(s, d, "r1", Some(2L))
        .unionByName(idMappedRelease(s, d, "r2", Some(2L)))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum($"char_count").as("sum_chars"),
          sum($"score").as("sum_score"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L)).as("n_null_tier"),
          countDistinct($"quality_tier").as("n_tiers"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'r1' ELSE 'r2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1000
        |    ELSE doc_id % 1000 + 3000000000 END) AS BIGINT) AS sum_score,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tier,
        |  CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN n_chars // 100 END) AS BIGINT) AS n_tiers
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- INITIAL-DEFAULT schema evolution (Iceberg v3 semantics, on
    // top of the column-ID layer): schema v3 adds region_code int with
    // DEFAULT 99 — every file written before the field existed serves
    // 99, NOT NULL, while quality_tier (added in v2 without a default)
    // keeps serving typed NULL from r1's files: the two absent-field
    // treatments coexist per field in one scan, still with zero bytes
    // rewritten. The oracle recomputes both: a default leaking into the
    // null-filled field (or vice versa) hash-mismatches.
    ("pipeline_schema_default", (s, d) => {
      import s.implicits._
      idMappedRelease(s, d, "r1", Some(3L))
        .unionByName(idMappedRelease(s, d, "r2", Some(3L)))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum($"region_code".cast("long")).as("sum_region"),
          sum(when($"region_code".isNull, 1L).otherwise(0L))
            .as("n_null_region"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L))
            .as("n_null_tier"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'r1' ELSE 'r2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) * 99 AS BIGINT) AS sum_region,
        |  CAST(0 AS BIGINT) AS n_null_region,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tier
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- TYPE-PROMOTION matrix ([[LakeFixture.schemaPromoDir]], VERDICT r15 #7):
    // float→double, decimal(9,2)→decimal(18,4) and int→bigint all widen
    // ON READ through the field-id mapping with p1's footers untouched,
    // and the two v3 default kinds split correctly — p1's pre-field rows
    // serve the INITIAL-default (7), p2's writer-omitted column carries
    // the WRITE-default (5) physically. Weights are dyadic (n_chars/16,
    // /8) and prices string-built decimals, so every promoted sum is
    // exact and the oracle recomputes it bit-for-bit; serving 7 where 5
    // belongs (or a lossy widen) hash-mismatches.
    ("pipeline_schema_promote", (s, d) => {
      import s.implicits._
      promoMappedRelease(s, d, "p1")
        .unionByName(promoMappedRelease(s, d, "p2"))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          round(sum($"weight"), 4).as("sum_weight"),
          // output as DOUBLE, not DECIMAL: the sum is exact at this
          // magnitude/scale either way, and the surface convention is
          // DOUBLE/BIGINT/VARCHAR output columns only (SURVEY §7 — the
          // driver hash does not canonicalize DECIMAL).
          sum($"price").cast("double").as("sum_price"),
          sum($"score").as("sum_score"),
          sum($"flag".cast("long")).as("sum_flag"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'p1' ELSE 'p2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(sum(CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS DOUBLE) / 16
        |    ELSE CAST(n_chars AS DOUBLE) / 8 END), 4) AS sum_weight,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0
        |    THEN CAST(n_chars || '.' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS DECIMAL(18,4))
        |    ELSE CAST(n_chars || '.' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS DECIMAL(18,4))
        |    END) AS DOUBLE) AS sum_price,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1000
        |    ELSE doc_id % 1000 + 3000000000 END) AS BIGINT) AS sum_score,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 5 END) AS BIGINT) AS sum_flag
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )

  /** Shared oracle prefix for every readout at or after the MERGE wave:
    * CTE `merged` is the exact row-set of the ship-month tree after
    * delete wave 1 then the upsert batch of [[LakeFixture.mergeUpsertRows]] —
    * surviving rows (erased customers out, EXCEPT the %293 targets whose
    * rows the merge replaced/re-inserted with qty+1) plus the synthetic
    * insert lines. Synthetic rows carry o_custkey = −1 so the wave-2
    * readouts' `o_custkey % 337 <> 0` filter keeps them, matching the
    * executor's key-based delete (synthetic keys are in no erase set).
    */
  private[operators] def mergeStateCtes: String =
    s"""WITH base AS (
      |  SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
      |    CAST(l_shipdate AS DATE) AS ship_day,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_cents,
      |    o_custkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |merged AS (
      |  SELECT l_orderkey, ship_month, ship_day,
      |    qty + CASE WHEN o_custkey % 293 = 0 THEN 1 ELSE 0 END AS qty,
      |    net_cents, o_custkey
      |  FROM base WHERE o_custkey % 293 = 0 OR o_custkey % 271 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + $MergeInsertOffset, strftime(o_orderdate, '%Y-%m'),
      |    CAST(o_orderdate AS DATE), CAST(1 AS BIGINT),
      |    (o_orderkey % 997) * 100 + 1, CAST(-1 AS BIGINT)
      |  FROM orders WHERE o_custkey % 293 = 0)""".stripMargin

  /** The monthly report every delete and merge strategy serves: rows,
    * distinct orders and revenue per ship month, month-ordered. One frame,
    * so readouts that must converge to one oracle cannot drift apart.
    */
  private[graft] def monthRollup(df: DataFrame): DataFrame = rollupByMonth(df)

  /** [[monthRollup]] plus the summed quantity — the report over the
    * post-MERGE state, where the upsert changes quantities.
    */
  private[graft] def monthQtyRollup(df: DataFrame): DataFrame =
    rollupByMonth(df, sum(col("qty")).as("sum_qty"))

  private def rollupByMonth(df: DataFrame, extra: Column*): DataFrame =
    df.groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_rows"),
        (countDistinct(col("l_orderkey")).as("n_orders") +: extra :+
          sum(col("net_cents")).as("revenue_cents")): _*)
      .orderBy(col("ship_month"))

  /** [[monthRollup]]'s oracle over the raw tables with the customers
    * `erased` rejects dropped.
    */
  private def erasedMonthlyOracleSql(erased: String): String =
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE $erased
      |GROUP BY 1 ORDER BY ship_month""".stripMargin

  /** Shared oracle of every monthly report over the delete-wave-1 state
    * (customer %271 erased): the copy-on-write delete and each strategy
    * that must converge to it — MOR serve and compaction, deletion
    * vectors, equality deletes, the snapshot rollback.
    */
  private def wave1ServeOracleSql: String =
    erasedMonthlyOracleSql("o_custkey % 271 <> 0")

  /** Shared oracle of every monthly report over the state after erase
    * waves 1 and 2 (customers %271 and %337 erased): the deletion-vector
    * merge and its compaction, and — with `moreErased` appended to the
    * predicate — the connector's multi-delete snapshot.
    */
  private[operators] def doubleDeleteServeOracleSql(moreErased: String = ""): String =
    erasedMonthlyOracleSql("o_custkey % 271 <> 0 AND o_custkey % 337 <> 0" + moreErased)

  /** Shared oracle of every monthly report over the post-MERGE state
    * ([[mergeStateCtes]]): the copy-on-write merge and each strategy that
    * must converge to it — MOR merge, equality-delete merge serve and
    * compaction, the published write-audit-publish branch.
    */
  private def mergedStateOracleSql: String =
    s"""$mergeStateCtes
       |SELECT ship_month,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       |  CAST(sum(qty) AS BIGINT) AS sum_qty,
       |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
       |FROM merged GROUP BY 1 ORDER BY ship_month""".stripMargin

  /** Shared oracle of pipeline_snapshot_branch AND pipeline_refs_expire —
    * every CURRENT ref's state recomputed from raw: the audit branch head
    * (snapshot 6) = wave-1 survivors + the branch batch, main's head
    * after the cherry-pick (snapshot 7) = the post-chain state + the same
    * batch, the immutable tag (snapshot 1) = the original rows the
    * compaction rewrote. Sharing the text is the point: the POST-GC serve
    * is judged verbatim by the pre-GC oracle, so expiration + orphan GC
    * must be invisible to every ref or the readout hash-mismatches.
    */
  private def branchRefsOracleSql: String =
    s"""$mergeStateCtes,
       |bb AS (
       |  SELECT o_orderkey + $BranchBatchOffset AS l_orderkey,
       |    CAST(2 AS BIGINT) AS qty,
       |    (o_orderkey % 991) * 100 + 7 AS net_cents
       |  FROM orders WHERE o_custkey % 499 = 0),
       |w1s AS (SELECT l_orderkey, qty, net_cents FROM base
       |        WHERE o_custkey % 271 <> 0),
       |w2s AS (SELECT l_orderkey, qty, net_cents FROM merged
       |        WHERE o_custkey % 337 <> 0)
       |SELECT 'audit' AS ref, 'branch' AS ref_type,
       |  CAST(6 AS BIGINT) AS snap_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       |  CAST(sum(qty) AS BIGINT) AS sum_qty,
       |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
       |FROM (SELECT * FROM w1s UNION ALL SELECT * FROM bb)
       |UNION ALL
       |SELECT 'main', 'branch', CAST(7 AS BIGINT),
       |  CAST(count(*) AS BIGINT),
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
       |  CAST(sum(qty) AS BIGINT), CAST(sum(net_cents) AS BIGINT)
       |FROM (SELECT * FROM w2s UNION ALL SELECT * FROM bb)
       |UNION ALL
       |SELECT 'v1_compacted', 'tag', CAST(1 AS BIGINT),
       |  CAST(count(*) AS BIGINT),
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
       |  CAST(sum(qty) AS BIGINT), CAST(sum(net_cents) AS BIGINT)
       |FROM base
       |ORDER BY ref""".stripMargin
}
