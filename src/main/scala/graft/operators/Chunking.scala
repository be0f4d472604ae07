package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Portable.round

/** Spark lift of the CDC chunkers: blob/text columns → a distributed chunk
  * table → dedup metrics, mirroring the reference pipeline
  * `main.rs:16-24` (scan → boundary scan → hash → dedup → metrics) on
  * DataFrame primitives.
  *
  * Design notes (100 TB stance):
  *  - The boundary scan is the only non-relational step; it runs inside the
  *    native `cdc_chunks` Generator ([[graft.plans.CdcChunks]]) — ONE
  *    codepath shared by this DataFrame lift, the SQL `LATERAL VIEW`
  *    surface, and the streaming twin. Everything downstream — hashing,
  *    dedup, metrics — is built-in, codegen'd expressions (`xxhash64`,
  *    `groupBy(...).agg`), so Catalyst handles pushdown/partial-agg and the
  *    shuffle keys are 64-bit hashes, not chunk payloads.
  *  - Chunk identity is `xxhash64` (deterministic) — a documented deviation
  *    from the reference's process-seeded SipHash (`ae.rs:76-78`), required for
  *    reproducible results (SURVEY.md §7.4).
  *  - [[segmentedChunkTable]] (strategy A of SURVEY.md §2.3) has the same
  *    shape through the native `cdc_segmented_chunks` Generator
  *    ([[graft.plans.CdcSegmentedChunks]]), which scans a blob's overlapped
  *    segments and merges their cuts in one call. Parallelism is across
  *    blobs: its spread option moves whole blobs between tasks, never the
  *    segments of one blob.
  */
object Chunking {

  /** Chunk a DataFrame with a binary (or string — encoded UTF-8) payload column
    * into the canonical chunk table:
    * `(id, chunk_idx int, offset int, length int, chunk binary, hash long)`.
    *
    * Runs the boundary scan through the registered `cdc_chunks` Generator —
    * the analyzer plans it as a `Generate` node, streaming chunk rows out
    * without materializing the full per-blob bounds array the old UDF route
    * needed (r7 unification: UDF path deleted).
    */
  def chunkTable(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol).as("id"), call_function("cdc_chunks",
        payloadBytes(df, payloadCol), lit(algo), lit(expectedSize), lit(seed)))
      .withColumn("hash", xxhash64(col("chunk")))
  }

  /** Chunk every file under `path` ([[graft.sources.BinaryFiles.load]])
    * into the canonical chunk table, keyed by file path — the exact
    * pipeline of the reference's `main.rs:16-24` lifted to a distributed
    * corpus.
    */
  def chunkFiles(
      spark: SparkSession,
      path: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L,
      glob: Option[String] = None): DataFrame =
    chunkTable(graft.sources.BinaryFiles.load(spark, path, glob),
      "path", "content", algo, expectedSize, seed)

  /** Corpus-level dedup metrics over a file tree (TIME/COEFF/AVG
    * experiment, `main.rs:23`).
    */
  def dedupMetrics(
      spark: SparkSession,
      path: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L): DataFrame =
    dedupMetrics(chunkFiles(spark, path, algo, expectedSize, seed))

  /** Reference metrics A1-A4 over a chunk table, in ONE distributed pass:
    * dedup coefficient (`unique_bytes / total_bytes`, `ae.rs:91`), average
    * chunk size (`total_bytes / distinct_chunks`, `ae.rs:84`), exact distinct
    * count. Two-level agg: groupBy(hash) is the scale-out HashSet (A1); the
    * final single-row agg is tiny.
    */
  def dedupMetrics(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("hash"))
      .agg(first(col("length")).as("len"), count(lit(1)).as("cnt"))
      .agg(
        sum(col("len")).as("unique_bytes"),
        sum(col("len") * col("cnt")).as("total_bytes"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("cnt")).as("chunk_count"))
      .select(
        col("unique_bytes"),
        col("total_bytes"),
        col("distinct_chunks"),
        col("chunk_count"),
        round(col("unique_bytes") / col("total_bytes"), 6).as("dedup_coeff"),
        round(col("total_bytes") / col("distinct_chunks"), 2).as("avg_chunk_size"))

  /** Per-id (e.g. per-document) dedup metrics — same definitions, grouped. */
  def dedupMetricsPerId(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("id"), col("hash"))
      .agg(first(col("length")).as("len"), count(lit(1)).as("cnt"))
      .groupBy(col("id"))
      .agg(
        sum(col("len")).as("unique_bytes"),
        sum(col("len") * col("cnt")).as("total_bytes"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("cnt")).as("chunk_count"))
      .select(
        col("id"),
        col("unique_bytes"),
        col("total_bytes"),
        col("distinct_chunks"),
        col("chunk_count"),
        round(col("unique_bytes") / col("total_bytes"), 6).as("dedup_coeff"),
        round(col("total_bytes") / col("distinct_chunks"), 2).as("avg_chunk_size"))

  /** Strategy A of SURVEY.md §7.4, the reference's `parallel_chunking`:
    * each blob is split into `segments` byte ranges, each range is scanned
    * with the chunker's `window` lookback, and the candidate cuts are merged
    * with the reference's min-distance filter (`ae.rs:72-74`) — one
    * [[graft.core.ParallelChunking.overlapMergedBoundaries]] call per blob
    * inside the `cdc_segmented_chunks` Generator. The plan is
    * [[chunkTable]]'s: scan → generator → `xxhash64`, with the same
    * output columns.
    *
    * Supports the two algorithms the reference gives batch forms for:
    * "ae" (`ae.rs:31-53`) and "rabin" (`rabin.rs:61-90`); any other algo
    * fails when the frame is analysed.
    *
    * `spreadSegments`: a few huge blobs read into ONE input partition would
    * otherwise all be chunked by one task. `true` hash-repartitions the blob
    * rows on id, so each payload ships once and the blobs spread over the
    * shuffle partitions; the segments of one blob still run in one task. Leave
    * it false for many-blob corpora, where the input partitions already
    * spread the work and the extra payload shuffle is pure cost.
    *
    * Scale note: one task holds a whole blob, as the reference holds the
    * whole input in memory (`rabin.rs:99`). For objects larger than a task
    * can hold, read byte ranges straight from storage (binaryFile offsets,
    * ranged GETs) and merge cuts per object instead of carrying blob rows.
    */
  def segmentedChunkTable(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L,
      segments: Int = 4,
      spreadSegments: Boolean = false): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val blobs = df.select(col(idCol).as("id"), payloadBytes(df, payloadCol).as("payload"))
    // Explicit partition count: with a bare repartition(cols), AQE sees a
    // few multi-MB rows as "small" by row stats and coalesces the exchange
    // back to one partition — exactly the serialization spread exists to
    // avoid. A user-specified count is exempt from AQE coalescing.
    val placed =
      if (spreadSegments)
        blobs.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("id"))
      else blobs
    placed.select(col("id"), call_function("cdc_segmented_chunks", col("payload"),
        lit(algo), lit(expectedSize), lit(seed), lit(segments)))
      .withColumn("hash", xxhash64(col("chunk")))
  }

  /** A payload column as bytes: BINARY as is, STRING encoded UTF-8. */
  private def payloadBytes(df: DataFrame, payloadCol: String): Column =
    if (df.schema(payloadCol).dataType == org.apache.spark.sql.types.StringType)
      encode(col(payloadCol), "UTF-8")
    else col(payloadCol)

  /** Strategy B — edge-chunk re-chunking (`parallel.rs:88-120`, SURVEY.md
    * §2.3 P3-P7) as a distributed partial+final aggregation, per blob:
    *
    * Stage 1 (wide): each of `parts` payload slices is chunked independently;
    * interior chunks are deduplicated LOCALLY (the reference's per-thread
    * HashSet, `parallel.rs:38-51` — a chunk repeated across two slices counts
    * twice in unique bytes, faithfully), and one edge chunk per slice is held
    * back (even slices their last, odd slices their first).
    *
    * Stage 2 (narrow per blob): adjacent edge chunks are stitched pairwise
    * and re-chunked (`parallel.rs:61-86`; an odd trailing edge is dropped as
    * the reference's `i += 2` loop does); stitched chunks found in the global
    * set don't re-count. Metrics follow `parallel.rs:114-119`:
    * avg = unique_bytes / distinct.
    *
    * Chunk identity is xxhash64 (the engine-wide deterministic substitute for
    * the reference's process-seeded SipHash). Requires payloads of at least
    * `parts` bytes (as the reference's slicing does).
    */
  def edgeRechunkMetricsPerBlob(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L,
      parts: Int = 4): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    val nParts = parts
    // Degenerate payloads (< one byte per slice) would produce an empty
    // slice whose cs.last/cs.head has no element — skip them instead of
    // failing the whole job (ADVICE r2); the reference's slicing carries the
    // same precondition implicitly.
    val base = df.select(col(idCol).as("id"), payloadBytes(df, payloadCol).as("payload"))
      .filter(length(col("payload")) >= nParts)

    // Stage 1: per (blob, slice) → locally-distinct interior (hash, len)
    // rows + the held-back edge chunk bytes, through the native
    // `cdc_slice_chunks` Generator (VERDICT r9 #3: the Row-typed UDF route
    // is gone; interior chunk bytes never leave the generator).
    val sliced = base
      .select(col("id"), col("payload"), explode(sequence(lit(0), lit(nParts - 1))).as("p"))
      .select(col("id"), col("p"),
        call_function("cdc_slice_chunks", col("payload"), lit(algo),
          lit(expectedSize), lit(seed), col("p"), lit(nParts)))
    val interior = sliced
      .filter(!col("is_edge"))
      .select(col("id"), col("hash"), col("length").as("len"))

    // Stage 2: stitch adjacent edges pairwise — even slice p joins odd
    // slice p+1 on pair = p/2; an odd trailing edge joins nothing and is
    // dropped, as the reference's `i += 2` loop does — then re-chunk the
    // stitched bytes through the same `cdc_chunks` Generator as the main
    // path and dedup per (blob, hash). Only edge bytes (one chunk per
    // slice) shuffle into this join.
    val edges = sliced.filter(col("is_edge")).select(col("id"), col("p"), col("edge"))
    val even = edges.filter(col("p") % 2 === 0)
      .select(col("id"), (col("p") / 2).cast("int").as("pair"), col("edge").as("e0"))
    val odd = edges.filter(col("p") % 2 === 1)
      .select(col("id"), ((col("p") - 1) / 2).cast("int").as("pair"), col("edge").as("e1"))
    val stitched = even.join(odd, Seq("id", "pair"))
      .select(col("id"),
        call_function("cdc_chunks", concat(col("e0"), col("e1")), lit(algo),
          lit(expectedSize), lit(seed)))
      .select(col("id"), xxhash64(col("chunk")).as("hash"), col("length").as("len"))
      .groupBy(col("id"), col("hash")).agg(first(col("len")).as("len"))

    // Accounting: interiors count per-slice-locally; stitched chunks only if
    // absent from the interiors' global set; distinct = union of both.
    val interiorGlobal = interior.select(col("id"), col("hash"), col("len")).distinct()
    val newStitched = stitched.join(interiorGlobal.select(col("id"), col("hash")),
      Seq("id", "hash"), "left_anti")
    val allDistinct = interiorGlobal.select(col("id"), col("hash"))
      .unionByName(stitched.select(col("id"), col("hash"))).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("distinct_chunks"))

    base.select(col("id"), length(col("payload")).cast("long").as("total_bytes"))
      .join(interior.groupBy(col("id")).agg(sum(col("len")).as("ui")), Seq("id"), "left")
      .join(newStitched.groupBy(col("id")).agg(sum(col("len")).as("us")), Seq("id"), "left")
      .join(allDistinct, Seq("id"), "left")
      .select(
        col("id"),
        (coalesce(col("ui"), lit(0L)) + coalesce(col("us"), lit(0L))).as("unique_bytes"),
        col("total_bytes"),
        coalesce(col("distinct_chunks"), lit(0L)).as("distinct_chunks"))
      .withColumn("dedup_coeff", col("unique_bytes") / col("total_bytes"))
      .withColumn("avg_chunk_size", col("unique_bytes") / col("distinct_chunks"))
  }

  /** CDC as change detection (SURVEY.md §7.7): chunk two snapshots of a corpus
    * and diff the chunk-hash sets per id. Emits one row per changed chunk with
    * `change` ∈ {"added", "removed"}; unchanged chunks (same hash on both
    * sides) are dropped. This is the streaming analogue of the reference's
    * dedup loop applied across versions.
    */
  def chunkDiff(chunksOld: DataFrame, chunksNew: DataFrame): DataFrame = {
    val o = chunksOld.select(col("id"), col("hash"), col("length")).distinct()
    val n = chunksNew.select(col("id"), col("hash"), col("length")).distinct()
    val added = n.join(o, Seq("id", "hash"), "left_anti").withColumn("change", lit("added"))
    val removed = o.join(n, Seq("id", "hash"), "left_anti").withColumn("change", lit("removed"))
    added.unionByName(removed)
  }

  /** Register the SQL chunking surface (`cdc_chunks` table-valued generator,
    * `LATERAL VIEW cdc_chunks(payload, algo, size, seed)`) — delegates to the
    * single native codepath in [[graft.plans.GraftExtensions]]. The old
    * per-algo `cdc_bounds_<algo>` UDF registration is gone (r7 unification).
    */
  def registerSql(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.register(spark)
}
