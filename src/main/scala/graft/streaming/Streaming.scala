package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.core.Chunker
import graft.operators.{LakeFixture, LakeServeQueries}
import graft.plans.CdcChunks
import graft.sources.lake.{LakeIndex, LakeProtocol}

/** One byte segment of a streaming blob. `seq` is the dense 0-based segment
  * number within the blob (0, 1, 2, …); `last` marks end-of-blob (the
  * streaming EOF the reference signals via `ChunkerStatus::Finished`,
  * `chunker.rs:3-7`). Segments may arrive out of order and duplicated
  * (at-least-once sources): the stateful chunker buffers ahead-of-sequence
  * segments and drops duplicates.
  */
case class SegmentEvent(blobId: Long, seq: Int, data: Array[Byte], last: Boolean)

/** A chunk emitted by the incremental chunker; hash is applied downstream
  * with `xxhash64` so batch and streaming chunks share identity.
  */
case class StreamedChunk(blobId: Long, chunkIdx: Int, offset: Long, length: Int, chunk: Array[Byte])

/** Carried state: unconsumed tail bytes, running offset/index, the next
  * expected segment seq, and an out-of-order buffer of ahead-of-sequence
  * segments (ADVICE r1: a segment arriving in a later micro-batch than a
  * higher-seq sibling must wait for the gap to fill, not get appended at the
  * wrong byte position). The tail is bounded by the chunker's max chunk size
  * (forced cuts, `fastcdc.rs:105`, `rabin.rs:157`); the reorder buffer is
  * bounded by the source's actual out-of-orderness.
  */
case class ChunkerState(
    tail: Array[Byte],
    baseOffset: Long,
    nextIdx: Int,
    nextSeq: Int,
    pending: Seq[SegmentEvent],
    finished: Boolean = false)

/** One full snapshot of a blob, versioned; the unit of streaming change
  * detection.
  */
case class BlobVersion(blobId: Long, version: Int, data: Array[Byte])

/** One typed user event for streaming SCD2 (timestamps as epoch micros so
  * streaming output compares bit-for-bit with the batch query's
  * `unix_micros`).
  */
case class UserTypeEvent(userId: Long, eventId: Long, eventType: String, tsUs: Long)

/** The open SCD2 interval carried per user. */
case class Scd2State(curType: String, sinceUs: Long)

/** A closed SCD2 interval: `[validFromUs, validToUs)` for `eventType`. */
case class Scd2Interval(userId: Long, eventType: String, validFromUs: Long, validToUs: Long)

/** One streaming document: id + raw text. */
case class DocEvent(docId: Long, text: String)

/** One streaming document with its language tag (heavy-hitters stream). */
case class LangDocEvent(docId: Long, lang: String, text: String)

/** Per-language Misra-Gries state: surviving counters + total token count. */
case class MgState(counters: Map[String, Long], nTotal: Long)

/** One current heavy-hitter estimate snapshot row (Update-mode emission). */
case class HeavyHitter(lang: String, token: String, est: Long, nTotal: Long)

/** Per-type rate-anomaly state: up to 24 closed (hourEpoch, count) buckets
  * oldest-first, plus the still-open hour — O(25) per event type.
  */
case class RateState(closed: Seq[(Long, Long)], openHr: Long, openN: Long)

/** One finalized hourly bucket with its trailing-window stats and verdict —
  * the streaming twin of a batch q56_rate_anomaly row.
  */
case class RateVerdict(
    eventType: String, hrEpoch: Long, n: Long, m: Long, sx: Long, sx2: Long,
    isAnomaly: Boolean)

/** A candidate near-duplicate pair (id1 < id2) — two documents that share an
  * LSH band bucket. Candidates only: exact verification (Jaccard over
  * shingle sets) happens downstream, as in the batch pipeline.
  */
case class NearDupPair(id1: Long, id2: Long)

/** One chunk-level change between consecutive versions of a blob. */
case class ChunkChange(blobId: Long, version: Int, change: String, hash: Long, length: Int)

/** A unit-normalized embedding arriving on a stream. */
case class VecEvent(vecId: Long, emb: Array[Double])

/** A batch-k-means centroid broadcast into [[Streaming.semanticDedupStream]]. */
case class ClusterCentroid(cid: Long, emb: Array[Double])

/** Per-vector outcome of streaming SemDeDup. */
case class SemanticDecision(vecId: Long, cid: Long, dropped: Boolean)

/** Per-cluster SemDeDup state: the kept vectors (read by the cosine check)
  * plus the ids already DROPPED — tracked so an at-least-once redelivery
  * re-emits the original decision instead of re-evaluating against evolved
  * cluster state (ADVICE r6: kept-id redelivery was suppressed while
  * dropped-id redelivery re-evaluated — asymmetric).
  */
case class SemDedupState(kept: Array[(Long, Array[Double])], dropped: Array[Long])

/** Per-(doc, span) outcome of streaming repeated-span detection. */
case class SpanDecision(docId: Long, spanHash: Long, firstDocId: Long, dup: Boolean)

/** Per-user funnel progression state: event-time of each completed step
  * (-1 = not reached). Fixed-size — never a buffer of events.
  */
case class FunnelState(tS: Long, tV: Long, tP: Long)

/** Emitted once per user per step completion. */
case class FunnelUpdate(userId: Long, step: String, tsUs: Long)

/** One corpus doc offered to the streaming bottom-k sampler. */
case class SampleDoc(docId: Long)

/** O(k) mergeable bottom-k sampler state: the kept (md5 key, id) pairs and
  * the cumulative input count. Never an input buffer.
  */
case class BottomKState(nSeen: Long, keys: Array[String], ids: Array[Long])

/** Bottom-k snapshot row, emitted k-at-a-time after each micro-batch that
  * carried input; `nSeen` is cumulative and strictly increasing, so the
  * rows with the largest `nSeen` are the final sample.
  */
case class BottomKSnapshot(nSeen: Long, rank: Long, docId: Long)

/** One incoming doc's PSI length bucket (PipelineOps.psiLenBucket). */
case class PsiBucketRow(bucket: Long)

/** Running per-bucket count snapshot from the streaming drift monitor;
  * `cnt` is cumulative and strictly increasing per bucket, so max(cnt) per
  * bucket is the final histogram.
  */
case class PsiBucketCount(bucket: Long, cnt: Long)

/** One CDC op in [[graft.streaming.Streaming.compactionStream]] column
  * shape: the op is pre-classified (I/U/D) by the feed producer.
  */
case class OpEvent(userId: Long, eventId: Long, tsUs: Long, op: String, value: Double)

/** Running changelog-compaction state per key: first/last op seen, the last
  * op's value, and the cumulative op count. Fixed-size — never an op buffer.
  */
case class CompactState(firstOp: String, lastOp: String, lastValue: Double, nOps: Long)

/** Per-key compaction snapshot, emitted once per key per micro-batch that
  * carried the key. `nOps` is cumulative, so the row with the largest
  * `nOps` per key is the final compaction.
  */
case class CompactUpdate(userId: Long, firstOp: String, lastOp: String,
    lastValue: Double, nOps: Long)

/** Per-blob CDC state: the previous version's chunk hash → length map.
  * Bounded by blob size / expected chunk size entries.
  */
case class BlobChunkState(hashes: Map[Long, Int])

/** Structured Streaming surface (SURVEY.md §7.7): the reference's streaming
  * concepts — pull-based chunking, incremental dedup via a seen-hash set —
  * re-expressed as watermarked streaming queries, plus the event-stream
  * analytics shapes (windowed aggregation, sessionization).
  *
  * Everything here is a *transform* on an unbounded DataFrame: callers attach
  * `readStream` sources and `writeStream` sinks. Batch DataFrames flow
  * through the same code paths (Spark's unified API), which is how the specs
  * cross-check streaming output against batch oracles.
  */
object Streaming extends graft.QueryModule {

  /** Chunk arriving blobs into the canonical chunk table (streaming version
    * of `Chunking.chunkTable`; same schema + `xxhash64` identity).
    */
  def chunkStream(
      blobs: DataFrame,
      idCol: String,
      payloadCol: String,
      tsCol: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L): DataFrame = {
    graft.plans.GraftExtensions.register(blobs.sparkSession)
    val payload: Column =
      if (blobs.schema(payloadCol).dataType == org.apache.spark.sql.types.StringType)
        encode(col(payloadCol), "UTF-8")
      else col(payloadCol)
    // Same native `cdc_chunks` Generator as the batch lift — one boundary-
    // scan codepath across batch, SQL, and streaming (r7 unification).
    blobs
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        call_function("cdc_chunks", payload, lit(algo), lit(expectedSize), lit(seed)))
      .withColumn("hash", xxhash64(col("chunk")))
  }

  /** Incremental dedup index: first occurrence of every chunk hash within
    * the watermark survives — the reference's `HashSet<u64>` (A1,
    * `ae.rs:80-83`) as bounded streaming state.
    */
  def chunkDedupStream(
      blobs: DataFrame,
      idCol: String,
      payloadCol: String,
      tsCol: String,
      algo: String,
      expectedSize: Int,
      seed: Long = 0L,
      watermark: String = "1 hour"): DataFrame =
    chunkStream(blobs, idCol, payloadCol, tsCol, algo, expectedSize, seed)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("hash")

  /** Tumbling-window event statistics with late-data handling. */
  def windowedEventStats(
      events: DataFrame,
      tsCol: String,
      windowSize: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowSize), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Gap-based sessionization via the native session_window operator (the
    * streaming twin of batch query q20_sessionize_events).
    */
  def sessionStats(
      events: DataFrame,
      tsCol: String,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Stream-stream inner join with event-time bounds: each purchase event
    * joined to the same user's signup within the preceding `within` window.
    * Both sides carry watermarks and the join condition bounds event time in
    * both directions, so join state is provably bounded — the requirement
    * for unbounded-stream joins.
    */
  def purchaseAttribution(
      events: DataFrame,
      tsCol: String = "ts",
      within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col(tsCol).as("p_ts"))
      .withWatermark("p_ts", watermark)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"), col(tsCol).as("s_ts"))
      .withWatermark("s_ts", watermark)
    purchases.join(signups,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr(s"INTERVAL $within"))
      .select(col("user_id"), col("purchase_id"), col("signup_id"), col("p_ts"), col("s_ts"))
  }

  /** Incremental CDC chunker over a stream of blob segments: carries the
    * unconsumed tail across micro-batches in `GroupState`, emits a chunk as
    * soon as its boundary is definite. Content-defined cut points depend
    * only on bytes at-or-before the cut (bounded lookback), so every
    * boundary except the forced end-of-data one is stable under appended
    * data — the last span stays buffered until `last=true` flushes it.
    */
  def chunkUpdateFn(
      algo: String, expectedSize: Int, seed: Long,
      tombstoneTtl: Option[String] = None)(
      blobId: Long,
      events: Iterator[SegmentEvent],
      state: GroupState[ChunkerState]): Iterator[StreamedChunk] = {
    // Evict a tombstone whose TTL elapsed (only reachable with a TTL set).
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    // Arm the eviction timer for a tombstoned blob; no-op without a TTL.
    def armTimeout(): Unit = tombstoneTtl.foreach { ttl =>
      try state.setTimeoutDuration(ttl)
      catch { case _: UnsupportedOperationException | _: IllegalStateException => () }
    }
    val chunker = Chunker(algo, expectedSize, seed)
    val st = state.getOption.getOrElse(
      ChunkerState(Array.emptyByteArray, 0L, 0, 0, Seq.empty))
    // Tombstone (ADVICE r2): once last=true was consumed, removing state
    // outright would let an at-least-once redelivery recreate fresh state at
    // nextSeq=0 and re-chunk the whole blob. Keep an empty-tail state carrying
    // nextSeq — every redelivered seq is < nextSeq and gets absorbed.
    if (st.finished) { events.foreach(_ => ()); armTimeout(); return Iterator.empty }
    // Merge arrivals into the reorder buffer: drop already-consumed seqs and
    // duplicates (at-least-once delivery), then consume the contiguous run
    // starting at nextSeq — anything after a gap stays buffered.
    val buffered = (st.pending ++ events)
      .filter(_.seq >= st.nextSeq)
      .groupBy(_.seq).map(_._2.head)
      .toArray.sortBy(_.seq)
    var nextSeq = st.nextSeq
    var take = 0
    var finished = false
    while (take < buffered.length && buffered(take).seq == nextSeq && !finished) {
      if (buffered(take).last) finished = true
      nextSeq += 1
      take += 1
    }
    val pendingLeft = if (finished) Seq.empty else buffered.drop(take).toSeq
    def tombstone(): Unit = {
      state.update(ChunkerState(Array.emptyByteArray, 0L, 0, nextSeq, Seq.empty, finished = true))
      armTimeout()
    }
    val data = st.tail ++ buffered.iterator.take(take).flatMap(_.data)
    if (data.isEmpty) {
      if (finished) tombstone()
      else state.update(st.copy(nextSeq = nextSeq, pending = pendingLeft))
      Iterator.empty
    } else {
      val bounds = chunker.chunks(data).toSeq // (offset, length) spans covering data
      val (emit, keep) =
        if (finished) (bounds, Seq.empty)
        else (bounds.dropRight(1), bounds.takeRight(1))
      val out = emit.zipWithIndex.map { case ((off, len), i) =>
        StreamedChunk(blobId, st.nextIdx + i, st.baseOffset + off,
          len, java.util.Arrays.copyOfRange(data, off, off + len))
      }
      if (finished) tombstone()
      else {
        val consumed = keep.headOption.map(_._1).getOrElse(data.length)
        state.update(ChunkerState(
          java.util.Arrays.copyOfRange(data, consumed, data.length),
          st.baseOffset + consumed, st.nextIdx + emit.size, nextSeq, pendingLeft))
      }
      out.iterator
    }
  }

  /** Streaming CDC — the north star ("Structured Streaming + change
    * detection") in one operator: each arriving blob version is chunked,
    * diffed against the previous version's chunk-hash set carried in
    * `GroupState`, and emits one row per added/removed chunk. This is the
    * reference's dedup `HashSet` loop (`ae.rs:80-83`) turned into an
    * incremental, per-blob change feed; the batch twin is
    * `Chunking.chunkDiff` and both use the same `xxhash64` chunk identity.
    */
  def chunkChangeFn(algo: String, expectedSize: Int, seed: Long)(
      blobId: Long,
      events: Iterator[BlobVersion],
      state: GroupState[BlobChunkState]): Iterator[ChunkChange] = {
    val chunker = Chunker(algo, expectedSize, seed)
    var prev = state.getOption.map(_.hashes).getOrElse(Map.empty[Long, Int])
    val out = scala.collection.mutable.ArrayBuffer.empty[ChunkChange]
    for (ev <- events.toArray.sortBy(_.version)) {
      val cur: Map[Long, Int] = chunker.chunks(ev.data)
        .map { case (off, len) => CdcChunks.xxh64(ev.data, off, len) -> len }.toMap
      for ((h, len) <- cur if !prev.contains(h))
        out += ChunkChange(blobId, ev.version, "added", h, len)
      for ((h, len) <- prev if !cur.contains(h))
        out += ChunkChange(blobId, ev.version, "removed", h, len)
      prev = cur
    }
    state.update(BlobChunkState(prev))
    out.iterator
  }

  /** Lift [[chunkChangeFn]] onto a stream of blob versions. */
  def chunkChangeStream(
      versions: Dataset[BlobVersion],
      algo: String,
      expectedSize: Int,
      seed: Long = 0L): Dataset[ChunkChange] = {
    val spark = versions.sparkSession
    import spark.implicits._
    versions
      .groupByKey(_.blobId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        chunkChangeFn(algo, expectedSize, seed))
  }

  /** Lift [[chunkUpdateFn]] onto a stream of segments.
    *
    * `tombstoneTtl = None` (default) retains the ~40-byte post-EOF tombstone
    * per blob indefinitely — the right trade for ASAP-trigger streams, where
    * ProcessingTimeTimeout would schedule continuous empty micro-batches
    * just to fire timers. Set a TTL (e.g. `Some("1 hour")`, comfortably
    * above the source's redelivery horizon) on long-running production
    * streams with a processing-time trigger, where completed-blob state
    * would otherwise accumulate without bound.
    */
  def statefulChunkStream(
      segments: Dataset[SegmentEvent],
      algo: String,
      expectedSize: Int,
      seed: Long = 0L,
      tombstoneTtl: Option[String] = None): Dataset[StreamedChunk] = {
    val spark = segments.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (tombstoneTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segments
      .groupByKey(_.blobId)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        chunkUpdateFn(algo, expectedSize, seed, tombstoneTtl))
  }

  /** Streaming corpus intake: the incremental twin of the batch
    * `pipeline_clean_corpus` quality/dedup stages plus
    * `pipeline_train_test_split`'s deterministic assignment — documents
    * arrive continuously and train-ready rows stream out.
    *
    *  - quality gate: the same punct + word-length expression as the batch
    *    query, a stateless per-row filter;
    *  - exact dedup: `dropDuplicatesWithinWatermark` over the md5 of the
    *    whitespace-normalized text — the batch min-id canonical becomes
    *    first-arrival-wins, with state bounded by the watermark;
    *  - split: md5-threshold on the doc key, no RNG state, so a doc gets
    *    the same train/val/test assignment here as in any batch re-run.
    *
    * The gate runs BEFORE the dedup so rejected docs never enter the state
    * store — the same filters-narrow-first ordering the batch pipeline uses.
    */
  def corpusIntakeStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "1 hour",
      qualityThreshold: Double = 0.45): DataFrame = {
    val text = col(textCol)
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]", "")) /
      length(text).cast("double")
    val avgLen = length(regexp_replace(text, "\\s+", "")) /
      size(graft.operators.Portable.tokens(text)).cast("double")
    val quality = lit(0.5) * (lit(1.0) - punct) + lit(0.5) * least(avgLen / 8.0, lit(1.0))
    val h = md5(col("doc_id").cast("string"))
    docs
      .select(col(idCol).as("doc_id"), text.as("text"), col(tsCol).as("ts"),
        quality.as("quality"))
      .filter(col("quality") >= qualityThreshold)
      .withColumn("k", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("k")
      // Portable.round (decimal shim), not functions.round: the replay
      // contract query hash-compares this column against the DuckDB oracle.
      .select(col("doc_id"), col("ts"),
        graft.operators.Portable.round(col("quality"), 4).as("quality"),
        when(h < "1a", "test").when(h < "33", "val").otherwise("train").as("split"))
  }

  /** Streaming MinHash+LSH near-duplicate candidate detection — the
    * incremental twin of the batch `dedup_minhash_lsh` candidate stage. Each
    * arriving document is shingled and banded with EXACTLY the batch
    * arithmetic (`Dedup.shingleArrayJvm` / `bandKeysJvm`, so streaming and
    * batch agree signature-for-signature); grouping by band bucket keeps the
    * ids seen per bucket in `GroupState`, and each arrival emits one
    * candidate pair against every id already in its bucket. Over any replay
    * of a corpus — in any arrival order, any micro-batch slicing — the
    * DISTINCT emitted pair set equals the batch candidate set (pinned by
    * StreamingSpec), because pairs are normalized to id1 < id2 and a bucket
    * eventually pairs all its members. Pairs can repeat across bands and
    * batches (at-least-once semantics): dedupe downstream, e.g.
    * `dropDuplicatesWithinWatermark`, exactly where the batch pipeline runs
    * its `distinct()`.
    *
    * `maxBucket` bounds per-bucket state and emission: a bucket past the cap
    * stops accepting members (the streaming mirror of the batch df-cut —
    * a degenerate band key shared by 10⁶ docs must not hold 10⁶ ids in
    * state and emit 10¹² pairs). Parity with batch holds while buckets stay
    * under the cap, which near-dup banding guarantees for non-degenerate
    * corpora.
    */
  def nearDupCandidateStream(
      docs: Dataset[DocEvent],
      maxBucket: Int = 512,
      onCapHit: () => Unit = () => ()): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Dedup
    docs
      .flatMap { d =>
        Dedup.bandKeysJvm(Dedup.shingleArrayJvm(d.text))
          .map { case (band, bkey) => (s"$band|$bkey", d.docId) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          var cur = state.getOption.getOrElse(Array.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
          rows.foreach { case (_, id) =>
            // contains() also absorbs duplicate delivery of the same doc
            if (cur.length < maxBucket && !cur.contains(id)) {
              var i = 0
              while (i < cur.length) {
                val p = cur(i)
                out += (if (p < id) NearDupPair(p, id) else NearDupPair(id, p))
                i += 1
              }
              cur = cur :+ id
            } else if (cur.length >= maxBucket && !cur.contains(id)) {
              // a NEW member dropped at the cap — candidate pairs are being
              // lost; report it (wire to a LongAccumulator) instead of
              // letting the loss surface as an opaque parity mismatch
              onCapHit()
            }
          }
          state.update(cur)
          out.iterator
      }
  }

  /** Streaming SCD2: per-user event-type change intervals, the incremental
    * twin of batch query q49_scd2_intervals. Each CLOSED interval (a type
    * change observed) is emitted exactly once, in append mode; the open
    * interval lives in `GroupState` until the next change closes it.
    * Assumes per-user in-order arrival ACROSS micro-batches (within a batch
    * the events are sorted here); an event older than the open interval's
    * start cannot be ordered retroactively without rewriting already-emitted
    * intervals, so it is DROPPED rather than silently emitting an inverted
    * interval (valid_from > valid_to) — and each drop is REPORTED through
    * `onLateDrop` so the loss is observable (wire it to a LongAccumulator /
    * metric; silent late-data loss is invisible in a production stream).
    * Pair with a watermark + sort in a foreachBatch, or the reorder-buffer
    * pattern of [[chunkUpdateFn]], when the source can deliver out of order
    * across batches.
    */
  def scd2Fn(
      userId: Long,
      events: Iterator[UserTypeEvent],
      state: GroupState[Scd2State],
      onLateDrop: () => Unit = () => ()): Iterator[Scd2Interval] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val evs = events.toArray.sortBy(e => (e.tsUs, e.eventId))
    var cur = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Interval]
    var i = 0
    while (i < evs.length) {
      val e = evs(i)
      if (cur == null) cur = Scd2State(e.eventType, e.tsUs)
      else if (e.tsUs >= cur.sinceUs) {
        if (e.eventType != cur.curType) {
          out += Scd2Interval(userId, cur.curType, cur.sinceUs, e.tsUs)
          cur = Scd2State(e.eventType, e.tsUs)
        }
      } else onLateDrop() // late pre-interval straggler dropped, counted
      i += 1
    }
    if (cur != null) state.update(cur)
    out.iterator
  }

  /** Lift [[scd2Fn]] onto a stream of typed events.
    *
    * `stateTtl` bounds per-user state on long-running streams: a user idle
    * past the TTL has their open interval discarded (it would never close
    * anyway without new events). `None` (default) keeps state indefinitely —
    * right for ASAP-trigger streams, where ProcessingTimeTimeout would
    * schedule continuous empty micro-batches just to fire timers (same
    * trade-off as [[statefulChunkStream]]'s tombstone TTL).
    *
    * `lateDrops` (optional LongAccumulator, visible in the Spark UI and
    * readable on the driver) counts cross-batch stragglers the operator had
    * to drop — monitor it to detect late-event loss instead of discovering
    * missing intervals downstream.
    */
  def scd2Stream(
      events: Dataset[UserTypeEvent],
      stateTtl: Option[String] = None,
      lateDrops: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Scd2Interval] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val onLateDrop: () => Unit =
      lateDrops.map(acc => () => acc.add(1L)).getOrElse(() => ())
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (userId: Long, evs: Iterator[UserTypeEvent], state: GroupState[Scd2State]) =>
          val out = scd2Fn(userId, evs, state, onLateDrop)
          stateTtl.foreach { ttl =>
            if (state.exists)
              try state.setTimeoutDuration(ttl)
              catch { case _: UnsupportedOperationException | _: IllegalStateException => () }
          }
          out
      }
  }

  /** Streaming ordered funnel — the incremental twin of batch
    * `q51_funnel` (signup → view → purchase): per-user `GroupState` holds
    * only the event-times of completed steps (fixed-size — never an event
    * buffer), and a step completes when its event arrives with
    * `ts >= previous step's ts` and the step isn't already done. Each
    * completion is emitted exactly once, in append mode — a live
    * conversion-tracking feed.
    *
    * Ordering contract: within a micro-batch each user's events are sorted
    * by (ts, eventId) before applying the state machine, so intra-batch
    * disorder is absorbed; ACROSS batches the semantics are online — a
    * straggler signup older than an already-processed view cannot
    * retroactively unlock it (the batch query, with the whole corpus in
    * hand, would). On a time-ordered replay the two agree exactly
    * (StreamingSpec pins step counts against q51); in production, front
    * the stream with a watermarked sort or accept online semantics — the
    * standard trade, stated rather than hidden.
    */
  def funnelStream(evs: Dataset[UserTypeEvent]): Dataset[FunnelUpdate] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserTypeEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelUpdate]
          rows.toArray.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            e.eventType match {
              case "signup" if st.tS < 0 =>
                st = st.copy(tS = e.tsUs); out += FunnelUpdate(uid, "signup", e.tsUs)
              case "view" if st.tS >= 0 && st.tV < 0 && e.tsUs >= st.tS =>
                st = st.copy(tV = e.tsUs); out += FunnelUpdate(uid, "view", e.tsUs)
              case "purchase" if st.tV >= 0 && st.tP < 0 && e.tsUs >= st.tV =>
                st = st.copy(tP = e.tsUs); out += FunnelUpdate(uid, "purchase", e.tsUs)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming bottom-k sampler — the incremental twin of the batch
    * `pipeline_bottomk_sample` query (BottomKAgg): keep the k input docs
    * with the smallest (md5(doc_id), doc_id) in O(k) GroupState, emit the
    * current sample after every micro-batch. ARRIVAL-ORDER INDEPENDENT by
    * the bottom-k merge law (bottom-k of a union = bottom-k of
    * concatenated bottom-k's) — unlike the time-ordered replay contracts,
    * any wave permutation converges to the same final sample, which the
    * StreamingSpec parity test exercises with a reversed replay. The
    * single group key is the merge point: at production scale front it
    * with per-partition pre-reduction (the same mergeable property the
    * batch aggregator exploits); the state and every emission stay O(k).
    * Buffer compaction mirrors BottomKAgg: appends are O(1) amortized,
    * sort+truncate at 4k.
    */
  def bottomKStream(docs: Dataset[SampleDoc], k: Int): Dataset[BottomKSnapshot] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Portable
    docs
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[SampleDoc], state: GroupState[BottomKState]) =>
          val st = state.getOption.getOrElse(BottomKState(0L, Array.empty, Array.empty))
          var buf = scala.collection.mutable.ArrayBuffer.from(st.keys.zip(st.ids))
          var n = st.nSeen
          rows.foreach { r =>
            buf += ((Portable.md5Hex(r.docId.toString), r.docId))
            n += 1
            if (buf.length > 4 * k) buf = buf.sortBy(identity).take(k)
          }
          val kept = buf.sortBy(identity).take(k)
          state.update(BottomKState(n, kept.map(_._1).toArray, kept.map(_._2).toArray))
          val total = n
          kept.iterator.zipWithIndex.map { case ((_, id), i) =>
            BottomKSnapshot(total, i + 1L, id)
          }
      }
  }

  /** Streaming PSI drift monitor: running per-length-bucket counts of the
    * incoming release, O(1) state per bucket (the feature is ≤20 buckets by
    * construction), one snapshot row per (batch, bucket with input).
    * Arrival-order independent — counts are additive — so the replay waves
    * by doc_id % 7, deliberately not time-ordered. At scale the bucket key
    * IS the pre-reduction (map-side combine feeds one state row per
    * bucket); the PSI against the frozen reference histogram is a ≤20-row
    * batch computation downstream of the monitor.
    */
  def psiHistogramStream(rows: Dataset[PsiBucketRow]): Dataset[PsiBucketCount] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (b: Long, it: Iterator[PsiBucketRow], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + it.size
          state.update(c)
          Iterator.single(PsiBucketCount(b, c))
      }
  }

  /** File-source replay of the planted-release corpus (waved by doc_id % 7
    * — arbitrary slicing; the monitor is order-independent) through
    * [[psiHistogramStream]]: the final per-bucket counts (max cnt —
    * strictly increasing) are the candidate histogram, which then runs
    * through the SHARED PipelineOps.psiFromHists chain against the batch
    * reference histogram and is judged VERBATIM by pipeline_psi_drift's
    * oracle — the fifteenth replay-parity contract.
    */
  def psiReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import graft.operators.PipelineOps
    val waved = graft.operators.Dedup.corpus(s, d)
      .select(PipelineOps.psiLenBucket.as("bucket"),
        pmod(col("doc_id"), lit(7)).cast("int").as("wave"))
    val emitted = replayedSink(s, d, "graft_psi_replay_",
        Waves(waveFiles("psi", d, waved), waved.drop("wave").schema)) { stream =>
      psiHistogramStream(
        stream.as[PsiBucketRow](org.apache.spark.sql.Encoders.product[PsiBucketRow]))
    }
    PipelineOps.psiFromHists(
      PipelineOps.psiLenHistogram(graft.Tables.documents(s, d))
        .withColumnRenamed("cnt", "n_base"),
      emitted.groupBy(col("bucket")).agg(max(col("cnt")).as("n_cur")))
  }

  /** Streaming changelog compaction — the incremental twin of batch
    * `q64_changelog_compact`: per-key `GroupState` folds the op log into
    * (first_op, last_op, last_value, n_ops) — O(1) per key, never an op
    * buffer — and each micro-batch that carries a key emits that key's
    * running compaction snapshot. The FINAL snapshot per key (largest
    * cumulative `n_ops`) is the net change the batch query computes; a
    * downstream merge can apply snapshots continuously instead of waiting
    * for the feed to close.
    *
    * Ordering contract: within a micro-batch each key's ops are sorted by
    * (tsUs, eventId) before folding, so intra-batch disorder is absorbed;
    * ACROSS batches first/last are online (an op older than an
    * already-folded one still overwrites `lastOp`). On a time-ordered
    * replay the stream and the batch window agree exactly; in production,
    * front the feed with a watermarked sort or accept online semantics —
    * the same stated trade as [[funnelStream]].
    */
  def compactionStream(ops: Dataset[OpEvent]): Dataset[CompactUpdate] = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[OpEvent], state: GroupState[CompactState]) =>
          val sorted = rows.toArray.sortBy(e => (e.tsUs, e.eventId))
          var st = state.getOption.getOrElse(
            CompactState(sorted.head.op, sorted.head.op, sorted.head.value, 0L))
          sorted.foreach { e =>
            st = CompactState(
              if (st.nOps == 0L) e.op else st.firstOp,
              e.op, e.value, st.nOps + 1L)
          }
          state.update(st)
          Iterator.single(CompactUpdate(uid, st.firstOp, st.lastOp, st.lastValue, st.nOps))
      }
  }

  /** Streaming repeated-span detection — the incremental twin of the batch
    * `dedup_repeated_spans` query: each arriving document emits its distinct
    * stride-aligned span hashes (same 32-char/stride-16 geometry, fused
    * per-doc loop), and per-span `GroupState` records the first document
    * that carried the span. Later carriers get `dup = true` pointing at the
    * first — the information a substring-level cleaner needs to excise
    * duplicated runs. Redelivery of the first carrier re-emits `dup = false`
    * (idempotent); ties within one micro-batch resolve in arrival order
    * (at-least-once semantics, same stance as the near-dup stream). State is
    * one Long per distinct span — bound it operationally by keying the
    * stream on a rolling corpus epoch or fronting it with a watermarked
    * dedup, exactly as the batch pipeline bounds its span index by corpus
    * partition.
    */
  def spanDedupStream(
      docs: Dataset[DocEvent],
      spanLen: Int = 32,
      stride: Int = 16): Dataset[SpanDecision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Portable
    docs
      .flatMap { d =>
        val t = d.text
        val seen = new java.util.LinkedHashSet[java.lang.Long]
        var off = 0
        while (off + spanLen <= t.length) {
          seen.add(Portable.h60Jvm(t.substring(off, off + spanLen)))
          off += stride
        }
        val id = d.docId
        scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala.iterator
          .map(h => (h.longValue, id))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SpanDecision]
          var first = state.getOption.getOrElse(-1L)
          rows.foreach { case (_, id) =>
            if (first < 0) { first = id; state.update(id) }
            out += SpanDecision(id, h, first, dup = id != first)
          }
          out.iterator
      }
  }

  /** Streaming SemDeDup — the incremental twin of the batch `dedup_semantic`
    * query: arriving vectors are assigned to their nearest centroid (a
    * stateless argmin over the broadcast centroid array — the inference-time
    * half of clustering; centroids come from a batch k-means run), then each
    * cluster's `GroupState` holds the vectors KEPT so far, and an arrival is
    * dropped iff its cosine to any kept cluster-mate reaches `threshold`.
    *
    * Semantics note vs batch: the batch rule drops a vector dominated by any
    * LOWER-ID cluster-mate (kept or dropped); the streaming rule drops
    * against the KEPT set in arrival order — the practical online semantics
    * (a dropped doc can't later justify dropping others). On an id-ordered
    * replay of a corpus whose duplicate relation is transitive within
    * clusters (exact copies are), the two agree; StreamingSpec pins that and
    * the invariants that hold in ANY arrival order.
    *
    * State bound: at most `maxCluster` kept vectors per cluster —
    * K·maxCluster·dims·8 bytes total (the SemDeDup analogue of the near-dup
    * bucket cap) — plus a dropped-id ledger (8 bytes/id, capped at
    * 16·maxCluster) that makes at-least-once redelivery idempotent: a decided
    * id re-emits its ORIGINAL decision for BOTH outcomes instead of being
    * suppressed (kept) or re-evaluated against evolved state (dropped). At
    * the cap, dup DETECTION keeps running (the cosine check reads state
    * without growing it) but novel vectors pass through untracked
    * (fail-open: at 100 TB a saturated cluster means K was chosen too small
    * for the corpus — resize K, don't silently discard data).
    */
  def semanticDedupStream(
      vecs: Dataset[VecEvent],
      centroids: Array[ClusterCentroid],
      threshold: Double = 0.85,
      maxCluster: Int = 4096): Dataset[SemanticDecision] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(centroids.nonEmpty, "semanticDedupStream: empty centroid set")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    vecs
      .map { v =>
        var best = 0L; var bestD = Double.MaxValue
        centroids.foreach { c =>
          // unit vectors: squared distance ranks as -cosine; ties -> low cid
          val d = -dot(v.emb, c.emb)
          if (d < bestD || (d == bestD && c.cid < best)) { best = c.cid; bestD = d }
        }
        (best, v.vecId, v.emb)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cid: Long, rows: Iterator[(Long, Long, Array[Double])],
         state: GroupState[SemDedupState]) =>
          val st = state.getOption.getOrElse(SemDedupState(Array.empty, Array.empty))
          var kept = st.kept
          var dropped = st.dropped
          val out = scala.collection.mutable.ArrayBuffer.empty[SemanticDecision]
          // Within a micro-batch the shuffle delivers a cluster's rows in
          // arbitrary order; fold them by id (the scd2Fn pattern) so an
          // id-ordered replay decides lower ids first INSIDE a batch too —
          // without this a dup group landing in one batch could keep the
          // higher id and drop the source, diverging from the batch
          // min-id-keeper rule.
          rows.toArray.sortBy(_._2).foreach { case (_, id, emb) =>
            // Idempotent redelivery, SYMMETRIC for both outcomes (ADVICE r6):
            // a decided id re-emits its ORIGINAL decision — never re-evaluated
            // against cluster state that evolved since.
            if (kept.exists(_._1 == id)) out += SemanticDecision(id, cid, dropped = false)
            else if (dropped.contains(id)) out += SemanticDecision(id, cid, dropped = true)
            else if (kept.exists(k => dot(k._2, emb) >= threshold)) {
              // dup check needs no kept-state growth — runs even at the cap.
              // Dropped-id ledger is 8 bytes/id, capped at 16x the kept cap;
              // past it, a redelivery re-evaluates — same verdict regardless,
              // because the dominator that dropped the id is still kept
              // (the kept set only grows).
              if (dropped.length < maxCluster * 16) dropped = dropped :+ id
              out += SemanticDecision(id, cid, dropped = true)
            } else {
              if (kept.length < maxCluster) kept = kept :+ ((id, emb))
              out += SemanticDecision(id, cid, dropped = false) // at the cap: fail-open, vector kept out of state
            }
          }
          state.update(SemDedupState(kept, dropped))
          out.iterator
      }
  }

  /** Streaming heavy hitters — the incremental twin of the batch
    * `text_heavy_hitters` query: per-language Misra-Gries counters carried
    * in `GroupState`, re-emitting the sketch's current estimates after every
    * micro-batch (Update-mode semantics: downstream sees the latest believed
    * top tokens, not an append log). The decrement step is
    * [[graft.functions.MisraGries.shrink]] — the SAME code the batch
    * aggregator runs — so the mergeable-summary guarantees (estimates never
    * exceed true counts; any token with true count > N/(k+1) survives) hold
    * for the stream regardless of arrival order or batch boundaries, which
    * is exactly what StreamingSpec asserts. State is O(k) per language —
    * bounded no matter how many tokens stream through.
    */
  def heavyHittersStream(docs: Dataset[LangDocEvent], k: Int = 8): Dataset[HeavyHitter] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.MisraGries
    docs
      .flatMap(d => graft.operators.Portable.Whitespace.split(d.text.trim).iterator.filter(_.nonEmpty).map(t => (d.lang, t)))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, String)], state: GroupState[MgState]) =>
          val st = state.getOption.getOrElse(MgState(Map.empty, 0L))
          var cur = scala.collection.mutable.HashMap.from(st.counters)
          var n = st.nTotal
          rows.foreach { case (_, t) =>
            n += 1L
            cur(t) = cur.getOrElse(t, 0L) + 1L
            if (cur.size > k) cur = MisraGries.shrink(cur, k)
          }
          state.update(MgState(cur.toMap, n))
          // deterministic emission order: estimate DESC, then token
          cur.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
            .map { case (t, c) => HeavyHitter(lang, t, c, n) }
      }
  }

  /** Streaming hourly rate-anomaly detection — the incremental twin of the
    * batch `q56_rate_anomaly` query. Events are keyed by type; `GroupState`
    * carries the open hour's running count plus the trailing 24 CLOSED
    * hourly buckets (O(25) per type — state never grows with volume). When
    * an arriving event opens a later hour, every older open hour closes and
    * is judged against the same integer-exact cross-multiplied rule the
    * batch query uses — (x·m − Σx)² > 9·(m·Σx² − (Σx)²), computed in BigInt
    * so the squares can't wrap — and emitted iff ≥ 12 trailing buckets
    * exist. On an in-time-order replay the emitted rows equal the batch
    * rows for every closed hour (StreamingSpec pins this); out-of-order
    * events within the open hour fold in normally, while an event for an
    * already-closed hour is DROPPED (the stream's lateness horizon is one
    * hour bucket — front with a watermark sized to the source's disorder,
    * same stance as chunkDedupStream).
    */
  def rateAnomalyStream(evs: Dataset[UserTypeEvent]): Dataset[RateVerdict] = {
    val spark = evs.sparkSession
    import spark.implicits._
    val usPerHour = 3600L * 1000000L
    evs
      .map(e => (e.eventType, e.tsUs / usPerHour))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, rows: Iterator[(String, Long)], state: GroupState[RateState]) =>
          var st = state.getOption.getOrElse(RateState(Seq.empty, -1L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[RateVerdict]
          def close(): Unit = if (st.openHr >= 0) {
            val w = st.closed
            if (w.length >= 12) {
              val m = w.length.toLong
              val sx = w.iterator.map(_._2).sum
              val sx2 = w.iterator.map(c => c._2 * c._2).sum
              val dev = BigInt(st.openN) * BigInt(m) - BigInt(sx)
              val anomaly =
                dev * dev > BigInt(9) * (BigInt(m) * BigInt(sx2) - BigInt(sx) * BigInt(sx))
              out += RateVerdict(typ, st.openHr, st.openN, m, sx, sx2, anomaly)
            }
            st = RateState((w :+ (st.openHr, st.openN)).takeRight(24), -1L, 0L)
          }
          rows.toArray.sortBy(_._2).foreach { case (_, hr) =>
            if (st.openHr < 0 && (st.closed.isEmpty || hr > st.closed.last._1)) {
              st = st.copy(openHr = hr, openN = 1L)
            } else if (hr == st.openHr) {
              st = st.copy(openN = st.openN + 1L)
            } else if (hr > st.openHr && st.openHr >= 0) {
              close()
              st = st.copy(openHr = hr, openN = 1L)
            } // hr <= last closed hour: late beyond horizon — dropped
          }
          state.update(st)
          out.iterator
      }
  }

  // ------------------------------------------------------- driver contract

  /** Replay wave files per (wave name, source dir), built once per JVM:
    * they are a pure deterministic function of the test tables, so
    * re-deriving them on every invocation would bill harness setup as
    * query time.
    *
    * Materialize `waved` (any frame with an int `wave` column) as one
    * parquet file per wave value, mtimes increasing with the wave — the
    * ordered micro-batch input for a `maxFilesPerTrigger=1` file source.
    */
  private[graft] def waveFiles(
      name: String, d: String, mkWaved: => DataFrame): java.nio.file.Path =
    graft.Fixtures.memo(s"graft_wave_$name", d) { root =>
      import java.nio.file.Files
      val waved = mkWaved // by-name: setup actions run only on cache miss
      val dir = Files.createDirectories(root.resolve("src"))
      val waves = waved.agg(max(col("wave"))).head().getInt(0)
      (0 to waves).foreach { w =>
        val tmp = root.resolve(s"tmp$w")
        waved.filter(col("wave") === w).drop("wave")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(p =>
          p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        val dst = Files.move(part, dir.resolve(f"wave$w%03d.parquet"))
        dst.toFile.setLastModified(1700000000000L + w * 60000L)
      }
      dir
    }

  /** Equal-width range waves over `key`, a SQL expression on `df`: `n`
    * slices from its min to its max, the last one bound-inclusive. Returns
    * the int wave column and the key's max. The bounds head() is replay
    * SETUP — call this inside a [[waveFiles]] by-name argument so it runs
    * on the once-per-JVM cache-miss path, not in every invocation.
    *
    * `exactDiv` slices by exact LONG integer division (`div`), which an
    * oracle's `//` reproduces exactly; otherwise by double division
    * truncated by the int cast. Each call site keeps the form it was
    * written with: the two are not interchangeable, since a double-division
    * truncation could disagree with floor at a quotient boundary.
    */
  private def rangeWave(
      df: DataFrame, key: String, n: Int, exactDiv: Boolean = false): (Column, Long) = {
    val r = df.agg(min(expr(key)), max(expr(key))).head()
    val (lo, hi) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
    val width = math.max(1L, (hi - lo) / n + 1)
    val wave =
      if (exactDiv) expr(s"($key - ${lo}L) div ${width}L")
      else (expr(key) - lit(lo)) / lit(width)
    (wave.cast("int"), hi)
  }

  /** `waved` raw events plus the far-future SENTINEL event as wave 9:
    * reserved user and event −1 at `hi` + 10 days, with event_type
    * "sentinel" when `waved` carries that column. Its event time pushes
    * the watermark past every real window and session end, so append mode
    * finalizes them all; the judged readouts filter it out.
    */
  private def withSentinel(waved: DataFrame, hi: Long): DataFrame = {
    val typed =
      if (waved.columns.contains("event_type")) Seq(lit("sentinel").as("event_type")) else Nil
    waved.unionByName(waved.sparkSession.range(1).select(
      Seq(lit(-1L).as("user_id"), lit(-1L).as("event_id")) ++ typed ++
        Seq(lit(0.0).as("value"), timestamp_micros(lit(hi + 864000000000L)).as("ts"),
          lit(9).as("wave")): _*))
  }

  /** Five rank-split waves: ntile(5) over `df` sorted by `key`, so every
    * wave is nonempty whenever `df` has at least five rows, at any SF.
    */
  private def rankWaves(df: DataFrame, key: String): DataFrame =
    df.withColumn("wave",
      (ntile(5).over(org.apache.spark.sql.expressions.Window.orderBy(col(key))) - 1).cast("int"))

  /** What a replay reads: [[waveFiles]] output with its row schema, or a
    * ready streaming frame (the `graft-lake` CDC tail).
    */
  private[graft] sealed trait ReplaySource
  private[graft] final case class Waves(dir: java.nio.file.Path, schema: StructType)
      extends ReplaySource
  private[graft] final case class Live(stream: DataFrame) extends ReplaySource

  /** The one replay harness. Reads `source` — wave files ONE PER TRIGGER,
    * so the file source replays them in mtime order — attaches `sink`,
    * checkpoints under `root`, and runs start THROUGH processAllAvailable
    * inside [[withFewShufflePartitions]]. The query is stopped whether or
    * not a batch failed (processAllAvailable rethrows a failed batch's
    * error), and returned so a caller can read its progress.
    */
  private[graft] def replay(s: SparkSession, root: java.nio.file.Path, source: => ReplaySource)(
      sink: DataFrame => DataStreamWriter[_]): StreamingQuery =
    withFewShufflePartitions(s) {
      val stream = source match {
        case Waves(dir, schema) =>
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir.toString)
        case Live(frame) => frame
      }
      val q = sink(stream).option("checkpointLocation", root.resolve("chk").toString).start()
      try q.processAllAvailable() finally q.stop()
      q
    }

  /** [[replay]] into a `foreachBatch` writer: the streaming ingests, which
    * run inside their own [[graft.Fixtures.memo]] and keep what `batch`
    * writes under the memo's root.
    */
  private[graft] def replayBatches(s: SparkSession, root: java.nio.file.Path, source: ReplaySource)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    replay(s, root, source)(_.writeStream.foreachBatch(batch))

  /** Captured replay emissions per (contract, source dir), built once per
    * JVM. A replay contract's emitted row set is a pure deterministic
    * function of the source tables — that is the entire determinism design
    * documented on each contract — so re-running the micro-batch harness on
    * every bench pass billed ~2.5 s/pass of trigger/state-store fixed cost
    * as if it were query work (VERDICT r9 #1: "measure replay contracts
    * once / share a single replayed state across the per-query passes").
    * The stream runs ONCE per key; its memory-sink rows are captured
    * locally, then the sink temp view is dropped and the checkpoint
    * directory deleted (ADVICE r9: both leaked per invocation, ×4 bench
    * passes × 6 contracts). Every call — including every bench pass —
    * rebuilds a LocalRelation from the captured rows and runs the
    * contract's downstream judging query fresh.
    *
    * On cache miss, [[replay]] `source` through `transform` into a memory
    * sink in output `mode`, hand the stopped query to `inspect`, capture
    * the sink table, clean up, and return the captured rows as a fresh
    * LocalRelation frame bound to `s`. `q.stop()` does not join the state
    * store's ASYNC maintenance thread, which can still be writing
    * `.snapshot` files while the run dir is swept — hence the retrying
    * delete.
    */
  private[graft] def replayedSink(
      s: SparkSession, d: String, tag: String, source: => ReplaySource,
      mode: String = "append", inspect: StreamingQuery => Unit = _ => ())(
      transform: DataFrame => Dataset[_]): DataFrame = {
    val (schema, rows) = graft.Fixtures.memo(tag, d) { root =>
      val sink = tag + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        inspect(replay(s, root, source)(
          transform(_).writeStream.format("memory").queryName(sink).outputMode(mode)))
        val t = s.table(sink)
        (t.schema, t.collect())
      } finally {
        s.catalog.dropTempView(sink)
        graft.Fixtures.deleteRecursively(root)
      }
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Ordered file-source replay of the dedup corpus through
    * [[corpusIntakeStream]], materialized for the driver's DuckDB compare —
    * the q56 pattern promoted to a CORRECTNESS query (VERDICT r7 #8): a real
    * `readStream` parquet source, micro-batch at a time, through the
    * quality gate → watermarked exact dedup → stable split assignment, must
    * reproduce the batch pipeline (quality filter → min-id canonical per
    * normalized key → md5 split) row for row, hash for hash.
    *
    * Determinism engineering (what makes a streaming query hash-checkable):
    *  - arrival order: `ts` is monotone in `doc_id`, and replay wave `w`
    *    holds each key's (w+1)-th smallest doc_id — so every micro-batch
    *    carries AT MOST ONE doc per dedup key, and first-arrival-wins equals
    *    the batch min-id canonical regardless of intra-batch row order;
    *  - batch order: one file per wave, `maxFilesPerTrigger=1`, strictly
    *    increasing mtimes — the file source replays waves in order;
    *  - no state eviction: the watermark delay (3650 days) exceeds the
    *    corpus ts spread, so late-arrival re-emission can't occur.
    *
    * The wave count equals the corpus's max duplicate-group size (a handful)
    * — this is a correctness harness at oracle scale, not a prod sink shape.
    */
  def intakeReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val corpus = graft.operators.Dedup.corpus(s, d)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      .withColumn("k", md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withColumn("wave",
        row_number().over(Window.partitionBy(col("k")).orderBy(col("doc_id"))) - 1)
      .select(col("doc_id"), col("text"), col("ts"), col("wave"))

    val emitted = replayedSink(s, d, "graft_intake_replay_",
        Waves(waveFiles("intake", d, corpus), corpus.drop("wave").schema)) {
      corpusIntakeStream(_, watermark = "3650 days")
    }
    emitted.select(col("doc_id"), col("quality"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Run `run` (a whole [[replay]], start THROUGH processAllAvailable —
    * micro-batch planning reads the session conf, so it must stay lowered
    * for the whole run) with 8 shuffle partitions, restoring the conf after. The contracts pay
    * per-micro-batch state-store overhead proportional to the shuffle
    * partition count; their state semantics are partition-count independent
    * (keyed state), and their data per batch is one wave file — 32 state
    * partitions per batch is pure fixed cost.
    */
  private def withFewShufflePartitions[T](s: org.apache.spark.sql.SparkSession)(run: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try run finally s.conf.set(key, prev)
  }

  /** The events table in [[UserTypeEvent]] column shape. */
  private def typedEvents(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_type").as("eventType"), unix_micros(col("ts")).as("tsUs"))

  /** Shared wave files for the three time-ordered event replays (funnel,
    * SCD2, rate-anomaly): 8 TIME-RANGE slices (equal-ts rows share a wave),
    * so cross-batch arrival order is the event-time order all three
    * contracts' determinism arguments rest on. One set of files serves all
    * three — they replay identical input.
    */
  private def eventTimeWaves(s: org.apache.spark.sql.SparkSession, d: String): java.nio.file.Path =
    waveFiles("events-time", d, {
      val ev = typedEvents(s, d)
      ev.withColumn("wave", rangeWave(ev, "tsUs", 8)._1)
    })

  /** Time-ordered file-source replay of the events table through
    * [[funnelStream]], aggregated to q51's one-row funnel — the second
    * replay-parity contract (q51's exact oracle SQL is the truth).
    *
    * Why this is deterministic: waves are TIME-RANGE slices (equal-ts rows
    * share a wave), so cross-batch arrival order is the event-time order;
    * within a micro-batch funnelStream sorts each user's rows by
    * (tsUs, eventId) before folding its step state. A step therefore fires
    * on the minimum qualifying timestamp exactly as the batch query's
    * min-aggregation chain computes it, and the step COUNTS — all the
    * contract compares — are tie-independent.
    */
  def funnelReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._

    val ev = typedEvents(s, d)
    val emitted = replayedSink(s, d, "graft_funnel_replay_",
        Waves(eventTimeWaves(s, d), ev.schema)) { stream =>
      funnelStream(stream.as[UserTypeEvent])
    }
    emitted.agg(
      count(when(col("step") === "signup", 1)).as("n_signup"),
      count(when(col("step") === "view", 1)).as("n_viewed"),
      count(when(col("step") === "purchase", 1)).as("n_purchased"))
  }

  /** File-source replay of the documents table through
    * [[heavyHittersStream]] (k=64 per language), judged by the sketch
    * CONTRACT — the third replay-parity query, and the one whose truth is
    * order-independent by mathematics rather than by replay engineering.
    *
    * The Misra-Gries bound (estimates never exceed true counts; any term
    * with true count > n/(k+1) survives with undercount ≤ n/(k+1)) holds
    * for ANY arrival order and ANY micro-batch slicing, so the contract
    * row set — the per-language exact heavy set with three boolean sketch
    * assertions against the FINAL streaming state — is deterministic even
    * though the intermediate counter values are not. Same oracle shape as
    * the batch `text_heavy_hitters` (TRUE AS sketch_ok), lifted per-lang.
    *
    * Final-state extraction: nTotal is strictly monotone per language
    * across emissions (a group only fires on non-empty input), so the
    * max-nTotal rows per language are exactly the last snapshot.
    */
  def heavyHittersReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val K = 64
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id").as("docId"), col("lang"), col("text"))
    // 8 doc_id-range waves — order is irrelevant to the MG guarantee,
    // but a deterministic slicing keeps the harness reproducible
    val emitted = replayedSink(s, d, "graft_hh_replay_",
        Waves(waveFiles("hh", d, docs.withColumn("wave", rangeWave(docs, "docId", 8)._1)),
          docs.schema),
        mode = "update") { stream =>
      heavyHittersStream(stream.as[LangDocEvent], k = K)
    }
    val fin = emitted
      .withColumn("mx", max(col("nTotal")).over(Window.partitionBy(col("lang"))))
      .filter(col("nTotal") === col("mx"))
      .select(col("lang"), col("token").as("term"), col("est"))
    val tok = graft.Tables.documents(s, d)
      .select(col("lang"), explode(graft.operators.Portable.tokens(col("text"))).as("term"))
    val nl = tok.groupBy(col("lang")).agg(count(lit(1)).as("n_tok"))
    val bound = col("n_tok") / lit((K + 1).toDouble)
    tok.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n_exact"))
      .join(broadcast(nl), "lang") // 5 rows — one per language
      .filter(col("n_exact") > bound)
      .join(fin, Seq("lang", "term"), "left")
      .withColumn("est", coalesce(col("est"), lit(0L)))
      .select(col("lang"), col("term"), col("n_exact"),
        (col("est") > 0L && col("est") <= col("n_exact") &&
          (col("n_exact") - col("est")) <= bound).as("sketch_ok"))
      .orderBy(col("lang"), col("term"))
  }

  /** File-source replay of the planted near-dup corpus through
    * [[nearDupCandidateStream]], its DISTINCT emitted candidates verified by
    * the batch exact-Jaccard stage ([[graft.operators.Dedup.verifyPairs]])
    * — the fourth replay-parity contract, judged by dedup_minhash_lsh's own
    * oracle SQL.
    *
    * Why this is deterministic: the stream's distinct candidate set equals
    * the batch band-bucket candidate set for ANY arrival order and ANY
    * micro-batch slicing (a bucket eventually pairs all its members, pairs
    * are normalized id1 < id2; pinned adversarially in StreamingSpec), and
    * candidates stay far under the maxBucket cap on this corpus. At-least-
    * once duplicate emissions collapse in the distinct() — placed exactly
    * where the batch pipeline runs its own distinct().
    */
  def nearDupReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.operators.Dedup.corpus(s, d)
      .select(col("doc_id").as("docId"), col("text"))
    // Parity with the batch candidate set rests on every band bucket
    // staying under nearDupCandidateStream's maxBucket cap: an overflow
    // silently drops pairs and would only surface as an opaque oracle
    // hash mismatch (ADVICE r9). Count cap hits and fail loudly instead.
    // Lazy: registered only when the replay runs (cache miss).
    lazy val capHits = s.sparkContext.longAccumulator("graft.neardup.capHits")
    val emitted = replayedSink(s, d, "graft_neardup_replay_",
        // 8 doc_id-range waves: interleaves originals with their planted
        // +100000/+200000 dups across batches, so pairing spans micro-batches
        Waves(waveFiles("neardup", d, docs.withColumn("wave", rangeWave(docs, "docId", 8)._1)),
          docs.schema),
        inspect = _ => require(capHits.value == 0L,
          s"nearDupCandidateStream dropped ${capHits.value} arrivals at the maxBucket cap — " +
            "candidate parity with dedup_minhash_lsh does not hold on this corpus")) { stream =>
      val hits = capHits // the executor-side closure captures the accumulator itself
      nearDupCandidateStream(stream.as[DocEvent], onCapHit = () => hits.add(1))
    }
    graft.operators.Dedup.verifyPairs(s, d,
      emitted.select(col("id1"), col("id2")).distinct())
  }

  /** Time-ordered file-source replay of the events table through
    * [[scd2Stream]] — the fifth replay-parity contract, judged by q49's
    * oracle restricted to CLOSED intervals (append-mode streaming SCD2
    * emits an interval only when the next type change closes it; the open
    * tail interval lives in state and is exactly the rows q49 reports with
    * a NULL valid_to).
    *
    * Why this is deterministic: waves are time-range slices (equal-ts rows
    * share a wave), so cross-batch arrival is event-time-ordered and the
    * in-order assumption of [[scd2Fn]] holds with zero late drops; within
    * a batch scd2Fn sorts each user by (tsUs, eventId) — the exact window
    * order of the batch lag/lead chain, so tie-breaks agree too.
    */
  def scd2ReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = typedEvents(s, d)
    val emitted = replayedSink(s, d, "graft_scd2_replay_",
        Waves(eventTimeWaves(s, d), ev.schema)) { stream =>
      scd2Stream(stream.as[UserTypeEvent])
    }
    emitted.select(
      col("userId").as("user_id"), col("eventType").as("event_type"),
      col("validFromUs").as("valid_from_us"), col("validToUs").as("valid_to_us"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** The events table in [[OpEvent]] column shape: ops pre-classified with
    * q64_changelog_compact's mapping (signup=I, error=D, other=U).
    */
  private def opEvents(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        unix_micros(col("ts")).as("tsUs"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("value"))

  /** Wave files for the compaction replay: the same 8 time-range slices as
    * [[eventTimeWaves]] (equal-ts rows share a wave → cross-batch arrival
    * order is event-time order), over the [[OpEvent]] projection — a
    * separate fixture because the shared one doesn't carry `value`.
    */
  private def opTimeWaves(s: org.apache.spark.sql.SparkSession, d: String): java.nio.file.Path =
    waveFiles("events-opval", d, {
      val ev = opEvents(s, d)
      ev.withColumn("wave", rangeWave(ev, "tsUs", 8)._1)
    })

  /** File-source replay of the documents table (waved by doc_id % 7 — an
    * ARBITRARY slicing, deliberately not time-ordered, because the sampler
    * is order-independent) through [[bottomKStream]], reduced to the final
    * snapshot (largest cumulative nSeen — strictly increasing, so unique)
    * and judged VERBATIM by pipeline_bottomk_sample's batch oracle.
    */
  def bottomKReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val corpus = graft.Tables.documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(7)).cast("int").as("wave"))
    val emitted = replayedSink(s, d, "graft_bottomk_replay_",
        Waves(waveFiles("bottomk", d, corpus), corpus.drop("wave").schema)) { stream =>
      bottomKStream(
        stream.select(col("doc_id").as("docId"))
          .as[SampleDoc](org.apache.spark.sql.Encoders.product[SampleDoc]),
        k = 100)
    }
    val mx = emitted.agg(max(col("nSeen")).as("mx"))
    emitted.crossJoin(broadcast(mx)).filter(col("nSeen") === col("mx"))
      .select(col("rank"), col("docId").as("doc_id"))
      .orderBy(col("rank"))
  }

  /** Time-ordered file-source replay of the events feed (as a pre-classified
    * CDC op log) through [[compactionStream]], reduced to each key's FINAL
    * snapshot (largest cumulative n_ops) and net-op classification —
    * judged VERBATIM by q64_changelog_compact's batch oracle. Determinism:
    * within-batch fold order is (tsUs, eventId)-sorted, cross-batch order
    * is event-time by the wave construction, and n_ops strictly increases
    * per key across its emissions, so "largest n_ops" picks a unique row.
    */
  def compactReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = opEvents(s, d)
    val emitted = replayedSink(s, d, "graft_compact_replay_",
        Waves(opTimeWaves(s, d), ev.schema)) { stream =>
      compactionStream(stream.as[OpEvent](org.apache.spark.sql.Encoders.product[OpEvent]))
    }
    val wFinal = Window.partitionBy(col("userId")).orderBy(col("nOps").desc)
    emitted
      .withColumn("rn", row_number().over(wFinal)).filter(col("rn") === 1)
      .withColumn("net_op",
        when(col("lastOp") === "D" && col("firstOp") === "I", "none")
          .when(col("lastOp") === "D", "delete")
          .when(col("firstOp") === "I", "insert")
          .otherwise("update"))
      .select(col("userId").as("user_id"), col("net_op"),
        col("nOps").as("n_ops"),
        when(col("net_op").isin("delete", "none"), lit(null).cast("double"))
          .otherwise(graft.operators.Portable.round(col("lastValue"), 2)).as("net_value"))
      .orderBy(col("user_id"))
  }

  /** Time-ordered file-source replay of the events table through
    * [[rateAnomalyStream]] — the sixth replay-parity contract, judged by
    * q56's oracle minus each type's FINAL hour (the stream closes an hourly
    * bucket only when a later hour arrives, so the last bucket per type
    * stays open in state forever; every closed bucket must carry q56's
    * exact integer window stats and anomaly verdict).
    *
    * Why this is deterministic: waves are time-range slices, so hours
    * arrive per type in nondecreasing order across batches (the stream's
    * in-order assumption; an hour spanning a wave boundary accumulates in
    * the open state) and within a batch the operator sorts by hour. The
    * trailing-24-closed-hours window at each close equals the batch
    * ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING over observed hours.
    */
  def rateAnomalyReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = typedEvents(s, d)
    val emitted = replayedSink(s, d, "graft_rate_replay_",
        Waves(eventTimeWaves(s, d), ev.schema)) { stream =>
      rateAnomalyStream(stream.as[UserTypeEvent])
    }
    emitted.select(
      col("eventType").as("event_type"),
      (col("hrEpoch") * lit(3600000000L)).as("hr_us"),
      col("n"), col("m"), col("sx"), col("sx2"),
      col("isAnomaly").as("is_anomaly"))
      .orderBy(col("event_type"), col("hr_us"))
  }

  /** Id-ordered file-source replay of the planted embedding corpus through
    * [[semanticDedupStream]] — the seventh replay-parity contract, judged
    * by dedup_semantic's own oracle (VERDICT r9 #4): the streaming SemDeDup
    * decisions (vec_id, cid, dropped) must equal the batch
    * quantized-k-means + min-id-keeper + near-pair-scan pipeline row for
    * row.
    *
    * Why this is deterministic and batch-equal:
    *  - assignment parity: vectors and centroids are lifted into the
    *    augmented space of
    *    [[graft.operators.Clustering.semanticReplayInputs]], where the
    *    stream's stateless `-dot` argmin ranks centroids exactly like the
    *    batch quantized k-means distance, ties included;
    *  - arrival order: waves are vec_id-range slices and the operator folds
    *    each batch's cluster rows by id, so decisions happen in global id
    *    order — first-arrival-keeps equals the batch min-id keeper, and a
    *    planted clone (+100000/+200000) always arrives after its source;
    *  - drop parity: the planted duplicate relation is a star from
    *    originals (exact copies quantize equal; perturbed near-dups sit in
    *    [0.87, 0.93] cosine to their source only, random pairs ≤ ~0.65),
    *    so the stream's kept-set check equals the batch any-lower-survivor
    *    rule, and every cluster is far under both the batch shard cap and
    *    the stream's kept-state cap.
    *
    * Parity bound (measured): the contract is judged by the UNCAPPED drop
    * chain (`Clustering.semanticDropUncappedOracleSql`) because the
    * stream's kept-set check is shard-blind — and it hash-matches at ALL
    * THREE SFs. At sf0.01 the capped and uncapped chains are identical
    * (every cluster single-shard); at sf0.1 survivor clusters exceed the
    * batch SemDedupShardCap and the sharded batch scan trades away
    * cross-cell near pairs, which the stream still finds — judging by the
    * capped oracle there mislabeled the stream's more complete answer as a
    * mismatch (the pre-fix state of this contract).
    */
  def semanticReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Lazy: the inputs are built only when the replay runs (cache miss).
    lazy val (vecs, cents, threshold) = graft.operators.Clustering.semanticReplayInputs(s, d)
    val emitted = replayedSink(s, d, "graft_semantic_replay_",
        Waves(waveFiles("semantic", d, vecs.withColumn("wave", rangeWave(vecs, "vecId", 8)._1)),
          new StructType()
            .add("vecId", org.apache.spark.sql.types.LongType)
            .add("emb", org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))) { stream =>
      val centroids = cents.map { case (cid, e) => ClusterCentroid(cid, e) }
      semanticDedupStream(stream.as[VecEvent], centroids, threshold = threshold)
    }
    emitted.select(col("vecId").as("vec_id"), col("cid"), col("dropped"))
      .orderBy(col("vec_id"))
  }

  /** Segment-waved file-source replay of the documents corpus through the
    * incremental stateful chunker ([[statefulChunkStream]], FastCDC at the
    * batch cdc_fastcdc_chunks parameters 64/seed 42): wave w delivers the
    * w-th 128-byte segment of every document, so each blob's bytes span
    * several micro-batches and the reorder/tail-buffer GroupState — the
    * reference's buffered incremental read (S3, SURVEY §2.1) — does real
    * cross-batch work. Output is the per-doc chunk contract over the
    * STREAMED chunks plus `stream_eq_batch`: an exact Spark-side comparison
    * of the streamed (idx, offset, length, xxhash64) rows against the batch
    * whole-blob chunk table, so any boundary drift between incremental and
    * batch chunking breaks the oracle-pinned TRUE (content-defined cuts
    * must not depend on micro-batch framing — the property under test).
    *
    * Determinism: seq-indexed waves + maxFilesPerTrigger=1 deliver each
    * blob's segments in seq order, and chunkUpdateFn's emission set is then
    * a pure function of the blob bytes.
    */
  def chunkReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val segBytes = 128
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    def segments: DataFrame =
      docs.as[(Long, String)].flatMap { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.max(1, (bytes.length + segBytes - 1) / segBytes)
        (0 until n).map { i =>
          val to = math.min(bytes.length, (i + 1) * segBytes)
          (id, i, java.util.Arrays.copyOfRange(bytes, i * segBytes, to), i == n - 1, i)
        }
      }.toDF("blobId", "seq", "data", "last", "wave")
    val emitted = replayedSink(s, d, "graft_chunk_replay_",
        Waves(waveFiles("chunk", d, segments), StructType(Seq(
          StructField("blobId", LongType), StructField("seq", IntegerType),
          StructField("data", BinaryType), StructField("last", BooleanType))))) { stream =>
      statefulChunkStream(stream.as[SegmentEvent], "fastcdc", 64, 42L).toDF()
    }
    val streamed = emitted.select(col("blobId").as("doc_id"),
      col("chunkIdx").cast("long").as("idx"), col("offset"),
      col("length").cast("long").as("length"), xxhash64(col("chunk")).as("hash"))
    val batch = graft.operators.Chunking
      .chunkTable(docs, "doc_id", "text", "fastcdc", 64, 42L)
      .select(col("id").as("doc_id"), col("chunk_idx").cast("long").as("idx"),
        col("offset").cast("long").as("b_offset"),
        col("length").cast("long").as("b_length"), col("hash").as("b_hash"))
    val per = streamed.join(batch, Seq("doc_id", "idx"), "full_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("length")).as("total_len"),
        bool_and(col("offset").isNotNull && col("b_offset").isNotNull &&
          col("offset") === col("b_offset") && col("length") === col("b_length") &&
          col("hash") === col("b_hash")).as("stream_eq_batch"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_len"), lit(0L)).as("total_len"),
        coalesce(col("stream_eq_batch"), lit(true)).as("stream_eq_batch"))
      .orderBy(col("doc_id"))
  }

  /** Time-ordered file-source replay of the events table through the
    * NATIVE `session_window` streaming aggregation (the operator behind
    * [[sessionStats]]), judged by q20_sessionize_events' batch oracle
    * VERBATIM. The final wave is a far-future SENTINEL event (reserved
    * user −1, +10 days): it drives the watermark past every real
    * session's end + gap, so append mode finalizes ALL real sessions and
    * the contract needs no open-tail exclusion — the sentinel's own
    * session is filtered from the judged output. Session ordinals
    * (q20's session_id) are reconstructed post-replay as the per-user
    * row_number over session_start — deterministic because session
    * starts are distinct within a user by the gap rule.
    *
    * Why this is deterministic: time-range waves + maxFilesPerTrigger=1
    * deliver events in event-time order across batches with a lag-one
    * watermark, so nothing is late and cross-wave sessions merge in
    * state before eviction; per-session float sums are few-element and
    * the 2-decimal rounding absorbs summation-order noise (the q29/
    * entropy argument).
    */
  def sessionReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("ts"))
    val emitted = replayedSink(s, d, "graft_session_replay_",
        Waves(waveFiles("events-session", d, {
          val (wave, hi) = rangeWave(ev, "unix_micros(ts)", 8)
          withSentinel(ev.withColumn("wave", wave), hi)
        }), ev.schema)) {
      _.withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("session_start_us"),
          max(unix_micros(col("ts"))).as("session_end_us"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("user_id"), col("n_events"), col("session_start_us"),
          col("session_end_us"), col("total_value"))
    }
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start_us"))
    emitted.filter(col("user_id") =!= -1L)
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start_us"), col("session_end_us"), col("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Raw-schema events table (user_id, event_id, event_type, value, ts). */
  private def rawEvents(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts"))

  /** Shared raw-schema time-range waves (8 slices + a far-future sentinel
    * row in a 9th wave) for the hourly-window and attribution replays.
    * The sentinel flushes watermark-finalized state for the window
    * contract and is inert for the eager inner join.
    */
  private def rawEventWaves(s: org.apache.spark.sql.SparkSession, d: String): java.nio.file.Path =
    waveFiles("events-raw", d, {
      val ev = rawEvents(s, d)
      val (wave, hi) = rangeWave(ev, "unix_micros(ts)", 8)
      withSentinel(ev.withColumn("wave", wave), hi)
    })

  /** Time-ordered file-source replay of the events table through the
    * canonical tumbling-window aggregation ([[windowedEventStats]]'s
    * operator), judged by q21_hourly_event_stats' batch oracle VERBATIM.
    * Same sentinel-flush design as the session replay: the far-future
    * final wave pushes the watermark past every real hour, so append mode
    * emits ALL real windows and the sentinel's own window is filtered
    * out. Hour buckets are exact integer truncations and per-bucket float
    * sums round at 2 decimals (the q29 argument), so the emitted set is
    * hash-identical to the batch group-by.
    */
  def hourlyReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val ev = rawEvents(s, d)
    val emitted = replayedSink(s, d, "graft_hourly_replay_",
        Waves(rawEventWaves(s, d), ev.schema)) {
      windowedEventStats(_, "ts", "1 hour", "0 seconds")
    }
    emitted.filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("hour_us"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("hour_us"), col("event_type"))
  }

  /** Observed watermark drop counts per dataset dir, written by
    * [[lateReplayContract]]'s one-per-JVM run: the sum of
    * `numRowsDroppedByWatermark` across every micro-batch's state-operator
    * progress. StreamingSpec pins this EQUAL to the planted late-row count
    * — late-data loss must be observable and exactly accounted, never
    * silent (the scd2Fn onLateDrop principle, now for the watermark path).
    */
  private[graft] val lateDropCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Planted-late predicate for [[lateReplayContract]], on (event_id,
    * base wave): every 17th event whose timestamp falls in the first six
    * of the eight time waves. Kept in one place so the wave builder, the
    * oracle text, and the spec's expected-drop count share it.
    */
  private def isLate(baseWave: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    col("event_id") % 17 === 0 && baseWave <= 5

  /** Event waves with PLANTED LATENESS: wave slicing as [[rawEventWaves]],
    * but every 17th event from the first six waves arrives THREE waves
    * after its event time (wave width is the span/8 — days at every SF, so
    * the lateness dwarfs the 1-hour watermark delay plus the window width
    * and the drop decision is far from any boundary tie). Wave assignment
    * uses exact LONG integer division (`div`) so the oracle's `//` computes
    * the identical base wave — a double-division truncation could disagree
    * with floor at a quotient boundary.
    */
  private def lateEventWaves(s: org.apache.spark.sql.SparkSession, d: String): java.nio.file.Path =
    waveFiles("events-late", d, {
      val ev = rawEvents(s, d)
      val (base, hi) = rangeWave(ev, "unix_micros(ts)", 8, exactDiv = true)
      val waved = ev
        .withColumn("base", base)
        .withColumn("wave",
          when(isLate(col("base")), col("base") + 3).otherwise(col("base")))
        .drop("base")
      withSentinel(waved, hi)
    })

  /** Late-data WATERMARK SEMANTICS contract — the one streaming behavior
    * the in-order replays never exercise: what happens when events arrive
    * after their window closed. The hourly aggregation runs with a 1-hour
    * watermark over waves where every 17th early-wave event is delayed by
    * three waves (days). By the time a late row arrives, the watermark —
    * advanced by the on-time waves — is days past its window's end, so
    * Structured Streaming DROPS it from the append-mode aggregate, and the
    * emitted windows equal the batch aggregate over the ON-TIME rows only:
    * that exact on-time-only SQL is the DuckDB oracle, so a row that
    * leaked back in (or an on-time row wrongly dropped) hash-mismatches.
    * The drops themselves are not silent: the run records
    * Σ numRowsDroppedByWatermark in [[lateDropCounts]] and StreamingSpec
    * pins it EQUAL to the planted late GROUP count — the metric counts at
    * the state operator, AFTER map-side partial aggregation, so it sees
    * one row per (window, type) group per batch (measured: 76 raw rows →
    * 75 counted in one batch where two shared a group). Determinism: waves
    * arrive in file order one per trigger, the watermark sequence is a
    * pure function of per-wave max event times, and every drop decision
    * sits days from the eviction boundary.
    */
  def lateReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val ev = rawEvents(s, d)
    val emitted = replayedSink(s, d, "graft_late_replay_",
        Waves(lateEventWaves(s, d), ev.schema),
        inspect = q => lateDropCounts.put(d, q.recentProgress.toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum)) {
      windowedEventStats(_, "ts", "1 hour", "1 hour")
    }
    emitted.filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("hour_us"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("hour_us"), col("event_type"))
  }

  /** STREAMING INCREMENTAL MV MAINTENANCE — the seventeenth replay
    * contract, and the streaming twin of pipeline_mv_refresh's batch
    * refresh: lineitem rows arrive in six ship-date-ordered waves, and a
    * `foreachBatch` writer maintains the month-partitioned daily rollup
    * after every micro-batch — aggregate the batch to daily grain, read
    * back ONLY the touched month partitions, merge additively, stage, and
    * dynamic-partition-overwrite those months (the exact merge the batch
    * fixture performs once, now performed per arriving batch; this is the
    * Delta Live Tables / streaming-upsert serving shape). Additive
    * integer measures make the final MV independent of how rows were
    * sliced into batches, so the monthly report read from the streamed MV
    * is judged VERBATIM by pipeline_mv_refresh's oracle — the direct
    * fact-table SQL — and any double-count, clobbered month, or dropped
    * batch hash-mismatches. Once per JVM like every replay contract.
    */
  def mvReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    s.read.parquet(mvStreamDir(s, d))
      .groupBy(col("ship_month"))
      .agg(countDistinct(col("ship_day")).as("n_days"),
        sum(col("n_items")).as("n_items"),
        sum(col("sum_qty")).as("sum_qty"),
        sum(col("revenue_cents")).as("revenue_cents"))
      .orderBy(col("ship_month"))

  /** Streamed-MV directory — runs the once-per-JVM maintenance on first
    * call; shared by the contract and StreamingSpec's day-granularity pin.
    */
  private[graft] def mvStreamDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mvstream", d) { root =>
      val out = root.resolve("mv").toString
      val slim = graft.Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_quantity").cast("bigint").as("qty"),
        expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
          .as("net_cents"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        to_date(col("l_shipdate")).as("ship_day"))
      val src = waveFiles("mvli", d,
        slim.withColumn("wave", rangeWave(slim, "unix_date(ship_day)", 6, exactDiv = true)._1))
      def daily(src: DataFrame): DataFrame = src
        .groupBy(col("ship_month"), col("ship_day"))
        .agg(count(lit(1)).as("n_items"), sum(col("qty")).as("sum_qty"),
          sum(col("net_cents")).as("revenue_cents"))
      replayBatches(s, root, Waves(src, slim.schema)) { (batch: DataFrame, _: Long) =>
        val delta = daily(batch)
        val exists = java.nio.file.Files.exists(
          java.nio.file.Paths.get(out))
        val merged = if (!exists) delta
        else {
          val touched = delta.select(col("ship_month")).distinct()
          s.read.parquet(out)
            .join(broadcast(touched), Seq("ship_month"), "left_semi")
            .unionByName(delta)
            .groupBy(col("ship_month"), col("ship_day"))
            .agg(sum(col("n_items")).as("n_items"),
              sum(col("sum_qty")).as("sum_qty"),
              sum(col("revenue_cents")).as("revenue_cents"))
        }
        val stage = root.resolve(s"stage").toString
        merged.write.mode("overwrite").parquet(stage)
        // per-write option, NOT a session-conf flip (concurrent plans
        // on the shared session must not inherit dynamic overwrite)
        s.read.parquet(stage)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("ship_month").parquet(out)
      }
      out
    }

  /** STREAMING BLOOM-SIDECAR APPEND — the eighteenth replay contract, and
    * the missing append path of the bloom-index maintenance story (delete
    * reconciles incrementally, compaction re-indexes; a streaming INGEST
    * previously had no sidecar path at all): lineitem rows arrive in six
    * ship-date-ordered waves, and a `foreachBatch` writer appends each
    * micro-batch's rows into the month-partitioned tree and then appends
    * fresh bloom sidecar rows for ONLY the files that batch created —
    * never re-reading, never rebuilding, exactly the per-commit index
    * append a Delta/Iceberg writer performs. The judged readout is the
    * seven-key point-lookup serve THROUGH the streamed sidecars over the
    * streamed tree, hash-checked by pipeline_bloom_index's VERBATIM
    * oracle: a batch whose files never got sidecar rows makes its keys'
    * rows unfindable (bloom has no false negatives — a missing index row
    * is an unprobeable file) and mismatches; DiagnosticsSpec pins the
    * final index ↔ tree 1:1 with true per-file row counts. Once per JVM
    * like every replay contract.
    */
  def bloomReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val root0 = bloomStreamDir(s, d)
    // the pipeline_bloom_index point-lookup serve, VERBATIM, through the
    // STREAMED sidecars over the STREAMED tree
    import s.implicits._
    val probes = LakeFixture.BloomIdxKeys.toDF("k")
    val files = LakeIndex.matchedFilesOnly(s, s"$root0/index", probes)
    LakeProtocol.readMatchedFiles(s, s"$root0/data", files.toSeq)
      .join(broadcast(probes), col("l_orderkey") === col("k"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("qty")).as("sum_qty"),
        sum(col("net_cents")).as("revenue_cents"),
        countDistinct(col("ship_month")).as("n_ship_months"))
      .orderBy(col("l_orderkey"))
  }

  /** Streamed bloom tree+index root — runs the once-per-JVM ingest on
    * first call; shared by the contract and DiagnosticsSpec's 1:1 pin.
    */
  private[graft] def bloomStreamDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    graft.Fixtures.memo("graft_bloomstream", d) { root =>
      val dataDir = root.resolve("data").toString
      val idxDir = root.resolve("index").toString
      val slim = graft.Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("bigint").as("qty"),
        expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
          .as("net_cents"),
        to_date(col("l_shipdate")).as("ship_day"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      val src = waveFiles("bloomli", d,
        slim.withColumn("wave", rangeWave(slim, "unix_date(ship_day)", 6, exactDiv = true)._1))
      replayBatches(s, root, Waves(src, slim.schema)) { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("ship_month").parquet(dataDir)
        // incremental sidecar APPEND: index exactly the files this
        // batch created (already-indexed paths are a metadata-scale
        // read of the sidecar table — one row per data file)
        val indexed: Set[String] =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(idxDir)))
            s.read.parquet(idxDir).select(col("file"))
              .collect().map(_.getString(0)).toSet
          else Set.empty
        val fresh = s.read.parquet(dataDir).inputFiles
          .map(LakeIndex.normPath).filterNot(indexed.contains).toSeq
        if (fresh.nonEmpty)
          LakeProtocol.bloomIndexRows(s, LakeProtocol.readMatchedFiles(s, dataDir, fresh),
              fresh.length)
            .write.mode("append").parquet(idxDir)
      }
      root.toString
    }
  }

  /** STREAMING IVF INDEX MAINTENANCE — the nineteenth replay contract,
    * and the missing INGEST path of the ANN index story (fresh build and
    * batch delta-upsert exist — sim_ivf_persisted / sim_ivf_incremental —
    * but no stream maintained the persisted index): vectors arrive in
    * five id waves through a file source, and a `foreachBatch` writer
    * coarse-assigns each micro-batch against the FROZEN centroids
    * ([[graft.operators.Similarity.ivfAssignSlice]]) and appends the
    * assigned rows cid-partitioned — each batch touches ONLY the
    * partitions its vectors land in, exactly the per-commit upsert a live
    * vector store performs. The judged readout is the IDENTICAL
    * probe-and-rank serve the batch paths use, over the STREAMED index,
    * hash-checked by the VERBATIM fresh-rebuild oracle (ivfTopkSql): a
    * dropped wave loses its vectors' rows from every probed list and
    * mismatches; a double-applied wave duplicates candidates, which the
    * serve's distinct would hide — so StreamingSpec additionally pins the
    * streamed index ≡ the fresh rebuild partition-for-partition, row
    * multisets included. Assignment being a pure per-vector function of
    * the frozen centroids is what makes streamed ≡ rebuilt exact; at
    * 100 TB the waves are commits, centroids refreeze on re-train, and
    * compaction rewrites hot partitions without changing served results.
    */
  def ivfReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.operators.Similarity.ivfServeFromDir(s, d, ivfStreamIdxDir(s, d))

  /** Streamed IVF index dir — runs the once-per-JVM ingest on first call;
    * shared by the contract and StreamingSpec's rebuild-equality pin.
    */
  private[graft] def ivfStreamIdxDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val Sim = graft.operators.Similarity
    graft.Fixtures.memo("graft_ivfstream", d) { root =>
      val idxDir = root.resolve("index").toString
      val v = Sim.vectors(s, d)
      val src = waveFiles("ivfv", d,
        v.withColumn("wave", (col("vec_id") % 5).cast("int")))
      // frozen centroids derived ONCE before the stream starts — each
      // micro-batch assigns against this frame instead of re-scanning
      // the embeddings source per batch
      val cent = Sim.ivfCentroids(s, d)
      replayBatches(s, root, Waves(src, v.schema)) { (batch: DataFrame, _: Long) =>
        Sim.ivfAssignSlice(s, cent, batch)
          .write.mode("append").partitionBy("cid").parquet(idxDir)
      }
      idxDir
    }
  }

  /** Whether the streamed graph build took the honest full-rebuild
    * fallback (mega-bucket regime) instead of streaming the delta — the
    * same per-dataset record [[graft.operators.Similarity.knnIncrFellBack]]
    * keeps for the batch twin; StreamingSpec consults it.
    */
  private[graft] def graphStreamFellBack(
      s: org.apache.spark.sql.SparkSession, d: String): Boolean =
    graphStream(s, d)._2

  /** STREAMING GRAPH-ANN MAINTENANCE — the twenty-third replay contract,
    * closing the last incremental index without a streaming twin (IVF:
    * r14; bloom: r13; VERDICT r15 #5): the kNN serve graph is built on the
    * base slice (vec_id % 10 != 9 — the same split as the batch
    * incremental builder), then the remaining tenth arrives in five
    * rank-split waves through a file source, and a `foreachBatch` writer
    * DELTA-UPSERTS both layers per commit ([[graft.operators.Similarity
    * .graphStreamUpsert]]): new nodes get fresh top-k lists, existing
    * lists re-cut only where a new endpoint enters their candidate set,
    * signatures land under deterministic per-commit dirs (retry ⇒
    * replace). Merge-recut is a monotone fold, so five commits ≡ one
    * batch upsert ≡ a fresh rebuild — which is why the judged readout
    * (the standard beam serve over the STREAMED graph) is hash-checked by
    * sim_graph_topk's VERBATIM fresh-rebuild oracle, and StreamingSpec
    * additionally pins streamed l0/l1 ≡ the rebuilt layers frame-for-
    * frame. Same mega-bucket fallback boundary as the batch builder. At
    * 100 TB the waves are vector-batch commits against the persisted
    * graph artifact; each commit costs candidates-of-the-batch plus
    * adjacent-list re-cuts, never a corpus rebuild.
    */
  def graphReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.operators.Similarity.graphServeFromDir(s, d, graphStreamGraphDir(s, d))

  /** Streamed graph dir — runs the once-per-JVM ingest on first call;
    * shared by the contract and StreamingSpec's rebuild-equality pin.
    */
  private[graft] def graphStreamGraphDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    s"${graphStream(s, d)._1}/graph"

  /** (streamed graph root, whether the build fell back to a full rebuild). */
  private def graphStream(
      s: org.apache.spark.sql.SparkSession, d: String): (String, Boolean) = {
    val Sim = graft.operators.Similarity
    graft.Fixtures.memo("graft_graphstream", d) { root =>
      val incremental = Sim.graphStreamInit(s, d, root.toString)
      if (incremental) {
        val v = Sim.vectors(s, d)
        // rank-split waves (ntile over the sorted delta ids): every wave
        // nonempty at any SF, same reasoning as the eq-delete contract
        val src = waveFiles("graphv", d,
          rankWaves(v.filter(col("vec_id") % 10 === 9), "vec_id"))
        replayBatches(s, root, Waves(src, v.schema)) { (batch: DataFrame, id: Long) =>
          Sim.graphStreamUpsert(s, d, root.toString, batch, id)
        }
      }
      (root.toString, !incremental)
    }
  }

  /** STREAMING EQUALITY-DELETE INGEST — the twenty-first replay contract,
    * and the streaming half of the equality-delete story (the GDPR shape:
    * erasure REQUESTS arrive continuously; each commit appends an
    * equality-delete file of keys + its sequence number and readers see
    * the deletes immediately — no data file is ever read or rewritten on
    * the ingest path, the defining property of the strategy): erase wave
    * 1's order keys arrive in five key-hashed waves through a file
    * source, and a `foreachBatch` writer appends each micro-batch as its
    * OWN delete file at sequence batchId + 1 (every commit strictly newer
    * than the sequence-0 tree, so all apply; deletes over a static base
    * commute, which is what makes the key-hash wave split arbitrary by
    * design). The judged readout is the batch equality serve VERBATIM
    * ([[LakeProtocol.eqServeFromDir]] — one shared plan)
    * over the STREAMED delete set, hash-checked by pipeline_eq_serve's
    * copy-on-write oracle: a dropped wave under-deletes, a double-applied
    * wave is harmless by idempotence but StreamingSpec pins the streamed
    * key multiset ≡ the batch delete file exactly (exactly-once), plus
    * one delete file per commit.
    */
  def eqdelReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    LakeProtocol.eqServeFromDir(s, LakeFixture.bloomIdxDataDir(s, d),
      eqdelStreamDir(s, d))
      .transform(LakeServeQueries.monthRollup)
  }

  /** Streamed equality-delete dir — runs the once-per-JVM ingest on first
    * call (a cache lookup afterwards), shared by the serving contract and
    * StreamingSpec's exactly-once pin.
    */
  private[graft] def eqdelStreamDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val root0 = graft.Fixtures.memo("graft_eqdelstream", d) { root =>
      val delDir = root.resolve("eq_deletes").toString
      val keys = LakeFixture.eraseOrderKeys(s, d)
      // rank-based wave split (not a hash mod): a hash bucket can come up
      // EMPTY at an untested SF, and an empty wave file produces a commit
      // whose seq never appears in the delete set — breaking the
      // one-file-per-commit pin. ntile over the sorted keys guarantees
      // every wave nonempty whenever |keys| >= 5; the erase key set is
      // metadata-scale, so the single-partition window is free.
      val src = waveFiles("eqdel", d, rankWaves(keys, "k"))
      replayBatches(s, root, Waves(src, keys.schema)) { (batch: DataFrame, id: Long) =>
        // idempotent commit: a micro-batch RETRY after a partial append
        // must REPLACE its delete file, not duplicate it (the
        // one-file-per-commit / exactly-once contract). Write to a
        // per-seq scratch dir, then move the single part file onto the
        // deterministic per-seq name.
        val seq = id + 1L
        val scratch = root.resolve(s"commit_tmp_$seq")
        batch.select(col("k"), lit(seq).as("seq_del"))
          .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = {
          val ls = java.nio.file.Files.list(scratch)
          try ls.filter(p => p.getFileName.toString.startsWith("part-"))
            .findFirst().get()
          finally ls.close()
        }
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(delDir))
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(delDir, s"seq-$seq.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.Fixtures.deleteRecursively(scratch)
      }
      root.toString
    }
    s"$root0/eq_deletes"
  }

  /** STREAMING DELETION-VECTOR MAINTENANCE — the twenty-second replay
    * contract, the streaming half of the deletion-vector story: erase
    * wave 1's order keys arrive in five rank-split waves, and every
    * micro-batch (a) resolves ITS keys to physical positions (bloom-plan
    * + row_index scan of only matched files — [[graft.sources.lake
    * .LakeProtocol.purgePositions]], the same step the batch writer
    * runs), (b) packs them into per-file bitmaps, and (c) MERGES into
    * the running sidecar: each touched file's vector is REPLACED by the
    * OR of old and new bits ([[graft.sources.lake.LakeProtocol
    * .dvMergeBitmaps]]). No sidecar list grows per commit — the DV
    * property — and a micro-batch RETRY is harmless twice over: the
    * versioned dir write is deterministic per batch id, and OR is
    * idempotent. The judged readout is the DV scan VERBATIM
    * ([[LakeProtocol.dvApply]] — one shared plan) over
    * the streamed final sidecar, hash-checked by pipeline_eq_serve's
    * copy-on-write oracle; DvSpec additionally pins the streamed sidecar
    * ≡ the batch wave-1 sidecar frame-for-frame (same files, same bits,
    * same popcounts).
    */
  def dvReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    LakeProtocol.dvApplyOverBase(s, LakeIndex.normPath(LakeFixture.bloomIdxDataDir(s, d)),
        s.read.parquet(dvStreamDir(s, d)))
      .transform(LakeServeQueries.monthRollup)
  }

  /** Streamed deletion-vector sidecar dir (the latest merged version) —
    * runs the once-per-JVM ingest on first call; shared by the serving
    * contract and DvSpec's streamed-≡-batch pin.
    */
  private[graft] def dvStreamDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    graft.Fixtures.memo("graft_dvstream", d) { root =>
      val keys = LakeFixture.eraseOrderKeys(s, d)
      val src = waveFiles("dv", d, rankWaves(keys, "k"))
      val latest = root.resolve("LATEST")
      replayBatches(s, root, Waves(src, keys.schema)) { (batch: DataFrame, id: Long) =>
        val delta = LakeProtocol.dvFromPositions(s,
          LakeProtocol.purgePositions(s, LakeFixture.bloomIdxDataDir(s, d),
            s"${LakeFixture.bloomIdxDir(s, d)}/index", batch.select(col("k"))))
        val cur =
          if (java.nio.file.Files.exists(latest))
            Some(s.read.parquet(
              java.nio.file.Files.readString(latest)))
          else None
        val merged = cur.fold(delta)(c => LakeProtocol.dvMergeBitmaps(c, delta))
        // deterministic per-batch version dir, staged then swapped so
        // a retry REPLACES its own commit (and the merge reads the
        // PREVIOUS version, never the dir being written)
        val out = root.resolve(s"dv_v$id")
        val stage = root.resolve(s"dv_v${id}_stage")
        merged.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        graft.Fixtures.deleteRecursively(out)
        java.nio.file.Files.move(stage, out)
        val tmp = root.resolve("LATEST.tmp")
        java.nio.file.Files.writeString(tmp, out.toString)
        java.nio.file.Files.move(tmp, latest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      java.nio.file.Files.readString(latest)
    }
  }

  /** STREAMING CHANGELOG (CDF) CONSUMPTION — the twentieth replay
    * contract, and the streaming twin of pipeline_changelog_apply_mv:
    * a downstream daily rollup is seeded from snapshot 2's (wave-1's)
    * refreshed MV, then the 2→4 snapshot changelog arrives in six
    * month-hashed waves and a `foreachBatch` consumer folds each batch's
    * SIGNED deltas (insert/update_post add, delete/update_pre subtract)
    * into ONLY the touched month partitions via dynamic partition
    * overwrite — exactly how a Delta-CDF subscriber maintains a
    * downstream aggregate, never rescanning the fact. Additive deltas
    * commute, so the month-hash wave split is arbitrary by design (any
    * partitioning of the changelog converges to the same state). The
    * judged readout is the final rollup (rows a delete wave emptied drop
    * out at n_items = 0), hash-checked by pipeline_delete_mv2's VERBATIM
    * oracle — the engine's own thrice-refreshed MV of the same epoch: a
    * wrong verb sign, a lost wave, a double-applied batch, or a
    * clobbered untouched month all mismatch.
    */
  def cdfReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val out0 = graft.Fixtures.memo("graft_cdfstream", d) { root =>
      val out = root.resolve("mv").toString
      s.read.parquet(s"${LakeFixture.deleteExecDir(s, d)}/mv")
        .select(col("ship_month"), col("ship_day"), col("n_items"),
          col("sum_qty"), col("revenue_cents"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(out)
      val log = s.read.parquet(LakeFixture.changelogDir(s, d))
        .withColumn("sgn",
          when(col("change_type").isin("insert", "update_post"), col("n"))
            .otherwise(-col("n")))
        .select(col("ship_month"), col("ship_day"), col("sgn"),
          col("qty"), col("net_cents"))
      val src = waveFiles("cdf", d, log.withColumn("wave",
        pmod(xxhash64(col("ship_month")), lit(6L)).cast("int")))
      replayBatches(s, root, Waves(src, log.schema)) { (batch: DataFrame, _: Long) =>
        val delta = batch.groupBy(col("ship_month"), col("ship_day"))
          .agg(sum(col("sgn")).as("d_items"),
            sum(col("sgn") * col("qty")).as("d_qty"),
            sum(col("sgn") * col("net_cents")).as("d_cents"))
        val touched = delta.select(col("ship_month")).distinct()
        val merged = s.read.parquet(out)
          .join(broadcast(touched), Seq("ship_month"), "left_semi")
          .join(delta, Seq("ship_month", "ship_day"), "full_outer")
          .select(col("ship_month"), col("ship_day"),
            (coalesce(col("n_items"), lit(0L)) +
              coalesce(col("d_items"), lit(0L))).as("n_items"),
            (coalesce(col("sum_qty"), lit(0L)) +
              coalesce(col("d_qty"), lit(0L))).as("sum_qty"),
            (coalesce(col("revenue_cents"), lit(0L)) +
              coalesce(col("d_cents"), lit(0L))).as("revenue_cents"))
        val stage = root.resolve("stage").toString
        merged.write.mode("overwrite").parquet(stage)
        // per-write option, NOT a session-conf flip (the shared
        // session's concurrent plans must not inherit dynamic mode)
        s.read.parquet(stage)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ship_month").parquet(out)
      }
      out
    }
    s.read.parquet(out0)
      .filter(col("n_items") > 0L)
      .select(col("ship_month"), col("ship_day"), col("n_items"),
        col("sum_qty"), col("revenue_cents"))
      .orderBy(col("ship_month"), col("ship_day"))
  }

  /** Time-ordered file-source replay through [[purchaseAttribution]] — the
    * STREAM-STREAM inner join with event-time bounds on both sides (the
    * remaining Structured Streaming operator family without a driver
    * contract). Judged by the plain batch self-join oracle: each purchase
    * matched to the same user's signups within the preceding hour.
    *
    * Why the emitted set is exactly the batch join: waves arrive in
    * event-time order with a lag-one watermark, and the 2-hour watermark
    * delay means a signup's state survives until every event <= s_ts + 3h
    * has arrived — which includes every purchase inside its 1-hour match
    * window — so no qualifying pair is evicted before it matches, and an
    * inner join emits eagerly (no finalization wait, the sentinel is
    * inert). Pairs are unique by (purchase_id, signup_id), so the set
    * comparison is order-free.
    */
  def attributionReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val ev = rawEvents(s, d)
    val emitted = replayedSink(s, d, "graft_attr_replay_",
        Waves(rawEventWaves(s, d), ev.schema)) {
      purchaseAttribution(_, "ts", "1 hour", "2 hours")
    }
    emitted.select(col("user_id"), col("purchase_id"), col("signup_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("s_ts")).as("s_ts_us"))
      .orderBy(col("user_id"), col("purchase_id"), col("signup_id"))
  }

  /** Stateless streaming perplexity gate — the incremental twin of
    * text_bigram_ppl, and the CCNet serving shape: the bigram LM is a
    * per-JVM ARTIFACT (TextOps.pplModel, fixture-cached on the dataset
    * fingerprint) shipped to workers inside the task closure, and each
    * arriving doc is scored by one pure function (same tokenizer, same
    * Laplace p, same micro-nat floor quantization, same tier cut as the
    * batch dataflow). No state store at all — scoring is per-row — so the
    * contract waves by doc_id % 5, an arbitrary slicing, and the emitted
    * rows are judged VERBATIM by text_bigram_ppl's batch oracle.
    */
  def pplReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = graft.operators.TextOps.pplScoredCorpus(s, d)
      .withColumn("wave", pmod(col("doc_id"), lit(5)).cast("int"))
    val model = graft.operators.TextOps.pplModel(s, d)
    val emitted = replayedSink(s, d, "graft_ppl_replay_",
        Waves(waveFiles("ppl", d, scored), scored.drop("wave").schema)) {
      _.as[(Long, String)]
        .mapPartitions { it =>
          it.flatMap { case (id, text) =>
            graft.operators.TextOps.pplScoreJvm(model, text)
              .map { case (n, avg, tier) => (id, n, avg, tier) }
          }
        }
        .toDF("doc_id", "n_bigrams", "avg_nll_u6", "tier")
    }
    emitted.orderBy(col("doc_id"))
  }

  /** 24th replay contract — the LAKEHOUSE CDC TAIL (VERDICT r16 #5):
    * `spark.readStream.format("graft-lake")` over the streaming lineage
    * world ([[graft.operators.LakeFixture.lakeStreamDir]]), one
    * micro-batch per appended snapshot (`maxSnapshotsPerTrigger=1`, so
    * the offset/admission machinery is actually exercised — 5 triggers,
    * not one catch-all). The emitted rows are the manifest-diff file
    * additions of snapshots 1..5, which by fixture construction are
    * EXACTLY the rows the batch `pipeline_incremental_scan` reads
    * between the branch fork and head — so the judged monthly readout
    * shares that oracle VERBATIM, and the stream and batch incremental
    * paths can never drift. Determinism: each wave is a deterministic
    * orderkey slice; the memory sink accumulates append-only rows whose
    * multiset is trigger-order independent.
    */
  def lakeReplayContract(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val root = graft.operators.LakeFixture.lakeStreamDir(s, d)
    val emitted = replayedSink(s, d, "graft_lake_replay_",
        Live(s.readStream.format("graft-lake")
          .option("metaRoot", root)
          .option("startSnapshot", "0")
          .option("maxSnapshotsPerTrigger", "1")
          .load())) {
      _.select(col("l_orderkey"), col("qty"), col("net_cents"), col("ship_month"))
    }
    LakeServeQueries.monthQtyRollup(emitted)
  }

  /** Driver-surfaced streaming queries (SparkEntry contract). */
  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "stream_ppl_replay" -> ((s, d) => pplReplayContract(s, d)),
    "stream_attribution_replay" -> ((s, d) => attributionReplayContract(s, d)),
    "stream_hourly_replay" -> ((s, d) => hourlyReplayContract(s, d)),
    "stream_session_replay" -> ((s, d) => sessionReplayContract(s, d)),
    "stream_chunk_replay" -> ((s, d) => chunkReplayContract(s, d)),
    "stream_intake_replay" -> ((s, d) => intakeReplayContract(s, d)),
    "stream_funnel_replay" -> ((s, d) => funnelReplayContract(s, d)),
    "stream_heavy_hitters_replay" -> ((s, d) => heavyHittersReplayContract(s, d)),
    "stream_neardup_replay" -> ((s, d) => nearDupReplayContract(s, d)),
    "stream_scd2_replay" -> ((s, d) => scd2ReplayContract(s, d)),
    "stream_compact_replay" -> ((s, d) => compactReplayContract(s, d)),
    "stream_bottomk_replay" -> ((s, d) => bottomKReplayContract(s, d)),
    "stream_rate_anomaly_replay" -> ((s, d) => rateAnomalyReplayContract(s, d)),
    "stream_psi_replay" -> ((s, d) => psiReplayContract(s, d)),
    "stream_late_replay" -> ((s, d) => lateReplayContract(s, d)),
    "stream_mv_replay" -> ((s, d) => mvReplayContract(s, d)),
    "stream_bloom_replay" -> ((s, d) => bloomReplayContract(s, d)),
    "stream_ivf_replay" -> ((s, d) => ivfReplayContract(s, d)),
    "stream_graph_replay" -> ((s, d) => graphReplayContract(s, d)),
    "stream_cdf_replay" -> ((s, d) => cdfReplayContract(s, d)),
    "stream_eqdel_replay" -> ((s, d) => eqdelReplayContract(s, d)),
    "stream_dv_replay" -> ((s, d) => dvReplayContract(s, d)),
    "stream_semantic_replay" -> ((s, d) => semanticReplayContract(s, d)),
    "stream_lake_replay" -> ((s, d) => lakeReplayContract(s, d)))

  /** Batch-equivalent oracle for the replay: quality gate, then min-id
    * canonical per normalized key among the PASSING docs (the gate runs
    * before the dedup state on the streaming side too), then the md5 split.
    * Expression text mirrors `pipeline_clean_corpus`'s oracle fragments.
    */
  def oracleSql: Map[String, String] = {
    val toks = graft.operators.Portable.tokensSql("text")
    Map(
      // the streaming perplexity gate must reproduce the batch bigram-LM
      // scoring VERBATIM — share text_bigram_ppl's oracle text so the
      // model artifact and the batch dataflow can never drift
      "stream_ppl_replay" -> graft.operators.TextOps.oracleSql("text_bigram_ppl"),
      // the streamed chunks are compared against the batch chunk table
      // Spark-side (exact idx/offset/length/hash equality per doc); the
      // oracle pins the exact per-doc byte total and the TRUE — the
      // cdc_*_chunks contract pattern
      "stream_chunk_replay" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS total_len,
        |  TRUE AS stream_eq_batch
        |FROM documents ORDER BY doc_id""".stripMargin,
      // the session replay must reproduce q20's batch sessionization
      // VERBATIM — share its oracle text so the two contracts cannot drift
      "stream_session_replay" -> graft.operators.Relational.oracleSql("q20_sessionize_events"),
      // the tumbling-window replay must reproduce q21's batch hourly stats
      // VERBATIM — shared text, same no-drift argument
      "stream_hourly_replay" -> graft.operators.Relational.oracleSql("q21_hourly_event_stats"),
      // the streamed MV's monthly report must equal the batch refresh's —
      // share pipeline_mv_refresh's oracle text (the direct fact-table
      // SQL) so the streaming maintenance and the batch fixture cannot
      // drift
      "stream_mv_replay" -> graft.operators.LayoutQueries.oracleSql("pipeline_mv_refresh"),
      // the streamed sidecar ingest is judged by the BATCH bloom serve's
      // verbatim oracle: same seven probes, same aggregates
      "stream_bloom_replay" -> graft.operators.LayoutQueries.oracleSql("pipeline_bloom_index"),
      // the streamed IVF index must serve EXACTLY what a fresh batch
      // rebuild serves — share the fresh-rebuild retrieval oracle verbatim
      "stream_ivf_replay" -> graft.operators.Similarity.ivfTopkOracle,
      // the streamed graph serves bit-identically to a fresh rebuild —
      // judged by sim_graph_topk's verbatim oracle, same as the batch
      // incremental twin
      "stream_graph_replay" -> graft.operators.Similarity.graphTopkOracle,
      // the CDF-maintained rollup must equal the engine's own
      // thrice-refreshed MV of the same epoch — share its oracle verbatim
      "stream_cdf_replay" -> graft.operators.LakeServeQueries.oracleSql("pipeline_delete_mv2"),
      // the streamed equality-delete set must serve EXACTLY the batch
      // equality serve's state — share pipeline_eq_serve's copy-on-write
      // oracle verbatim (all delete strategies converge to one state)
      "stream_eqdel_replay" -> graft.operators.LakeServeQueries.oracleSql("pipeline_eq_serve"),
      // the streamed deletion-vector sidecar must serve EXACTLY the
      // wave-1 copy-on-write state — the same shared-oracle argument as
      // the equality-delete ingest (all delete strategies converge)
      "stream_dv_replay" -> graft.operators.LakeServeQueries.oracleSql("pipeline_eq_serve"),
      // the lakehouse CDC tail emits exactly the rows the batch
      // incremental append scan reads (fixture construction) — share its
      // oracle verbatim so the stream and batch fast paths cannot drift
      "stream_lake_replay" ->
        graft.operators.LakeServeQueries.oracleSql("pipeline_incremental_scan"),
      // the late-data contract's emitted windows must equal the batch
      // aggregate over the ON-TIME rows only: same q21 aggregate text, the
      // planted-late predicate (event_id % 17 in the first six waves)
      // excluded with the SAME exact integer wave arithmetic (`//` here,
      // `div` on longs in lateEventWaves)
      "stream_late_replay" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
        |w AS (SELECT lo, greatest(1, (hi - lo) // 8 + 1) AS width FROM b),
        |ot AS (
        |  SELECT e.* FROM events e CROSS JOIN w
        |  WHERE NOT (e.event_id % 17 = 0 AND (epoch_us(e.ts) - lo) // width <= 5))
        |SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |  count(*) AS n, CAST(round(CAST((sum(value)) AS DECIMAL(28,8)), 2) AS DOUBLE) AS total_value
        |FROM ot GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin,
      // the stream-stream join's emitted pairs must equal the batch
      // self-join: purchases matched to same-user signups in the
      // preceding hour
      "stream_attribution_replay" ->
      """SELECT p.user_id, p.event_id AS purchase_id, s.event_id AS signup_id,
        |  epoch_us(p.ts) AS p_ts_us, epoch_us(s.ts) AS s_ts_us
        |FROM events p JOIN events s
        |  ON s.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND s.event_type = 'signup'
        |  AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY p.user_id, purchase_id, signup_id""".stripMargin,
      // the funnel replay must reproduce q51's batch truth VERBATIM — share
      // its oracle text so the two contracts can never drift apart
      "stream_funnel_replay" -> graft.operators.Relational.oracleSql("q51_funnel"),
      // the near-dup replay must reproduce the batch LSH verify VERBATIM —
      // share dedup_minhash_lsh's oracle text so the contracts cannot drift
      "stream_neardup_replay" -> graft.operators.Dedup.oracleSql("dedup_minhash_lsh"),
      // the streaming bottom-k sampler must converge to the batch sample
      // VERBATIM — share pipeline_bottomk_sample's oracle text
      "stream_bottomk_replay" ->
        graft.operators.SamplingQueries.oracleSql("pipeline_bottomk_sample"),
      // the streaming drift monitor's final histogram must reproduce the
      // batch PSI report VERBATIM — share pipeline_psi_drift's oracle text
      // (the judging chain is the shared psiFromHists, so both sides of
      // the comparison are single-sourced)
      "stream_psi_replay" -> graft.operators.PipelineOps.oracleSql("pipeline_psi_drift"),
      // the semantic replay must reproduce the batch SemDeDup VERBATIM —
      // judged by the UNCAPPED drop chain (same text minus the shard
      // cells): the stream's kept-set check is shard-blind, so past the
      // batch shard cap (sf0.1+) it finds exactly the cross-cell pairs the
      // capped scan trades away — see semanticDropUncappedOracleSql's doc
      "stream_semantic_replay" -> graft.operators.Clustering.semanticDropUncappedOracleSql,
      // the compaction replay must reproduce q64's batch net changes
      // VERBATIM — share its oracle text so the two contracts cannot drift
      "stream_compact_replay" ->
        graft.operators.Relational.oracleSql("q64_changelog_compact"),
      // q49's oracle restricted to closed intervals (append-mode SCD2 never
      // emits the open tail) — wrapped, not rewritten, so they cannot drift
      "stream_scd2_replay" ->
      s"""SELECT * FROM (
         |${graft.operators.Relational.oracleSql("q49_scd2_intervals")}
         |) WHERE valid_to_us IS NOT NULL ORDER BY user_id, valid_from_us""".stripMargin,
      // q56's oracle minus each type's final hour (that bucket never closes
      // in the stream); the exclusion bound comes from the raw events table
      // so it is exact even if the final hour misses the m >= 12 cut
      "stream_rate_anomaly_replay" ->
      s"""SELECT event_type, epoch_us(hr) AS hr_us, n, m, sx, sx2, is_anomaly
         |FROM (
         |${graft.operators.Relational.oracleSql("q56_rate_anomaly")}
         |) b
         |WHERE b.hr < (SELECT max(date_trunc('hour', ts)) FROM events e2
         |              WHERE e2.event_type = b.event_type)
         |ORDER BY event_type, hr_us""".stripMargin,
      // the heavy set (true count > n_lang/65) is exact and deterministic;
      // the sketch booleans are TRUE for any arrival order by the MG bound
      "stream_heavy_hitters_replay" ->
      s"""WITH tok AS (SELECT lang, unnest($toks) AS term FROM documents),
         |n AS (SELECT lang, count(*) AS n_tok FROM tok GROUP BY 1),
         |exact AS (SELECT lang, term, count(*) AS n_exact FROM tok GROUP BY 1, 2)
         |SELECT e.lang, e.term, e.n_exact, TRUE AS sketch_ok
         |FROM exact e JOIN n USING (lang)
         |WHERE e.n_exact > n_tok / 65.0
         |ORDER BY lang, term""".stripMargin,
      "stream_intake_replay" ->
      s"""WITH ${graft.operators.Dedup.corpusSql},
         |q AS (
         |  SELECT doc_id, text,
         |    (0.5*(1.0 - length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE))
         |     + 0.5*least(length(regexp_replace(text,'\\s+','','g')) / CAST(len($toks) AS DOUBLE) / 8.0, 1.0)) AS quality
         |  FROM corpus),
         |pass AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.45),
         |canon AS (
         |  SELECT doc_id, quality,
         |    min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS canonical
         |  FROM pass)
         |SELECT doc_id,
         |  ${graft.operators.Portable.rndSql("quality", 4)} AS quality,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'test'
         |       WHEN md5(CAST(doc_id AS VARCHAR)) < '33' THEN 'val'
         |       ELSE 'train' END AS split
         |FROM canon WHERE doc_id = canonical
         |ORDER BY doc_id""".stripMargin)
  }
}
