package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Chunker

case class Blob(id: Long, text: String, ts: Timestamp)
case class Ev(user_id: Long, event_type: String, value: Double, ts: Timestamp)
case class Doc(doc_id: Long, text: String, ts: Timestamp)

class StreamingSpec extends AnyFunSuite with graft.SharedSpark {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("chunkDedupStream keeps first occurrence of each chunk hash across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = ("spark " * 100) + ("chunk " * 80)
    val text3 = "fresh bytes " * 40
    val ms = MemoryStream[Blob]
    val q = Streaming
      .chunkDedupStream(ms.toDF(), "id", "text", "ts", "fixed", 64, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      ms.addData(Blob(1L, text, ts(0)))
      q.processAllAvailable()
      // identical blob again: every chunk hash already in state -> no new rows
      ms.addData(Blob(2L, text, ts(1)))
      q.processAllAvailable()
      // distinct content -> new rows; sentinel batch flushes any buffering
      ms.addData(Blob(3L, text3, ts(2)))
      q.processAllAvailable()
      ms.addData(Blob(4L, text, ts(3)))
      q.processAllAvailable()

      val got = spark.table("dedup_out").select($"hash").as[Long].collect().toSeq
      // every distinct hash exactly once (blob 2/4 fully deduped against 1)
      assert(got.distinct.size == got.size)
      val want = Streaming
        .chunkStream(Seq(Blob(1L, text, ts(0)), Blob(3L, text3, ts(2))).toDF(),
          "id", "text", "ts", "fixed", 64)
        .select($"hash").as[Long].collect().toSet
      assert(got.toSet == want)
    } finally q.stop()
  }

  test("windowedEventStats matches the batch aggregation once the watermark closes windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, "click", 1.0, ts(5)), Ev(2, "click", 2.0, ts(20)),
      Ev(1, "view", 3.0, ts(61)), Ev(2, "view", 4.0, ts(95)))
    val ms = MemoryStream[Ev]
    val q = Streaming.windowedEventStats(ms.toDF(), "ts", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      // sentinel far in the future pushes the watermark past every window
      ms.addData(Ev(99, "sentinel", 0.0, ts(100000)))
      q.processAllAvailable()
      val got = spark.table("win_out")
        .filter($"event_type" =!= "sentinel")
        .select($"window_start", $"event_type", $"n", $"total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val want = events.toDF()
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        .select($"window.start", $"event_type", $"n", $"total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("sessionStats emits gap-separated sessions equal to the batch session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: two sessions (gap > 30 min); user 2: one session
    val events = Seq(
      Ev(1, "a", 1.0, ts(0)), Ev(1, "a", 1.0, ts(10)), Ev(1, "a", 2.0, ts(120)),
      Ev(2, "a", 5.0, ts(50)), Ev(2, "a", 5.0, ts(70)))
    val ms = MemoryStream[Ev]
    val q = Streaming.sessionStats(ms.toDF(), "ts", "30 minutes", "30 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      ms.addData(Ev(99, "sentinel", 0.0, ts(100000)))
      q.processAllAvailable()
      val got = spark.table("sess_out").filter($"user_id" =!= 99)
        .select($"user_id", $"n_events", $"total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == Set((1L, 2L, 2.0), (1L, 1L, 2.0), (2L, 2L, 10.0)))
    } finally q.stop()
  }

  test("replaying the driver's events table through the stream matches the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"event_type", $"value", $"ts")
      .as[Ev].collect().toSeq
    assert(events.nonEmpty)
    val maxTs = events.map(_.ts.getTime).max

    val ms = MemoryStream[Ev]
    val q = Streaming.windowedEventStats(ms.toDF(), "ts", "1 hour", "1 hour")
      .writeStream.format("memory").queryName("replay_out").outputMode("append").start()
    try {
      ms.addData(events: _*)
      q.processAllAvailable()
      ms.addData(Ev(99999, "sentinel", 0.0, new Timestamp(maxTs + 86400000L)))
      q.processAllAvailable()
      val got = spark.table("replay_out")
        .filter($"event_type" =!= "sentinel")
        .select($"window_start", $"event_type", $"n", $"total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val want = events.toDF()
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        .select($"window.start", $"event_type", $"n", $"total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("stream-stream join: purchases attribute to signups within the hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class E2(user_id: Long, event_id: Long, event_type: String, ts: Timestamp)
    val ms = MemoryStream[(Long, Long, String, Timestamp)]
    val df = ms.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = Streaming.purchaseAttribution(df, "ts", "1 hour", "2 hours")
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      // base offset 1 day: an event time of exactly epoch 0 EQUALS the
      // initial watermark and is dropped as late before it reaches join state
      val base = 1440L
      ms.addData(
        (1L, 100L, "signup", ts(base)),
        (1L, 101L, "purchase", ts(base + 30)),  // within 1h of signup -> match
        (1L, 102L, "purchase", ts(base + 90)),  // 90 min after signup -> no match
        (2L, 200L, "purchase", ts(base + 10)))  // no signup -> no match
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .select($"user_id", $"purchase_id", $"signup_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 101L, 100L)))
    } finally q.stop()
  }

  test("file source -> transform -> file sink round-trip with checkpointing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream")
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    try {
      // batch 1 on disk before the stream starts; batch 2 lands mid-stream
      val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
        .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
      events.filter($"event_id" % 2 === 0).write.parquet(in)
      val q = spark.readStream.schema(events.schema).parquet(in)
        .withColumn("value_cents", ($"value" * 100).cast("long"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        events.filter($"event_id" % 2 === 1).write.mode("append").parquet(in)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
      assert(got.count() == events.count())
      assert(got.agg(sum($"value_cents")).as[Long].head() ==
        events.agg(sum(($"value" * 100).cast("long"))).as[Long].head())
    } finally {
      java.nio.file.Files.walk(base).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("chunkChangeStream (streaming CDC) emits the batch chunkDiff incrementally per version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t1 = "aaaa bbbb cccc dddd " * 50
    val t2 = "aaaa bbbb XXXX dddd " * 50
    val ms = MemoryStream[BlobVersion]
    val q = Streaming.chunkChangeStream(ms.toDS(), "fastcdc", 64, 1L)
      .writeStream.format("memory").queryName("cdc_change_out").outputMode("append").start()
    try {
      ms.addData(BlobVersion(1L, 1, t1.getBytes("UTF-8"))); q.processAllAvailable()
      ms.addData(BlobVersion(1L, 2, t2.getBytes("UTF-8"))); q.processAllAvailable()

      val v1 = Seq((1L, t1)).toDF("doc_id", "text")
      val v2 = Seq((1L, t2)).toDF("doc_id", "text")
      val c1 = graft.operators.Chunking.chunkTable(v1, "doc_id", "text", "fastcdc", 64, 1L)
      val c2 = graft.operators.Chunking.chunkTable(v2, "doc_id", "text", "fastcdc", 64, 1L)

      // v1 against empty state: every distinct chunk hash is "added", with
      // identities equal to the batch chunk table's xxhash64 values.
      val gotV1 = spark.table("cdc_change_out").filter($"version" === 1)
      assert(gotV1.filter($"change" =!= "added").isEmpty)
      assert(gotV1.select($"hash").as[Long].collect().toSet ==
        c1.select($"hash").distinct().as[Long].collect().toSet)

      // v2 against v1: exactly the batch chunkDiff.
      val want = graft.operators.Chunking.chunkDiff(c1, c2)
        .select($"change", $"hash").as[(String, Long)].collect().toSet
      val gotV2 = spark.table("cdc_change_out").filter($"version" === 2)
        .select($"change", $"hash").as[(String, Long)].collect().toSet
      assert(gotV2 == want && want.nonEmpty)
    } finally q.stop()
  }

  test("chunkChangeStream tracks many blobs independently within one stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tA1 = "xxxx yyyy zzzz wwww " * 40
    val tA2 = "xxxx QQQQ zzzz wwww " * 40
    val tB = "solo blob content here " * 40
    val ms = MemoryStream[BlobVersion]
    val q = Streaming.chunkChangeStream(ms.toDS(), "fastcdc", 64, 1L)
      .writeStream.format("memory").queryName("cdc_multi_out").outputMode("append").start()
    try {
      // interleaved: blob A v1 + blob B v1 in one batch, A v2 later
      ms.addData(BlobVersion(1L, 1, tA1.getBytes("UTF-8")),
        BlobVersion(2L, 1, tB.getBytes("UTF-8")))
      q.processAllAvailable()
      ms.addData(BlobVersion(1L, 2, tA2.getBytes("UTF-8")))
      q.processAllAvailable()
      val out = spark.table("cdc_multi_out")
      // blob B saw exactly one version: only "added" rows, none at v2
      assert(out.filter($"blobId" === 2L && $"change" =!= "added").isEmpty)
      assert(out.filter($"blobId" === 2L && $"version" === 2).isEmpty)
      // blob A's v2 diff is non-empty and contains both change kinds
      val kinds = out.filter($"blobId" === 1L && $"version" === 2)
        .select($"change").as[String].collect().toSet
      assert(kinds == Set("added", "removed"))
      // blob B's state was untouched by A's update: its added-hash set equals
      // the batch chunk table of tB alone
      val wantB = graft.operators.Chunking.chunkTable(
        Seq((2L, tB)).toDF("doc_id", "text"), "doc_id", "text", "fastcdc", 64, 1L)
        .select($"hash").distinct().as[Long].collect().toSet
      assert(out.filter($"blobId" === 2L).select($"hash").as[Long].collect().toSet == wantB)
    } finally q.stop()
  }

  test("statefulChunkStream buffers out-of-order and duplicate segments until gaps fill") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val r = new scala.util.Random(11)
    val full = new Array[Byte](15000)
    r.nextBytes(full)
    val segs = full.grouped(3000).toSeq.zipWithIndex.map { case (d, i) =>
      SegmentEvent(7L, i, d, last = i == 4)
    }
    assert(segs.size == 5)

    val ms = MemoryStream[SegmentEvent]
    val q = Streaming.statefulChunkStream(ms.toDS(), "fastcdc", 512, 42L)
      .writeStream.format("memory").queryName("ooo_chunks_out").outputMode("append").start()
    try {
      // seg 3 arrives two micro-batches before its predecessors; seg 2 is
      // delivered twice (at-least-once); the final batch fills the gap.
      ms.addData(segs(0), segs(3)); q.processAllAvailable()
      ms.addData(segs(2)); q.processAllAvailable()
      ms.addData(segs(2), segs(1), segs(4)); q.processAllAvailable()
      val got = spark.table("ooo_chunks_out").orderBy("chunkIdx")
        .select($"chunkIdx", $"offset", $"length")
        .as[(Int, Long, Int)].collect().toSeq
      val want = Chunker("fastcdc", 512, 42L).chunks(full).zipWithIndex
        .map { case ((off, len), i) => (i, off.toLong, len) }.toSeq
      assert(got == want)
      val bytes = spark.table("ooo_chunks_out").orderBy("chunkIdx")
        .select($"chunk").as[Array[Byte]].collect().flatten
      assert(bytes.toSeq == full.toSeq)
    } finally q.stop()
  }

  test("statefulChunkStream absorbs post-EOF redeliveries via the tombstone state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val r = new scala.util.Random(23)
    val full = new Array[Byte](9000)
    r.nextBytes(full)
    val segs = full.grouped(3000).toSeq.zipWithIndex.map { case (d, i) =>
      SegmentEvent(3L, i, d, last = i == 2)
    }
    val ms = MemoryStream[SegmentEvent]
    val q = Streaming.statefulChunkStream(ms.toDS(), "fastcdc", 512, 42L)
      .writeStream.format("memory").queryName("tomb_chunks_out").outputMode("append").start()
    try {
      ms.addData(segs: _*); q.processAllAvailable()
      val afterEof = spark.table("tomb_chunks_out").count()
      // at-least-once source redelivers an interior and the final segment in
      // LATER micro-batches — without the tombstone, state would restart at
      // nextSeq=0 and re-chunk the blob from the redelivered bytes
      ms.addData(segs(1)); q.processAllAvailable()
      ms.addData(segs(2)); q.processAllAvailable()
      assert(spark.table("tomb_chunks_out").count() == afterEof)
      val got = spark.table("tomb_chunks_out").orderBy("chunkIdx")
        .select($"chunkIdx", $"offset", $"length")
        .as[(Int, Long, Int)].collect().toSeq
      val want = Chunker("fastcdc", 512, 42L).chunks(full).zipWithIndex
        .map { case ((off, len), i) => (i, off.toLong, len) }.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("scd2Stream emits exactly the closed intervals of the batch q49 query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // replay the real events table in timestamp order across 3 micro-batches
    val evs = graft.Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long, String, Long)].collect()
      .map { case (u, id, t, us) => UserTypeEvent(u, id, t, us) }
      .sortBy(e => (e.tsUs, e.eventId))
    val ms = MemoryStream[UserTypeEvent]
    val q = Streaming.scd2Stream(ms.toDS())
      .writeStream.format("memory").queryName("scd2_out").outputMode("append").start()
    try {
      val third = evs.length / 3
      ms.addData(evs.take(third).toSeq: _*); q.processAllAvailable()
      ms.addData(evs.slice(third, 2 * third).toSeq: _*); q.processAllAvailable()
      ms.addData(evs.drop(2 * third).toSeq: _*); q.processAllAvailable()
      val got = spark.table("scd2_out")
        .select($"userId", $"eventType", $"validFromUs", $"validToUs")
        .as[(Long, String, Long, Long)].collect().toSet
      val want = graft.SparkEntry.queries("q49_scd2_intervals")(spark, sfDir)
        .filter($"valid_to_us".isNotNull)
        .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("compactionStream's final snapshots reproduce the batch q64 net changes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val ops = graft.Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        when($"event_type" === "signup", "I")
          .when($"event_type" === "error", "D")
          .otherwise("U").as("op"),
        $"value")
      .as[(Long, Long, Long, String, Double)].collect()
      .map { case (u, id, us, op, v) => OpEvent(u, id, us, op, v) }
      .sortBy(e => (e.tsUs, e.eventId))
    val ms = MemoryStream[OpEvent]
    val q = Streaming.compactionStream(ms.toDS())
      .writeStream.format("memory").queryName("compact_out").outputMode("append").start()
    try {
      // batches are time-ranged, but rows are REVERSED inside each batch —
      // the intra-batch (tsUs, eventId) sort must absorb the disorder
      val third = ops.length / 3
      ms.addData(ops.take(third).reverse.toSeq: _*); q.processAllAvailable()
      ms.addData(ops.slice(third, 2 * third).reverse.toSeq: _*); q.processAllAvailable()
      ms.addData(ops.drop(2 * third).reverse.toSeq: _*); q.processAllAvailable()
      // final snapshot per key = largest cumulative nOps
      val got = spark.table("compact_out")
        .as[CompactUpdate].collect()
        .groupBy(_.userId).view.mapValues(_.maxBy(_.nOps)).toMap
        .map { case (u, c) =>
          val net =
            if (c.lastOp == "D" && c.firstOp == "I") "none"
            else if (c.lastOp == "D") "delete"
            else if (c.firstOp == "I") "insert"
            else "update"
          u -> (net, c.nOps)
        }
      val want = graft.SparkEntry.queries("q64_changelog_compact")(spark, sfDir)
        .select($"user_id", $"net_op", $"n_ops").as[(Long, String, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("nearDupCandidateStream: distinct pairs equal the batch LSH candidate set, any arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Corpus with guaranteed near-dups: base docs + exact copies of every
    // 5th + tailed copies of every 7th (the batch dedup queries' recipe).
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val corpus = base ++
      base.filter(_._1 % 5 == 0).map { case (id, t) => (id + 100000L, t) } ++
      base.filter(_._1 % 7 == 0).map { case (id, t) => (id + 200000L, t + " near duplicate tail") }
    // batch ground truth: the candidate pairs the LSH banding produces
    val want = graft.operators.Dedup
      .minhashCandidatePairs(corpus.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(want.nonEmpty)
    // replay SHUFFLED, in several micro-batches — order must not matter
    val shuffled = new scala.util.Random(31).shuffle(corpus).map(DocEvent.tupled)
    val ms = MemoryStream[DocEvent]
    val q = Streaming.nearDupCandidateStream(ms.toDS())
      .writeStream.format("memory").queryName("ndc_out").outputMode("append").start()
    try {
      shuffled.grouped(25).foreach { g =>
        ms.addData(g)
        q.processAllAvailable()
      }
      val got = spark.table("ndc_out").as[NearDupPair].collect()
        .map(p => (p.id1, p.id2)).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("nearDupCandidateStream caps hot buckets: emission and state stop at maxBucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 30 identical docs -> one band bucket per band, all docs in it; with
    // maxBucket=10 only the first 10 members pair up (45 distinct pairs),
    // later arrivals are ignored instead of growing state. Batches of 5 so
    // the cap lands exactly on a batch boundary (within-batch group order
    // is not guaranteed; whole batches before/after the cap are).
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 30L).map(id => DocEvent(id, text))
    val ms = MemoryStream[DocEvent]
    val q = Streaming.nearDupCandidateStream(ms.toDS(), maxBucket = 10)
      .writeStream.format("memory").queryName("ndc_cap_out").outputMode("append").start()
    try {
      docs.grouped(5).foreach { g => ms.addData(g); q.processAllAvailable() }
      val got = spark.table("ndc_cap_out").as[NearDupPair].collect()
        .map(p => (p.id1, p.id2)).toSet
      val want = (for (i <- 0L until 10L; j <- i + 1 until 10L) yield (i, j)).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("scd2Fn drops cross-batch stragglers older than the open interval") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // Batch 1 opens an interval at ts=100.
    val s1 = TestGroupState.create[Scd2State](
      optionalState = Optional.empty[Scd2State](), timeoutConf = GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    assert(Streaming.scd2Fn(1L, Iterator(UserTypeEvent(1L, 1L, "view", 100L)), s1).isEmpty)
    assert(s1.get == Scd2State("view", 100L))
    // Batch 2 delivers a straggler BEFORE the open interval's start: without
    // the guard this emitted an inverted interval (valid_from=100 > valid_to=50).
    val s2 = TestGroupState.create[Scd2State](
      optionalState = Optional.of(s1.get), timeoutConf = GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    var drops = 0
    val out = Streaming.scd2Fn(1L,
      Iterator(UserTypeEvent(1L, 2L, "purchase", 50L), UserTypeEvent(1L, 3L, "purchase", 200L)),
      s2, onLateDrop = () => drops += 1).toSeq
    assert(out == Seq(Scd2Interval(1L, "view", 100L, 200L)))
    assert(s2.get == Scd2State("purchase", 200L))
    assert(out.forall(iv => iv.validFromUs <= iv.validToUs))
    // The drop is not silent: the straggler at ts=50 is reported exactly once.
    assert(drops == 1)
  }

  test("statefulChunkStream re-assembles the exact batch chunking across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val r = new scala.util.Random(7)
    val full = new Array[Byte](20000)
    r.nextBytes(full)
    val segs = full.grouped(3000).toSeq.zipWithIndex.map { case (d, i) =>
      SegmentEvent(1L, i, d, last = i == 6)
    }
    assert(segs.size == 7)

    val ms = MemoryStream[SegmentEvent]
    val q = Streaming.statefulChunkStream(ms.toDS(), "fastcdc", 512, 42L)
      .writeStream.format("memory").queryName("chunks_out").outputMode("append").start()
    try {
      // three micro-batches: 2 + 3 + 2 segments
      ms.addData(segs.slice(0, 2): _*); q.processAllAvailable()
      ms.addData(segs.slice(2, 5): _*); q.processAllAvailable()
      ms.addData(segs.slice(5, 7): _*); q.processAllAvailable()
      val got = spark.table("chunks_out").orderBy("chunkIdx")
        .select($"chunkIdx", $"offset", $"length")
        .as[(Int, Long, Int)].collect().toSeq
      val want = Chunker("fastcdc", 512, 42L).chunks(full).zipWithIndex
        .map { case ((off, len), i) => (i, off.toLong, len) }.toSeq
      assert(got == want)
      // payload reconstruction
      val bytes = spark.table("chunks_out").orderBy("chunkIdx")
        .select($"chunk").as[Array[Byte]].collect().flatten
      assert(bytes.toSeq == full.toSeq)
    } finally q.stop()
  }

  test("corpusIntakeStream gates quality, dedups across batches, and assigns stable splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = (1L to 8L).map(i =>
      Doc(i, s"clean document number $i with plain readable words", ts(i)))
    // punct-heavy -> fails the quality gate, must never reach the dedup state
    val junk = Doc(100L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", ts(9))
    // same text as doc 1 modulo case/whitespace -> normalized-exact duplicate
    val dup = Doc(101L, "  Clean   DOCUMENT number 1 with plain readable words ", ts(10))
    // verbatim redelivery of doc 3 in a later micro-batch
    val redelivered = good(2).copy(ts = ts(11))

    val ms = MemoryStream[Doc]
    val q = Streaming.corpusIntakeStream(ms.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("intake_out").outputMode("append").start()
    try {
      ms.addData(good: _*); q.processAllAvailable()
      ms.addData(junk, dup, redelivered); q.processAllAvailable()
      val got = spark.table("intake_out")
        .select($"doc_id", $"split", $"quality")
        .as[(Long, String, Double)].collect().sortBy(_._1)
      // exactly the 8 first-arrival good docs; junk gated, dup + redelivery dropped
      assert(got.map(_._1).toSeq == (1L to 8L))
      assert(got.forall(_._3 >= 0.45))
      // split assignment matches the batch pipeline_train_test_split rule
      val want = good.toDF()
        .select($"doc_id",
          when(md5($"doc_id".cast("string")) < "1a", "test")
            .when(md5($"doc_id".cast("string")) < "33", "val")
            .otherwise("train").as("split"))
        .as[(Long, String)].collect().toMap
      assert(got.forall { case (id, split, _) => want(id) == split })
    } finally q.stop()
  }

  private def unitVec(a: Array[Float]): Array[Double] = {
    val d = a.map(_.toDouble)
    val n = math.sqrt(d.map(x => x * x).sum)
    d.map(_ / n)
  }

  test("semanticDedupStream drops planted duplicates against kept cluster state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, e) => (id, unitVec(e)) }.sortBy(_._1)
    def perturb(e: Array[Double]): Array[Double] = {
      val p = e.clone(); p(0) += 0.5
      val n = math.sqrt(p.map(x => x * x).sum); p.map(_ / n)
    }
    // the batch dedup recipe: exact copies of every 5th, perturbed of every 7th
    val corpus = (base ++
      base.filter(_._1 % 5 == 0).map { case (id, e) => (id + 100000L, e) } ++
      base.filter(_._1 % 7 == 0).map { case (id, e) => (id + 200000L, perturb(e)) })
      .sortBy(_._1).map { case (id, e) => VecEvent(id, e) }
    val cents = base.filter { case (id, _) => id % 50 == 0 && id < 400 }
      .map { case (id, e) => ClusterCentroid(id / 50, e) }
    val ms = MemoryStream[VecEvent]
    val q = Streaming.semanticDedupStream(ms.toDS(), cents)
      .writeStream.format("memory").queryName("sem_out").outputMode("append").start()
    try {
      // id-ordered batches: originals land (and are kept) before their copies
      corpus.grouped(100).foreach { g => ms.addData(g); q.processAllAvailable() }
      val byId = spark.table("sem_out").as[SemanticDecision].collect()
        .map(d => d.vecId -> d.dropped).toMap
      assert(byId.size == corpus.length)
      // originals are mutually below threshold -> all kept
      byId.keys.filter(_ < 100000).foreach(id => assert(!byId(id), s"original $id dropped"))
      // an exact copy co-clusters with its kept source (identical argmin) -> dropped
      val copies = byId.keys.filter(id => id >= 100000 && id < 200000)
      assert(copies.nonEmpty)
      copies.foreach(id => assert(byId(id), s"copy $id kept"))
      // perturbed near-dups drop when assignment co-locates them with the source
      val near = byId.keys.filter(_ >= 200000).toSeq
      assert(near.nonEmpty)
      assert(near.count(byId(_)).toDouble / near.size >= 0.3, "near-dup drop rate degenerate")
    } finally q.stop()
  }

  test("semanticDedupStream cap: dup detection survives saturation, novel vectors fail open") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 64-dim standard basis vectors: mutually orthogonal -> all kept
    def basis(i: Int): Array[Double] = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val cents = Array(ClusterCentroid(0L, basis(0)))
    val ms = MemoryStream[VecEvent]
    val q = Streaming.semanticDedupStream(ms.toDS(), cents, maxCluster = 10)
      .writeStream.format("memory").queryName("sem_cap_out").outputMode("append").start()
    try {
      (0 until 10).foreach { i => ms.addData(VecEvent(i.toLong, basis(i))) } // fill to cap
      q.processAllAvailable()
      ms.addData(VecEvent(100L, basis(0))) // exact dup of a kept member: still detected at the cap
      ms.addData(VecEvent(101L, basis(20))) // novel at the cap: fails open, untracked
      q.processAllAvailable()
      ms.addData(VecEvent(102L, basis(20))) // dup of the UNTRACKED 101: passes (101 never entered state)
      q.processAllAvailable()
      val byId = spark.table("sem_cap_out").as[SemanticDecision].collect()
        .map(d => d.vecId -> d.dropped).toMap
      assert((0 until 10).forall(i => !byId(i.toLong)))
      assert(byId(100L), "dup of kept member must still drop at the cap")
      assert(!byId(101L), "novel vector at the cap must fail open")
      assert(!byId(102L), "untracked vector must not act as dedup state")
    } finally q.stop()
  }

  test("semanticDedupStream redelivery re-emits the original decision for BOTH outcomes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def basis(i: Int): Array[Double] = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val cents = Array(ClusterCentroid(0L, basis(0)))
    val ms = MemoryStream[VecEvent]
    val q = Streaming.semanticDedupStream(ms.toDS(), cents)
      .writeStream.format("memory").queryName("sem_redeliver_out").outputMode("append").start()
    try {
      ms.addData(VecEvent(1L, basis(0))) // kept
      ms.addData(VecEvent(2L, basis(0))) // exact dup of 1 -> dropped
      q.processAllAvailable()
      // redeliver both, plus a vector that would NOW be dropped if id 2's
      // redelivery were re-evaluated (cluster state evolved: 1 is kept)
      ms.addData(VecEvent(1L, basis(0)))
      ms.addData(VecEvent(2L, basis(0)))
      q.processAllAvailable()
      val rows = spark.table("sem_redeliver_out").as[SemanticDecision].collect()
      // each redelivery re-emitted exactly one row with the ORIGINAL verdict
      assert(rows.count(r => r.vecId == 1L) == 2)
      assert(rows.filter(_.vecId == 1L).forall(!_.dropped))
      assert(rows.count(r => r.vecId == 2L) == 2)
      assert(rows.filter(_.vecId == 2L).forall(_.dropped))
    } finally q.stop()
  }

  test("spanDedupStream: copies fully duplicated against their source, firsts stable across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    val corpus = (base ++
      base.filter(_._1 % 5 == 0).map { case (id, t) => (id + 100000L, t) })
      .sortBy(_._1).map(DocEvent.tupled)
    val ms = MemoryStream[DocEvent]
    val q = Streaming.spanDedupStream(ms.toDS())
      .writeStream.format("memory").queryName("span_out").outputMode("append").start()
    try {
      // id-ordered batches: originals commit span state before their copies
      corpus.grouped(100).foreach { g => ms.addData(g); q.processAllAvailable() }
      val got = spark.table("span_out").as[SpanDecision].collect()
      val byDoc = got.groupBy(_.docId)
      // an exact copy's every span was first seen in an earlier doc
      val copies = byDoc.keys.filter(_ >= 100000L).toSeq
      assert(copies.nonEmpty)
      copies.foreach { id =>
        val ds = byDoc(id)
        assert(ds.nonEmpty && ds.forall(d => d.dup && d.firstDocId < 100000L),
          s"copy $id spans not fully duplicated")
      }
      // firstDocId is consistent per span hash across the whole stream
      got.groupBy(_.spanHash).foreach { case (h, ds) =>
        assert(ds.map(_.firstDocId).distinct.length == 1, s"span $h has multiple firsts")
      }
      // redelivery is idempotent: the re-emitted decisions equal the originals
      val firstDoc = corpus.head
      val before = got.filter(_.docId == firstDoc.docId).toSet
      ms.addData(firstDoc); q.processAllAvailable()
      val after = spark.table("span_out").as[SpanDecision].collect()
        .filter(_.docId == firstDoc.docId).toSet
      assert(before.nonEmpty && after == before, "redelivery must re-emit identical decisions")
    } finally q.stop()
  }

  test("funnelStream: step counts on time-ordered replay equal the batch q51 funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long, String, Long)].collect()
      .map { case (u, id, t, us) => UserTypeEvent(u, id, t, us) }
      .sortBy(e => (e.tsUs, e.eventId))
    val Seq(wantS, wantV, wantP) = graft.operators.Relational
      .queries("q51_funnel")(spark, sf)
      .as[(Long, Long, Long)].head() match { case (a, b, c) => Seq(a, b, c) }
    val ms = MemoryStream[UserTypeEvent]
    val q = Streaming.funnelStream(ms.toDS())
      .writeStream.format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      evs.grouped(500).foreach { g => ms.addData(g); q.processAllAvailable() }
      val got = spark.table("funnel_out").as[FunnelUpdate].collect()
      val counts = got.groupBy(_.step).view.mapValues(_.length.toLong).toMap
      assert(counts.getOrElse("signup", 0L) == wantS)
      assert(counts.getOrElse("view", 0L) == wantV)
      assert(counts.getOrElse("purchase", 0L) == wantP)
      // exactly-once per (user, step)
      assert(got.map(u => (u.userId, u.step)).distinct.length == got.length)
    } finally q.stop()
  }

  test("heavyHittersStream from a REAL file source: readStream.json over a directory") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    graft.Tables.documents(spark, sf)
      .select($"doc_id".as("docId"), $"lang", $"text")
      .coalesce(2).write.mode("overwrite").json(dir)
    val k = 8
    val src = spark.readStream
      .schema("docId LONG, lang STRING, text STRING")
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches from the directory
      .json(dir)
      .as[LangDocEvent]
    val q = Streaming.heavyHittersStream(src, k)
      .writeStream.format("memory").queryName("hh_file_out").outputMode("update").start()
    try {
      q.processAllAvailable()
      val all = spark.table("hh_file_out").as[HeavyHitter].collect()
      assert(all.nonEmpty, "file source produced no batches")
      val trueCounts = graft.Tables.documents(spark, sf)
        .select($"lang", explode(split(trim($"text"), "\\s+")).as("t"))
        .groupBy($"lang", $"t").count()
        .as[(String, String, Long)].collect()
        .map { case (l, t, c) => (l, t) -> c }.toMap
      val totals = trueCounts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      all.groupBy(_.lang).foreach { case (lang, rows) =>
        val latest = rows.filter(_.nTotal == rows.map(_.nTotal).max)
        assert(latest.head.nTotal == totals(lang), s"$lang: all files must be ingested")
        assert(latest.length <= k)
        latest.foreach(r => assert(r.est <= trueCounts((lang, r.token))))
      }
    } finally q.stop()
  }

  test("rateAnomalyStream: ordered replay equals batch q56 on every closed hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val evs = graft.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("ts_us"))
      .as[(Long, Long, String, Long)].collect()
      .map { case (u, id, t, us) => UserTypeEvent(u, id, t, us) }
      .sortBy(e => (e.tsUs, e.eventId))
    // batch truth: q56 rows keyed by (type, epoch-hour), minus each type's
    // final hour (the stream never closes it)
    val batch = graft.operators.Relational.queries("q56_rate_anomaly")(spark, sf)
      .select($"event_type".as("eventType"),
        (unix_micros($"hr") / (3600L * 1000000L)).cast("long").as("hrEpoch"),
        $"n", $"m", $"sx", $"sx2", $"is_anomaly".as("isAnomaly"))
      .as[RateVerdict].collect()
    val lastHr = evs.groupBy(_.eventType).view.mapValues(_.map(_.tsUs / (3600L * 1000000L)).max).toMap
    val want = batch.filter(r => r.hrEpoch < lastHr(r.eventType)).toSet
    val ms = MemoryStream[UserTypeEvent]
    val q = Streaming.rateAnomalyStream(ms.toDS())
      .writeStream.format("memory").queryName("rate_out").outputMode("append").start()
    try {
      evs.grouped(700).foreach { g => ms.addData(g); q.processAllAvailable() }
      val got = spark.table("rate_out").as[RateVerdict].collect().toSet
      assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
      assert(got.exists(_.m >= 12) && want.nonEmpty)
    } finally q.stop()
  }

  test("heavyHittersStream: Misra-Gries guarantees hold at every batch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val k = 8
    val corpus = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
      .map { case (id, l, t) => LangDocEvent(id, l, t) }.sortBy(_.docId)
    val ms = MemoryStream[LangDocEvent]
    val q = Streaming.heavyHittersStream(ms.toDS(), k)
      .writeStream.format("memory").queryName("hh_out").outputMode("update").start()
    try {
      val trueCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val trueTotals = scala.collection.mutable.HashMap.empty[String, Long]
      corpus.grouped(170).foreach { batch =>
        batch.foreach { d =>
          d.text.trim.split("\\s+").filter(_.nonEmpty).foreach { t =>
            trueCounts((d.lang, t)) = trueCounts.getOrElse((d.lang, t), 0L) + 1L
            trueTotals(d.lang) = trueTotals.getOrElse(d.lang, 0L) + 1L
          }
        }
        ms.addData(batch); q.processAllAvailable()
        // latest snapshot per language = rows carrying that language's
        // current nTotal (update mode re-emits the full sketch each batch)
        val all = spark.table("hh_out").as[HeavyHitter].collect()
        val latest = all.groupBy(_.lang).map { case (l, rows) =>
          l -> rows.filter(_.nTotal == rows.map(_.nTotal).max)
        }
        latest.foreach { case (lang, rows) =>
          val n = trueTotals(lang)
          assert(rows.head.nTotal == n, s"$lang: sketch total $n")
          assert(rows.length <= k, s"$lang: at most $k counters")
          // estimates never exceed true counts
          rows.foreach { r =>
            assert(r.est <= trueCounts((lang, r.token)),
              s"$lang/${r.token}: est ${r.est} > true")
          }
          // every token above the N/(k+1) frequency bound survives
          val floor = n / (k + 1)
          trueCounts.keysIterator.filter(_._1 == lang).foreach { key =>
            if (trueCounts(key) > floor)
              assert(rows.exists(_.token == key._2),
                s"$lang/${key._2}: true count ${trueCounts(key)} > $floor must survive")
          }
        }
      }
    } finally q.stop()
  }

  test("streaming perplexity gate scores every doc exactly like the batch dataflow") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val stream = Streaming.queries("stream_ppl_replay")(spark, d)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    val batch = graft.operators.TextOps.queries("text_bigram_ppl")(spark, d)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(stream.length == batch.length && stream.length > 0)
    assert(stream.sameElements(batch),
      "stateless JVM scorer over the model artifact must be bit-identical to the batch plan")
    // the per-row scorer itself is arrival-order independent by construction;
    // pin that the planted junk is flagged on the streaming side too
    assert(stream.filter(_._1 >= 300000).forall(_._4 == "suspect"))
  }

  test("bottomKStream is arrival-order independent and matches the batch bottom-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ids = (0L until 200L)
    val k = 10

    def finalSample(batches: Seq[Seq[Long]], name: String): Seq[(Long, Long)] = {
      val ms = MemoryStream[SampleDoc]
      val q = Streaming.bottomKStream(ms.toDS(), k)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => ms.addData(b.map(SampleDoc(_))); q.processAllAvailable() }
        val all = spark.table(name).as[(Long, Long, Long)].collect()
        val mx = all.map(_._1).max
        assert(mx == ids.length, "every input row must be counted")
        all.filter(_._1 == mx).sortBy(_._2).map(t => (t._2, t._3)).toSeq
      } finally q.stop()
    }

    val forward = finalSample(ids.grouped(50).map(_.toSeq).toSeq, "bk_fwd")
    val reversed = finalSample(ids.reverse.grouped(37).map(_.toSeq).toSeq, "bk_rev")
    assert(forward == reversed, "wave permutation changed the sample")

    // batch truth: ORDER BY md5(id), id LIMIT k, recomputed in plain Scala
    val expect = ids.map(id => (graft.operators.Portable.md5Hex(id.toString), id))
      .sorted.take(k).zipWithIndex.map { case ((_, id), i) => (i + 1L, id) }
    assert(forward == expect)
  }

  test("psiHistogramStream is arrival-order independent and matches the batch histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val buckets = (0L until 300L).map(_ % 13) // skewed multiset over 13 keys

    def finalHist(batches: Seq[Seq[Long]], name: String): Map[Long, Long] = {
      val ms = MemoryStream[PsiBucketRow]
      val q = Streaming.psiHistogramStream(ms.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => ms.addData(b.map(PsiBucketRow(_))); q.processAllAvailable() }
        spark.table(name).as[(Long, Long)].collect()
          .groupBy(_._1).map { case (b, rows) => b -> rows.map(_._2).max }
      } finally q.stop()
    }

    val forward = finalHist(buckets.grouped(80).map(_.toSeq).toSeq, "psi_fwd")
    val reversed = finalHist(buckets.reverse.grouped(47).map(_.toSeq).toSeq, "psi_rev")
    assert(forward == reversed, "wave permutation changed the histogram")
    val expect = buckets.groupBy(identity).map { case (b, v) => b -> v.size.toLong }
    assert(forward == expect, "final snapshot must be the exact batch histogram")
  }

  // The streaming-MV oracle proves the MONTHLY report equals a direct
  // fact scan; this pins the maintenance one level deeper: after six
  // incremental foreachBatch merges, the stored DAILY rows are
  // bit-identical to a single full-scan rebuild — the additive merge is
  // batch-slicing-independent all the way down.
  test("streamed MV equals a full rebuild at day granularity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val mv = spark.read.parquet(Streaming.mvStreamDir(spark, d))
      .select($"ship_month", $"ship_day", $"n_items", $"sum_qty", $"revenue_cents")
    val rebuild = graft.Tables.lineitem(spark, d)
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        to_date($"l_shipdate").as("ship_day"))
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
    assert(mv.count() == rebuild.count())
    assert(mv.except(rebuild).isEmpty && rebuild.except(mv).isEmpty,
      "streamed MV diverges from the full rebuild")
  }

  // The late-data contract's oracle proves the emitted windows equal the
  // on-time-only batch aggregate; this pins the ACCOUNTING side: the drops
  // Structured Streaming reported at the watermark equal the planted late
  // data exactly — late loss is observable, never silent. Measured
  // semantics of numRowsDroppedByWatermark (found by per-batch dump): the
  // state operator counts AFTER map-side partial aggregation, so it drops
  // one row per (window, event_type) GROUP per arrival batch, not one per
  // raw input row (76 raw base-0 rows -> 75 counted: two shared an hour
  // and type). Each wave is a single file/partition, so the partial agg
  // merges a batch's late rows deterministically and the expected count is
  // the distinct (arrival batch, window, type) triple count. Raw-row loss
  // is still fully pinned: the oracle fixes every emitted sum, so any
  // on-time row dropped or late row leaked in would hash-mismatch there.
  test("late replay drop metric equals the planted late group count exactly") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    Streaming.queries("stream_late_replay")(spark, d).count() // ensure the one-per-JVM run
    val dropped = Streaming.lateDropCounts.get(d)
    val ev = graft.Tables.events(spark, d)
      .select($"event_id", $"event_type", $"ts", unix_micros($"ts").as("us"))
    val (lo, hi) = ev.agg(min($"us"), max($"us")).as[(Long, Long)].head()
    val width = math.max(1L, (hi - lo) / 8 + 1)
    val late = ev.filter($"event_id" % 17 === 0 &&
      expr(s"(us - ${lo}L) div ${width}L") <= 5)
    val plantedRows = late.count()
    val plantedGroups = late
      .select(expr(s"(us - ${lo}L) div ${width}L").as("arrival"),
        date_trunc("hour", $"ts").as("h"), $"event_type")
      .distinct().count()
    assert(plantedRows > 0, "no late rows planted — the contract tests nothing")
    assert(plantedGroups <= plantedRows)
    assert(dropped == plantedGroups,
      s"drop metric $dropped != planted late groups $plantedGroups (rows $plantedRows)")
  }

  // The serve's distinct would mask a double-applied wave (duplicate index
  // rows collapse before ranking), so the oracle alone can't catch one —
  // this pin compares the streamed index to a fresh batch rebuild as raw
  // row MULTISETS, partition column included.
  test("streamed IVF index equals the fresh batch rebuild partition-for-partition") {
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val streamed = spark.read.parquet(Streaming.ivfStreamIdxDir(spark, d))
      .select($"cid".cast("long").as("cid"), $"vec_id", $"emb")
    val Sim = graft.operators.Similarity
    val rebuilt = Sim.ivfAssignSlice(spark, d, Sim.vectors(spark, d))
      .select($"cid", $"vec_id", $"emb")
    assert(streamed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(streamed).isEmpty,
      "streamed index diverges from the fresh rebuild")
    // every vector landed exactly once, and in >1 partition overall
    assert(streamed.select($"vec_id").distinct().count() == streamed.count())
    assert(streamed.select($"cid").distinct().count() > 1)
  }

  // The serve's beam cut could mask a subtly-wrong edge list (a lost or
  // duplicated edge outside the visited region never reaches the oracle),
  // so beyond the verbatim-oracle hash the streamed graph is pinned
  // against a FRESH full rebuild layer-for-layer as raw row multisets —
  // the same treatment the batch incremental builder gets in
  // AnnQualitySpec, proving five commits ≡ one rebuild exactly.
  test("streamed graph maintenance lands on the fresh rebuild's layers exactly") {
    val d = "/root/testdata/sf0.01"
    val streamed = Streaming.graphStreamGraphDir(spark, d)
    assert(!Streaming.graphStreamFellBack(spark, d),
      "mega-bucket fallback fired at the test SF — the upsert path went untested")
    val fresh = graft.operators.Similarity.knnGraphDir(spark, d)
    Seq("l0", "l1").foreach { layer =>
      val a = spark.read.parquet(s"$streamed/$layer")
      val b = spark.read.parquet(s"$fresh/$layer")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"streamed $layer diverges from the fresh rebuild")
      assert(a.count() > 0L)
    }
  }

  // The oracle pins the final state against raw; this pins the streaming
  // consumer against its BATCH twin (pipeline_changelog_apply_mv): both
  // fold the same typed changelog into wave 1's rollup, one per
  // micro-batch with dynamic partition overwrite, one in a single pass —
  // they must converge frame-for-frame.
  test("streamed CDF consumption equals the batch changelog apply exactly") {
    val d = "/root/testdata/sf0.001"
    val streamed = Streaming.queries("stream_cdf_replay")(spark, d)
    val batch = graft.operators.LakeServeQueries
      .queries("pipeline_changelog_apply_mv")(spark, d)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streaming CDF consumer diverges from the batch apply")
    assert(streamed.count() > 0L)
  }

  test("streamed equality-delete ingest is exactly-once and serves the batch state") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val delDir = Streaming.eqdelStreamDir(spark, d)
    val streamedDels = spark.read.parquet(delDir)
    // exactly-once: the streamed key multiset ≡ the erase key set (each
    // key arrived in exactly one wave, each wave committed exactly once)
    val got = streamedDels.select($"k").as[Long].collect().sorted
    val want = graft.operators.LakeFixture.eraseOrderKeys(spark, d).as[Long].collect().sorted
    assert(got.sameElements(want), "streamed delete keys drifted from the erase set")
    // one delete file per commit, each strictly newer than the seq-0 tree
    val seqs = streamedDels.select($"seq_del").distinct().as[Long].collect()
    assert(seqs.length >= 2, s"single commit — the wave split never exercised: ${seqs.toSeq}")
    assert(seqs.forall(_ >= 1L))
    assert(streamedDels.inputFiles.length == seqs.length,
      "delete files != commits — a commit fragmented or two commits merged")
    // and the serve through the streamed set equals the batch serve
    val streamed = Streaming.queries("stream_eqdel_replay")(spark, d)
    val batch = graft.operators.LakeServeQueries.queries("pipeline_eq_serve")(spark, d)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed equality serve diverges from the batch serve")
  }

  // The replay harness owns each run's whole lifecycle: however a replay
  // ends, no query stays active, no memory-sink view stays registered, no
  // failed build leaves its directory, and the session's shuffle-partition
  // setting is back to what it was.
  private def harnessWaves(d: String): Streaming.Waves = {
    import spark.implicits._
    val waved = (0L until 30L).map(i => (i, (i % 3).toInt)).toDF("id", "wave")
    Streaming.Waves(Streaming.waveFiles("spec_harness", d, waved), waved.drop("wave").schema)
  }

  private def assertNothingLeft(partitionsBefore: String): Unit = {
    assert(spark.streams.active.isEmpty,
      s"replay left queries running: ${spark.streams.active.map(_.name).mkString(", ")}")
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("graft_.*_replay_.*")).map(_.name)
    assert(views.isEmpty, s"replay left sink views: ${views.mkString(", ")}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitionsBefore)
  }

  test("memory-sink and foreachBatch replays run one wave per trigger and leave nothing behind") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val d = graft.Fixtures.tempDir("graft_spec_harness").toString
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val emitted = Streaming.replayedSink(spark, d, "graft_spec_replay_", harnessWaves(d)) {
      (stream: org.apache.spark.sql.DataFrame) => stream
    }
    assert(emitted.as[Long].collect().sorted.toSeq == (0L until 30L))
    assertNothingLeft(partitions)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    Streaming.replayBatches(spark, graft.Fixtures.tempDir("graft_spec_batches"), harnessWaves(d)) {
      (batch, id) => batches.add(id -> batch.count())
    }
    // one wave file per trigger: three batches of ten rows, in wave order
    assert(batches.asScala.toSeq == Seq(0L -> 10L, 1L -> 10L, 2L -> 10L))
    assertNothingLeft(partitions)
  }

  test("a replay whose batch function throws rethrows it and leaves no query or memo dir") {
    import scala.jdk.CollectionConverters._
    val d = graft.Fixtures.tempDir("graft_spec_failing").toString
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val boom = new IllegalStateException("planted batch failure")
    var root: java.nio.file.Path = null
    val err = intercept[Exception] {
      graft.Fixtures.memo("graft_spec_failing_replay", d) { r =>
        root = r
        Streaming.replayBatches(spark, r, harnessWaves(d)) { (_, _) => throw boom }
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).contains(boom),
      s"the batch function's error is not in the rethrown chain: $err")
    assertNothingLeft(partitions)
    assert(root != null && !java.nio.file.Files.exists(root), s"memo dir $root left behind")
    assert(!graft.Fixtures.memos.keySet.asScala.exists(_.startsWith("graft_spec_failing_replay|")))
  }
}
