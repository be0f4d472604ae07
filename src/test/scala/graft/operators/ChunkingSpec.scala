package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

class ChunkingSpec extends AnyFunSuite with graft.SharedSpark {

  private def rndBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  test("chunkTable matches the core chunker per blob and reconstructs payloads") {
    import spark.implicits._
    val docs = Seq(
      (1L, rndBytes(5000, 1)),
      (2L, rndBytes(12345, 2)),
      (3L, Array.emptyByteArray),
      (4L, rndBytes(100, 3))
    ).toDF("doc_id", "content")

    val chunks = Chunking.chunkTable(docs, "doc_id", "content", "fastcdc", 512, 42L)
    val got = chunks.select("id", "chunk_idx", "offset", "length")
      .as[(Long, Int, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap

    val core = FastCdcChunker(512, 42L)
    for ((id, bytes) <- Seq((1L, rndBytes(5000, 1)), (2L, rndBytes(12345, 2)), (4L, rndBytes(100, 3)))) {
      assert(got(id) == core.chunks(bytes).toSeq, s"doc $id")
    }
    assert(!got.contains(3L), "empty payload yields no chunks")

    // chunks concatenated == payload (lossless split)
    val rebuilt = chunks.orderBy("id", "chunk_idx")
      .select("id", "chunk").as[(Long, Array[Byte])].collect()
      .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSeq).toMap
    assert(rebuilt(2L) == rndBytes(12345, 2).toSeq)
  }

  test("string payloads are chunked over their UTF-8 bytes") {
    import spark.implicits._
    val docs = Seq((1L, "abc " * 500)).toDF("doc_id", "text")
    val chunks = Chunking.chunkTable(docs, "doc_id", "text", "fixed", 64)
    val lens = chunks.orderBy("chunk_idx").select("length").as[Int].collect()
    assert(lens.dropRight(1).forall(_ == 64) && lens.sum == 2000)
  }

  test("dedupMetrics reproduces the reference metric definitions (A2/A3)") {
    import spark.implicits._
    val block = rndBytes(4096, 9)
    // Two identical blobs + one unique: strong, known duplication.
    val docs = Seq((1L, block), (2L, block), (3L, rndBytes(4096, 10))).toDF("doc_id", "content")
    val chunks = Chunking.chunkTable(docs, "doc_id", "content", "fastcdc", 256, 7L)
    val m = Chunking.dedupMetrics(chunks).collect()(0)

    // Cross-check against the core sequential accounting.
    val core = FastCdcChunker(256, 7L)
    val all = Seq(block, block, rndBytes(4096, 10)).flatMap { b =>
      core.chunks(b).map { case (o, l) => b.slice(o, o + l).toSeq }
    }
    val unique = all.distinct
    assert(m.getAs[Long]("total_bytes") == all.map(_.size).sum)
    assert(m.getAs[Long]("unique_bytes") == unique.map(_.size).sum)
    assert(m.getAs[Long]("distinct_chunks") == unique.size)
    assert(m.getAs[Long]("chunk_count") == all.size)
    val coeff = m.getAs[Double]("dedup_coeff")
    assert(math.abs(coeff - unique.map(_.size).sum.toDouble / all.map(_.size).sum) < 1e-4)
    // Two identical blobs of three => unique/total = 2/3 (plus rounding).
    assert(math.abs(coeff - 2.0 / 3.0) < 0.01, s"coeff $coeff")
  }

  test("segmentedChunkTable (strategy A) matches the core overlap-merge ground truth") {
    import spark.implicits._
    def oracle(algo: String, segments: Int): Array[Byte] => Array[Int] = algo match {
      case "ae" => val c = AeChunker(1024); ParallelChunking.overlapMergedBoundaries(_, segments, c.boundsInRange, c.window)
      case "rabin" => val c = RabinChunker(1024, 5); ParallelChunking.overlapMergedBoundaries(_, segments, c.boundsInRange, c.windowSize)
    }
    // (offset, length, bytes) per chunk of one blob, in chunk_idx order
    def spans(rows: Seq[(Int, Int, Int, Array[Byte])]): Seq[(Int, Int, Seq[Byte])] =
      rows.sortBy(_._1).map(r => (r._2, r._3, r._4.toSeq))
    def expected(data: Array[Byte], ends: Array[Int]): Seq[(Int, Int, Seq[Byte])] =
      ends.indices.map { i =>
        val off = if (i == 0) 0 else ends(i - 1)
        (off, ends(i) - off, data.slice(off, ends(i)).toSeq)
      }
    val text = "gr\u00fc\u00dfe \u2603 chunk " * 3000 // multi-byte UTF-8
    for (algo <- Seq("ae", "rabin"); segments <- Seq(1, 2, 3, 4, 8); spread <- Seq(false, true)) {
      val lengths = Seq(0, 1, segments - 1, segments * 5000, 40001, 1 << 20).distinct
      val blobs = lengths.map(n => (s"blob-$n", rndBytes(n, 21L + n)))
      val df = (blobs.map { case (id, b) => (id, Option(b)) } :+ (("blob-null", None)))
        .toDF("path", "content")
      val got = Chunking.segmentedChunkTable(df, "path", "content", algo, 1024, 5L,
          segments = segments, spreadSegments = spread)
        .select($"id", $"chunk_idx", $"offset", $"length", $"chunk")
        .as[(String, Int, Int, Int, Array[Byte])].collect()
        .groupBy(_._1).view.mapValues(rs => spans(rs.toIndexedSeq.map(r => (r._2, r._3, r._4, r._5)))).toMap
      val ctx = s"$algo segments=$segments spread=$spread"
      assert(!got.contains("blob-null"), s"$ctx: a null payload yields no chunks")
      for ((id, data) <- blobs)
        assert(got.getOrElse(id, Nil) == expected(data, oracle(algo, segments)(data)), s"$ctx $id")

      val textGot = Chunking.segmentedChunkTable(Seq(("t", text)).toDF("path", "text"),
          "path", "text", algo, 1024, 5L, segments = segments, spreadSegments = spread)
        .select($"chunk_idx", $"offset", $"length", $"chunk").as[(Int, Int, Int, Array[Byte])].collect()
      val utf8 = text.getBytes("UTF-8")
      assert(spans(textGot.toSeq) == expected(utf8, oracle(algo, segments)(utf8)), s"$ctx string payload")
    }
  }

  test("segmentedChunkTable keeps non-numeric ids distinct (no silent long cast)") {
    import spark.implicits._
    // Two blobs keyed by path-like string ids: a long-cast would null both
    // keys, merge them into one group, and corrupt every cut (ADVICE r1).
    val a = rndBytes(30000, 41)
    val b = rndBytes(30000, 42)
    val docs = Seq(("s3://bucket/a.bin", a), ("s3://bucket/b.bin", b)).toDF("path", "content")
    val got = Chunking.segmentedChunkTable(docs, "path", "content", "ae", 1024, segments = 4)
      .select($"id".cast("string"), $"chunk_idx", $"offset", $"length")
      .as[(String, Int, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    val c = AeChunker(1024)
    for ((id, data) <- Seq(("s3://bucket/a.bin", a), ("s3://bucket/b.bin", b))) {
      val ends = ParallelChunking.overlapMergedBoundaries(data, 4, c.boundsInRange, c.window)
      var last = 0
      val want = ends.map { e => val r = (last, e - last); last = e; r }.toSeq
      assert(got(id) == want, id)
    }
  }

  test("overlap strategy (A) approximates sequential metrics; edge strategy (B) honors its own contract") {
    // Duplication placed WITHIN each slice (block repeated 8x, 4 slices => each
    // slice is block++block): strategy B's unique-byte accounting is per-slice
    // local (`parallel.rs:46-51` — a chunk repeated across two slices counts
    // twice), so only within-slice duplication is visible to its coefficient.
    val block = rndBytes(7500, 33)
    val data = Array.fill(8)(block).flatten
    val ae = AeChunker(1024)
    val seq = ParallelChunking.sequentialMetrics(data, ae)
    val overlap = ParallelChunking.overlapMetrics(data, 4, ae.boundsInRange, ae.window)
    val edge = ParallelChunking.edgeRechunkMetrics(data, 4, ae)

    assert(seq.dedupCoeff < 0.3, s"sequential found the 8x duplication: ${seq.dedupCoeff}")
    // A: global accounting => close to sequential.
    assert(math.abs(overlap.dedupCoeff - seq.dedupCoeff) < 0.15, s"overlap ${overlap.dedupCoeff} vs ${seq.dedupCoeff}")
    // B: within-slice duplication detected (each slice halves), global distinct
    // set still dedups across slices so distinct counts stay comparable.
    assert(edge.dedupCoeff < 0.75, s"edge found within-slice duplication: ${edge.dedupCoeff}")
    assert(edge.distinctChunks <= seq.distinctChunks * 2 && edge.distinctChunks >= seq.distinctChunks / 2,
      s"edge distinct ${edge.distinctChunks} vs seq ${seq.distinctChunks}")
  }

  test("segmentedChunkTable at multi-MB scale: chunks match payload slices, metrics track sequential") {
    import spark.implicits._
    val data = rndBytes(8 << 20, 99) // 8 MiB single blob, 8-way segment scan
    val df = Seq((1L, data)).toDF("doc_id", "content")
    val chunks = Chunking.segmentedChunkTable(df, "doc_id", "content", "ae", 8192, segments = 8)
      .orderBy("chunk_idx")
      .select($"offset", $"length", $"chunk").as[(Int, Int, Array[Byte])].collect()
    assert(chunks.length > 500, s"expected ~1k chunks, got ${chunks.length}")
    // contiguous coverage from offset 0 and every chunk equals its payload slice
    var expectOff = 0
    for ((off, len, bytes) <- chunks) {
      assert(off == expectOff, s"gap at $off")
      assert(java.util.Arrays.equals(bytes,
        java.util.Arrays.copyOfRange(data, off, off + len)))
      expectOff = off + len
    }
    assert(expectOff >= data.length - 8192 * 2, "tail coverage within merge tolerance")
    // distributed metrics stay close to the pure sequential scan
    val seqCount = AeChunker(8192).chunks(data).length
    assert(math.abs(chunks.length - seqCount) <= seqCount / 5,
      s"segmented ${chunks.length} vs sequential $seqCount")
  }

  test("segmentedChunkTable spreadSegments: large blobs in one input partition land on several tasks, cuts unchanged") {
    import spark.implicits._
    val data = rndBytes(4 << 20, 7) // 4 MiB single blob
    val df = Seq((1L, data)).toDF("doc_id", "content")

    // Four 1 MiB blobs read into ONE input partition: without spread a
    // single task chunks them all; spread hash-repartitions whole blob rows
    // on id, so the blobs fan across tasks (each payload ships once).
    val blobs = (1L to 4L).map(i => (i, rndBytes(1 << 20, 70 + i))).toDF("doc_id", "content")
      .coalesce(1)
    def tasks(spreadOn: Boolean) = Chunking.segmentedChunkTable(
      blobs, "doc_id", "content", "ae", 8192, segments = 8, spreadSegments = spreadOn)
      .select(org.apache.spark.sql.functions.spark_partition_id()).distinct().count()
    val spreadTasks = tasks(spreadOn = true)
    assert(spreadTasks >= 2, s"4 blobs should occupy several tasks, got $spreadTasks partition(s)")
    val unspread = tasks(spreadOn = false)
    assert(unspread == 1L, s"control: unspread blobs of one input partition share one task, got $unspread")

    // and the spread path produces byte-identical chunks
    def cuts(spreadOn: Boolean) = Chunking.segmentedChunkTable(
      df, "doc_id", "content", "ae", 8192, segments = 8, spreadSegments = spreadOn)
      .select($"chunk_idx", $"offset", $"length").as[(Int, Int, Int)]
      .collect().sortBy(_._1).toSeq
    assert(cuts(spreadOn = true) == cuts(spreadOn = false))
  }

  test("distributed edge-rechunk metrics (strategy B) equal the core ground truth per blob") {
    import spark.implicits._
    // blob 2 carries strong internal duplication so the dedup accounting paths
    // (local interior sets + stitched-new-only) are all exercised
    val block = rndBytes(6000, 52)
    val docs = Seq(
      (1L, rndBytes(30000, 51)),
      (2L, Array.fill(5)(block).flatten)
    ).toDF("doc_id", "content")
    val got = Chunking.edgeRechunkMetricsPerBlob(docs, "doc_id", "content", "fastcdc", 1024, 7L, parts = 4)
      .select($"id".cast("long"), $"unique_bytes", $"total_bytes", $"distinct_chunks",
        $"dedup_coeff", $"avg_chunk_size")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val chunker = graft.core.Chunker("fastcdc", 1024, 7L)
    for ((id, data) <- Seq((1L, rndBytes(30000, 51)), (2L, Array.fill(5)(block).flatten))) {
      val want = ParallelChunking.edgeRechunkMetrics(data, 4, chunker)
      val (_, ub, tb, dc, coeff, avg) = got(id)
      assert(ub == want.uniqueBytes, s"uniqueBytes doc $id")
      assert(tb == want.totalBytes, s"totalBytes doc $id")
      assert(dc == want.distinctChunks, s"distinctChunks doc $id")
      assert(coeff == want.dedupCoeff, s"dedupCoeff doc $id")
      assert(avg == want.avgChunkSize, s"avgChunkSize doc $id")
    }
  }

  test("edgeRechunkMetricsPerBlob skips payloads shorter than `parts` bytes instead of failing") {
    import spark.implicits._
    val docs = Seq(
      (1L, rndBytes(30000, 51)),
      (2L, Array[Byte](1, 2)), // < parts bytes: an empty slice would crash cs.last
      (3L, Array.emptyByteArray)
    ).toDF("doc_id", "content")
    val got = Chunking.edgeRechunkMetricsPerBlob(docs, "doc_id", "content", "fastcdc", 1024, 7L, parts = 4)
      .select($"id".cast("long")).as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("chunkDiff classifies added and removed chunks across snapshots") {
    import spark.implicits._
    val v1 = Seq((1L, "aaaa bbbb cccc dddd " * 40)).toDF("doc_id", "text")
    val v2 = Seq((1L, "aaaa bbbb XXXX dddd " * 40)).toDF("doc_id", "text")
    val c1 = Chunking.chunkTable(v1, "doc_id", "text", "fastcdc", 64, 1L)
    val c2 = Chunking.chunkTable(v2, "doc_id", "text", "fastcdc", 64, 1L)
    val diff = Chunking.chunkDiff(c1, c2)
    val byChange = diff.groupBy("change").count().as[(String, Long)].collect().toMap
    assert(byChange.getOrElse("added", 0L) > 0)
    assert(byChange.getOrElse("removed", 0L) > 0)
    // identical snapshots => empty diff
    assert(Chunking.chunkDiff(c1, c1).isEmpty)
  }

  test("chunkContract flips each invariant boolean on the matching violation") {
    import spark.implicits._
    def contract(rows: (Long, Int, Long, Long)*) =
      CdcQueries.chunkContract(
        rows.toDF("doc_id", "chunk_idx", "offset", "length"), minNonLast = 10L, maxLen = 40L)
        .as[(Long, Long, Boolean, Boolean, Boolean)].collect().head

    // Valid tiling: contiguous from 0, non-last >= 10, all <= 40, short tail OK.
    assert(contract((1L, 0, 0L, 20L), (1L, 1, 20L, 30L), (1L, 2, 50L, 5L)) ==
      ((1L, 55L, true, true, true)))
    // Overlap (second offset rewinds) => contiguous=false, totals unaffected.
    assert(contract((1L, 0, 0L, 20L), (1L, 1, 15L, 30L))._3 == false)
    // Gap => contiguous=false.
    assert(contract((1L, 0, 0L, 20L), (1L, 1, 25L, 30L))._3 == false)
    // Short NON-last chunk => min_len_ok=false (short last chunk is legal).
    assert(contract((1L, 0, 0L, 5L), (1L, 1, 5L, 30L))._4 == false)
    // Oversize chunk (incl. the last) => max_len_ok=false.
    assert(contract((1L, 0, 0L, 20L), (1L, 1, 20L, 41L))._5 == false)
  }

  test("chunkContractOverDocs emits a zero-total row for a chunkless document") {
    import spark.implicits._
    // Doc 2 produces no chunk rows (e.g. zero-length payload) — the doc join
    // must still emit its contract row (total_len=0, invariants vacuously
    // true) so the row count matches the oracle's one-row-per-document.
    val docs = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
    val chunks = Seq((1L, 0, 0L, 5L)).toDF("doc_id", "chunk_idx", "offset", "length")
    val got = CdcQueries.chunkContractOverDocs(chunks, docs, minNonLast = 2L, maxLen = 10L)
      .as[(Long, Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(got == Seq((1L, 5L, true, true, true), (2L, 0L, true, true, true)))
  }

  test("chunkContract over a real chunk table is all-green and tiles n_chars") {
    import spark.implicits._
    val docs = Seq((1L, rndBytes(5000, 11)), (2L, rndBytes(777, 12))).toDF("doc_id", "content")
    val chunks = Chunking.chunkTable(docs, "doc_id", "content", "fastcdc", 64, 42L)
      .select($"id".as("doc_id"), $"chunk_idx",
        $"offset".cast("long").as("offset"), $"length".cast("long").as("length"))
    val got = CdcQueries.chunkContract(chunks, minNonLast = 17L, maxLen = 513L)
      .as[(Long, Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(got == Seq((1L, 5000L, true, true, true), (2L, 777L, true, true, true)))
  }

  test("SQL surface: cdc_chunks generator composes with LATERAL VIEW") {
    graft.plans.GraftExtensions.register(spark)
    import spark.implicits._
    Seq((1L, rndBytes(4000, 5))).toDF("id", "content").createOrReplaceTempView("blobs")
    val n = spark.sql(
      """SELECT id, c.offset, c.length
        |FROM blobs LATERAL VIEW cdc_chunks(content, 'fastcdc', 256, 42) c""".stripMargin).count()
    assert(n > 1)
  }
}
