package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Portable.{h60, h60Sql, rndSql, round}
import org.apache.spark.sql.expressions.Window

/** One media blob: opaque binary content + typed metadata. Derived
  * deterministically from the documents table (content = UTF-8 bytes of
  * `text`) so every engine run and the oracle see the same corpus — this
  * mirrors how a production table would hold image/audio/video bytes next to
  * decoded-shape metadata.
  */
case class MediaRow(
    doc_id: Long,
    media_type: String,
    content: Array[Byte],
    width: Int,
    height: Int,
    duration_ms: Long)

case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    n_bytes: Long,
    features: Array[Float])

/** Multimodal-column operators: catalog, frame sampling, feature extraction.
  *
  * The decode step (image/audio codec) is STUBBED — this container has no
  * media libraries — as a deterministic fake: a 16-bin byte histogram stands
  * in for "decode + embed". Everything around the stub is the real
  * distributed shape: binary columns with pushdown-friendly metadata,
  * per-partition batch iteration (`Dataset.mapPartitions`, the JVM analog of
  * `mapInPandas` — one iterator per partition, constant memory), and
  * relational post-processing. Swapping the stub for a real codec changes no
  * plumbing.
  *
  * Scale notes: content bytes never shuffle — frame sampling slices with
  * codegen'd `substring` before any exchange, and feature extraction reduces
  * each blob to 16 floats inside the scan stage; only the small outputs move.
  */
object Multimodal extends graft.QueryRegistry {

  private val FrameCount = 4
  private val HistBins = 16
  private val ThumbW = 8
  private val ThumbH = 8

  /** STUB resize: nearest-neighbor downsample over the fake decoded pixel
    * grid (pixel(x, y) = content byte at (y·width + x) mod len — a real
    * codec would decode width×height pixels here; the sampling arithmetic,
    * batch shape and downstream hashing are the production plumbing).
    */
  private def resizeStub(content: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val out = new Array[Byte](ThumbW * ThumbH)
    val n = math.max(content.length, 1)
    var y = 0
    while (y < ThumbH) {
      val sy = y * height / ThumbH
      var x = 0
      while (x < ThumbW) {
        val sx = x * width / ThumbW
        out(y * ThumbW + x) = content(((sy.toLong * width + sx) % n).toInt)
        x += 1
      }
      y += 1
    }
    out
  }

  /** pHash near-dup pairs (id1, id2, hamming <= 3) over the planted image
    * corpus — the banded-LSH + hamming-verify pipeline shared by
    * mm_phash_pairs and mm_phash_clusters. Exact by pigeonhole: hamming
    * <= 3 across 4 bands forces at least one equal 16-bit band.
    */
  private def phashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = graft.Tables.documents(s, d)
      .select($"doc_id", $"text").filter($"doc_id" % 3 === 0)
    val pm = base
      .unionByName(base.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 144000).as("doc_id"), $"text"))
      .unionByName(base.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 288000).as("doc_id"),
          concat(lit("X"), $"text".substr(lit(2), length($"text"))).as("text")))
    val ah = pm.select($"doc_id",
        encode($"text", "UTF-8").as("content"),
        (lit(64) + ($"doc_id" % 16) * 16).cast("int").as("width"),
        (lit(64) + ($"doc_id" % 9) * 16).cast("int").as("height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions(_.map { case (id, c, w, h) =>
        val t = resizeStub(c, w, h)
        var sum = 0L; var i = 0
        while (i < t.length) { sum += (t(i) & 0xff); i += 1 }
        var lo = 0L; var hi = 0L
        i = 0
        while (i < 32) { if (64L * (t(i) & 0xff) > sum) lo |= 1L << i; i += 1 }
        while (i < 64) { if (64L * (t(i) & 0xff) > sum) hi |= 1L << (i - 32); i += 1 }
        (id, lo, hi)
      })
      .toDF("doc_id", "lo", "hi")
      .cache() // read by the band join (twice) + hamming verify (Bench clears)
    val bands = ah.select($"doc_id", posexplode(array(
      $"lo".bitwiseAND(lit(65535L)), shiftright($"lo", 16).bitwiseAND(lit(65535L)),
      $"hi".bitwiseAND(lit(65535L)), shiftright($"hi", 16).bitwiseAND(lit(65535L)))))
      .toDF("doc_id", "b", "bval")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()
    cand
      .join(ah.select($"doc_id".as("id1"), $"lo".as("lo1"), $"hi".as("hi1")), "id1")
      .join(ah.select($"doc_id".as("id2"), $"lo".as("lo2"), $"hi".as("hi2")), "id2")
      .select($"id1", $"id2",
        (bit_count($"lo1".bitwiseXOR($"lo2")) +
          bit_count($"hi1".bitwiseXOR($"hi2"))).cast("long").as("hamming"))
      .filter($"hamming" <= 3)
  }

  /** Oracle twin of [[phashPairs]]: CTE chain pm/px/ah/bands/cand ending at
    * `ham(id1, id2, hamming)` (unfiltered — callers apply the <= 3 cut).
    */
  private def phashHamSql: String = {
    val pos = s"CAST((((i // $ThumbW) * (64 + (doc_id % 9) * 16) // $ThumbH) * (64 + (doc_id % 16) * 16) " +
      s"+ ((i % $ThumbW) * (64 + (doc_id % 16) * 16) // $ThumbW)) % length(text) AS INT) + 1"
    s"""pm AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 144000, text FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
       |  UNION ALL SELECT doc_id + 288000, 'X' || substr(text, 2) FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 = 0),
       |px AS (
       |  SELECT doc_id,
       |    list_transform(range(0, ${ThumbW * ThumbH}), i -> ascii(substr(text, $pos, 1))) AS pix
       |  FROM pm),
       |ah AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN 64 * pix[i+1] > list_sum(pix) THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS lo,
       |    CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN 64 * pix[i+33] > list_sum(pix) THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hi
       |  FROM px),
       |bands AS (
       |  SELECT doc_id, lo, hi, b,
       |    CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
       |           WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bval
       |  FROM ah, (SELECT unnest(range(0, 4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.bval = y.bval AND x.doc_id < y.doc_id),
       |ham AS (
       |  SELECT c.id1, c.id2,
       |    CAST(bit_count(xor(a1.lo, a2.lo)) + bit_count(xor(a1.hi, a2.hi)) AS BIGINT) AS hamming
       |  FROM cand c JOIN ah a1 ON a1.doc_id = c.id1 JOIN ah a2 ON a2.doc_id = c.id2)""".stripMargin
  }

  /** Media table derived from documents: media_type cycles by doc_id,
    * metadata is arithmetic on (doc_id, n_chars) — all oracle-computable.
    *
    * ASCII-ONLY ASSUMPTION (ADVICE r6): `content` is the UTF-8 encoding of
    * `documents.text`, and every oracle that slices/indexes content by BYTE
    * offset (mm_frame_sample, mm_resize_thumbnail, mm_scene_changes) slices
    * `text` by CHARACTER offset in SQL — the two agree only because the
    * synthetic corpus is pure ASCII (verified: codepoints 32..121, spec-
    * pinned in MultimodalSpec). Real multi-byte media metadata would never
    * route through a text column at all; this mapping exists only so the
    * stubbed decode stays DuckDB-checkable.
    */
  def media(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(
      $"doc_id".cast("long").as("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")), ($"doc_id" % 3 + 1).cast("int"))
        .as("media_type"),
      encode($"text", "UTF-8").as("content"),
      (lit(64) + ($"doc_id" % 16) * 16).cast("int").as("width"),
      (lit(64) + ($"doc_id" % 9) * 16).cast("int").as("height"),
      ($"n_chars" * 40L).cast("long").as("duration_ms"))
  }

  /** STUB decode: byte histogram over HistBins buckets, L1-normalized.
    * Deterministic stand-in for codec + feature model (`???` in production
    * would be the codec call); signature and batch shape are the real thing.
    */
  private def decodeAndFeaturize(content: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](HistBins)
    var i = 0
    while (i < content.length) {
      hist(((content(i) & 0xff) * HistBins) >> 8) += 1f
      i += 1
    }
    val n = math.max(content.length, 1).toFloat
    var b = 0
    while (b < HistBins) { hist(b) /= n; b += 1 }
    hist
  }

  /** Batch feature extraction: one iterator per partition (constant memory,
    * no per-row task overhead) — the `mapInPandas` shape on the JVM.
    */
  def featurize(mediaDf: DataFrame): Dataset[MediaFeatures] = {
    val spark = mediaDf.sparkSession
    import spark.implicits._
    mediaDf.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        MediaFeatures(r.doc_id, r.media_type, r.content.length.toLong,
          decodeAndFeaturize(r.content))
      }
    }
  }

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- catalog: binary length + typed metadata (pure arithmetic oracle).
    ("mm_media_catalog", (s, d) => {
      import s.implicits._
      media(s, d)
        .select($"doc_id", $"media_type", length($"content").cast("long").as("n_bytes"),
          $"width", $"height", $"duration_ms")
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(64 + (doc_id % 16) * 16 AS INT) AS width,
        |  CAST(64 + (doc_id % 9) * 16 AS INT) AS height,
        |  CAST(n_chars * 40 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- per-modality dataset card: the governance roll-up for a mixed
    // media corpus — item/byte/duration volume, mean dimensions, and the
    // exact-duplicate rate by content hash, one row per media type. The
    // means divide exact integer sums (one IEEE division per cell, the
    // dataset-card parity stance); content bytes never shuffle — only
    // md5 hashes reach the aggregate.
    ("mm_dataset_card", (s, d) => {
      import s.implicits._
      media(s, d)
        .select($"media_type", length($"content").cast("long").as("n_bytes"),
          $"width", $"height", $"duration_ms", md5($"content").as("h"))
        .groupBy($"media_type")
        .agg(count(lit(1)).as("n_items"),
          sum($"n_bytes").as("total_bytes"),
          sum($"duration_ms").as("total_duration_ms"),
          round(sum($"width") / count(lit(1)).cast("double"), 2).as("avg_width"),
          round(sum($"height") / count(lit(1)).cast("double"), 2).as("avg_height"),
          countDistinct($"h").as("n_distinct"),
          round((count(lit(1)) - countDistinct($"h")) / count(lit(1)).cast("double"), 4)
            .as("dup_rate"))
        .orderBy($"media_type")
    }, Some(
      s"""WITH m AS (
         |  SELECT ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
         |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         |    CAST(64 + (doc_id % 16) * 16 AS INT) AS width,
         |    CAST(64 + (doc_id % 9) * 16 AS INT) AS height,
         |    CAST(n_chars * 40 AS BIGINT) AS duration_ms,
         |    md5(text) AS h
         |  FROM documents)
         |SELECT media_type, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
         |  ${rndSql("sum(width) / CAST(count(*) AS DOUBLE)", 2)} AS avg_width,
         |  ${rndSql("sum(height) / CAST(count(*) AS DOUBLE)", 2)} AS avg_height,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |  ${rndSql("(count(*) - count(DISTINCT h)) / CAST(count(*) AS DOUBLE)", 4)} AS dup_rate
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- frame sampling: split each blob into FrameCount equal byte ranges
    // (video frame-sample / audio window shape); codegen'd substring slices
    // before any shuffle, md5 identifies each frame.
    ("mm_frame_sample", (s, d) => {
      import s.implicits._
      val n = length($"content")
      val frames = transform(sequence(lit(0), lit(FrameCount - 1)), k => {
        val start = (n * k / FrameCount).cast("int")
        val end = (n * (k + 1) / FrameCount).cast("int")
        struct(k.as("frame_idx"), start.cast("long").as("offset"),
          (end - start).cast("long").as("frame_len"),
          md5($"content".substr(start + 1, end - start)).as("frame_md5"))
      })
      media(s, d)
        .select($"doc_id", explode(frames).as("f"))
        .select($"doc_id", $"f.frame_idx".cast("long").as("frame_idx"), $"f.offset".as("offset"),
          $"f.frame_len".as("frame_len"), $"f.frame_md5".as("frame_md5"))
        .orderBy($"doc_id", $"frame_idx")
    }, Some(
      s"""SELECT doc_id,
         |  CAST(k AS BIGINT) AS frame_idx,
         |  CAST(length(text) * k // $FrameCount AS BIGINT) AS offset,
         |  CAST(length(text) * (k+1) // $FrameCount - length(text) * k // $FrameCount AS BIGINT) AS frame_len,
         |  md5(substr(text, length(text) * k // $FrameCount + 1,
         |      length(text) * (k+1) // $FrameCount - length(text) * k // $FrameCount)) AS frame_md5
         |FROM documents, (SELECT unnest(range(0, $FrameCount)) AS k)
         |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- overlapping byte windows over the audio rows (window 128, hop 64)
    // — the audio-framing shape (STFT frames / feature windows). Slicing is
    // codegen'd substr before any shuffle; only (offset, md5) rows move.
    ("mm_audio_windows", (s, d) => {
      import s.implicits._
      val W = 128
      val H = 64
      val n = length($"content")
      // Column `/` is DOUBLE division — floor+cast for an integral sequence stop
      val nWin = floor(($"n" - W) / H).cast("int") + 1
      // rows shorter than one window yield zero windows on both engines
      // (oracle: greatest(..., 0) makes range() empty) — filter, don't
      // build an untypeable empty struct-array literal.
      val wins = transform(sequence(lit(0), nWin - 1), k =>
        struct((k * H).cast("long").as("offset"),
          md5($"content".substr(k * H + 1, lit(W))).as("win_md5")))
      media(s, d)
        .filter($"media_type" === "audio")
        .select($"doc_id", $"content", n.as("n"))
        .filter($"n" >= W)
        .select($"doc_id", posexplode(wins).as(Seq("win_idx", "w")))
        .select($"doc_id", $"win_idx".cast("long").as("win_idx"),
          $"w.offset".as("offset"), $"w.win_md5".as("win_md5"))
        .orderBy($"doc_id", $"win_idx")
    }, Some(
      """SELECT doc_id, CAST(k AS BIGINT) AS win_idx, CAST(k * 64 AS BIGINT) AS offset,
        |  md5(substr(text, k * 64 + 1, 128)) AS win_md5
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, (length(text) - 128) // 64 + 1)) AS k
        |      FROM documents WHERE doc_id % 3 = 1 AND length(text) >= 128)
        |ORDER BY doc_id, win_idx""".stripMargin)),

    // ---- resize through the stubbed decode: every image row downsampled
    // to an 8×8 nearest-neighbor thumbnail — the batch-transcode shape
    // (decode → resize → re-encode) with the codec stubbed as the
    // deterministic byte grid. The thumbnail bytes are per-partition JVM
    // work (the mapInPandas shape); only (id, 64-byte thumb) rows leave the
    // scan stage. Oracle-checked exactly: the corpus is ASCII, so DuckDB
    // rebuilds the same 64 bytes with substr arithmetic and md5s them;
    // pix_sum is the integer checksum of the sampled pixels.
    ("mm_resize_thumbnail", (s, d) => {
      import s.implicits._
      media(s, d).filter($"media_type" === "image")
        .select($"doc_id", $"content", $"width", $"height")
        .as[(Long, Array[Byte], Int, Int)]
        .mapPartitions(_.map { case (id, c, w, h) =>
          val t = resizeStub(c, w, h)
          var sum = 0L
          var i = 0
          while (i < t.length) { sum += (t(i) & 0xff); i += 1 }
          (id, t, sum)
        })
        .toDF("doc_id", "thumb", "pix_sum")
        .select($"doc_id",
          lit(ThumbW.toLong).as("out_w"), lit(ThumbH.toLong).as("out_h"),
          md5($"thumb").as("thumb_md5"), $"pix_sum")
        .orderBy($"doc_id")
    }, Some(
      s"""SELECT doc_id, CAST($ThumbW AS BIGINT) AS out_w, CAST($ThumbH AS BIGINT) AS out_h,
         |  md5(array_to_string(list_transform(range(0, ${ThumbW * ThumbH}),
         |    i -> substr(text, CAST((((i // $ThumbW) * (64 + (doc_id % 9) * 16) // $ThumbH) * (64 + (doc_id % 16) * 16)
         |                 + ((i % $ThumbW) * (64 + (doc_id % 16) * 16) // $ThumbW)) % length(text) AS INT) + 1, 1)), '')) AS thumb_md5,
         |  CAST(list_sum(list_transform(range(0, ${ThumbW * ThumbH}),
         |    i -> ascii(substr(text, CAST((((i // $ThumbW) * (64 + (doc_id % 9) * 16) // $ThumbH) * (64 + (doc_id % 16) * 16)
         |                 + ((i % $ThumbW) * (64 + (doc_id % 16) * 16) // $ThumbW)) % length(text) AS INT) + 1, 1)))) AS BIGINT) AS pix_sum
         |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin)),

    // ---- feature extraction through the stubbed decode, oracle-checked:
    // the fake codec is a 16-bin byte histogram, and the corpus is pure
    // ASCII (verified: codepoints 32..121), so bin membership is
    // ascii(ch) >> 4 in SQL. The checked projections are integer-exact —
    // active-bin count, and bin-6's raw count recovered from the
    // L1-normalized float via round(f * n) (float32 error ≪ 0.5) — so no
    // float32-vs-double rounding can flap the compare. The decode stub
    // itself stays the swappable piece; the plumbing under test is real.
    ("mm_feature_extract", (s, d) => {
      import s.implicits._
      featurize(media(s, d)).toDF()
        .select($"doc_id", $"media_type", $"n_bytes",
          size(filter($"features", x => x > 0f)).cast("long").as("n_active_bins"),
          round(element_at($"features", 7).cast("double") * $"n_bytes", 0).cast("long").as("bin6_count"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(len(list_distinct(list_transform(split(text, ''), ch -> ascii(ch) // 16))) AS BIGINT) AS n_active_bins,
        |  CAST(len(list_filter(split(text, ''), ch -> ascii(ch) // 16 = 6)) AS BIGINT) AS bin6_count
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- scene-change (shot-boundary) detection: per-frame feature, lag
    // window per blob, flag a cut when the feature jumps. The frame feature
    // is the stubbed stand-in for a decoded histogram distance (h60 of the
    // frame bytes mod 1000 — a real codec would emit a color histogram
    // here); the TEMPORAL-DIFF PLUMBING is the production shape: frames
    // explode map-side, the lag window partitions by blob over FrameCount
    // rows (bounded — never a corpus-wide sort), and the cut flag is a
    // codegen'd comparison.
    ("mm_scene_changes", (s, d) => {
      import s.implicits._
      val n = length($"content")
      val frames = transform(sequence(lit(0), lit(FrameCount - 1)), k => {
        val start = (n * k / FrameCount).cast("int")
        val end = (n * (k + 1) / FrameCount).cast("int")
        struct(k.as("frame_idx"), h60($"content".substr(start + 1, end - start)).as("feat"))
      })
      val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
      media(s, d)
        .select($"doc_id", explode(frames).as("f"))
        .select($"doc_id", $"f.frame_idx".cast("long").as("frame_idx"),
          pmod($"f.feat", lit(1000L)).as("feat"))
        .withColumn("prev_feat", lag($"feat", 1).over(w))
        .withColumn("is_cut", $"prev_feat".isNotNull && abs($"feat" - $"prev_feat") > 500)
        .orderBy($"doc_id", $"frame_idx")
    }, Some(
      s"""WITH fr AS (
         |  SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
         |    ${h60Sql(s"substr(text, length(text) * k // $FrameCount + 1, length(text) * (k+1) // $FrameCount - length(text) * k // $FrameCount)")} % 1000 AS feat
         |  FROM documents, (SELECT unnest(range(0, $FrameCount)) AS k))
         |SELECT doc_id, frame_idx, feat,
         |  lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_feat,
         |  (lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx) IS NOT NULL
         |    AND abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 500) AS is_cut
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- perceptual-hash (aHash) near-dup detection over image blobs: the
    // visual analogue of MinHash dedup. Each image's 8x8 thumbnail (the
    // stubbed decode+resize) becomes a 64-bit hash — bit i set iff pixel i
    // is above the thumbnail mean (compared as 64·pix > sum: integer-only,
    // no division) — held as two 32-bit halves so neither engine touches
    // the BIGINT sign bit. Candidate pairs come from a 4x16-bit band
    // equi-join (pigeonhole: hamming <= 3 forces at least one equal band,
    // so the <= 3 output is EXACT, never sampled), then only candidates
    // pay the bit_count hamming verify — the sub-quadratic LSH shape, by
    // banding, same as the text-side MinHash. The planted corpus adds
    // exact copies (+144000) and one-char edits (+288000) of image docs;
    // both offsets are ≡ 0 mod 144 = lcm(16,9)·
    // — width/height derive from doc_id so copies keep their dims.
    ("mm_phash_pairs", (s, d) =>
      phashPairs(s, d).orderBy(col("id1"), col("id2")), Some {
      s"""WITH $phashHamSql
         |SELECT id1, id2, hamming FROM ham WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin
    }),

    // ---- image near-dup CLUSTERS: the step after pair detection — group
    // the pHash hamming <= 3 graph into components (a gallery keeps ONE
    // image per cluster; pair lists double-count transitively-connected
    // edit chains, the same argument as dedup_clusters). Components run on
    // the log-round large/small-star CC shared with the text side — one
    // algorithm for every near-dup graph in the engine, whatever the
    // modality. Oracle recomputes the pair graph and components via the
    // recursive CTE, so Spark's banded candidate generation, hamming
    // verify, AND the star alternation must all agree with the exact SQL.
    ("mm_phash_clusters", (s, d) => {
      import s.implicits._
      val labels = Dedup.ccBigStar(
        phashPairs(s, d).filter($"hamming" <= 3).select($"id1", $"id2"))
      val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "comp")
        .select($"id".as("doc_id"), $"comp".as("cluster_id"), $"cluster_size")
        .orderBy($"doc_id")
    }, Some {
      s"""WITH RECURSIVE $phashHamSql,
         |ver AS (SELECT id1, id2 FROM ham WHERE hamming <= 3),
         |edges AS (SELECT id1 AS a, id2 AS b FROM ver UNION ALL SELECT id2, id1 FROM ver),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
         |SELECT c.id AS doc_id, c.cluster_id, s.cluster_size
         |FROM comp c JOIN sizes s USING (cluster_id) ORDER BY doc_id""".stripMargin
    }),

    // ---- frame-level redundancy: per video, how many sampled frames are
    // exact repeats WITHIN the video and how many of its distinct frames
    // also appear in OTHER videos (intro cards, shared b-roll — the frames
    // a video-dedup pass would drop or reference-count). Same FrameCount
    // byte-range geometry as mm_frame_sample; identity is the frame md5.
    // Scale shape: one frame-hash aggregation for cross-video carriers
    // (map-combinable) + a semi-join back — frame BYTES never shuffle,
    // only (doc_id, md5) rows.
    ("mm_frame_dedup", (s, d) => {
      import s.implicits._
      val n = length($"content")
      val frames = transform(sequence(lit(0), lit(FrameCount - 1)), k => {
        val start = (n * k / FrameCount).cast("int")
        val end = (n * (k + 1) / FrameCount).cast("int")
        md5($"content".substr(start + 1, end - start))
      })
      val fr = media(s, d)
        .select($"doc_id", explode(frames).as("h"))
        .cache() // read by the per-doc pass + the carrier aggregation
      val carriers = fr.select($"doc_id", $"h").distinct()
        .groupBy($"h").agg(count(lit(1)).as("nd"))
      val shared = fr.select($"doc_id", $"h").distinct()
        .join(carriers.filter($"nd" >= 2), "h")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      fr.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_frames"),
          countDistinct($"h").as("n_distinct"))
        .join(shared, Seq("doc_id"), "left")
        .select($"doc_id", $"n_frames", $"n_distinct",
          coalesce($"n_shared", lit(0L)).as("n_shared"),
          round(($"n_frames" - $"n_distinct") / $"n_frames".cast("double"), 4)
            .as("intra_dup_frac"))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH fr AS (
         |  SELECT doc_id,
         |    md5(substr(text, length(text) * k // $FrameCount + 1,
         |        length(text) * (k+1) // $FrameCount - length(text) * k // $FrameCount)) AS h
         |  FROM documents, (SELECT unnest(range(0, $FrameCount)) AS k)),
         |du AS (SELECT DISTINCT doc_id, h FROM fr),
         |carriers AS (SELECT h, count(*) AS nd FROM du GROUP BY 1),
         |shared AS (
         |  SELECT du.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM du JOIN carriers USING (h) WHERE nd >= 2 GROUP BY 1),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
         |  FROM fr GROUP BY 1)
         |SELECT p.doc_id, n_frames, n_distinct,
         |  coalesce(s.n_shared, 0) AS n_shared,
         |  ${rndSql("(n_frames - n_distinct) / CAST(n_frames AS DOUBLE)", 4)} AS intra_dup_frac
         |FROM per p LEFT JOIN shared s USING (doc_id) ORDER BY p.doc_id""".stripMargin)),

    // ---- voice-activity detection over audio blobs: the segmentation pass
    // an audio-corpus pipeline runs before transcription (silence costs ASR
    // compute; VAD crops it out). The decode stub stands in for frame
    // energy: a window is "speech" when voiced-class bytes ([a-z], the
    // fake formant band) hold the majority — integer-only (2·voiced >
    // win_len, no float threshold). Consecutive active windows coalesce
    // into segments with the same gaps-and-islands trick as
    // dedup_span_islands; ms offsets are exact integer arithmetic on the
    // stub's 40 ms/char clock (duration_ms = n_chars·40 in media()).
    // Scale shape: window emission is map-only (explode over per-row
    // sequence — content bytes never shuffle, only (doc_id, win_idx,
    // voiced) rows); both windows partition by doc_id, whose per-key
    // cardinality is bounded by doc length / 64, never the corpus.
    ("mm_audio_vad", (s, d) => {
      import s.implicits._
      val W = VadWindowChars
      val au = media(s, d).filter($"media_type" === "audio")
        .select($"doc_id", decode($"content", "UTF-8").as("text"),
          length($"content").cast("long").as("n_chars"), $"duration_ms")
      val wins = au
        .select($"doc_id", $"text", $"n_chars", $"duration_ms",
          explode(sequence(lit(0L), expr(s"(n_chars - 1) div $W"))).as("win_idx"))
        .select($"doc_id", $"n_chars", $"duration_ms", $"win_idx",
          length(regexp_replace(
            substring($"text", ($"win_idx" * W + 1).cast("int"), lit(W)), "[^a-z]", ""))
            .cast("long").as("voiced"),
          least(lit(W.toLong), $"n_chars" - $"win_idx" * W).as("win_len"))
      val active = wins.filter($"voiced" * 2 > $"win_len")
      val grp = $"win_idx" - row_number().over(
        Window.partitionBy($"doc_id").orderBy($"win_idx"))
      active
        .withColumn("grp", grp)
        .groupBy($"doc_id", $"grp")
        .agg(min($"win_idx").as("start_win"), max($"win_idx").as("end_win"),
          count(lit(1)).as("n_win"),
          first($"n_chars").as("n_chars"), first($"duration_ms").as("dur"))
        .select($"doc_id",
          row_number().over(Window.partitionBy($"doc_id").orderBy($"start_win"))
            .cast("long").as("seg_id"),
          $"start_win", $"end_win", $"n_win",
          ($"start_win" * W * 40).as("start_ms"),
          (least(($"end_win" + 1) * W, $"n_chars") * 40).as("end_ms"))
        .orderBy($"doc_id", $"seg_id")
    }, Some {
      val W = VadWindowChars
      s"""WITH au AS (
         |  SELECT doc_id, text, CAST(n_chars AS BIGINT) AS n_chars
         |  FROM documents WHERE doc_id % 3 = 1),
         |w AS (
         |  SELECT doc_id, n_chars,
         |    unnest(range(0, (n_chars + ${W - 1}) // $W)) AS win_idx
         |  FROM au),
         |v AS (
         |  SELECT w.doc_id, w.n_chars, w.win_idx,
         |    CAST(length(regexp_replace(substr(au.text, CAST(w.win_idx * $W + 1 AS INTEGER), $W), '[^a-z]', '', 'g')) AS BIGINT) AS voiced,
         |    least($W, w.n_chars - w.win_idx * $W) AS win_len
         |  FROM w JOIN au ON au.doc_id = w.doc_id),
         |act AS (
         |  SELECT doc_id, n_chars, win_idx,
         |    win_idx - row_number() OVER (PARTITION BY doc_id ORDER BY win_idx) AS grp
         |  FROM v WHERE voiced * 2 > win_len),
         |seg AS (
         |  SELECT doc_id, min(win_idx) AS start_win, max(win_idx) AS end_win,
         |    CAST(count(*) AS BIGINT) AS n_win, min(n_chars) AS n_chars
         |  FROM act GROUP BY doc_id, grp)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_win) AS BIGINT) AS seg_id,
         |  start_win, end_win, n_win,
         |  start_win * $W * 40 AS start_ms,
         |  least((end_win + 1) * $W, n_chars) * 40 AS end_ms
         |FROM seg ORDER BY doc_id, seg_id""".stripMargin
    })
  )

  /** VAD window length in stub-decoded chars (≈2.5 s at 40 ms/char). */
  private[operators] val VadWindowChars = 64
}
