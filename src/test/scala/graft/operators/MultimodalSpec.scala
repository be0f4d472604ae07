package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("featurize: 16-dim L1-normalized histogram, deterministic, length-preserving") {
    import spark.implicits._
    val feats = Multimodal.featurize(Multimodal.media(spark, sfDir))
    val rows = feats.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.features.length == 16))
    // L1 norm == 1 (within float tolerance) because every byte lands in a bin
    assert(rows.forall(r => math.abs(r.features.sum - 1.0f) < 1e-4))
    // deterministic across runs
    val again = Multimodal.featurize(Multimodal.media(spark, sfDir)).collect()
    assert(rows.sortBy(_.doc_id).map(_.features.toSeq).toSeq ==
      again.sortBy(_.doc_id).map(_.features.toSeq).toSeq)
    // n_bytes matches the documents' n_chars (ASCII corpus)
    val nchars = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    assert(rows.forall(r => r.n_bytes == nchars(r.doc_id)))
  }

  // Pins the media() ASCII-only assumption (see its scaladoc): every oracle
  // that slices `content` by BYTE offset slices `text` by CHAR offset in SQL,
  // which agrees only while the corpus is pure ASCII. If the generator ever
  // emits a multi-byte codepoint this fails before the oracle diverges.
  test("corpus text is pure ASCII (byte-offset == char-offset contract)") {
    import spark.implicits._
    val nonAscii = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(length($"text") =!= length(encode($"text", "UTF-8")))
      .count()
    assert(nonAscii == 0)
    // and codepoints are printable-range (32..126), matching the bin math
    val outOfRange = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"text".rlike("[^\\x20-\\x7e]"))
      .count()
    assert(outOfRange == 0)
  }

  test("frame sampling covers each blob exactly once, in order") {
    import spark.implicits._
    val frames = Multimodal.queries("mm_frame_sample")(spark, sfDir)
    val perDoc = frames.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), sum($"frame_len").as("total"), min($"offset").as("first"))
    val bad = perDoc.join(
        spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"n_chars"),
        "doc_id")
      .filter($"n" =!= 4 || $"total" =!= $"n_chars" || $"first" =!= 0)
    assert(bad.count() == 0)
  }

  // Independent per-doc re-implementation of the VAD segmentation (plain
  // Scala over the collected corpus) cross-checked row-for-row against the
  // distributed query — the NaiveChunkerCrossSpec pattern: same spec, zero
  // shared code with the Spark-side islands/window machinery.
  test("audio VAD segments equal a naive sequential re-implementation") {
    import spark.implicits._
    val W = 64
    val naive = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" % 3 === 1)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, text) =>
        val nWin = (text.length + W - 1) / W
        val active = (0 until nWin).filter { w =>
          val win = text.substring(w * W, math.min((w + 1) * W, text.length))
          2 * win.count(c => c >= 'a' && c <= 'z') > win.length
        }
        // islands over the active window indices
        val segs = active.foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, w) if w == e0 + 1 => (s0, w) :: rest
          case (acc, w) => (w, w) :: acc
        }.reverse
        segs.zipWithIndex.map { case ((s0, e0), i) =>
          (id, (i + 1).toLong, s0.toLong, e0.toLong, (e0 - s0 + 1).toLong,
            s0.toLong * W * 40, math.min((e0 + 1).toLong * W, text.length.toLong) * 40)
        }
      }.sorted.toSeq
    val got = Multimodal.queries("mm_audio_vad")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty, "sf0.001 corpus must yield at least one speech segment")
    assert(got == naive)
  }

  test("phash clusters are consistent with the pair graph and catch planted copies") {
    import spark.implicits._
    val pairs = Multimodal.queries("mm_phash_pairs")(spark, sfDir)
      .select($"id1", $"id2").as[(Long, Long)].collect()
    val labels = Multimodal.queries("mm_phash_clusters")(spark, sfDir)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(pairs.nonEmpty && labels.nonEmpty)
    // every near-dup pair's endpoints share a cluster, labeled by its min member
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a, $b) split across clusters")
    }
    labels.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.keys.min == cid, s"cluster $cid not labeled by its min member")
    }
    // an exact planted copy (doc_id + 144000) must land with its original
    assert(pairs.exists { case (a, b) => b == a + 144000 } ||
      labels.exists { case (id, c) => id >= 144000 && id < 288000 && labels.get(id - 144000).contains(c) },
      "no planted exact copy clustered with its original")
  }
}
