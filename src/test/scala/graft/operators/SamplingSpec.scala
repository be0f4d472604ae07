package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic contracts for the sampling / sketch / fingerprint queries added
  * in round 10 — the DuckDB oracles pin outputs bit-for-bit; these specs pin
  * that the outputs MEAN what they claim, via independent recomputation in
  * plain Scala (h60Jvm, driver-side sets) or closed-form invariants.
  */
class SamplingSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  test("weighted sample IS the exact bottom-k of independently recomputed ticket minima") {
    import spark.implicits._
    val got = PipelineOps.queries("pipeline_weighted_sample")(spark, sfDir)
      .select($"doc_id", $"pri").as[(Long, Long)].collect().toSeq

    // independent recomputation: tokenize in Scala, fold ticket hashes with
    // the JVM twin of the portable hash, take the global top-100
    val expected = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) =>
        val nToks = text.trim.split("\\s+").length.toLong
        val w = math.min(15L, nToks / 32L) + 1L
        val pri = (0L until w).map(i => Portable.h60Jvm(s"$id#$i")).min
        (id, pri)
      }
      .sortBy { case (id, pri) => (pri, id) }
      .take(100).toSeq
    assert(got == expected)
  }

  test("weighted sample favors heavier docs: mean tickets of the sample exceeds the corpus mean") {
    import spark.implicits._
    val sampleMean = PipelineOps.queries("pipeline_weighted_sample")(spark, sfDir)
      .agg(avg($"w_tickets")).as[Double].head()
    val corpusMean = graft.Tables.documents(spark, sfDir)
      .select(expr("least(15L, CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) div 32L) + 1L").as("w"))
      .agg(avg($"w")).as[Double].head()
    assert(sampleMean > corpusMean,
      s"weighted sample mean tickets $sampleMean not above corpus mean $corpusMean")
  }

  test("serpentine LPT sharding balances token load tighter than hash sharding") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_balanced_shards")(spark, sfDir)
      .select($"n_docs", $"serp_tokens", $"serp_imbalance_e4", $"hash_tokens", $"hash_imbalance_e4")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 8)
    // both assignments partition the same corpus
    assert(rows.map(_._2).sum == rows.map(_._4).sum)
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_._1).sum == nDocs)
    val serpDev = rows.map(r => math.abs(r._3 - 10000L)).max
    val hashDev = rows.map(r => math.abs(r._5 - 10000L)).max
    assert(serpDev < hashDev, s"serpentine dev $serpDev not tighter than hash dev $hashDev")
    // LPT with |docs| >> shards should land within ±1% of ideal
    assert(serpDev <= 100L, s"serpentine deviation $serpDev exceeds 100 e4-units")
  }

  test("DSIR resample acceptance matches the formula recomputed from the weights query") {
    import spark.implicits._
    val weights = PipelineOps.queries("pipeline_dsir_weights")(spark, sfDir)
      .select($"doc_id", $"lang", $"dsir_score").as[(Long, String, Long)].collect()
    val meanW = weights.map(_._3).sum / weights.length
    val expected = weights.groupBy(_._2).map { case (lang, docs) =>
      val kept = docs.count { case (id, _, w) =>
        (Portable.h60Jvm(s"rs$id") % 1000000L) * 2L * meanW < w * 1000000L
      }
      lang -> (docs.length.toLong, kept.toLong)
    }
    val got = PipelineOps.queries("pipeline_dsir_resample")(spark, sfDir)
      .select($"lang", $"n_docs", $"n_kept").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expected)
    // the self-normalizing cap admits roughly half the corpus when weights
    // are near-uniform (p = min(1, w/2w̄)): total acceptance in (30%, 70%)
    val (n, k) = (got.values.map(_._1).sum, got.values.map(_._2).sum)
    assert(k * 10 > n * 3 && k * 10 < n * 7, s"acceptance $k/$n outside the sanity band")
  }

  test("set-fingerprint groups have IDENTICAL distinct-token sets, and subsume exact dups") {
    import spark.implicits._
    val pairs = Dedup.queries("dedup_set_fingerprint")(spark, sfDir)
      .select($"doc_id", $"canonical_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val texts = Dedup.corpus(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    def tokSet(id: Long): Set[String] =
      texts(id).toLowerCase.trim.split("\\s+").toSet
    pairs.foreach { case (id, can) =>
      assert(tokSet(id) == tokSet(can), s"doc $id and canonical $can differ in token set")
      assert(can < id)
    }
    // every exact (byte-identical) duplicate is also a set-fingerprint dup
    val exact = Dedup.queries("dedup_exact")(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSet
    val setDups = pairs.map(_._1).toSet
    assert(exact.subsetOf(setDups),
      s"exact dups missing from set-fingerprint: ${(exact -- setDups).take(3)}")
    // and it catches PERMUTED copies exact dedup cannot see
    assert(setDups.size > exact.size)
  }

  test("sampled LSH recall is consistent and its truth pairs all involve probes") {
    val row = graft.SparkEntry.queries("dedup_lsh_recall_sampled")(spark, sfDir).head()
    val (nProbes, nTrue, nFound, recall) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    assert(nProbes > 0, "probe subset must be non-empty at sf0.01")
    assert(nTrue > 0, "planted dups guarantee probe-involving true pairs")
    assert(nFound <= nTrue, "found pairs are a subset of truth by the semi-join")
    val expect = math.round(nFound.toDouble / nTrue * 10000) / 10000.0
    assert(recall == expect, s"recall column must equal n_found/n_true: $recall vs $expect")
    // the sampled estimate must stay in the neighborhood of the full eval's
    // recall (both measure the same pipeline; sampling noise only)
    val full = graft.SparkEntry.queries("dedup_lsh_recall")(spark, sfDir).head().getDouble(2)
    assert((recall - full).abs <= 0.1, s"sampled $recall vs full $full drifted > 0.1")
  }

  test("KMV sketch estimates stay inside deterministic error bands vs the exact columns") {
    import spark.implicits._
    val rows = Relational.queries("q66_kmv_audience")(spark, sfDir)
      .select($"est_union", $"exact_union", $"err_e4").as[(Long, Long, Long)].collect()
    assert(rows.length == 10) // 5 event types choose 2
    rows.foreach { case (estU, exU, err) =>
      // k=64 ⇒ σ ≈ 1/√k ≈ 0.125 for Jaccard; 0.15 absolute is a loose
      // deterministic band for THIS corpus (observed max 0.0722)
      assert(err <= 1500L, s"jaccard err $err e4 exceeds band")
      assert(math.abs(estU - exU) * 5 <= exU, s"union est $estU vs $exU off by >20%")
    }
  }

  test("PMI pair counts conserve and the formula recomputes for the top association") {
    import spark.implicits._
    val top = TextOps.queries("text_pmi_pairs")(spark, sfDir)
      .select($"a", $"b", $"c_ab", $"c_a", $"c_b", $"assoc_e4")
      .as[(String, String, Long, Long, Long, Long)].head()
    val (a, b, cab, ca, cb, assoc) = top
    // independent recount of the skip-gram window in plain Scala
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"text").as[String].collect()
    var nPairs = 0L; var gotAb = 0L; var gotA = 0L; var gotB = 0L
    docs.foreach { text =>
      val t = text.trim.split("\\s+").map(_.toLowerCase)
      var i = 0
      while (i < t.length - 1) {
        var j = i + 1
        while (j <= math.min(i + 4, t.length - 1)) {
          nPairs += 1
          if (t(i) == a && t(j) == b) gotAb += 1
          if (t(i) == a) gotA += 1
          if (t(j) == b) gotB += 1
          j += 1
        }
        i += 1
      }
    }
    assert((gotAb, gotA, gotB) == ((cab, ca, cb)))
    assert(assoc == ((cab * 10000L) / ca) * nPairs / cb)
    // positive association: ratio above 1 (assoc_e4 > 10000) for the top pair
    assert(assoc > 10000L)
  }

  test("BPE fertility is >= 1 token per word and consistent with the corpus word count") {
    import spark.implicits._
    val rows = TextOps.queries("text_tokenizer_fertility")(spark, sfDir)
      .select($"lang", $"n_words", $"fertility_e4", $"chars_per_token_e4")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq.sorted == Seq("de", "en", "es", "fr", "zh"))
    rows.foreach { case (lang, _, fert, cpt) =>
      assert(fert >= 10000L, s"$lang fertility below 1 token/word")
      assert(cpt > 0L)
    }
    // every corpus word is in the learned vocabulary, so per-lang word
    // counts must equal the raw token counts
    val raw = graft.Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(sum(size(split(trim($"text"), "\\s+")).cast("long")).as("n"))
      .as[(String, Long)].collect().toMap
    rows.foreach { case (lang, nWords, _, _) =>
      assert(nWords == raw(lang), s"$lang word count $nWords != raw ${raw(lang)}")
    }
  }
}
