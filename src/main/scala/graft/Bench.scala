package graft

import scala.util.control.NonFatal

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Each query runs once as warmup (whole-stage codegen compilation + JVM JIT
  * dominate cold runs — 5-7s of janino/C2 time on a 0.8s query), then THREE
  * measured passes and the median is reported: single-shot numbers on this
  * shared host swing ±50% with scheduler noise (VERDICT r3 flagged
  * dedup_exact 0.359→0.641 as unattributable), median-of-3 holds ~15%.
  * The cache manager is cleared before each measured pass so queries that
  * cache intermediates are measured doing their real work, not reading a
  * previous pass's cache.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Driver contract: local[32]. Round 1 defaulted this to 4 and ran the
    // whole bench on 4 threads — the single biggest perf lever on this box.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // GraftSession's scale config: AQE coalesces the 32-way shuffles most
    // of these sub-second queries don't need and re-plans skew.
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    // Chunker cores are measured BEFORE the query sweep: after ~120 queries
    // x4 passes the JVM's code cache and JIT state depress the hot loops by
    // ~40% (measured: ae 636 MB/s post-sweep vs 1038 standalone) — the core
    // number should reflect the loop, not accumulated compiler state.
    val mbpsMeasured = chunkerThroughput()
    // Scale-rehearsal subset (local iteration only — the driver sets no env
    // and always runs the full surface): comma-separated exact query names.
    // Lets a 100× run measure the production paths without paying for the
    // labeled quadratic eval baselines (dedup_embedding_cosine at 100× is
    // 10,000× pair work by design).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // A crashing query must not masquerade as a fast success (ADVICE r1):
    // failures are recorded as -1 and excluded from the total.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).filter(e => selected(e._1))
      .map { case (name, fn) =>
      try fn(spark, sfDir).count() // warmup
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name warmup failed: ${e.getMessage}")
      }
      val passes = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case NonFatal(_) => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val v = if (passes.exists(_ < 0)) -1.0 else passes.sorted.apply(1) // median
      // Post-query hygiene: drop the last pass's cached relations so they
      // don't occupy storage memory during the NEXT query's warmup/measure
      // (suspected source of the r4 q42/q43/mm_frame_sample outliers —
      // accumulated executor pressure across the 400-pass run).
      spark.sharedState.cacheManager.clearCache()
      name -> (if (v >= 0) r3(v) else -1.0)
    }
    // JSON-safe double: locale-independent (the f-interpolator uses the JVM
    // default locale — a comma decimal separator would break the JSON) and
    // non-finite values clamped to -1 (NaN/Infinity are not valid JSON).
    def jd(v: Double): String =
      if (java.lang.Double.isFinite(v)) String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      else "-1"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + jd(v) }
      .mkString("{", ",", "}")
    val total = r3(results.collect { case (_, v) if v >= 0 => v }.sum)
    val nFailed = results.count(_._2 < 0)
    val mbps = mbpsMeasured
      .map { case (k, v) => s"\"" + k + "\":" + jd(v) }.mkString("{", ",", "}")
    // The driver captures only a ~2000-char tail of stdout and parses the LAST
    // line as JSON (ADVICE r2: the full ~85-query map overflowed that window
    // and r02 recorded parsed:null). So: full detail on an earlier line for
    // humans, then a compact final line whose "queries" map carries only the
    // headline subset (one representative per operator family, <1000 chars).
    val headline = Seq(
      "q01_pricing_summary", "q05_nation_revenue", "q07_window_topk_per_customer",
      "q20_sessionize_events", "q25_snapshot_diff", "cdc_fastcdc_chunks",
      "cdc_fixed_dedup_metrics", "dedup_exact", "dedup_minhash_lsh",
      "dedup_ngram_jaccard", "sim_brute_topk", "sim_lsh_topk",
      "text_token_stats", "pipeline_clean_corpus", "mm_frame_sample",
      "pipeline_decontaminate", "sim_recall_report",
      "q59_peak_concurrency_sharded", "stream_intake_replay",
      "cdc_shift_resilience", "sim_ivf_persisted")
    val resultMap = results.toMap
    val hqs = headline.flatMap(k => resultMap.get(k).map(v => s"\"" + k + "\":" + jd(v)))
      .mkString("{", ",", "}")
    println(s"""{"detail":"per_query_sec","queries":$qs}""")
    println(s"""{"metric":"total","value":${jd(total)},"unit":"sec","failed":$nFailed,"nqueries":${results.size},"queries":$hqs,"chunker_mbps":$mbps,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Raw single-thread chunker throughput (MB/s) on 64 MiB of deterministic
    * pseudorandom bytes, 16 KiB expected chunks — the reference experiment's
    * workload shape (`main.rs:16-24`) measured at the core, below Spark.
    */
  private def chunkerThroughput(): Map[String, Double] = {
    val data = new Array[Byte](64 << 20)
    new java.util.Random(42L).nextBytes(data)
    Seq("fixed", "ae", "fastcdc", "rabin").map { algo =>
      val c = core.Chunker(algo, 16 * 1024, 42L)
      c.boundaries(data) // warmup (JIT)
      // best-of-3: single-shot numbers swing ~2x with host scheduling noise
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        require(c.boundaries(data).length > 0)
        (System.nanoTime() - t0) / 1e9
      }.min
      algo -> math.round(data.length / 1e6 / best * 10) / 10.0
    }.toMap
  }
}
