package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Sampling and mixture planning over the documents corpus: stratified,
  * bottom-k and weighted samples, domain and temperature mixtures, the
  * DSIR importance weights with their effective-sample-size check and
  * resample, epoch plans, balanced shards and the seeded global shuffle.
  * Every sample is a pure function of hashes (no RNG state), so each
  * query keeps an exact DuckDB oracle.
  */
object SamplingQueries extends graft.QueryRegistry {
  import Portable._

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- stratified sampling: exactly ceil(20%) of every language stratum,
    // chosen by md5 rank — deterministic (no RNG state), and re-running on
    // the same corpus reproduces the sample bit-for-bit. The rank needs one
    // shuffle keyed by the stratum; at 100 TB with few huge strata the
    // scalable variant is the pure hash-threshold filter (shuffle-free, see
    // pipeline_train_test_split) at the cost of only-approximate stratum
    // fractions — exact-k is inherently a per-stratum rank.
    ("pipeline_stratified_sample", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"lang")
        .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      Tables.documents(s, d)
        .select($"doc_id", $"lang")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_stratum", count(lit(1)).over(Window.partitionBy($"lang")))
        .filter($"rn" <= ceil($"n_stratum" * 0.2))
        .select($"doc_id", $"lang", $"rn", $"n_stratum")
        .orderBy($"lang", $"rn")
    }, Some(
      """SELECT doc_id, lang, rn, n_stratum FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n_stratum
        |  FROM documents)
        |WHERE rn <= ceil(n_stratum * 0.2) ORDER BY lang, rn""".stripMargin)),

    // ---- deterministic global k-sample via the mergeable bottom-k
    // aggregate: the k docs with the smallest md5(doc_id) — a uniform,
    // re-run-reproducible sample. The window-rank formulation (see
    // pipeline_stratified_sample) SORTS the whole table to keep k rows;
    // BottomKAgg keeps O(k) state per partition and merges in one tiny
    // final row, so at 100 TB the sample costs one scan, no global sort.
    ("pipeline_bottomk_sample", (s, d) => {
      import s.implicits._
      val bottomK = udaf(new graft.functions.BottomKAgg(SampleK))
        .withName(s"bottom_k_$SampleK")
      Tables.documents(s, d)
        .select(md5($"doc_id".cast("string")).as("k"), $"doc_id")
        .agg(bottomK($"k", $"doc_id").as("ids"))
        .select(posexplode($"ids").as(Seq("pos", "doc_id")))
        .select(($"pos" + 1).cast("long").as("rank"), $"doc_id")
        .orderBy($"rank")
    }, Some(
      s"""SELECT CAST(rn AS BIGINT) AS rank, doc_id FROM (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $SampleK ORDER BY rank""".stripMargin)),

    // ---- domain-mixture sampling: given per-domain target weights (derived
    // here from the source name's digits — a stand-in for a curated mixture
    // config), compute each domain's deterministic acceptance rate
    // share_i·N/n_i and sample by hash threshold. The acceptance test is a
    // CROSS-MULTIPLIED integer comparison (hmod·Σw·n_i < w_i·N·10⁶) — no
    // float rate ever materializes, so both engines agree exactly and the
    // rate needs no rounding shim. Two passes: a 20-row domain-stats agg
    // (broadcast back), then the map-side filter — the 100 TB shape (the
    // stats agg is map-combinable; no sort, no window over the corpus).
    ("pipeline_domain_mixture", (s, d) => {
      import s.implicits._
      val doc = Tables.documents(s, d).select($"doc_id", $"source")
        .withColumn("w",
          (coalesce(regexp_extract($"source", "([0-9]+)", 1).cast("long"), lit(0L)) % 4) + 1)
      val stats = doc.groupBy($"source", $"w").agg(count(lit(1)).as("n_dom"))
      val tot = stats.agg(sum($"n_dom").as("n_total"), sum($"w").as("sum_w"))
      val acc = doc.join(stats, Seq("source", "w")).crossJoin(broadcast(tot))
        .filter(pmod(h60(concat(lit("mix"), $"doc_id")), lit(1000000L))
          * $"sum_w" * $"n_dom" < $"w" * $"n_total" * lit(1000000L))
      val sampled = acc.groupBy($"source").agg(count(lit(1)).as("n_sampled"))
      val all = Window.partitionBy() // 20-row aggregate — scalar totals are cheap
      stats.join(sampled, Seq("source"), "left")
        .crossJoin(broadcast(tot))
        .select($"source", $"n_dom".as("n_docs"), $"w".as("weight"),
          round($"w" / $"sum_w", 4).as("target_share"),
          coalesce($"n_sampled", lit(0L)).as("n_sampled"))
        .withColumn("achieved_share",
          round($"n_sampled" / sum($"n_sampled").over(all), 4))
        .orderBy($"source")
    }, Some(
      s"""WITH doc AS (
         |  SELECT doc_id, source,
         |    (coalesce(CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT), 0) % 4) + 1 AS w
         |  FROM documents),
         |stats AS (SELECT source, w, count(*) AS n_dom FROM doc GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_dom) AS BIGINT) AS n_total, CAST(sum(w) AS BIGINT) AS sum_w FROM stats),
         |acc AS (
         |  SELECT d.source
         |  FROM doc d JOIN stats ON d.source = stats.source AND d.w = stats.w CROSS JOIN tot
         |  WHERE (${h60Sql("'mix' || CAST(d.doc_id AS VARCHAR)")} % 1000000) * sum_w * n_dom
         |        < stats.w * n_total * 1000000),
         |sampled AS (SELECT source, count(*) AS n_sampled FROM acc GROUP BY 1)
         |SELECT source, n_dom AS n_docs, w AS weight,
         |  ${rndSql("w / CAST(sum_w AS DOUBLE)", 4)} AS target_share,
         |  coalesce(n_sampled, 0) AS n_sampled,
         |  ${rndSql("coalesce(n_sampled, 0) / CAST(sum(coalesce(n_sampled, 0)) OVER () AS DOUBLE)", 4)} AS achieved_share
         |FROM stats LEFT JOIN sampled USING (source) CROSS JOIN tot
         |ORDER BY source""".stripMargin)),

    // ---- temperature-scaled mixture plan (the GPT-3 / mT5 / XLM-R
    // data-mixing method): resample domains with share ∝ n^α, α < 1, so
    // low-resource domains are UPWEIGHTED relative to their natural share —
    // here over the lang column, the method's canonical use (en is 44% of
    // this corpus; at α = ½ its share drops to ~30% and each rare language
    // rises). α = ½ is the exactness-friendly member of the published
    // family (mT5 uses 0.3, GPT-3 ~0.43): IEEE sqrt is correctly rounded
    // and perfect squares are exactly representable, so floor(sqrt(n))
    // IS isqrt(n) on both engines for any count below 2⁵², and every
    // downstream number stays integer (ppm shares, doc targets for a
    // half-corpus budget, per-domain epochs in milli-units — epochs > 1000
    // means the domain REPEATS, the upsampling a mixture config publishes).
    // One 5-row aggregate + scalar totals; nothing scales with the corpus.
    ("pipeline_temperature_mix", (s, d) => {
      import s.implicits._
      val st = Tables.documents(s, d).groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("s_root", expr("CAST(floor(sqrt(n_docs)) AS BIGINT)"))
      val tot = st.agg(sum($"n_docs").as("nt"), sum($"s_root").as("ss"))
      st.crossJoin(broadcast(tot))
        .select($"lang", $"n_docs",
          expr("n_docs * 1000000 div nt").as("share_ppm"),
          $"s_root",
          expr("s_root * 1000000 div ss").as("temp_share_ppm"),
          expr("s_root * (nt div 2) div ss").as("target_docs"),
          expr("s_root * (nt div 2) * 1000 div (ss * n_docs)").as("epochs_milli"))
        .orderBy($"lang")
    }, Some(
      """WITH st AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS s_root
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
        |               CAST(sum(s_root) AS BIGINT) AS ss FROM st)
        |SELECT lang, n_docs,
        |  CAST(n_docs * 1000000 // nt AS BIGINT) AS share_ppm,
        |  s_root,
        |  CAST(s_root * 1000000 // ss AS BIGINT) AS temp_share_ppm,
        |  CAST(s_root * (nt // 2) // ss AS BIGINT) AS target_docs,
        |  CAST(s_root * (nt // 2) * 1000 // (ss * n_docs) AS BIGINT) AS epochs_milli
        |FROM st CROSS JOIN tot ORDER BY lang""".stripMargin)),

    // ---- DSIR-style importance weights (Xie et al. 2023 recast
    // integer-exact): score every corpus doc by how target-like its hashed
    // unigram distribution is — the data-selection pass that upsamples
    // "looks like the target domain" text without a trained classifier.
    // Target = the English slice (stand-in for any curated target set);
    // features = h60(token) mod 4096 buckets. Per-token quantized ratio
    // q_b = (10⁶·(tc_b+1)) div (rc_b+1) (Laplace-smoothed target/corpus
    // bucket counts; the constant total-count factor drops out of
    // ranking); a doc's dsir_mass is the sum over its token occurrences —
    // a monotone surrogate of the DSIR log-likelihood ratio that both
    // engines compute bit-identically (no log, no float). Scale shape:
    // bucket table is ≤ 4096 rows (broadcast side), corpus pass is
    // explode → one equi-join → per-doc sum; no O(vocab) driver state.
    ("pipeline_dsir_weights", (s, d) => {
      import s.implicits._
      val B = 4096
      // documentsSpread (r18): the tokenize+hash+explode pass is CPU-bound
      // and runs twice (ratio leg + join leg); on the unsplittable 1-task
      // corpus scan each pass was a 0.52 s single-task stage.
      val tok = Tables.documentsSpread(s, d)
        .select($"doc_id", $"lang", explode(tokens($"text")).as("tok"))
        .select($"doc_id", $"lang", pmod(h60($"tok"), lit(B)).as("b"))
      // NOT cached: measured 1.24 s uncached vs 1.61 s cached at sf0.1 — the
      // exploded token table is corpus×tokens rows of tiny tuples, so the
      // memory write outweighs re-running the cheap explode per leg.
      // rc and tc in ONE bucket aggregation (conditional count ≡ the old
      // left-joined en-only count, including the coalesce-to-0 case): the
      // old form paid a second full pass over the exploded tokens plus an
      // rc⋈tc shuffle join for counts of the same rows (guide §2.4).
      val ratio = tok.groupBy($"b")
        .agg(count(lit(1)).as("rc"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("tc"))
        .select($"b", expr("(1000000L * (tc + 1)) div (rc + 1)").as("q"))
      tok.join(broadcast(ratio), "b")
        .groupBy($"doc_id")
        .agg(first($"lang").as("lang"),
          count(lit(1)).as("n_tokens"),
          sum($"q").as("dsir_mass"),
          expr("sum(q) div count(1)").as("dsir_score"))
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tok AS (
         |  SELECT doc_id, lang, ${h60Sql("tok")} % 4096 AS b
         |  FROM (SELECT doc_id, lang, unnest($t) AS tok FROM documents)),
         |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM tok GROUP BY 1),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM tok WHERE lang = 'en' GROUP BY 1),
         |ratio AS (
         |  SELECT rc.b, (1000000 * (coalesce(tc.tc, 0) + 1)) // (rc.rc + 1) AS q
         |  FROM rc LEFT JOIN tc ON rc.b = tc.b)
         |SELECT tok.doc_id, min(tok.lang) AS lang,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(q) AS BIGINT) AS dsir_mass,
         |  CAST(sum(q) AS BIGINT) // count(*) AS dsir_score
         |FROM tok JOIN ratio ON tok.b = ratio.b
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- epoch plan: turn per-source token inventories + target mixture
    // weights into the repeat factors a training run actually uses (the
    // LLaMA-style "sample source i with weight w_i from a fixed token
    // budget" table). Weights derive deterministically from the source name
    // (stand-in for a curated mixture config); epochs are reported in 1e-4
    // units via integer ceiling-free division — under-sampled sources show
    // epochs < 1.0, upsampled ones > 1.0, and `over_cap` flags anything
    // past 4 epochs (the repetition-harm threshold from data-scaling
    // practice). One corpus scan, one ~20-row aggregation; the mixture
    // arithmetic is all cross-multiplied BIGINT — no float shares.
    ("pipeline_epoch_plan", (s, d) => {
      import s.implicits._
      val budget = 2000000L
      val perSrc = Tables.documents(s, d)
        .select($"source", size(tokens($"text")).cast("long").as("n_tok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .withColumn("weight", pmod(h60($"source"), lit(5)) + 1)
      val totW = perSrc.agg(sum($"weight").as("tot_w"))
      perSrc.crossJoin(broadcast(totW))
        .select($"source", $"n_docs", $"n_tokens", $"weight",
          expr(s"($budget * weight) div tot_w").as("target_tokens"))
        .withColumn("epochs_e4", expr("(10000L * target_tokens) div n_tokens"))
        .withColumn("over_cap", $"epochs_e4" > 40000L)
        .orderBy($"source")
    }, Some {
      val t = tokensSql("text")
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($t)) AS BIGINT) AS n_tokens,
         |    ${h60Sql("source")} % 5 + 1 AS weight
         |  FROM documents GROUP BY source),
         |tw AS (SELECT CAST(sum(weight) AS BIGINT) AS tot_w FROM per)
         |SELECT source, n_docs, n_tokens, weight,
         |  (2000000 * weight) // tot_w AS target_tokens,
         |  (10000 * ((2000000 * weight) // tot_w)) // n_tokens AS epochs_e4,
         |  (10000 * ((2000000 * weight) // tot_w)) // n_tokens > 40000 AS over_cap
         |FROM per, tw ORDER BY source""".stripMargin
    }),

    // ---- importance-sampling health: effective sample size of the DSIR
    // weights per language — ESS = (Σw)²/Σw², the number of "effective
    // documents" the weighted sample is worth (ESS ≈ n ⇒ weights are
    // near-uniform and resampling is safe; ESS ≪ n ⇒ a few heavy docs
    // dominate and the resampled corpus will be repetitive). Weights are
    // the integer dsir_score milli-quantized (div 1000, ~600 typical), so
    // Σw ≤ n·~10³ and (Σw)² stays far inside int64 up to ~10⁷ docs — at
    // larger corpora run per shard and merge the three integer sums
    // (count/Σw/Σw², all order-free). All-integer outputs.
    ("pipeline_dsir_ess", (s, d) => {
      import s.implicits._
      val w = queries("pipeline_dsir_weights")(s, d)
        .select($"lang", expr("dsir_score div 1000").as("w"))
      w.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"w").as("sum_w"),
          sum($"w" * $"w").as("sum_w2"))
        .select($"lang", $"n_docs", $"sum_w",
          when($"sum_w2" === 0, lit(null).cast("long"))
            .otherwise(expr("(sum_w * sum_w) div sum_w2")).as("ess_docs"))
        .withColumn("ess_ratio_e4",
          when($"ess_docs".isNull, lit(null).cast("long"))
            .otherwise(expr("(ess_docs * 10000L) div n_docs")))
        .orderBy($"lang")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tok AS (
         |  SELECT doc_id, lang, ${h60Sql("tok")} % 4096 AS b
         |  FROM (SELECT doc_id, lang, unnest($t) AS tok FROM documents)),
         |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM tok GROUP BY 1),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM tok WHERE lang = 'en' GROUP BY 1),
         |ratio AS (
         |  SELECT rc.b, (1000000 * (coalesce(tc.tc, 0) + 1)) // (rc.rc + 1) AS q
         |  FROM rc LEFT JOIN tc ON rc.b = tc.b),
         |wt AS (
         |  SELECT tok.doc_id, min(tok.lang) AS lang,
         |    (CAST(sum(q) AS BIGINT) // count(*)) // 1000 AS w
         |  FROM tok JOIN ratio ON tok.b = ratio.b
         |  GROUP BY 1),
         |agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS sum_w,
         |    CAST(sum(w * w) AS BIGINT) AS sum_w2
         |  FROM wt GROUP BY 1)
         |SELECT lang, n_docs, sum_w,
         |  CASE WHEN sum_w2 = 0 THEN NULL
         |       ELSE (sum_w * sum_w) // sum_w2 END AS ess_docs,
         |  CASE WHEN sum_w2 = 0 THEN NULL
         |       ELSE (((sum_w * sum_w) // sum_w2) * 10000) // n_docs END AS ess_ratio_e4
         |FROM agg ORDER BY lang""".stripMargin
    }),

    // ---- DSIR importance RESAMPLING — the pass the weights exist for:
    // keep each doc with probability min(1, w / (2·mean_w)), so target-like
    // docs (w ≫ mean) survive and off-target docs thin out, shifting the
    // kept mixture toward the target domain without a trained classifier.
    // Determinism: u = h60('rs'||doc_id) mod 1e6 is the "coin"; acceptance
    // is the cross-multiplied integer compare u·2·mean_w < w·1e6 (u < 1e6,
    // mean_w ≲ 1e6 ⇒ products ≤ ~2e12, far inside int64). The cap is
    // self-normalizing (2× the corpus mean weight, one scalar broadcast) —
    // no tuning constant that drifts when the corpus changes. Output is the
    // per-lang mixture report. Honesty note: THIS synthetic corpus draws
    // every language from the same 31-token vocabulary, so the hashed-
    // unigram weights are near-uniform across langs (mean_w flat, keep_ppm
    // ≈ ½ everywhere — p = min(1, w/2w̄) with w ≈ w̄); the contract
    // exercises the machinery (doc-level selection, self-normalizing cap,
    // integer acceptance), and the mixture shift appears on any corpus
    // whose target actually has a distinct unigram profile. Scale: the
    // weight chain's cost (explode + one broadcast-joined agg) + one
    // scalar agg + one per-lang agg.
    ("pipeline_dsir_resample", (s, d) => {
      import s.implicits._
      val w = queries("pipeline_dsir_weights")(s, d)
        .select($"doc_id", $"lang", $"n_tokens", $"dsir_score".as("w"))
      val mean = w.agg(expr("sum(w) div count(1)").as("mean_w"))
      w.crossJoin(broadcast(mean))
        .withColumn("kept",
          pmod(h60(concat(lit("rs"), $"doc_id")), lit(1000000L)) * 2L * $"mean_w"
            < $"w" * lit(1000000L))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_tokens").otherwise(0L)).as("kept_tokens"),
          expr("sum(w) div count(1)").as("mean_w"))
        .withColumn("keep_ppm", expr("(n_kept * 1000000L) div n_docs"))
        .orderBy($"lang")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tok AS (
         |  SELECT doc_id, lang, ${h60Sql("tok")} % 4096 AS b
         |  FROM (SELECT doc_id, lang, unnest($t) AS tok FROM documents)),
         |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM tok GROUP BY 1),
         |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM tok WHERE lang = 'en' GROUP BY 1),
         |ratio AS (
         |  SELECT rc.b, (1000000 * (coalesce(tc.tc, 0) + 1)) // (rc.rc + 1) AS q
         |  FROM rc LEFT JOIN tc ON rc.b = tc.b),
         |wt AS (
         |  SELECT tok.doc_id, min(tok.lang) AS lang,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(q) AS BIGINT) // count(*) AS w
         |  FROM tok JOIN ratio ON tok.b = ratio.b
         |  GROUP BY 1),
         |mn AS (SELECT CAST(sum(w) AS BIGINT) // count(*) AS mean_w FROM wt),
         |k AS (
         |  SELECT lang, n_tokens, w,
         |    (${h60Sql("'rs' || CAST(doc_id AS VARCHAR)")} % 1000000) * 2 * mean_w
         |      < w * 1000000 AS kept
         |  FROM wt, mn)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
         |  CAST(sum(w) AS BIGINT) // count(*) AS mean_w,
         |  (CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS keep_ppm
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- weighted sampling without replacement (integer A-ES): each doc
    // gets w ∈ 1..16 "tickets" (a clamped token-count bucket — the sampling
    // weight), its priority is the MIN of the w independent h60 hashes of
    // (doc_id, ticket), and the sample is the global bottom-k by that
    // priority. Min-stability makes this exactly the Efraimidis–Spirakis
    // exponential-keys sampler in integer form: P(priority < t·2⁶⁰) =
    // 1−(1−t)^w, so heavier docs sit lower and the k-frontier includes a
    // doc with probability ≈ proportional to its weight — no floats, no
    // ln(), both engines bit-identical. Scale shape: the per-doc min folds
    // the ≤16-element ticket sequence MAP-SIDE inside one higher-order
    // `aggregate` (no explode row blow-up, no shuffle), and the global
    // bottom-k is TakeOrderedAndProject — O(k) per partition, O(k·parts)
    // on the driver, never a full sort.
    ("pipeline_weighted_sample", (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", size(tokens($"text")).cast("long").as("n_toks"))
        .withColumn("w_tickets", expr("least(15L, n_toks div 32L) + 1L"))
        .withColumn("pri", expr(
          """aggregate(sequence(0L, w_tickets - 1L), 9223372036854775807L,
            |  (acc, i) -> least(acc, CAST(conv(substring(md5(
            |    concat(CAST(doc_id AS STRING), '#', CAST(i AS STRING))
            |  ), 1, 15), 16, 10) AS BIGINT)))""".stripMargin))
        .orderBy($"pri", $"doc_id")
        .limit(SampleK)
    }, Some(
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_toks,
         |    least(15, CAST(len(${tokensSql("text")}) AS BIGINT) // 32) + 1 AS w_tickets
         |  FROM documents)
         |SELECT doc_id, n_toks, w_tickets,
         |  list_min(list_transform(range(0, w_tickets),
         |    i -> ${h60Sql("CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)")})) AS pri
         |FROM b ORDER BY pri, doc_id LIMIT $SampleK""".stripMargin)),

    // ---- balanced shard assignment (serpentine LPT): sort docs by token
    // count descending and deal them shard 0→7, then 7→0, alternating — the
    // longest-processing-time-first heuristic that packs near-equal token
    // loads per shard (the GPU-batch / output-file balancing pass; hash
    // sharding leaves the token imbalance at the mercy of doc-length
    // variance). Report compares both: serpentine imbalance lands within
    // ±a few ‱ of the 10000 ideal, hash sharding visibly wider. The global
    // rank runs in the SHARDED form (the q59/budget_fill pattern): docs
    // band by n_toks div 32 (order-aligned with the sort key), per-band doc
    // counts prefix over a band-count-bounded broadcast, and the per-doc
    // row_number partitions BY BAND — no global single-partition window at
    // any corpus size; the oracle computes the identical rank with one
    // global window (DuckDB has the whole corpus in hand).
    ("pipeline_balanced_shards", (s, d) => {
      import s.implicits._
      val nSh = 8L
      val base = Tables.documents(s, d)
        .select($"doc_id", size(tokens($"text")).cast("long").as("n_toks"))
        .withColumn("band", expr("n_toks div 32L"))
      val wB = Window.orderBy($"band".desc).rowsBetween(Window.unboundedPreceding, -1)
      val offs = base.groupBy($"band").agg(count(lit(1)).as("band_docs"))
        .withColumn("off", coalesce(sum($"band_docs").over(wB), lit(0L)))
        .select($"band", $"off")
      val wIn = Window.partitionBy($"band").orderBy($"n_toks".desc, $"doc_id")
      val ranked = base.join(broadcast(offs), "band")
        .withColumn("rnk", $"off" + row_number().over(wIn) - 1L)
        .withColumn("shard",
          expr(s"CASE WHEN (rnk div $nSh) % 2 = 0 THEN rnk % $nSh " +
            s"ELSE ${nSh - 1} - rnk % $nSh END"))
        .withColumn("hash_shard", pmod(h60($"doc_id".cast("string")), lit(nSh)))
      val tot = ranked.agg(sum($"n_toks").as("tot_toks"))
      val serp = ranked.groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("serp_tokens"))
      val hash = ranked.groupBy($"hash_shard".as("shard"))
        .agg(sum($"n_toks").as("hash_tokens"))
      serp.join(hash, "shard").crossJoin(broadcast(tot))
        .select($"shard", $"n_docs", $"serp_tokens",
          expr(s"(serp_tokens * $nSh * 10000L) div tot_toks").as("serp_imbalance_e4"),
          $"hash_tokens",
          expr(s"(hash_tokens * $nSh * 10000L) div tot_toks").as("hash_imbalance_e4"))
        .orderBy($"shard")
    }, Some(
      s"""WITH b AS (
         |  SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_toks,
         |    row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1 AS rnk,
         |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS hash_shard
         |  FROM b),
         |a AS (
         |  SELECT doc_id, n_toks, hash_shard,
         |    CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8 ELSE 7 - rnk % 8 END AS shard
         |  FROM r),
         |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tot_toks FROM a),
         |serp AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS serp_tokens
         |  FROM a GROUP BY 1),
         |hsh AS (
         |  SELECT hash_shard AS shard, CAST(sum(n_toks) AS BIGINT) AS hash_tokens
         |  FROM a GROUP BY 1)
         |SELECT shard, n_docs, serp_tokens,
         |  (serp_tokens * 8 * 10000) // tot_toks AS serp_imbalance_e4,
         |  hash_tokens,
         |  (hash_tokens * 8 * 10000) // tot_toks AS hash_imbalance_e4
         |FROM serp JOIN hsh USING (shard) CROSS JOIN tot ORDER BY shard""".stripMargin)),

    // ---- SEEDED DETERMINISTIC SHUFFLE: the reproducible global
    // training order every run of a pipeline must agree on — position =
    // global rank by md5(seed ‖ doc_id) (an engine-portable hash: the
    // DuckDB oracle recomputes the identical order), one manifest row
    // per doc with BOTH epochs' positions, so the oracle also proves the
    // reshuffle (epoch seeds produce different permutations of the same
    // doc set). Ranking is the scale-safe two-phase form
    // ([[seededOrder]]): 256 ordered hex-prefix buckets ranked in
    // parallel + broadcast cumulative offsets — never a one-partition
    // global window. At 100 TB this is exactly a sort-by-hash manifest:
    // one range-class shuffle per epoch, output |corpus| rows.
    ("pipeline_seeded_shuffle", (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id")
      seededOrder(docs, "e1:").withColumnRenamed("pos", "pos_e1")
        .join(seededOrder(docs, "e2:").withColumnRenamed("pos", "pos_e2"),
          Seq("doc_id"))
        .select($"doc_id", $"pos_e1", $"pos_e2")
        .orderBy($"pos_e1")
    }, Some(
      """WITH e1 AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY md5('e1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos_e1
        |  FROM documents),
        |e2 AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY md5('e2:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos_e2
        |  FROM documents)
        |SELECT e1.doc_id, CAST(pos_e1 AS BIGINT) AS pos_e1,
        |  CAST(pos_e2 AS BIGINT) AS pos_e2
        |FROM e1 JOIN e2 ON e1.doc_id = e2.doc_id
        |ORDER BY pos_e1""".stripMargin)),
  )

  /** Scale-safe GLOBAL RANK of `doc_id` rows by md5(seed ‖ doc_id): 256
    * ordered hex-prefix buckets get per-bucket window ranks in PARALLEL,
    * then a broadcast of cumulative bucket offsets (≤256 rows) lifts
    * them to global positions — the two-phase form of zipWithIndex that
    * never funnels the corpus through a one-partition global window.
    * Prefix order agrees with full-hash order because md5 hex is
    * fixed-width lowercase; ties (hash collisions) break by doc_id, the
    * same tie-break the oracle uses.
    */
  private def seededOrder(df: DataFrame, seed: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val keyed = df
      .withColumn("h", md5(concat(lit(seed), col("doc_id").cast("string"))))
      .withColumn("bkt", substring($"h", 1, 2))
    val counts = keyed.groupBy($"bkt").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().sortBy(_._1)
    var acc = 0L
    val offs = counts.map { case (b, n) => val o = acc; acc += n; (b, o) }
    val w = Window.partitionBy($"bkt").orderBy($"h", $"doc_id")
    keyed.join(broadcast(offs.toSeq.toDF("bkt", "off")), Seq("bkt"))
      .withColumn("pos", row_number().over(w).cast("long") + $"off" - 1L)
      .select($"doc_id", $"pos")
  }

  /** Global-sample size for pipeline_bottomk_sample. */
  private val SampleK = 100
}
