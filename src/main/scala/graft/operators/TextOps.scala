package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Portable deterministic hashing shared by the text/dedup/similarity
  * operators: a 60-bit integer derived from md5, computable bit-identically in
  * Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
  * (`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), so hash-dependent operators
  * keep exact oracles. xxhash64 stays the hot-path hash for Spark-only
  * surfaces (CDC chunk identity); h60 is the cross-engine-checkable one.
  */
object Portable {
  val P: Long = 2147483647L // 2^31 - 1, Mersenne prime for minhash permutations

  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** JVM twin of [[h60]] for fused loops (bit-identical values). Thread-local
    * digest: `MessageDigest.getInstance` synchronizes on the JCA provider
    * table, which serializes 32-thread executors if called per row. The
    * first 15 hex digits of the md5 are the top 60 bits of its first 8
    * bytes, assembled directly.
    */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Full lowercase-hex md5 of a string — the JVM twin of Spark's `md5()`
    * column function (and DuckDB's `md5()`), for operators that order by
    * the full digest string.
    */
  def md5Hex(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  def h60Jvm(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** DuckDB text of the same function applied to SQL fragment `x`. */
  def h60Sql(x: String): String =
    s"CAST(('0x'||substr(md5($x),1,15)) AS BIGINT)"

  /** Whitespace tokenization, identical on both engines. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")
  def tokensSql(x: String): String = s"regexp_split_to_array(trim($x),'\\s+')"

  /** Pre-compiled `\s+` for the fused JVM kernels (r18, guide §1.2
    * per-task work): `String.split("\\s+")` takes no fast path (only
    * single-char literals do) and re-compiles the Pattern on EVERY row —
    * ~10 µs × every doc × every tokenizing kernel per pass.
    * `Whitespace.split(s)` is the exact same code path minus the compile.
    */
  private[graft] val Whitespace: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("\\s+")

  /** DuckDB-side rounding that matches Spark's `round(double, n)`.
    *
    * Spark rounds the double's shortest decimal repr HALF_UP
    * (`BigDecimal.valueOf`), so 4.725 (binary 4.72499…) → 4.73; DuckDB's
    * `round(DOUBLE)` rounds the binary value → 4.72. Routing through
    * DECIMAL(28,8) makes DuckDB reconstruct the decimal value first and round
    * it HALF_UP, matching Spark on exact-half ratios (the common case for
    * int/int ratios); final cast back to DOUBLE keeps the compared dtype
    * identical.
    */
  def rndSql(x: String, n: Int): String =
    s"CAST(round(CAST(($x) AS DECIMAL(28,8)), $n) AS DOUBLE)"

  /** Spark-side rounding paired with [[rndSql]]: collapse to 8 decimals
    * first, then round to n — both engines then round the same 8-digit
    * decimal. A single `round(x, n)` rounds the double's SHORTEST repr,
    * which disagrees with the shim whenever x sits within ~1e-8 of an
    * n-digit half boundary (about 1 in 10^5 ratio-valued rows — observed at
    * sf0.1). Shadows `functions.round` via import precedence so every
    * operator call site picks it up.
    */
  def round(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.round(org.apache.spark.sql.functions.round(c, 8), n)
}

/** Text-analysis operators for LLM training-data pipelines (builder mandate):
  * token statistics, quality scoring, language-ID heuristic, document
  * fingerprinting (shingle/winnowing rolling-hash style), BPE-ish token
  * counting. All are single-pass, shuffle-free per-document expressions
  * (higher-order functions over arrays — no UDFs, no explode) followed by at
  * most one aggregation, so they scale linearly with the corpus and keep
  * Catalyst pushdown/pruning intact.
  */
object TextOps extends graft.QueryRegistry {
  import Portable._

  private[operators] val Stops = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  private[operators] def stopsSqlList = Stops.map(s => s"'$s'").mkString(", ")

  /** Fixed-weight quality logit z over a `text` column — the classifier
    * shared by text_quality_logit, pipeline_quality_tiers, and
    * pipeline_budget_fill (one definition so the three can't drift).
    */
  private def qualityZ: Column = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stopRatio = size(filter(toks, t => t.isin(Stops: _*))) / nTok.cast("double")
    val punctRatio = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")) /
      length(col("text")).cast("double")
    val avgLen = length(regexp_replace(col("text"), "\\s+", "")) / nTok.cast("double")
    lit(2.0) * (lit(1.0) - punctRatio) +
      lit(1.5) * least(stopRatio * 5.0, lit(1.0)) +
      lit(1.0) * least(avgLen / 8.0, lit(1.0)) +
      lit(0.5) * least(nTok / 100.0, lit(1.0)) - lit(2.6)
  }

  /** DuckDB text of [[qualityZ]]. */
  private def qualityZSql: String = {
    val punct = "length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE)"
    val stop = s"len(list_filter(${tokensSql("text")}, t -> t IN ($stopsSqlList))) / CAST(len(${tokensSql("text")}) AS DOUBLE)"
    val avgl = s"length(regexp_replace(text,'\\s+','','g')) / CAST(len(${tokensSql("text")}) AS DOUBLE)"
    val ntok = s"len(${tokensSql("text")})"
    s"2.0*(1.0 - $punct) + 1.5*least(($stop) * 5.0, 1.0) + 1.0*least(($avgl) / 8.0, 1.0) + 0.5*least($ntok / 100.0, 1.0) - 2.6"
  }

  /** The heuristic quality score (0.4/0.3/0.3 weighted ratios) — ONE
    * definition shared by text_quality_score and text_quality_kappa so the
    * rater under audit is exactly the rater that scored the corpus.
    */
  private def heuristicQuality: Column = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stopRatio = size(filter(toks, t => t.isin(Stops: _*))) / nTok.cast("double")
    val punctRatio = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")) /
      length(col("text")).cast("double")
    val avgLen = length(regexp_replace(col("text"), "\\s+", "")) / nTok.cast("double")
    lit(0.4) * (lit(1.0) - punctRatio) +
      lit(0.3) * least(stopRatio * 5.0, lit(1.0)) +
      lit(0.3) * least(avgLen / 8.0, lit(1.0))
  }

  /** DuckDB text of [[heuristicQuality]]. */
  private def heuristicQualitySql: String =
    s"""0.4*(1.0 - length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE))
       |      + 0.3*least(len(list_filter(${tokensSql("text")}, t -> t IN ($stopsSqlList)))
       |                  / CAST(len(${tokensSql("text")}) AS DOUBLE) * 5.0, 1.0)
       |      + 0.3*least(length(regexp_replace(text,'\\s+','','g'))
       |                  / CAST(len(${tokensSql("text")}) AS DOUBLE) / 8.0, 1.0)""".stripMargin

  /** Winnowing parameters: char-5-grams, window 4 — guarantee threshold
    * t = W + K − 1 = 8 shared chars. Shared with WinnowingSpec.
    */
  private[operators] val WinnowK = 5
  private[operators] val WinnowW = 4

  /** Token budget filled by pipeline_budget_fill (quality-first selection). */
  private val TokenBudget = 25000L

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- per-document token statistics: counts, distincts, type-token ratio.
    ("text_token_stats", (s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      Tables.documents(s, d)
        .select(
          $"doc_id",
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          length(regexp_replace($"text", "\\s+", "")).cast("long").as("n_nonspace"),
          round(length(regexp_replace($"text", "\\s+", "")) / size(toks), 2).as("avg_token_len"),
          round(size(array_distinct(toks)) / size(toks).cast("double"), 4).as("ttr"))
        .orderBy($"doc_id")
    }, Some(
      s"""SELECT doc_id,
         |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_distinct,
         |  CAST(length(regexp_replace(text,'\\s+','','g')) AS BIGINT) AS n_nonspace,
         |  ${rndSql(s"length(regexp_replace(text,'\\s+','','g')) / CAST(len(${tokensSql("text")}) AS DOUBLE)", 2)} AS avg_token_len,
         |  ${rndSql(s"len(list_distinct(${tokensSql("text")})) / CAST(len(${tokensSql("text")}) AS DOUBLE)", 4)} AS ttr
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- quality scoring: stopword / punctuation / word-length heuristics
    // (the standard pre-train corpus filters), one codegen'd pass per doc.
    ("text_quality_score", (s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      val nTok = size(toks)
      val stopCnt = size(filter(toks, t => t.isin(Stops: _*)))
      val punctCnt = length(regexp_replace($"text", "[A-Za-z0-9\\s]", ""))
      val stopRatio = stopCnt / nTok.cast("double")
      val punctRatio = punctCnt / length($"text").cast("double")
      val avgLen = length(regexp_replace($"text", "\\s+", "")) / nTok.cast("double")
      Tables.documents(s, d)
        .select(
          $"doc_id",
          round(stopRatio, 4).as("stop_ratio"),
          round(punctRatio, 4).as("punct_ratio"),
          round(avgLen, 2).as("avg_word_len"),
          round(heuristicQuality, 4).as("quality"))
        .orderBy($"doc_id")
    }, Some(
      s"""SELECT doc_id,
         |  ${rndSql(s"len(list_filter(${tokensSql("text")}, t -> t IN ($stopsSqlList))) / CAST(len(${tokensSql("text")}) AS DOUBLE)", 4)} AS stop_ratio,
         |  ${rndSql(s"length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE)", 4)} AS punct_ratio,
         |  ${rndSql(s"length(regexp_replace(text,'\\s+','','g')) / CAST(len(${tokensSql("text")}) AS DOUBLE)", 2)} AS avg_word_len,
         |  ${rndSql(heuristicQualitySql, 4)} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- language-ID: character-marker frequency heuristic with a
    // deterministic argmax (priority order breaks ties). Marker occurrence
    // count = (len(t) - len(replace(t, m))) / len(m) — exact on both engines.
    ("text_lang_id", (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(
          $"doc_id", $"lang",
          langSignal("the", " is ").cast("long").as("s_en"),
          langSignal("sch", "ein").cast("long").as("s_de"),
          langSignal("les", "eau").cast("long").as("s_fr"),
          langSignal("los", "cion").cast("long").as("s_es"))
        .withColumn("lang_pred", langPredCase)
        .orderBy($"doc_id")
    }, Some(
      s"""SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
         |  $langPredCaseSql AS lang_pred
         |FROM (SELECT doc_id, lang, $langSignalsSql
         |      FROM documents) ORDER BY doc_id""".stripMargin)),

    // ---- language-ID confusion matrix: the eval artifact for the
    // heuristic above — per (true lang, predicted lang) doc counts with
    // integer row-normalized recall and column-normalized precision
    // (×10⁴). The signals/argmax are the SAME shared definitions as
    // text_lang_id, so classifier and eval cannot drift. The synthetic
    // corpus draws every language from one shared token pool (no real
    // language signal — the raw heuristic predicts 'en' for all 500 docs,
    // which a first cut of this matrix exposed), so the eval runs over a
    // deterministically MARKED corpus twin (the planted-corpus pattern
    // Dedup/Clustering use): docs with doc_id % 3 ≠ 0 get their lang's
    // marker phrase appended 5·(doc_id % 3) times (score +10/+20, above
    // the ≤8 baseline 'the'/' is ' mass), doc_id % 3 == 0 docs stay
    // unmarked and fall to 'en' on the tie rule, and zh has no marker
    // rule at all — so the matrix shows a real diagonal, a deterministic
    // error mass, and an out-of-scope class row. Scale shape: one
    // map-side scoring scan + a ≤|langs|²-row hash agg; marginals
    // broadcast.
    ("text_langid_confusion", (s, d) => {
      import s.implicits._
      val marker = when($"lang" === "en", " the is")
        .when($"lang" === "de", " sch ein")
        .when($"lang" === "fr", " les eau")
        .when($"lang" === "es", " los cion")
        .otherwise("")
      val cells = Tables.documents(s, d)
        .select($"lang",
          concat($"text",
            repeat(marker, (($"doc_id" % 3) * 5).cast("int"))).as("text"))
        .select($"lang",
          langSignal("the", " is ").cast("long").as("s_en"),
          langSignal("sch", "ein").cast("long").as("s_de"),
          langSignal("les", "eau").cast("long").as("s_fr"),
          langSignal("los", "cion").cast("long").as("s_es"))
        .withColumn("lang_pred", langPredCase)
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n_docs"))
      val rowT = cells.groupBy($"lang").agg(sum($"n_docs").as("n_true"))
      val colT = cells.groupBy($"lang_pred").agg(sum($"n_docs").as("n_pred"))
      cells.join(broadcast(rowT), "lang").join(broadcast(colT), "lang_pred")
        .select($"lang", $"lang_pred", $"n_docs",
          expr("(n_docs * 10000L) div n_true").as("recall_e4"),
          expr("(n_docs * 10000L) div n_pred").as("precision_e4"))
        .orderBy($"lang", $"lang_pred")
    }, Some(
      s"""WITH marked AS (
         |  SELECT doc_id, lang,
         |    text || repeat(CASE lang WHEN 'en' THEN ' the is'
         |                             WHEN 'de' THEN ' sch ein'
         |                             WHEN 'fr' THEN ' les eau'
         |                             WHEN 'es' THEN ' los cion'
         |                             ELSE '' END,
         |                   CAST((doc_id % 3) * 5 AS INT)) AS text
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, lang, $langSignalsSql FROM marked),
         |pred AS (
         |  SELECT lang, $langPredCaseSql AS lang_pred FROM scored),
         |cells AS (
         |  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM pred GROUP BY 1, 2),
         |rt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_true FROM cells GROUP BY 1),
         |ct AS (SELECT lang_pred, CAST(sum(n_docs) AS BIGINT) AS n_pred FROM cells GROUP BY 1)
         |SELECT lang, lang_pred, n_docs,
         |  (n_docs * 10000) // n_true AS recall_e4,
         |  (n_docs * 10000) // n_pred AS precision_e4
         |FROM cells JOIN rt USING (lang) JOIN ct USING (lang_pred)
         |ORDER BY lang, lang_pred""".stripMargin)),

    // ---- document fingerprinting: 8-char shingle rolling window, winnowing
    // style (min/max shingle hash as the fingerprint) — all inside array HOFs,
    // zero shuffle, no explode.
    ("text_fingerprint", (s, d) => {
      import s.implicits._
      // Guard short docs: sequence(0, len-8) with len<8 yields a DESCENDING
      // array (start>stop), i.e. garbage shingles at non-positive positions,
      // while the oracle's range(0, len-7) is empty — both sides must emit
      // zero shingles for texts shorter than one 8-char window (ADVICE r1).
      val shingles = when(length($"text") >= 8,
        transform(
          sequence(lit(0), length($"text") - 8),
          i => h60($"text".substr(i + 1, lit(8)))))
        .otherwise(array().cast("array<bigint>"))
      Tables.documents(s, d)
        .select(
          $"doc_id",
          size(shingles).cast("long").as("n_shingles"),
          size(array_distinct(shingles)).cast("long").as("n_distinct_shingles"),
          array_min(shingles).as("fp_min"),
          array_max(shingles).as("fp_max"))
        .orderBy($"doc_id")
    }, Some {
      val sh = s"list_transform(range(0, length(text)-7), i -> ${h60Sql("substr(text, i+1, 8)")})"
      s"""SELECT doc_id,
         |  CAST(len($sh) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct($sh)) AS BIGINT) AS n_distinct_shingles,
         |  list_min($sh) AS fp_min,
         |  list_max($sh) AS fp_max
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // ---- n-gram frequency analysis: top-5 word bigrams per language
    // (explode → count → windowed top-k; the corpus-statistics shape that
    // feeds tokenizer training / contamination checks). Short docs guarded
    // on both sides: Spark sequence() descends when stop<start, DuckDB
    // range() is empty.
    ("text_bigram_freq", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Materialize the token array BEFORE the HOF: expressions inside a
      // lambda body are re-evaluated per element, so an inline tokens()
      // would re-run the regex split once per bigram (O(doc²) work).
      val bigrams = when(size($"toks") >= 2,
        transform(sequence(lit(0), size($"toks") - 2),
          i => concat_ws(" ", element_at($"toks", i + 1), element_at($"toks", i + 2))))
        .otherwise(array().cast("array<string>"))
      val counts = Tables.documents(s, d)
        .select($"lang", tokens($"text").as("toks"))
        .select($"lang", explode(bigrams).as("bigram"))
        .groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"lang").orderBy($"n".desc, $"bigram")
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .select($"lang", $"rank", $"bigram", $"n")
        .orderBy($"lang", $"rank")
    }, Some {
      val t = tokensSql("text")
      s"""WITH bg AS (
         |  SELECT lang, unnest(list_transform(range(0, len($t) - 1),
         |    i -> ($t)[i+1] || ' ' || ($t)[i+2])) AS bigram
         |  FROM documents),
         |c AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
         |SELECT lang, rank, bigram, n FROM (
         |  SELECT lang, bigram, n,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS BIGINT) AS rank
         |  FROM c)
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin
    }),

    // ---- heavy hitters via a Misra-Gries sketch (O(k) state — the 100 TB
    // path where an exact vocabulary groupBy would shuffle every term).
    // Oracle-checkable through the sketch contract: the HEAVY SET (true
    // count > N/(k+1)) is computed exactly and is deterministic, and the
    // sketch assertions — estimate present, never over, undercount at most
    // N/(k+1) — hold for ANY merge order (mergeable-summaries bound), so
    // the boolean is TRUE however Spark schedules the partial aggregates.
    ("text_heavy_hitters", (s, d) => {
      import s.implicits._
      val K = 64
      val toks = Tables.documents(s, d).select(explode(tokens($"text")).as("term"))
      // Single-action shape: the sketch and the total count aggregate into
      // ONE 1-row DataFrame that broadcast-joins into the exact side — the
      // sketch never rides through the driver as a literal (ADVICE r7).
      val mg = udaf(new graft.functions.MisraGriesAgg(K), Encoders.STRING)
      val sk = toks.agg(mg($"term").as("sketch"), count(lit(1)).as("n_tok"))
      val bound = $"n_tok" / lit((K + 1).toDouble)
      toks.groupBy($"term").agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(sk)) // 1 row — O(k) sketch state
        .filter($"n_exact" > bound)
        .withColumn("est", coalesce(element_at($"sketch", $"term"), lit(0L)))
        .select($"term", $"n_exact",
          ($"est" > 0L && $"est" <= $"n_exact" &&
            ($"n_exact" - $"est") <= bound).as("sketch_ok"))
        .orderBy($"term")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tok AS (SELECT unnest($t) AS term FROM documents),
         |n AS (SELECT count(*) AS n_tok FROM tok),
         |exact AS (SELECT term, count(*) AS n_exact FROM tok GROUP BY term)
         |SELECT term, n_exact, TRUE AS sketch_ok
         |FROM exact, n WHERE n_exact > n_tok / 65.0 ORDER BY term""".stripMargin
    }),

    // ---- Count-Min frequency estimates for the top-20 terms, EXACT-oracle
    // checked: the sketch's update/merge are commutative sums, so the
    // finished 3×256 counter array is bit-identical however Spark partitions
    // the corpus, and DuckDB reproduces every counter as the sum of exact
    // counts of the terms hashing into that bucket. The estimates (min over
    // the 3 rows) then match to the last bit — a stronger statement than the
    // usual "within epsilon" sketch check, and the per-term overcount is
    // visible directly as est - n_exact.
    ("text_countmin_est", (s, d) => {
      import s.implicits._
      val D = 3
      val W = 256
      val toks = Tables.documents(s, d).select(explode(tokens($"text")).as("term"))
      // Single-action shape (ADVICE r7): the finished D×W counter array is a
      // 1-row broadcast join, not a driver literal; estimates index into the
      // sketch COLUMN per term.
      val cm = udaf(new graft.functions.CountMinAgg(D, W,
        (j, t) => (h60Jvm(s"cm${j}_$t") % W).toInt), Encoders.STRING)
      val sk = toks.agg(cm($"term").as("sketch"))
      val est = (0 until D).map { j =>
        element_at($"sketch",
          (h60(concat(lit(s"cm${j}_"), $"term")) % W + j * W + 1).cast("int"))
      }.reduce(least(_, _))
      toks.groupBy($"term").agg(count(lit(1)).as("n_exact"))
        .orderBy($"n_exact".desc, $"term").limit(20)
        .crossJoin(broadcast(sk)) // 1 row — O(d·w) sketch state
        .select($"term", $"n_exact", est.as("est"))
        .orderBy($"term")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tok AS (SELECT unnest($t) AS term FROM documents),
         |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY term),
         |top AS (SELECT term, n_exact FROM tc ORDER BY n_exact DESC, term LIMIT 20),
         |b AS (
         |  SELECT j, ${h60Sql("'cm'||j||'_'||term")} % 256 AS bkt,
         |    CAST(sum(n_exact) AS BIGINT) AS bsum
         |  FROM tc CROSS JOIN (SELECT unnest(range(0,3)) AS j) GROUP BY 1, 2)
         |SELECT t.term, t.n_exact, min(b.bsum) AS est
         |FROM top t JOIN b ON b.bkt = ${h60Sql("'cm'||b.j||'_'||t.term")} % 256
         |GROUP BY t.term, t.n_exact
         |ORDER BY t.term""".stripMargin
    }),

    // ---- TF-IDF top terms per document: the classic corpus-statistics
    // weighting (term frequency × ln(N/df)) with a windowed top-k. Ranking
    // is deterministic across engines: ties in tfidf only occur for equal
    // (tf, df) pairs — where both engines compute the identical double —
    // and break on the term string. Two shuffles total (doc-term counts,
    // term document-frequency) + broadcast of the scalar N.
    ("text_tfidf_topk", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val doc = Tables.documents(s, d)
      val tf = doc
        .select($"doc_id", explode(tokens($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = doc.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", $"tf" * log($"n_docs".cast("double") / $"df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"tf", $"df", round($"tfidf", 4).as("tfidf"))
        .orderBy($"doc_id", $"rank")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($t) AS term FROM documents)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, rank, term, tf, df, ${rndSql("tfidf", 4)} AS tfidf FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.term) AS BIGINT) AS rank
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    }),

    // ---- BM25 retrieval over the corpus inverted index (Robertson k1=1.2,
    // b=0.75, Lucene's ln(1 + (N-df+.5)/(df+.5)) idf): every 100th doc's
    // first-4-token prefix stands in for a search query, and each query
    // ranks the documents sharing >= 1 term — the retrieval scorer a
    // RAG/data-curation stack runs against the training corpus. Scores are
    // INTEGER-QUANTIZED per term (floor of micro-units) before the
    // per-(query, doc) sum, the PageRank trick: every per-term contribution
    // is a pure scalar function of (tf, df, dl, N, avgdl) — bit-identical
    // on both engines, with avgdl formed as one exact-integer division —
    // and the integer sum is order-free, so ranking and hashes cannot drift
    // by float summation order. Scale shape: the query→tf term join IS the
    // posting-list lookup (only docs containing a query term are touched),
    // tf/df are the standard two hash aggregations, corpus-wide stats ride
    // a 1-row broadcast, and the final window partitions by query.
    ("text_bm25_topk", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"q_id").orderBy($"bm25_u6".desc, $"doc_id")
      bm25Scores(s, d)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .select($"q_id", $"rank", $"doc_id", $"bm25_u6")
        .orderBy($"q_id", $"rank")
    }, Some {
      s"""WITH $bm25ScoresSql
         |SELECT q_id, rank, doc_id, bm25_u6 FROM (
         |  SELECT q_id, doc_id, bm25_u6,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY bm25_u6 DESC, doc_id) AS BIGINT) AS rank
         |  FROM sc)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    }),

    // ---- BPE-ish token counting per source: letter-runs | digit-runs |
    // single punctuation, the classic pre-tokenizer regex.
    ("text_bpe_token_count", (s, d) => {
      import s.implicits._
      val nBpe = size(regexp_extract_all($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      Tables.documents(s, d)
        .select($"source", nBpe.cast("long").as("n_bpe"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_bpe").as("total_tokens"),
          round(avg($"n_bpe"), 2).as("avg_tokens"))
        .orderBy($"source")
    }, Some(
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_bpe) AS BIGINT) AS total_tokens, ${rndSql("avg(n_bpe)", 2)} AS avg_tokens
         |FROM (SELECT source,
         |        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe
         |      FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- token-distribution entropy: Shannon entropy of the per-doc token
    // frequency distribution (nats) and its normalized form — the standard
    // "gibberish or keyword-stuffed?" quality signal (degenerate docs score
    // near 0, natural text near ln(n_distinct)). Computed on both engines as
    // ln(n) - Σ c·ln(c) / n over the token counts: the float sum's order
    // differs across engines/partitions by ~1e-13, far below the 4-decimal
    // rounding, so the hash compare holds (same argument as the stats
    // suite's distributed stddev). Fused per-doc pass; map-only at scale.
    ("text_entropy", (s, d) => {
      import s.implicits._
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val toks = Whitespace.split(text.trim)
            val cnt = new java.util.HashMap[String, Long]
            var i = 0
            while (i < toks.length) {
              cnt.merge(toks(i), 1L, (a, b) => a + b)
              i += 1
            }
            var s = 0.0
            cnt.forEach { (_, c) => s += c * math.log(c.toDouble) }
            val n = toks.length.toDouble
            val ent = math.log(n) - s / n
            (id, toks.length.toLong, cnt.size.toLong, ent)
          }
        }.toDF("doc_id", "n_tok", "n_distinct", "ent")
      stats.select(
          $"doc_id", $"n_tok", $"n_distinct",
          round($"ent", 4).as("entropy"),
          when($"n_distinct" > 1, round($"ent" / log($"n_distinct".cast("double")), 4))
            .otherwise(0.0).as("norm_entropy"))
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH tokcnt AS (
         |  SELECT doc_id, tok, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest($t) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |e AS (
         |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok, count(*) AS n_distinct,
         |    ln(CAST(sum(cnt) AS DOUBLE)) - sum(cnt * ln(CAST(cnt AS DOUBLE))) / sum(cnt) AS ent
         |  FROM tokcnt GROUP BY doc_id)
         |SELECT doc_id, n_tok, n_distinct,
         |  ${rndSql("ent", 4)} AS entropy,
         |  CASE WHEN n_distinct > 1 THEN ${rndSql("ent / ln(CAST(n_distinct AS DOUBLE))", 4)}
         |       ELSE 0.0 END AS norm_entropy
         |FROM e ORDER BY doc_id""".stripMargin
    }),

    // ---- within-document repetition stats (the Gopher-style repetition
    // filters): fraction of 2-gram occurrences taken by the single most
    // frequent 2-gram, and fraction of 3-gram occurrences that are repeats
    // of an earlier 3-gram in the same doc. Highly repetitive documents
    // (boilerplate, keyword stuffing, degenerate generations) score high on
    // both and are flagged. One fused per-doc pass (counts in a HashMap —
    // the n-gram rows never materialize, so at 100 TB this is a map-only
    // stage); the flag compares the ROUNDED fractions so both engines
    // threshold the same 4-decimal value.
    ("text_repetition_stats", (s, d) => {
      import s.implicits._
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val toks = Whitespace.split(text.trim)
            val c2 = new java.util.HashMap[String, Long]
            var i = 0
            while (i + 1 < toks.length) {
              c2.merge(toks(i) + " " + toks(i + 1), 1L, (a, b) => a + b)
              i += 1
            }
            var top2 = 0L
            c2.forEach { (_, c) => if (c > top2) top2 = c }
            val s3 = new java.util.HashSet[String]
            var n3 = 0L
            i = 0
            while (i + 2 < toks.length) {
              s3.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
              n3 += 1
              i += 1
            }
            (id, toks.length.toLong, top2, math.max(toks.length - 1, 0).toLong,
              n3 - s3.size, n3)
          }
        }.toDF("doc_id", "n_tok", "top2", "n2", "dup3", "n3")
      stats.select(
          $"doc_id", $"n_tok",
          when($"n2" > 0, round($"top2" / $"n2".cast("double"), 4))
            .otherwise(0.0).as("top2_frac"),
          when($"n3" > 0, round($"dup3" / $"n3".cast("double"), 4))
            .otherwise(0.0).as("dup3_frac"))
        .withColumn("repetitive", $"top2_frac" > 0.2 || $"dup3_frac" > 0.2)
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH t AS (SELECT doc_id, $t AS toks FROM documents),
         |g2 AS (
         |  SELECT doc_id, g, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS g FROM t)
         |  GROUP BY 1, 2),
         |c2 AS (SELECT doc_id, max(cnt) AS top2, sum(cnt) AS n2 FROM g2 GROUP BY doc_id),
         |g3 AS (
         |  SELECT doc_id, g, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len(toks) - 2),
         |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g FROM t)
         |  GROUP BY 1, 2),
         |c3 AS (SELECT doc_id, sum(cnt) - count(*) AS dup3, sum(cnt) AS n3 FROM g3 GROUP BY doc_id),
         |f AS (
         |  SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |    CASE WHEN coalesce(n2, 0) > 0
         |         THEN ${rndSql("top2 / CAST(n2 AS DOUBLE)", 4)} ELSE 0.0 END AS top2_frac,
         |    CASE WHEN coalesce(n3, 0) > 0
         |         THEN ${rndSql("dup3 / CAST(n3 AS DOUBLE)", 4)} ELSE 0.0 END AS dup3_frac
         |  FROM t LEFT JOIN c2 ON c2.doc_id = t.doc_id LEFT JOIN c3 ON c3.doc_id = t.doc_id)
         |SELECT doc_id, n_tok, top2_frac, dup3_frac,
         |  (top2_frac > 0.2 OR dup3_frac > 0.2) AS repetitive
         |FROM f ORDER BY doc_id""".stripMargin
    }),

    // ---- model-based quality scoring: a fixed-weight linear classifier
    // over the quality features (the fastText-classifier shape of CCNet/
    // RedPajama quality filters, with literal weights standing in for
    // trained ones), squashed by the RATIONAL sigmoid z/(1+|z|) — exp() has
    // no cross-engine bit guarantee, a rational function does. Map-only.
    ("text_quality_logit", (s, d) => {
      import s.implicits._
      val z = qualityZ
      val score = z / (lit(1.0) + abs(z))
      Tables.documents(s, d)
        .select($"doc_id", round(z, 4).as("logit"), round(score, 4).as("score"),
          (score >= 0.1).as("keep"))
        .orderBy($"doc_id")
    }, Some {
      val z = qualityZSql
      s"""SELECT doc_id, ${rndSql(z, 4)} AS logit,
         |  ${rndSql(s"($z) / (1.0 + abs($z))", 4)} AS score,
         |  (($z) / (1.0 + abs($z)) >= 0.1) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // ---- rater agreement (Cohen's kappa 1960): how much do the two keep
    // decisions — the heuristic quality cut (≥ 0.6) and the logit gate
    // (text_quality_logit's score ≥ 0.1) — agree BEYOND chance? The number
    // that decides whether a cheap filter can stand in for an expensive
    // one. Both raters are the exact shared definitions ([[heuristicQuality]],
    // [[qualityZ]]), so this audit judges the raters that actually scored
    // the corpus. All-integer after the confusion counts: po, pe and kappa
    // are exact integer ratios ×10⁴ (kappa = (n·po_num − pe_num) /
    // (n² − pe_num)); measured 0.61 at sf0.01 — "substantial" on the
    // Landis–Koch bands, i.e. the cheap rater is a fair but not free
    // substitute. Scale shape: one map-side pass to 0/1 flags, one 1-row
    // aggregate; nothing else.
    ("text_quality_kappa", (s, d) => {
      import s.implicits._
      val z = qualityZ
      val cts = Tables.documents(s, d)
        .select((heuristicQuality >= 0.6).cast("long").as("a"),
          ((z / (lit(1.0) + abs(z))) >= 0.1).cast("long").as("b"))
        .agg(count(lit(1)).as("n"), sum(expr("a * b")).as("n11"),
          sum(expr("a * (1 - b)")).as("n10"),
          sum(expr("(1 - a) * b")).as("n01"),
          sum(expr("(1 - a) * (1 - b)")).as("n00"))
      val peNum = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
      cts.withColumn("po_e4", expr("(n11 + n00) * 10000 div n"))
        .withColumn("pe_e4", expr(s"$peNum * 10000 div (n * n)"))
        .withColumn("kappa_e4",
          expr(s"(n * (n11 + n00) - $peNum) * 10000 div (n * n - $peNum)"))
        .select($"n", $"n11", $"n10", $"n01", $"n00",
          $"po_e4", $"pe_e4", $"kappa_e4")
    }, Some {
      val z = qualityZSql
      val peNum = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
      s"""WITH r AS (
         |  SELECT (CASE WHEN (${heuristicQualitySql}) >= 0.6 THEN 1 ELSE 0 END) AS a,
         |    (CASE WHEN ($z) / (1.0 + abs($z)) >= 0.1 THEN 1 ELSE 0 END) AS b
         |  FROM documents),
         |c AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(a * b) AS BIGINT) AS n11,
         |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
         |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
         |  FROM r)
         |SELECT n, n11, n10, n01, n00,
         |  CAST((n11 + n00) * 10000 // n AS BIGINT) AS po_e4,
         |  CAST($peNum * 10000 // (n * n) AS BIGINT) AS pe_e4,
         |  CAST((n * (n11 + n00) - $peNum) * 10000
         |    // (n * n - $peNum) AS BIGINT) AS kappa_e4
         |FROM c""".stripMargin
    }),

    // ---- winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03 —
    // the MOSS algorithm): from each window of W consecutive char-K-gram
    // hashes select the leftmost minimum; the distinct selected hashes are
    // the document's fingerprint set, with the paper's guarantee that any
    // shared substring of length ≥ W+K−1 contributes a shared fingerprint
    // (WinnowingSpec pins the per-window guarantee and a full plain-Scala
    // parity recompute). This is the principled counterpart of the
    // stride-sampled span hashes in dedup_matched_spans: selection density
    // ≈ 2/(W+1) regardless of content alignment. The whole pass is nested
    // higher-order functions over the per-doc gram array — map-side only,
    // no windows, no explode, no shuffle before the final sort; at 100 TB
    // the fingerprint sets feed the usual postings join, never raw text.
    ("text_winnowing", (s, d) => {
      import s.implicits._
      val (k, w) = (WinnowK, WinnowW)
      // Fused JVM kernel (the lshSignatures pattern): one pass per doc over
      // h60Jvm — the md5-per-gram Column chain (substring → md5 → conv per
      // position) measured 6.9 s at sf0.1 vs 0.9 s fused, identical values.
      // The driver's compare hashes scalars, so the fingerprint SET is
      // pinned by count + min + max + an order-free XOR fold.
      Tables.documents(s, d)
        .filter(length($"text") >= k + w - 1)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val n = text.length - (k - 1)
            val hs = new Array[Long](n)
            var i = 0
            while (i < n) { hs(i) = h60Jvm(text.substring(i, i + k)); i += 1 }
            val selected = new Array[Boolean](n)
            var e = w - 1 // 0-based end of each w-gram window
            while (e < n) {
              var best = e - (w - 1)
              var j = best + 1
              while (j <= e) { if (hs(j) < hs(best)) best = j; j += 1 }
              selected(best) = true // leftmost minimum of this window
              e += 1
            }
            val fpSet = new java.util.HashSet[java.lang.Long]()
            var nSel = 0
            var fpMin = Long.MaxValue
            var fpMax = Long.MinValue
            var fpXor = 0L
            i = 0
            while (i < n) {
              if (selected(i)) {
                nSel += 1
                if (fpSet.add(hs(i))) {
                  if (hs(i) < fpMin) fpMin = hs(i)
                  if (hs(i) > fpMax) fpMax = hs(i)
                  fpXor ^= hs(i)
                }
              }
              i += 1
            }
            (id, n.toLong, nSel.toLong, fpSet.size.toLong,
              nSel.toLong * 10000 / (n - (w - 1)), fpMin, fpMax, fpXor)
          }
        }
        .toDF("doc_id", "n_grams", "n_selected", "n_fingerprints",
          "density_e4", "fp_min", "fp_max", "fp_xor")
        .orderBy($"doc_id")
    }, Some {
      val (k, w) = (WinnowK, WinnowW)
      s"""SELECT doc_id, CAST(n AS BIGINT) AS n_grams,
         |  CAST(len(sel_pos) AS BIGINT) AS n_selected,
         |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
         |  CAST(len(sel_pos) * 10000 // (n - ${w - 1}) AS BIGINT) AS density_e4,
         |  list_min(fps) AS fp_min, list_max(fps) AS fp_max,
         |  CAST(list_aggregate(fps, 'bit_xor') AS BIGINT) AS fp_xor
         |FROM (
         |  SELECT doc_id, n, list_distinct(
         |      list_transform(sel_pos, p -> hs[CAST(p AS INT)])) AS fps,
         |    sel_pos
         |  FROM (
         |    SELECT doc_id, n, hs, list_distinct(list_transform(range($w, n + 1),
         |      e -> CAST(e - $w + list_position(hs[e - ${w - 1} : e],
         |        list_min(hs[e - ${w - 1} : e])) AS BIGINT))) AS sel_pos
         |    FROM (
         |      SELECT doc_id, length(text) - ${k - 1} AS n,
         |        list_transform(range(1, length(text) - ${k - 2}),
         |          p -> ${h60Sql(s"substr(text, p, $k)")}) AS hs
         |      FROM documents WHERE length(text) >= ${k + w - 1})))
         |ORDER BY doc_id""".stripMargin
    }),

    // ---- budget-constrained quality-first selection: fill a fixed token
    // budget with the best-scoring documents (logit DESC, doc_id tiebreak)
    // and emit the kept prefix with running token totals — the "what fits
    // in N tokens" data-selection query. The running sum runs in the
    // SHARDED form (the q59 pattern): docs bucket by floor(score·10)
    // (score is the 4-digit-rounded logit, so the band count is
    // schema-bounded ~50 and floor is order-aligned with score), the
    // per-band token totals prefix over a ~50-row broadcast, and the
    // per-doc window partitions BY BAND — no global single-partition
    // window at any corpus size; the oracle computes the identical prefix
    // with one global window (DuckDB has the whole corpus in hand).
    ("pipeline_budget_fill", (s, d) => {
      import s.implicits._
      // documentsSpread (r18): the score+tokenize pass is CPU-bound, runs
      // twice (offs leg + join leg), and was single-task on the 1-row-group
      // scan (0.30 s + 0.64 s stages measured).
      val base = Tables.documentsSpread(s, d)
        .select($"doc_id", round(qualityZ, 4).as("score"),
          size(tokens($"text")).cast("long").as("n_toks"))
        .withColumn("band", floor($"score" * 10).cast("long"))
      val wB = Window.orderBy($"band".desc).rowsBetween(Window.unboundedPreceding, -1)
      val offs = base.groupBy($"band").agg(sum($"n_toks").as("band_toks"))
        .withColumn("off", coalesce(sum($"band_toks").over(wB), lit(0L)))
        .select($"band", $"off")
      val wIn = Window.partitionBy($"band").orderBy($"score".desc, $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.join(broadcast(offs), "band")
        .withColumn("cum_toks", $"off" + sum($"n_toks").over(wIn))
        .filter($"cum_toks" <= TokenBudget)
        .select($"doc_id", $"score", $"n_toks", $"cum_toks")
        .orderBy($"cum_toks", $"doc_id")
    }, Some {
      s"""WITH b AS (
         |  SELECT doc_id, ${rndSql(qualityZSql, 4)} AS score,
         |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, score, n_toks,
         |    sum(n_toks) OVER (ORDER BY score DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_toks
         |  FROM b)
         |SELECT doc_id, score, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
         |FROM c WHERE cum_toks <= $TokenBudget ORDER BY cum_toks, doc_id""".stripMargin
    }),

    // ---- Heaps-law vocabulary growth: docs fall into 10 id-ordered corpus
    // slices; each slice reports its token volume, the TRIGRAM types first
    // seen in it (the word vocabulary of this synthetic corpus saturates in
    // slice 0 — 31 words — so the type unit is the word trigram, whose
    // growth curve is live), and the running totals — the vocab-vs-corpus-
    // size curve that decides tokenizer vocab budgets. Scale shape: one
    // explode + two hash aggregations (first-slice is a min-agg,
    // map-combinable); the running sum windows over TEN rows, never the
    // corpus.
    ("text_vocab_growth", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val mx = Tables.documents(s, d).agg(max($"doc_id").as("mx"))
      val doc = Tables.documents(s, d).select($"doc_id", tokens($"text").as("t"))
        .crossJoin(broadcast(mx)) // 1-row scalar
        .select((($"doc_id" * 10) / ($"mx" + 1)).cast("long").as("bucket"), $"t")
      val tokCnt = doc.select($"bucket", explode($"t").as("tok"))
        .groupBy($"bucket").agg(count(lit(1)).as("n_tokens"))
      val grams = doc.filter(size($"t") >= 3)
        .select($"bucket", explode(transform(sequence(lit(1), size($"t") - 2),
          i => array_join(slice($"t", i, lit(3)), " "))).as("g"))
      val newTypes = grams.groupBy(xxhash64($"g").as("h")).agg(min($"bucket").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n_new_types"))
      val w = Window.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokCnt.join(newTypes, Seq("bucket"), "left")
        .select($"bucket", coalesce($"n_new_types", lit(0L)).as("n_new_types"), $"n_tokens")
        .withColumn("cum_types", sum($"n_new_types").over(w))
        .withColumn("cum_tokens", sum($"n_tokens").over(w))
        .orderBy($"bucket")
    }, Some(
      s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         |doc AS (
         |  SELECT (doc_id*10) // (mx+1) AS bucket, ${tokensSql("text")} AS t
         |  FROM documents CROSS JOIN mx),
         |tc AS (
         |  SELECT bucket, count(*) AS n_tokens
         |  FROM (SELECT bucket, unnest(t) AS tok FROM doc) GROUP BY 1),
         |fs AS (
         |  SELECT g, min(bucket) AS bucket FROM (
         |    SELECT bucket, unnest(list_transform(range(0, len(t)-2),
         |      i -> array_to_string(t[i+1:i+3], ' '))) AS g
         |    FROM doc WHERE len(t) >= 3)
         |  GROUP BY 1),
         |nt AS (SELECT bucket, count(*) AS n_new_types FROM fs GROUP BY 1)
         |SELECT tc.bucket, coalesce(n_new_types, 0) AS n_new_types, n_tokens,
         |  CAST(sum(coalesce(n_new_types, 0)) OVER (ORDER BY tc.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
         |  CAST(sum(n_tokens) OVER (ORDER BY tc.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM tc LEFT JOIN nt USING (bucket) ORDER BY tc.bucket""".stripMargin)),

    // ---- in-domain bigram-LM scoring: train bigram/unigram counts on the
    // corpus itself, then score each document by its mean transition
    // probability — the KenLM-style "how typical is this document" signal
    // that data pipelines use for quality filtering / domain weighting.
    // Determinism: every per-bigram probability is quantized to an INTEGER
    // (q = 1e6·c2 div c1) before summing, so the per-doc aggregate is an
    // exact integer sum in both engines — no float accumulation order to
    // diverge. Scale shape: two hash aggregations over the bigram stream
    // (map-side combinable) and two shuffled equi-joins back on the bigram
    // key; the model tables are vocabulary-sized (≪ corpus), so at 100 TB
    // the planner broadcasts them and the score pass stays one scan.
    ("text_bigram_lm_score", (s, d) => {
      import s.implicits._
      val bigrams = when(size($"toks") >= 2,
        transform(sequence(lit(0), size($"toks") - 2),
          i => struct(element_at($"toks", i + 1).as("w1"), element_at($"toks", i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      // documentsSpread (r18): the tokenize+bigram-explode cache fill was
      // single-task on the 1-row-group scan.
      val pairs = Tables.documentsSpread(s, d)
        .select($"doc_id", tokens($"text").as("toks"))
        .select($"doc_id", explode(bigrams).as("b"))
        .select($"doc_id", $"b.w1", $"b.w2")
        .cache() // reused 3×: unigram counts, bigram counts, the score pass
      val uni = pairs.groupBy($"w1".as("w")).agg(count(lit(1)).as("c1"))
      val bi = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
      pairs
        .join(bi, Seq("w1", "w2"))
        .join(uni, $"w1" === $"w")
        .select($"doc_id", expr("(1000000L * c2) div c1").as("q"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum($"q").as("lm_mass"),
          expr("sum(q) div count(1)").as("lm_score"))
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, len($t) - 1),
         |    i -> struct_pack(w1 := ($t)[i+1], w2 := ($t)[i+2]))) AS b
         |  FROM documents),
         |pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
         |uni AS (SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c1 FROM pairs GROUP BY 1),
         |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.doc_id, (1000000 * bi.c2) // uni.c1 AS q
         |  FROM pairs p JOIN bi ON p.w1 = bi.w1 AND p.w2 = bi.w2
         |               JOIN uni ON p.w1 = uni.w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(q) AS BIGINT) AS lm_mass,
         |  CAST(sum(q) AS BIGINT) // count(*) AS lm_score
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // ---- BPE merge learning: the first 4 byte-pair merge rules learned
    // from the corpus vocabulary (Sennrich-style — count symbol pairs
    // weighted by word frequency, merge the argmax, repeat). Unrolled to 4
    // data-independent-depth iterations like sim_kmeans's Lloyd steps: each
    // round is a vocabulary-sized pair aggregation plus a 1-row broadcast
    // of the winning pair — no driver collect, no per-round action. The
    // vocabulary table (distinct words × ~10 symbols) is tiny relative to
    // the corpus at any scale, so only round 0's explode+groupBy touches
    // corpus-sized data.
    // Deviation from canonical BPE, identical on both engines: the merge
    // rewrite consumes the shared delimiter (replace ' l r '→' lr ' scans
    // left-to-right non-overlapping), so an immediately repeated pair
    // 'l r l r' merges once per pass, not twice. Ties break (count DESC,
    // left, right) — both engines compare [a-z]+ strings bytewise.
    ("text_bpe_learn", (s, d) => {
      import s.implicits._
      bpeChain(s, d)._1.reduce(_ unionAll _).orderBy($"merge_rank")
    }, Some {
      val merges = (0 until BpeMerges).map { k =>
        s"SELECT CAST(${k + 1} AS BIGINT) AS merge_rank, l AS left_sym, r AS right_sym, c AS pair_count FROM m$k"
      }.mkString(" UNION ALL ")
      s"WITH $bpeChainSql\nSELECT * FROM ($merges) ORDER BY merge_rank"
    }),

    // ---- quality-quartile tiers: score every doc with the same rational-
    // sigmoid classifier as text_quality_logit, cut the corpus at the exact
    // score quartiles, and report each tier's doc/token/char budget — the
    // table a curriculum or quality-weighted sampler is configured from.
    // Quartile parity: Spark's exact `percentile` and DuckDB's
    // `quantile_cont` both interpolate linearly over the sorted ROUNDED
    // scores, and a tier flips only on a boundary EQUAL to a data value —
    // where interpolation is exact on both engines. Scale note: exact
    // percentiles need a sort; at 100 TB swap in percentile_approx and keep
    // the identical downstream shape — pipeline_quality_tiers_approx below
    // IS that swap, with the sketch boundary pinned inside an exact
    // quantile envelope and the tier-flip exposure counted.
    ("pipeline_quality_tiers", (s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      val nTok = size(toks)
      val stopRatio = size(filter(toks, t => t.isin(Stops: _*))) / nTok.cast("double")
      val punctRatio = length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")) /
        length($"text").cast("double")
      val avgLen = length(regexp_replace($"text", "\\s+", "")) / nTok.cast("double")
      val z = lit(2.0) * (lit(1.0) - punctRatio) +
        lit(1.5) * least(stopRatio * 5.0, lit(1.0)) +
        lit(1.0) * least(avgLen / 8.0, lit(1.0)) +
        lit(0.5) * least(nTok / 100.0, lit(1.0)) - lit(2.6)
      // documentsSpread (r18): the z-score+tokenize pass runs twice (quartile
      // leg + tier leg), each a ~0.35 s single-task stage on the 1-row-group
      // scan.
      val sc = Tables.documentsSpread(s, d)
        .select($"doc_id", round(z / (lit(1.0) + abs(z)), 4).as("score"),
          nTok.cast("long").as("n_toks"), length($"text").cast("long").as("n_chars"))
      val qs = sc.agg(expr("percentile(score, 0.25)").as("q1"),
        expr("percentile(score, 0.50)").as("q2"),
        expr("percentile(score, 0.75)").as("q3"))
      sc.crossJoin(broadcast(qs)) // 1-row quartile bounds
        .withColumn("tier", (lit(1) + ($"score" > $"q1").cast("int") +
          ($"score" > $"q2").cast("int") + ($"score" > $"q3").cast("int")).cast("long"))
        .groupBy($"tier")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"),
          sum($"n_chars").as("n_chars"),
          min($"score").as("min_score"), max($"score").as("max_score"))
        .orderBy($"tier")
    }, Some {
      val t = tokensSql("text")
      val punct = "length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE)"
      val stop = s"len(list_filter($t, t -> t IN ($stopsSqlList))) / CAST(len($t) AS DOUBLE)"
      val avgl = s"length(regexp_replace(text,'\\s+','','g')) / CAST(len($t) AS DOUBLE)"
      val ntok = s"len($t)"
      val z = s"2.0*(1.0 - $punct) + 1.5*least(($stop) * 5.0, 1.0) + 1.0*least(($avgl) / 8.0, 1.0) + 0.5*least($ntok / 100.0, 1.0) - 2.6"
      s"""WITH sc AS (
         |  SELECT doc_id, ${rndSql(s"($z) / (1.0 + abs($z))", 4)} AS score,
         |    CAST(len($t) AS BIGINT) AS n_toks, CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents),
         |qs AS (SELECT quantile_cont(score, 0.25) AS q1, quantile_cont(score, 0.50) AS q2,
         |              quantile_cont(score, 0.75) AS q3 FROM sc)
         |SELECT CAST(1 + CAST(score > q1 AS INT) + CAST(score > q2 AS INT) + CAST(score > q3 AS INT) AS BIGINT) AS tier,
         |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  min(score) AS min_score, max(score) AS max_score
         |FROM sc, qs GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- the 100 TB twin of pipeline_quality_tiers' boundary step
    // (VERDICT r10 #5): exact `percentile` needs a global sort of the score
    // column; `percentile_approx` (t-digest-style mergeable sketch, one
    // map-side-combinable pass) is the boundary computation a 100 TB tier
    // cut actually runs. Contract in the q61 envelope pattern: one row per
    // quartile with the exact boundary (oracle-exact via quantile_cont),
    // a literal-TRUE pin that the sketch boundary lands inside the exact
    // [p−0.01, p+0.01] quantile envelope, and n_docs_in_envelope — the
    // exact count of docs whose tier could flip if the approx boundary
    // replaced the exact one (the honest error bound a pipeline owner
    // reads before swapping in the sketch; both engines compute it
    // exactly because the envelope bounds are exact percentiles).
    ("pipeline_quality_tiers_approx", (s, d) => {
      import s.implicits._
      val z = qualityZ
      val sc = Tables.documents(s, d)
        .select(round(z / (lit(1.0) + abs(z)), 4).as("score"))
      val qs = sc.agg(
        expr("percentile(score, 0.25)").as("e1"),
        expr("percentile(score, 0.50)").as("e2"),
        expr("percentile(score, 0.75)").as("e3"),
        expr("percentile_approx(score, 0.25, 1000)").as("a1"),
        expr("percentile_approx(score, 0.50, 1000)").as("a2"),
        expr("percentile_approx(score, 0.75, 1000)").as("a3"),
        expr("percentile(score, 0.24)").as("lo1"),
        expr("percentile(score, 0.26)").as("hi1"),
        expr("percentile(score, 0.49)").as("lo2"),
        expr("percentile(score, 0.51)").as("hi2"),
        expr("percentile(score, 0.74)").as("lo3"),
        expr("percentile(score, 0.76)").as("hi3"))
      val aggCols = (1 to 3).flatMap { i =>
        Seq(
          sum(when(col("score") >= col(s"lo$i") && col("score") <= col(s"hi$i"), 1L)
            .otherwise(0L)).as(s"n$i"),
          first(col(s"e$i")).as(s"e$i"), first(col(s"a$i")).as(s"a$i"),
          first(col(s"lo$i")).as(s"lo$i"), first(col(s"hi$i")).as(s"hi$i"))
      }
      val env = sc.crossJoin(broadcast(qs)) // 1-row boundary attach
        .agg(aggCols.head, aggCols.tail: _*)
      Seq((1, "0.25"), (2, "0.50"), (3, "0.75")).map { case (i, p) =>
        env.select(lit(p).as("p"),
          round(col(s"e$i"), 4).as("exact_q"),
          (col(s"a$i") >= col(s"lo$i") && col(s"a$i") <= col(s"hi$i")).as("approx_ok"),
          col(s"n$i").as("n_docs_in_envelope"))
      }.reduce(_ unionByName _).orderBy($"p")
    }, Some {
      val z = qualityZSql
      val rows = Seq((1, "0.25", "0.24", "0.26"), (2, "0.50", "0.49", "0.51"),
        (3, "0.75", "0.74", "0.76")).map { case (i, p, _, _) =>
        s"""SELECT '$p' AS p, ${rndSql(s"e$i", 4)} AS exact_q, TRUE AS approx_ok,
           |  CAST(n$i AS BIGINT) AS n_docs_in_envelope FROM qs, cnt""".stripMargin
      }.mkString("\nUNION ALL\n")
      val qCols = Seq((1, "0.25", "0.24", "0.26"), (2, "0.50", "0.49", "0.51"),
        (3, "0.75", "0.74", "0.76")).map { case (i, p, lo, hi) =>
        s"quantile_cont(score, $p) AS e$i, quantile_cont(score, $lo) AS lo$i, quantile_cont(score, $hi) AS hi$i"
      }.mkString(",\n    ")
      val nCols = (1 to 3).map { i =>
        s"sum(CASE WHEN score >= lo$i AND score <= hi$i THEN 1 ELSE 0 END) AS n$i"
      }.mkString(", ")
      s"""WITH sc AS (
         |  SELECT ${rndSql(s"($z) / (1.0 + abs($z))", 4)} AS score FROM documents),
         |qs AS (
         |  SELECT $qCols
         |  FROM sc),
         |cnt AS (SELECT $nCols FROM sc, qs)
         |SELECT * FROM ($rows) ORDER BY p""".stripMargin
    }),

    // ---- apply the learned BPE merges: encode every document with the
    // ruleset text_bpe_learn produced and report its token count and
    // chars-per-token compression — the learn→apply round trip of a
    // tokenizer pipeline. The per-WORD segmentations already exist as the
    // final chain state (vocabulary-sized); application to the corpus is
    // one explode + an equi-join on the word — at 100 TB the planner
    // broadcasts the vocabulary and the pass stays one scan, the same
    // shape a real tokenizer's vocab lookup has.
    ("text_bpe_apply", (s, d) => {
      import s.implicits._
      val wordCost = bpeChain(s, d)._2
        .select($"w", size(split(trim($"seq"), " ")).cast("long").as("n_sym"))
      Tables.documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("w"))
        // vocab-bounded lookup side — broadcast, never shuffle the corpus
        .join(broadcast(wordCost), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length($"w")).cast("long").as("n_alpha_chars"),
          sum($"n_sym").as("n_tokens_bpe"))
        .withColumn("chars_per_token",
          Portable.round($"n_alpha_chars" / $"n_tokens_bpe", 4))
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH $bpeChainSql,
         |wcost AS (SELECT w, CAST(len(regexp_split_to_array(trim(seq), ' ')) AS BIGINT) AS n_sym
         |  FROM s$BpeMerges),
         |dw AS (SELECT doc_id, unnest($t) AS w FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(dw.w)) AS BIGINT) AS n_alpha_chars,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens_bpe,
         |  ${rndSql("CAST(sum(length(dw.w)) AS BIGINT) / CAST(sum(n_sym) AS DOUBLE)", 4)} AS chars_per_token
         |FROM dw JOIN wcost ON dw.w = wcost.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // ---- tokenizer fertility by language: tokens-per-word and chars-per-
    // token under the learned BPE ruleset, aggregated per lang — the metric
    // a tokenizer evaluation actually publishes (fertility ≫ 1 on a
    // language means its text costs proportionally more sequence length per
    // word, the classic under-served-language signal; Ács 2019). Pure
    // integer outputs: fertility_e4 = 10⁴·bpe_tokens div words and
    // chars_per_token_e4 = 10⁴·alpha_chars div bpe_tokens, so the report is
    // bit-exact on both engines with no float division. Scale shape: the
    // same vocabulary-lookup join as text_bpe_apply (vocab side broadcast
    // at 100 TB) followed by a ≤|langs|-row hash agg — one corpus scan.
    ("text_tokenizer_fertility", (s, d) => {
      import s.implicits._
      val wordCost = bpeChain(s, d)._2
        .select($"w", size(split(trim($"seq"), " ")).cast("long").as("n_sym"))
      Tables.documents(s, d)
        .select($"doc_id", $"lang", explode(tokens($"text")).as("w"))
        // vocab-bounded lookup side — broadcast, never shuffle the corpus
        .join(broadcast(wordCost), "w")
        .groupBy($"lang")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(length($"w")).cast("long").as("n_alpha_chars"),
          sum($"n_sym").as("n_tokens_bpe"))
        .withColumn("fertility_e4", expr("(n_tokens_bpe * 10000L) div n_words"))
        .withColumn("chars_per_token_e4",
          expr("(n_alpha_chars * 10000L) div n_tokens_bpe"))
        .orderBy($"lang")
    }, Some {
      val t = tokensSql("text")
      s"""WITH $bpeChainSql,
         |wcost AS (SELECT w, CAST(len(regexp_split_to_array(trim(seq), ' ')) AS BIGINT) AS n_sym
         |  FROM s$BpeMerges),
         |dw AS (SELECT doc_id, lang, unnest($t) AS w FROM documents),
         |ag AS (
         |  SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(length(dw.w)) AS BIGINT) AS n_alpha_chars,
         |    CAST(sum(n_sym) AS BIGINT) AS n_tokens_bpe
         |  FROM dw JOIN wcost ON dw.w = wcost.w
         |  GROUP BY lang)
         |SELECT lang, n_docs, n_words, n_alpha_chars, n_tokens_bpe,
         |  (n_tokens_bpe * 10000) // n_words AS fertility_e4,
         |  (n_alpha_chars * 10000) // n_tokens_bpe AS chars_per_token_e4
         |FROM ag ORDER BY lang""".stripMargin
    }),

    // ---- skip-gram PMI word association: count (center, context) pairs
    // within a forward window of 4 tokens, score each pair by the
    // integer-quantized PMI ratio c_ab·N/(c_a·c_b) (the word2vec-era SGNS
    // training objective's implicit matrix, Levy & Goldberg 2014; ranking
    // by the ratio = ranking by PMI since log is monotone — no log, no
    // float). The division chain is ordered to keep every intermediate
    // bounded: ((c_ab·10⁴) div c_a) ≤ 10⁴·window, then ·N div c_b — safe in
    // int64 at any corpus size, and both engines evaluate the identical
    // truncation. Scale shape: pair emission is a map-only nested
    // higher-order transform (no self-join, no shuffle per token); the
    // count tables are vocabulary²-bounded hash aggs; marginals broadcast;
    // the final top-50 is a TakeOrdered, never a global sort.
    ("text_pmi_pairs", (s, d) => {
      import s.implicits._
      val toks = transform(tokens($"text"), t => lower(t))
      // documentsSpread (r18): the window-pair emission is an interpreted
      // nested HOF (~1.4 s of CPU) that was running as ONE task on the
      // unsplittable corpus scan — and, uncached, once per downstream leg.
      val pairs = Tables.documentsSpread(s, d)
        .select(toks.as("t"))
        .filter(size($"t") >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(t) - 2), i ->
            |  transform(sequence(i + 1, least(i + 4, size(t) - 1)), j ->
            |    struct(t[i] AS a, t[j] AS b))))""".stripMargin)).as("p"))
        .select($"p.a", $"p.b")
      // Marginals and the total ROLL UP from the pair-count table (c_a =
      // Σ_b c_ab etc. — identical integers): the old form re-ran the
      // corpus-wide pair emission four times, once per count table; now
      // the corpus is scanned once and the three secondary aggs reduce the
      // vocab²-bounded cAb (guide §2.3 "aggregate before you shuffle").
      // cache (r18): cAb feeds FOUR legs (cA, cB, n, final join) — without
      // it each leg re-ran the emission pass; with it the emission runs
      // once and the rollups scan a vocab²-bounded in-memory table.
      val cAb = pairs.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab")).cache()
      val cA = cAb.groupBy($"a").agg(sum($"c_ab").as("c_a"))
      val cB = cAb.groupBy($"b").agg(sum($"c_ab").as("c_b"))
      val n = cAb.agg(sum($"c_ab").as("n_pairs"))
      cAb.join(broadcast(cA), "a").join(broadcast(cB), "b").crossJoin(broadcast(n))
        .filter($"c_ab" >= 5)
        .withColumn("assoc_e4", expr("((c_ab * 10000L) div c_a) * n_pairs div c_b"))
        .select($"a", $"b", $"c_ab", $"c_a", $"c_b", $"assoc_e4")
        .orderBy($"assoc_e4".desc, $"a", $"b")
        .limit(50)
    }, Some {
      val t = tokensSql("text")
      s"""WITH dt AS (
         |  SELECT list_transform($t, x -> lower(x)) AS t FROM documents
         |  WHERE len($t) >= 2),
         |pr AS (
         |  SELECT unnest(flatten(list_transform(range(0, len(t) - 1), i ->
         |    list_transform(range(i + 1, least(i + 5, len(t))), j ->
         |      struct_pack(a := t[i+1], b := t[j+1]))))) AS p
         |  FROM dt),
         |p2 AS (SELECT p.a AS a, p.b AS b FROM pr),
         |ab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM p2 GROUP BY 1, 2),
         |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM p2 GROUP BY 1),
         |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c_b FROM p2 GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p2)
         |SELECT a, b, c_ab, c_a, c_b,
         |  ((c_ab * 10000) // c_a) * n_pairs // c_b AS assoc_e4
         |FROM ab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
         |WHERE c_ab >= 5
         |ORDER BY assoc_e4 DESC, a, b LIMIT 50""".stripMargin
    }),

    // ---- bigram-LM perplexity scoring (the CCNet/KenLM quality-filter
    // shape, Wenzek et al. 2020): a bigram LM with Laplace smoothing is
    // trained on the ORIGINAL documents (the clean reference corpus) and
    // scores a corpus containing those documents plus planted out-of-vocab
    // gibberish twins (+300000, every 13th doc) — the crawl-junk stand-in.
    // Per-bigram conditional p(w2|w1) = (c2+1)/(c1l+V) with c1l the
    // left-marginal and V the trained vocabulary; the log is floor-quantized
    // to integer micro-nats PER SCORED BIGRAM (the bm25_u6 pattern), so the
    // per-doc sum is an order-free integer sum, bit-stable under any
    // partitioning, and avg_nll_u6 is one integer division. Unseen bigrams
    // fall to the smoothing floor ~ln(V) — gibberish docs sit AT the floor
    // while natural docs sit below it, which is what the tier cut keys on.
    // Scale shape: the scored-bigram → count-table join keys on the bigram
    // (vocab²-bounded right side, map-side combined); the unigram marginal
    // and V are vocabulary-bounded broadcasts; everything else is per-doc.
    ("text_bigram_ppl", (s, d) => {
      import s.implicits._
      // documentsSpread (r18): CPU-bound bigram explode, was 1-2 tasks.
      val doc = Tables.documentsSpread(s, d)
      val scored = pplScoredCorpus(s, d)
      def bigrams(src: DataFrame): DataFrame = src
        .select($"doc_id", transform(tokens($"text"), t => lower(t)).as("t"))
        .filter(size($"t") >= 2)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(t) - 2), i ->
            |  struct(t[i] AS w1, t[i+1] AS w2))""".stripMargin)).as("b"))
        .select($"doc_id", $"b.w1", $"b.w2")
      val train = bigrams(doc)
      val c2 = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
      // left marginal rolled up from c2 (identical integers — Σ_w2 c2 is
      // the train count per w1): one corpus bigram pass instead of two,
      // same as the Kneser-Ney twin's ctx derivation (guide §2.3)
      val c1l = c2.groupBy($"w1").agg(sum($"c2").as("c1l"))
      val vb = doc.select(explode(transform(tokens($"text"), t => lower(t))).as("w"))
        .agg(countDistinct($"w").as("v"))
      val db = bigrams(scored).groupBy($"doc_id", $"w1", $"w2")
        .agg(count(lit(1)).as("m"))
      db.join(c2, Seq("w1", "w2"), "left")
        .join(broadcast(c1l), Seq("w1"), "left")
        .crossJoin(broadcast(vb))
        .withColumn("llp_u6", floor(log(
          (coalesce($"c2", lit(0L)) + 1.0) /
            (coalesce($"c1l", lit(0L)) + $"v")) * 1000000).cast("long"))
        .groupBy($"doc_id")
        .agg(sum($"m").as("n_bigrams"), sum(-$"m" * $"llp_u6").as("nll_u6"))
        .withColumn("avg_nll_u6", expr("nll_u6 div n_bigrams"))
        .withColumn("tier",
          when($"avg_nll_u6" >= PplSuspectU6, lit("suspect"))
            .otherwise(lit("ok")))
        .select($"doc_id", $"n_bigrams", $"avg_nll_u6", $"tier")
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH sc AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 300000, '$PplGibberish' FROM documents
         |  WHERE doc_id % 13 = 0),
         |tr AS (
         |  SELECT doc_id, list_transform($t, x -> lower(x)) AS t FROM documents
         |  WHERE len($t) >= 2),
         |trb AS (
         |  SELECT unnest(list_transform(range(0, len(t) - 1), i ->
         |    struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS b
         |  FROM tr),
         |c2 AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM trb GROUP BY 1, 2),
         |c1l AS (SELECT b.w1 AS w1, CAST(count(*) AS BIGINT) AS c1l
         |  FROM trb GROUP BY 1),
         |vb AS (
         |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
         |    SELECT unnest(list_transform($t, x -> lower(x))) AS w FROM documents)),
         |scb AS (
         |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS m
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len(t) - 1), i ->
         |      struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS b
         |    FROM (SELECT doc_id, list_transform($t, x -> lower(x)) AS t FROM sc
         |          WHERE len($t) >= 2))
         |  GROUP BY 1, 2, 3),
         |pd AS (
         |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |    CAST(sum(-m * CAST(floor(ln(
         |      (coalesce(c2, 0) + 1.0) / (coalesce(c1l, 0) + v)) * 1000000) AS BIGINT)) AS BIGINT) AS nll_u6
         |  FROM scb LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1l USING (w1)
         |  CROSS JOIN vb
         |  GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, nll_u6 // n_bigrams AS avg_nll_u6,
         |  CASE WHEN nll_u6 // n_bigrams >= $PplSuspectU6 THEN 'suspect'
         |    ELSE 'ok' END AS tier
         |FROM pd ORDER BY doc_id""".stripMargin
    }),

    // ---- Kneser-Ney bigram perplexity (Kneser & Ney 1995; Chen & Goodman
    // 1999's interpolated form — the published STANDARD n-gram smoother,
    // beside text_bigram_ppl's Laplace baseline): p(w2|w1) =
    // (max(c(w1,w2)−D,0) + D·N1+(w1·)·p_cont(w2)) / c(w1·), D = 0.75,
    // where p_cont(w2) ∝ the number of DISTINCT left contexts of w2 — the
    // continuation count that makes KN famous ("Francisco" is frequent but
    // only ever follows "San", so its continuation probability is tiny).
    // A fully-OOV context backs off to p_cont alone, and p_cont carries a
    // +1-over-types Laplace floor so OOV words score finite (an
    // engineering floor, documented — pure KN assigns OOV zero mass).
    // Exactness: every probability is the SAME arithmetic tree of exact
    // integer-valued doubles on both engines (D = 3/4 is exactly
    // representable), ln is floor-quantized to integer micro-nats per
    // bigram (the text_bigram_ppl pattern), per-doc sums are order-free
    // integer sums. Scale shape identical to the Laplace query: type/count
    // tables are vocab²-bounded map-combined aggregates, the continuation
    // table is vocab-bounded, scoring is one equi-join per table.
    // The suspect cut ([[KnSuspectU6]]) is measured per the PplSuspectU6
    // method; gibberish sits at the seen→novel teeth like the Laplace
    // detector but with a HIGHER floor (ln of types+V, not c1l+V).
    ("text_kneser_ney_ppl", (s, d) => {
      import s.implicits._
      // documentsSpread (r18): train-side bigram explode was a 0.67 s
      // 2-task stage.
      val doc = Tables.documentsSpread(s, d)
      val scored = pplScoredCorpus(s, d)
      def bigrams(src: DataFrame): DataFrame = src
        .select($"doc_id", transform(tokens($"text"), t => lower(t)).as("t"))
        .filter(size($"t") >= 2)
        .select($"doc_id", explode(expr(
          """transform(sequence(0, size(t) - 2), i ->
            |  struct(t[i] AS w1, t[i+1] AS w2))""".stripMargin)).as("b"))
        .select($"doc_id", $"b.w1", $"b.w2")
      val train = bigrams(doc)
      val types = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
      val ctx = types.groupBy($"w1")
        .agg(sum($"c2").as("c1l"), count(lit(1)).as("n1f"))
      val cont = types.groupBy($"w2").agg(count(lit(1)).as("nl"))
      val tot = types.agg(count(lit(1)).as("nbt")).crossJoin(
        doc.select(explode(transform(tokens($"text"), t => lower(t))).as("w"))
          .agg(countDistinct($"w").as("v")))
      val db = bigrams(scored).groupBy($"doc_id", $"w1", $"w2")
        .agg(count(lit(1)).as("m"))
      db.join(types, Seq("w1", "w2"), "left")
        .join(broadcast(ctx), Seq("w1"), "left")
        .join(broadcast(cont), Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("pcont",
          expr("(coalesce(nl, 0) + 1.0D) / (nbt + v)"))
        .withColumn("p", expr(
          """CASE WHEN c1l IS NULL THEN pcont
            |ELSE (greatest(coalesce(c2, 0) - 0.75D, 0.0D) + 0.75D * n1f * pcont) / c1l
            |END""".stripMargin))
        .withColumn("llp_u6", floor(log($"p") * 1000000).cast("long"))
        .groupBy($"doc_id")
        .agg(sum($"m").as("n_bigrams"), sum(-$"m" * $"llp_u6").as("nll_u6"))
        .withColumn("avg_nll_u6", expr("nll_u6 div n_bigrams"))
        .withColumn("tier",
          when($"avg_nll_u6" >= KnSuspectU6, lit("suspect"))
            .otherwise(lit("ok")))
        .select($"doc_id", $"n_bigrams", $"avg_nll_u6", $"tier")
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH sc AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 300000, '$PplGibberish' FROM documents
         |  WHERE doc_id % 13 = 0),
         |tr AS (
         |  SELECT doc_id, list_transform($t, x -> lower(x)) AS t FROM documents
         |  WHERE len($t) >= 2),
         |trb AS (
         |  SELECT unnest(list_transform(range(0, len(t) - 1), i ->
         |    struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS b
         |  FROM tr),
         |ty AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM trb GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1l,
         |    CAST(count(*) AS BIGINT) AS n1f FROM ty GROUP BY 1),
         |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nl FROM ty GROUP BY 1),
         |tot AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ty) AS nbt,
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM (
         |      SELECT unnest(list_transform($t, x -> lower(x))) AS w
         |      FROM documents)) AS v),
         |scb AS (
         |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS m
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len(t) - 1), i ->
         |      struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS b
         |    FROM (SELECT doc_id, list_transform($t, x -> lower(x)) AS t FROM sc
         |          WHERE len($t) >= 2))
         |  GROUP BY 1, 2, 3),
         |pb AS (
         |  SELECT doc_id, m,
         |    CASE WHEN c1l IS NULL THEN (coalesce(nl, 0) + 1.0) / (nbt + v)
         |    ELSE (greatest(coalesce(c2, 0) - 0.75, 0.0)
         |          + 0.75 * n1f * ((coalesce(nl, 0) + 1.0) / (nbt + v))) / c1l
         |    END AS p
         |  FROM scb LEFT JOIN ty USING (w1, w2) LEFT JOIN ctx USING (w1)
         |  LEFT JOIN cont USING (w2) CROSS JOIN tot),
         |pd AS (
         |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |    CAST(sum(-m * CAST(floor(ln(p) * 1000000) AS BIGINT)) AS BIGINT) AS nll_u6
         |  FROM pb GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, nll_u6 // n_bigrams AS avg_nll_u6,
         |  CASE WHEN nll_u6 // n_bigrams >= $KnSuspectU6 THEN 'suspect'
         |    ELSE 'ok' END AS tier
         |FROM pd ORDER BY doc_id""".stripMargin
    }),

    // ---- RAKE keyword extraction (Rose et al. 2010): candidate phrases
    // are maximal stopword-free token runs; a word scores deg/freq (deg =
    // Σ length of phrases it appears in — co-occurrence degree; freq =
    // occurrence count), a phrase scores the sum of its word scores, and
    // the corpus's top 50 distinct phrases come out ranked. Division-free:
    // word scores are quantized to 1e4 units ((10⁴·deg) div freq) so the
    // phrase sums stay integer-exact on both engines. Scale shape: phrase
    // segmentation is the same islands trick as mm_audio_vad (map-only
    // emission, per-doc windows); word stats and the score join are plain
    // hash aggregations/equi-joins on the word — vocabulary-sized, never
    // corpus-quadratic; the final top-50 is a 50-row ordered limit (at
    // 100 TB a TakeOrdered, not a global sort materialization).
    ("text_keywords_rake", (s, d) => {
      import s.implicits._
      val toks = transform(tokens($"text"), t => lower(t))
      // documentsSpread (r18): the posexplode pass was single-task.
      val posed = Tables.documentsSpread(s, d)
        .select($"doc_id", posexplode(toks).as(Seq("pos", "tok")))
        .withColumn("is_stop", $"tok".isInCollection(Stops))
      val member = posed.filter(!$"is_stop")
        .withColumn("grp", $"pos" - row_number().over(
          Window.partitionBy($"doc_id").orderBy($"pos")))
      val withLen = member.withColumn("plen",
        count(lit(1)).over(Window.partitionBy($"doc_id", $"grp")))
      // NOT cached: measured 1.35 s uncached vs 2.29 s cached at sf0.1 —
      // same trade as pipeline_dsir_weights (wide per-token intermediates).
      val ws = withLen.groupBy($"tok")
        .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
        .select($"tok", expr("(10000L * deg) div freq").as("wscore"))
      // ws is vocabulary-bounded — broadcast keeps the exploded corpus
      // un-shuffled by tok, and the following (doc_id, grp) agg then
      // reuses the window's doc_id partitioning with no new Exchange
      withLen.join(broadcast(ws), "tok")
        .groupBy($"doc_id", $"grp")
        .agg(
          array_join(transform(array_sort(collect_list(struct($"pos", $"tok"))),
            s => s("tok")), " ").as("phrase"),
          sum($"wscore").as("pscore"))
        .groupBy($"phrase")
        .agg(count(lit(1)).as("n_occ"), min($"pscore").as("score"))
        .orderBy($"score".desc, $"phrase")
        .limit(50)
    }, Some {
      val t = tokensSql("text")
      s"""WITH posed AS (
         |  SELECT doc_id, CAST(p.i AS INTEGER) AS pos, p.tok,
         |    p.tok IN ($stopsSqlList) AS is_stop
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len($t)),
         |      i -> struct_pack(i := i, tok := lower(($t)[i+1])))) AS p
         |    FROM documents)),
         |member AS (
         |  SELECT doc_id, pos, tok,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM posed WHERE NOT is_stop),
         |wl AS (
         |  SELECT doc_id, pos, tok, grp,
         |    CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS plen
         |  FROM member),
         |ws AS (
         |  SELECT tok, (10000 * CAST(sum(plen) AS BIGINT)) // CAST(count(*) AS BIGINT) AS wscore
         |  FROM wl GROUP BY tok),
         |ph AS (
         |  SELECT wl.doc_id, wl.grp,
         |    string_agg(wl.tok, ' ' ORDER BY wl.pos) AS phrase,
         |    CAST(sum(ws.wscore) AS BIGINT) AS pscore
         |  FROM wl JOIN ws ON wl.tok = ws.tok
         |  GROUP BY wl.doc_id, wl.grp)
         |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ, min(pscore) AS score
         |FROM ph GROUP BY phrase
         |ORDER BY score DESC, phrase LIMIT 50""".stripMargin
    }),

    // ---- feature hashing (the hashing-trick featurizer): lowercased
    // tokens hashed into a fixed 64-bucket space, per-doc term frequencies
    // L2-normalized — the input representation for linear quality
    // classifiers (fastText-style) without any vocabulary state. Map-only
    // per doc + one hash agg; the feature space is fixed-width by
    // construction, so the operator carries zero model state at any corpus
    // size (the whole point of hashing over a learned vocab at 100 TB).
    ("text_hashing_vectorizer", (s, d) => {
      import s.implicits._
      val tf = Tables.documents(s, d)
        .select($"doc_id", explode(tokens(lower($"text"))).as("t"))
        .select($"doc_id", pmod(h60($"t"), lit(HashVecBuckets.toLong)).as("bucket"))
        .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("tf"))
      val nrm = tf.groupBy($"doc_id").agg(sqrt(sum($"tf" * $"tf")).as("nrm"))
      tf.join(nrm, "doc_id")
        .select($"doc_id", $"bucket", $"tf", round($"tf" / $"nrm", 4).as("w"))
        .orderBy($"doc_id", $"bucket")
    }, Some(
      s"""WITH tf AS (
         |  SELECT doc_id, ${h60Sql("t")} % $HashVecBuckets AS bucket, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${tokensSql("lower(text)")}) AS t FROM documents)
         |  GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(tf*tf)) AS nrm FROM tf GROUP BY 1)
         |SELECT doc_id, bucket, tf, ${rndSql("tf / nrm", 4)} AS w
         |FROM tf JOIN nrm USING (doc_id)
         |ORDER BY doc_id, bucket""".stripMargin)),

    // ---- Zipf conformance check: per-language rank–frequency table for the
    // top-20 tokens with the integer diagnostic zipf_e4 = n·rank·10⁴ ÷ n₁
    // (Zipf's law predicts n ≈ n₁/rank, so a Zipfian corpus sits near
    // 10000 at every rank) — the standard sanity probe that a scraped or
    // synthetic corpus has natural-language token statistics before
    // tokenizer training. All-integer arithmetic: counts, ranks, and the
    // scaled ratio are exact on both engines, no float aggregation order
    // to pin. Scale shape: one hash-agg keyed on (lang, token) — vocab-
    // bounded, sub-linear in corpus size — then a per-lang window over
    // that vocab-bounded count table (same boundedness argument as the
    // trigram windows, Relational.scala q55).
    ("text_zipf_check", (s, d) => {
      import s.implicits._
      val counts = Tables.documents(s, d)
        .select($"lang", explode(tokens(lower($"text"))).as("token"))
        .groupBy($"lang", $"token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"lang").orderBy($"n".desc, $"token")
      counts
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n1", max($"n").over(Window.partitionBy($"lang")))
        .filter($"rank" <= ZipfTopN)
        .select($"lang", $"rank", $"token", $"n",
          expr("(n * rank * 10000L) div n1").as("zipf_e4"))
        .orderBy($"lang", $"rank")
    }, Some(
      s"""WITH counts AS (
         |  SELECT lang, token, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT lang, unnest(${tokensSql("lower(text)")}) AS token FROM documents)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT lang, token, n,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS BIGINT) AS rank,
         |    max(n) OVER (PARTITION BY lang) AS n1
         |  FROM counts)
         |SELECT lang, rank, token, n, (n * rank * 10000) // n1 AS zipf_e4
         |FROM ranked WHERE rank <= $ZipfTopN
         |ORDER BY lang, rank""".stripMargin))
  )

  /** Ranks reported by text_zipf_check. */
  private val ZipfTopN = 20

  /** Planted junk text for text_bigram_ppl (+300000 twins): the corpus's
    * most frequent token alternating with out-of-vocab tokens. The
    * (seen, novel) bigrams are the detector's teeth — p = 1/(c1l+V) with
    * c1l the big left-marginal, so their NLL ≈ ln(c1l+V) GROWS with the
    * corpus (≈6.9 nats at sf0.01) while natural docs stay near ln V ≈ 3.4;
    * an all-OOV string would sit AT the ln V floor, inside the originals'
    * band on this structure-free shared-vocab corpus, and be undetectable.
    */
  private val PplGibberish =
    "join zzq join qzx join jvw join zzq join qzx join jvw"

  /** Suspect cut for text_bigram_ppl in micro-nats (avg NLL per bigram).
    * Measured at sf0.001/0.01/0.1: originals max 3.60/3.61/3.83 nats (the
    * corpus bigram LM is near-uniform over its 31-token vocabulary, so
    * natural docs cluster at ~ln V ≈ 3.4), planted docs ≥ 5.30 nats at
    * every SF and GROWING with corpus size (their teeth are seen→novel
    * bigrams at ln(c1l+V)). 4.0 nats splits both with ≥ 0.17/1.30-nat
    * margins; the spec pins both sides at sf0.01.
    */
  private[graft] val PplSuspectU6 = 4000000L

  /** Suspect cut for text_kneser_ney_ppl in micro-nats, measured by the
    * PplSuspectU6 method. At sf0.001/0.01/0.1: originals max
    * 3.64/3.66/3.85 nats, planted junk min 7.32/7.31/8.55 — KN separates
    * ~2× wider than Laplace (junk ≥ 5.30 there) because the planted
    * seen→novel bigrams pay BOTH the discount backoff and a continuation
    * probability of 1/(types+V) (an OOV word has zero distinct left
    * contexts), while Laplace only charges 1/(c1l+V). 5.0 nats splits with
    * ≥ 1.15 / 2.31-nat margins at every SF; ValidationSpec pins both sides
    * plus the strictly-sharper-than-Laplace contrast per planted doc.
    */
  private[graft] val KnSuspectU6 = 5000000L

  /** Size contract for the shipped LM artifact: the driver-side model may
    * hold at most this many bigram / left-marginal entries. Past the cap
    * the builder keeps the TOP entries by count (KenLM/CCNet-style count
    * pruning, ties broken lexically for determinism) and every pruned
    * bigram scores through the unseen branch of the SAME Laplace formula —
    * exact whenever the true type counts fit the caps (they do at every
    * driver SF: the corpus vocabulary is ~31 types, so ≤ ~10³ bigrams vs
    * the 2¹⁸ cap), a documented approximation on a corpus that overflows
    * them. The caps are enforced IN THE PLAN — a TakeOrdered collect, so
    * the driver never materializes more than the cap even on a 100 TB
    * corpus — not by an after-the-fact assert.
    */
  private[graft] val MaxModelBigrams = 1 << 18
  private[graft] val MaxModelUnigrams = 1 << 16

  /** The trained bigram LM as a driver-side artifact for the STREAMING
    * scorer: (c2 counts, c1l left-marginals, V), plus how many entries the
    * size contract dropped (0 = the artifact is the exact model). This is
    * the CCNet serving shape — the LM is a model file shipped to every
    * worker, not a join side. Fixture-cached per JVM on the dataset
    * fingerprint like the persisted indexes.
    */
  private[graft] case class PplModel(
      c2: Map[(String, String), Long], c1l: Map[String, Long], v: Long,
      droppedBigrams: Long, droppedUnigrams: Long)

  private[graft] def pplModel(s: SparkSession, d: String): PplModel =
    graft.Fixtures.memo("graft_pplmodel", d)(_ =>
      buildPplModel(s, d, MaxModelBigrams, MaxModelUnigrams))

  /** Uncached builder behind [[pplModel]], caps as parameters so specs can
    * exercise the pruned path on a corpus that doesn't overflow the real
    * contract.
    */
  private[graft] def buildPplModel(
      s: SparkSession, d: String, maxBigrams: Int, maxUnigrams: Int): PplModel = {
    import s.implicits._
    val doc = Tables.documents(s, d)
    val big = doc
      .select(transform(tokens($"text"), t => lower(t)).as("t"))
      .filter(size($"t") >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(t) - 2), i ->
          |  struct(t[i] AS w1, t[i+1] AS w2))""".stripMargin)).as("b"))
      .select($"b.w1", $"b.w2")
    val c1All = big.groupBy($"w1").agg(count(lit(1)).as("c"))
    val c1Kept = c1All.orderBy($"c".desc, $"w1").limit(maxUnigrams)
      .as[(String, Long)].collect()
    // bigrams are kept ONLY among surviving left-marginals: a kept bigram
    // whose w1 marginal was pruned would score (c2+1)/(0+V) — an
    // incoherent probability that can exceed 1 — instead of either the
    // exact value or the unseen floor
    val c2All = big
      .join(broadcast(c1Kept.map(_._1).toSeq.toDF("w1")), Seq("w1"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
    val c2Kept = c2All.orderBy($"c".desc, $"w1", $"w2").limit(maxBigrams)
      .as[(String, String, Long)].collect()
    val v = doc.select(explode(transform(tokens($"text"), t => lower(t))).as("w"))
      .agg(countDistinct($"w")).head().getLong(0)
    PplModel(
      c2Kept.map { case (a, b, c) => (a, b) -> c }.toMap,
      c1Kept.toMap, v,
      // dropped counts vs the FULL type inventories (a bigram shed because
      // its marginal was pruned counts as dropped too)
      droppedBigrams = big.select($"w1", $"w2").distinct().count() - c2Kept.length,
      droppedUnigrams = c1All.count() - c1Kept.length)
  }

  /** Per-doc scorer over a [[PplModel]] — the per-row core of the streaming
    * perplexity gate. Bit-identical to the batch dataflow: same tokenizer
    * (trim-split-lower), same Laplace p, same floor(ln·1e6) micro-nat
    * quantization summed per position, same integer division and tier cut.
    * Returns None for docs with fewer than two tokens (the batch path
    * filters them the same way).
    */
  private[graft] def pplScoreJvm(
      m: PplModel, text: String): Option[(Long, Long, String)] = {
    val t = Whitespace.split(text.trim).map(_.toLowerCase(java.util.Locale.ROOT))
    if (t.length < 2) None
    else {
      var nll = 0L
      var i = 0
      while (i + 1 < t.length) {
        val p = (m.c2.getOrElse((t(i), t(i + 1)), 0L) + 1.0) /
          (m.c1l.getOrElse(t(i), 0L) + m.v)
        nll -= math.floor(math.log(p) * 1000000).toLong
        i += 1
      }
      val n = (t.length - 1).toLong
      val avg = nll / n
      Some((n, avg, if (avg >= PplSuspectU6) "suspect" else "ok"))
    }
  }

  /** The corpus text_bigram_ppl scores (originals + planted junk twins) —
    * shared with the streaming replay so both paths score the same rows.
    */
  private[graft] def pplScoredCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // documentsSpread (r18): every consumer (bigram_ppl, bigram_lm_score,
    // kneser_ney) runs a CPU-bound bigram-explode over this corpus that was
    // single-task on the 1-row-group scan; both union legs derive narrowly
    // from the spread base.
    val doc = Tables.documentsSpread(s, d)
    doc.select($"doc_id", $"text").unionByName(
      doc.filter($"doc_id" % 13 === 0).select(
        ($"doc_id" + 300000).as("doc_id"), lit(PplGibberish).as("text")))
  }

  /** Fixed feature-space width for text_hashing_vectorizer. */
  private val HashVecBuckets = 64

  /** Number of BPE merge rounds learned/applied by the text_bpe_* queries. */
  private val BpeMerges = 4

  /** Unrolled BPE merge chain, shared by text_bpe_learn and text_bpe_apply:
    * returns ([[BpeMerges]] one-row merge DataFrames (merge_rank, left_sym,
    * right_sym, pair_count), final per-word segmentation state). See
    * text_bpe_learn's comment for semantics and determinism notes.
    */
  private def bpeChain(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    val w0 = Tables.documents(s, d)
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
    // " a b c " — sentinel-spaced single-char symbols
    val s0 = w0.select($"w", $"wc",
      concat(lit(" "), regexp_replace($"w", "(.)", "$1 ")).as("seq"))
      .cache()
    def pairCounts(seqs: DataFrame): DataFrame = {
      val ps = when(size($"sy") >= 2,
        transform(sequence(lit(0), size($"sy") - 2),
          i => struct(element_at($"sy", i + 1).as("l"), element_at($"sy", i + 2).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      seqs.select($"wc", split(trim($"seq"), " ").as("sy"))
        .select($"wc", explode(ps).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r")).agg(sum($"wc").as("c"))
    }
    (1 to BpeMerges).foldLeft((Seq.empty[DataFrame], s0)) {
      case ((acc, seqs), k) =>
        val m = pairCounts(seqs).orderBy($"c".desc, $"l", $"r").limit(1).cache()
        val next = seqs.crossJoin(broadcast(m.select($"l".as("ml"), $"r".as("mr"))))
          .select($"w", $"wc",
            expr("replace(seq, ' ' || ml || ' ' || mr || ' ', ' ' || ml || mr || ' ')").as("seq"))
        (acc :+ m.select(lit(k.toLong).as("merge_rank"),
          $"l".as("left_sym"), $"r".as("right_sym"), $"c".as("pair_count")), next)
    }
  }

  /** DuckDB twin of [[bpeChain]]: CTE list w0, s0, (p_k, m_k, s_{k+1})…,
    * usable as `WITH $bpeChainSql, …`.
    */
  private def bpeChainSql: String = {
    val t = tokensSql("text")
    val head = s"""w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest($t) AS w FROM documents) GROUP BY 1),
       |s0 AS (SELECT w, wc,
       |  ' ' || array_to_string(list_transform(range(1, len(w)+1), i -> w[i]), ' ') || ' ' AS seq
       |  FROM w0)""".stripMargin
    val iters = (0 until BpeMerges).map { k =>
      s"""p$k AS (SELECT b.p1 AS l, b.p2 AS r, CAST(sum(wc) AS BIGINT) AS c FROM (
         |    SELECT wc, unnest(list_transform(range(1, len(sy)),
         |      i -> struct_pack(p1 := sy[i], p2 := sy[i+1]))) AS b
         |    FROM (SELECT wc, regexp_split_to_array(trim(seq), ' ') AS sy FROM s$k))
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |s${k + 1} AS (SELECT w, wc,
         |  replace(seq, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS seq
         |  FROM s$k, m$k m)""".stripMargin
    }
    (Seq(head) ++ iters).mkString(",\n")
  }

  /** BM25 scoring chain (Robertson k1=1.2, b=0.75, Lucene idf) shared by
    * text_bm25_topk and the hybrid fusion in Similarity: (q_id, doc_id,
    * bm25_u6) for every (derived query, doc sharing >= 1 term) pair.
    * Derived queries = first-4-token prefix of every 100th doc. Per-term
    * contributions are floor-quantized to integer micro-units BEFORE the
    * sum — each is a pure scalar of (tf, df, dl, N, avgdl) with avgdl one
    * exact-integer division, so the order-free integer sum is bit-stable
    * under any partitioning (the PageRank quantization argument).
    */
  private[operators] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // documentsSpread (r18): the tf tokenize+explode pass was a 0.46 s
    // single-task stage (feeds text_bm25_topk and sim_rank_fusion).
    val doc = Tables.documentsSpread(s, d)
    val tf = doc.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val dl = doc.select($"doc_id", size(tokens($"text")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val q = doc.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("q_id"),
        explode(array_distinct(slice(tokens($"text"), 1, 4))).as("term"))
    // query volume scales with the corpus — no broadcast hint (planner's
    // threshold call), same convention as the shingle-index joins
    tf.join(q, "term").join(dfx, "term").join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("idf", log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("tfw",
        $"tf" * 2.2 / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
      .withColumn("c_u6", floor($"idf" * $"tfw" * 1000000).cast("long"))
      .groupBy($"q_id", $"doc_id").agg(sum($"c_u6").as("bm25_u6"))
  }

  /** Oracle twin of [[bm25Scores]]: CTE chain tf/dfx/dl/st/q ending at
    * `sc(q_id, doc_id, bm25_u6)`.
    */
  private[operators] def bm25ScoresSql: String = {
    val t = tokensSql("text")
    s"""tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($t) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |dl AS (SELECT doc_id, CAST(len($t) AS BIGINT) AS dl FROM documents),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |q AS (
       |  SELECT doc_id AS q_id, unnest(list_distinct(($t)[1:4])) AS term
       |  FROM documents WHERE doc_id % 100 = 0),
       |sc AS (
       |  SELECT q.q_id, tf.doc_id,
       |    CAST(sum(CAST(floor(
       |      ln(1.0 + (st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
       |      * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
       |      * 1000000) AS BIGINT)) AS BIGINT) AS bm25_u6
       |  FROM tf JOIN q USING (term) JOIN dfx USING (term)
       |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
       |  GROUP BY 1, 2)""".stripMargin
  }

  // ------------------------------------------ shared lang-ID definitions
  // (text_lang_id classifies, text_langid_confusion evaluates — one
  // definition so classifier and eval cannot drift). Marker occurrence
  // count = (len(t) − len(replace(t, m))) / len(m), exact on both engines.
  private def langOcc(m: String): Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), java.util.regex.Pattern.quote(m), ""))) / m.length

  private def langSignal(m1: String, m2: String): Column = langOcc(m1) + langOcc(m2)

  /** Argmax over the four score columns with the fixed priority tie rule. */
  private def langPredCase: Column =
    when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
      .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
      .when(col("s_fr") >= col("s_es"), "fr")
      .otherwise("es")

  private def langOccSql(m: String): String =
    s"(length(text) - length(replace(text,'$m',''))) / ${m.length}"

  private val langSignalsSql: String =
    s"""CAST(${langOccSql("the")} + ${langOccSql(" is ")} AS BIGINT) AS s_en,
       |      CAST(${langOccSql("sch")} + ${langOccSql("ein")} AS BIGINT) AS s_de,
       |      CAST(${langOccSql("les")} + ${langOccSql("eau")} AS BIGINT) AS s_fr,
       |      CAST(${langOccSql("los")} + ${langOccSql("cion")} AS BIGINT) AS s_es""".stripMargin

  private val langPredCaseSql: String =
    """CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
      |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
      |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END""".stripMargin
}
