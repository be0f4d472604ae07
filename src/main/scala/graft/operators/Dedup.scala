package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Document-deduplication operators for LLM training-data pipelines: exact
  * (content-hash groupBy), n-gram Jaccard over an inverted shingle index,
  * MinHash + LSH banding, SimHash with pigeonhole candidate generation, and
  * embedding-cosine near-duplicate detection.
  *
  * The driver's documents table is all-distinct, so each query runs over a
  * deterministic derived `corpus`: the originals, plus exact copies of every
  * doc_id % 5 == 0 (ids + 100000), plus near-duplicates of every
  * doc_id % 7 == 0 with a short appended tail (ids + 200000). Both engines
  * derive the same corpus in-query — nothing is synthesized outside the
  * driver's data.
  *
  * Scale design (100 TB stance):
  *  - shingling/signatures are per-row array HOFs (no UDF, no shuffle);
  *  - candidate generation is always an equi-join on a small key (shingle
  *    hash, band signature, simhash byte-chunk) — never an O(n²) cross join;
  *    pair verification only touches candidate pairs;
  *  - join/shuffle keys are 64-bit hashes, not payloads;
  *  - the only brute-force pair scan is `dedup_embedding_cosine`, the exact
  *    baseline against which the LSH variants in Similarity are judged.
  */
object Dedup extends graft.QueryRegistry {
  import Portable._

  // ---------------------------------------------------------------- corpus
  private[graft] def corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread (r18): corpus() is referenced on many join sides per query;
    // an explicit repartition here pins its width on every downstream stage
    // of every reference (measured: dedup_exact 0.26→0.77 s, method_eval
    // 1.2→3.7 s). The CPU-heavy consumers parallelize at their own pass.
    val doc = Tables.documents(s, d).select($"doc_id", $"text")
    doc
      .unionByName(doc.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
      .unionByName(doc.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 200000).as("doc_id"),
          concat($"text", lit(" near duplicate tail")).as("text")))
  }

  private[graft] val corpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL SELECT doc_id + 200000, text || ' near duplicate tail' FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  // ------------------------------------------------- word-trigram shingles
  /** (doc_id, array of distinct trigram strings) — shuffle-free per row.
    * The token array is materialized before the HOF: expressions inside a
    * lambda body are re-evaluated per element (no CSE across lambda
    * invocations), so an inline split() would re-tokenize per trigram.
    */
  /** One doc's distinct word trigrams, first-seen order — the per-row core
    * of [[shingleStringArrays]], shared with the streaming near-dup operator.
    * split("\\s+") on trimmed input is exactly the oracle's
    * regexp_split_to_array(trim(text), '\s+').
    */
  private[graft] def shingleArrayJvm(text: String): Array[String] = {
    val toks = Portable.Whitespace.split(text.trim)
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    seen.toArray(Array.empty[String])
  }

  private def shingleStringArrays(c: DataFrame): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    // Fused JVM tokenize+shingle: array HOFs are CodegenFallback (interpreted
    // per element) and this table is re-derived on several join sides, so the
    // per-doc pass is a plain-String loop.
    c.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, shingleArrayJvm(text)) })
      .toDF("doc_id", "ts")
  }

  /** Inverted-index rows (doc_id, h): xxhash64 shingle identity (Spark-side
    * only; the oracle joins on the raw trigram string — identical counts).
    */
  private def shingles(c: DataFrame): DataFrame =
    shingleStringArrays(c)
      .select(col("doc_id"), explode(col("ts")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))

  /** LSH band-key rows (doc_id, band, bkey) from a (doc_id, ts) shingle-array
    * table ([[shingleStringArrays]] output — pass the SAME cached DataFrame
    * the verification join reads, so shingling+tokenizing runs once per
    * query; typed mapPartitions plans never cache-match a re-derivation):
    * one fused per-doc loop hashes shingles (h60), applies all 16
    * permutations, and emits the 4 band keys — min is order-free, so no
    * explode + min-agg shuffle is needed.
    */
  /** One doc's LSH band keys from its shingle array (empty for shingle-less
    * docs — they have no sig row in the oracle either): minhash all 16
    * permutations in one pass, key each band by its row minima. The per-row
    * core of [[bandTable]], shared with the streaming near-dup operator.
    */
  /** One doc's 16 minhash signature values (the shared core of every band
    * layout): hash each shingle once, fold all permutations in one pass.
    */
  private[graft] def minhashMins(ts: Array[String]): Array[Long] = {
    val perms = PermsArr
    val mins = Array.fill(perms.length)(Long.MaxValue)
    var i = 0
    while (i < ts.length) {
      val hp = h60Jvm(ts(i)) % P
      var j = 0
      while (j < perms.length) {
        val v = (perms(j)._1 * hp + perms(j)._2) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  private[graft] def bandKeysJvm(ts: Array[String]): Seq[(Int, String)] = {
    if (ts.isEmpty) return Seq.empty
    val mins = minhashMins(ts)
    (0 until Bands).map { bnd =>
      (bnd, (bnd * Rows until bnd * Rows + Rows).map(mins).mkString(","))
    }
  }

  /** Band rows for the LSH tuning sweep: the SAME 16 signature values keyed
    * under three layouts — (cfg 0) 2 bands x 8 rows, (cfg 1) the production
    * 4x4, (cfg 2) 8 bands x 2 rows — from one signature computation.
    */
  private[graft] def sweepBandRows(ts: Array[String]): Seq[(Int, Int, String)] = {
    if (ts.isEmpty) return Seq.empty
    val mins = minhashMins(ts)
    Seq((0, 8), (1, 4), (2, 2)).flatMap { case (cfg, r) =>
      (0 until PermsArr.length / r).map { b =>
        (cfg, b, (b * r until b * r + r).map(mins).mkString(","))
      }
    }
  }

  private def bandTable(arrays: DataFrame): DataFrame = {
    val spark = arrays.sparkSession
    import spark.implicits._
    arrays
      .as[(Long, Array[String])]
      .flatMap { case (id, ts) =>
        bandKeysJvm(ts).map { case (bnd, key) => (id, bnd, key) }
      }
      .toDF("doc_id", "band", "bkey")
  }

  /** Batch LSH candidate pairs straight from a (doc_id, text) table — the
    * ground truth the streaming near-dup operator is spec-checked against.
    */
  private[graft] def minhashCandidatePairs(c: DataFrame): DataFrame =
    minhashCandidates(bandTable(shingleStringArrays(c)))

  /** Exact-Jaccard verification of an externally-supplied candidate pair
    * set (id1 < id2 columns) against the planted corpus — the verify stage
    * of dedup_minhash_lsh factored for reuse, so the streaming near-dup
    * replay contract runs the IDENTICAL batch arithmetic (same shingles,
    * same rounding, same >= 0.5 cut) over the stream's emitted candidates.
    * Verification cost stays proportional to the candidate count, never the
    * corpus pair count.
    */
  private[graft] def verifyPairs(s: SparkSession, d: String, cands: DataFrame): DataFrame = {
    import s.implicits._
    val arrays = shingleStringArrays(corpus(s, d))
    cands
      .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
      .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
      .withColumn("common", size(array_intersect($"ts1", $"ts2")))
      .withColumn("jaccard", round($"common" / (size($"ts1") + size($"ts2") - $"common"), 4))
      .filter($"jaccard" >= 0.5)
      .select($"id1", $"id2", $"jaccard")
      .orderBy($"id1", $"id2")
  }

  /** MinHash candidate pairs (id1 < id2) sharing any band bucket. */
  private def minhashCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()

  /** DuckDB CTE chain sh/shp/sig/bands/cand/arr (suffixed) deriving the same
    * MinHash+LSH candidates from `src` (a table/CTE with doc_id, text).
    */
  private[operators] def minhashSql(src: String, sfx: String): String = {
    val toks = tokensSql("text")
    val minExprs = Perms.zipWithIndex
      .map { case ((a, b), i) => s"min(($a * hp + $b) % $P) AS m$i" }.mkString(",\n    ")
    val bandSelects = (0 until Bands).map { bnd =>
      val key = (0 until Rows).map(r => s"m${bnd * Rows + r}").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $key) AS bkey FROM sig$sfx"
    }.mkString("\n  UNION ALL ")
    s"""sh$sfx AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(0, len($toks) - 2),
       |      i -> ($toks)[i+1] || ' ' || ($toks)[i+2] || ' ' || ($toks)[i+3]))) AS h
       |  FROM $src),
       |shp$sfx AS (SELECT doc_id, ${h60Sql("h")} % $P AS hp FROM sh$sfx),
       |sig$sfx AS (
       |  SELECT doc_id,
       |    $minExprs
       |  FROM shp$sfx GROUP BY doc_id),
       |bands$sfx AS (
       |  $bandSelects),
       |cand$sfx AS (
       |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bands$sfx x JOIN bands$sfx y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |arr$sfx AS (SELECT doc_id, list(h) AS ts FROM sh$sfx GROUP BY doc_id)""".stripMargin
  }

  /** Scored LSH candidate pairs (id1, id2, jaccard) over the [[minhashSql]]
    * CTEs — the SINGLE oracle source for every query that verifies
    * candidates at the rounded >= 0.5 cut (the cluster family, canonical
    * pick, dedup_method_eval's minhash leg), so the verification
    * arithmetic cannot drift between the methods and their eval.
    */
  private[operators] val scoredCandSql: String =
    s"""SELECT c.id1, c.id2,
       |      ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS jaccard
       |    FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2""".stripMargin

  /** `ver` CTE: the verified (id1, id2) edge list — [[verifiedPairs]]'
    * oracle text, composed from [[scoredCandSql]].
    */
  private[operators] val verCteSql: String =
    s"""ver AS (
       |  SELECT id1, id2 FROM (
       |    $scoredCandSql)
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** Content-key SQL shared by dedup_exact's oracle and dedup_method_eval's
    * exact leg. */
  private[operators] val exactKeySql: String = "md5(text)"

  /** Order-invariant set-fingerprint key SQL shared by
    * dedup_set_fingerprint's oracle and dedup_method_eval's leg.
    */
  private[operators] val setFpKeySql: String =
    "md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))), ' '))"

  /** SimHash byte-chunk CTE (pigeonhole bucketing) + the hamming-verified
    * pair select — shared by dedup_simhash_pairs' oracle and
    * dedup_method_eval's simhash leg (requires the `sim` CTE from
    * simhashSql in scope).
    */
  private[operators] val simhashChunksCteSql: String =
    """chunks AS (
      |  SELECT doc_id, simhash, k, (simhash // (1 << (8 * k))) % 256 AS ck
      |  FROM sim, (SELECT unnest(range(0, 4)) AS k))""".stripMargin

  private[operators] val simhashPairsSelectSql: String =
    """SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
      |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
      |FROM chunks x JOIN chunks y
      |  ON x.k = y.k AND x.ck = y.ck AND x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin

  private def shinglesSql: String = {
    val toks = tokensSql("text")
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(0, len($toks) - 2),
       |      i -> ($toks)[i+1] || ' ' || ($toks)[i+2] || ' ' || ($toks)[i+3]))) AS h
       |  FROM corpus)""".stripMargin
  }

  /** LSH-candidate pairs verified at exact Jaccard ≥ 0.5 over the derived
    * corpus — the edge list the whole cluster family shares
    * (dedup_clusters, dedup_cc_bigstar, dedup_cluster_density,
    * dedup_cc_incremental, dedup_canonical_pick, pipeline_leakage_safe_split,
    * dedup_graph_pagerank). Computed ONCE per JVM per dataset and PERSISTED
    * to parquet (the same fixture pattern as Similarity.ivfIndexDir): each
    * consumer then pays a 3-column scan instead of re-running the
    * LSH+verify pipeline — at 100 TB this is the stored pair table a real
    * dedup service maintains beside its corpus, not a per-query recompute.
    * Rows carry w = round(jaccard·10⁴) so weight-consuming queries
    * (canonical_pick) read the same artifact. Cache key is the dataset
    * FINGERPRINT (names+sizes+mtimes), so regenerated data rebuilds the
    * edge list instead of serving stale pairs.
    */
  private def verifiedPairsDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_nddedges", d) { dir =>
      import s.implicits._
      val root = dir.resolve("pairs").toString
      val arrays = shingleStringArrays(corpus(s, d)).cache()
      minhashCandidates(bandTable(arrays))
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("jaccard", round($"common" / (size($"ts1") + size($"ts2") - $"common"), 4))
        .filter($"jaccard" >= 0.5)
        // both the quantized weight (cluster family) and the rounded
        // double itself (dedup_minhash_lsh serves it verbatim; doubles
        // round-trip parquet exactly)
        .select($"id1", $"id2", $"jaccard",
          round($"jaccard" * 10000, 0).cast("long").as("w"))
        .write.mode("overwrite").parquet(root)
      arrays.unpersist()
      root
    }

  /** The persisted verified edge list with its 4-decimal-quantized Jaccard
    * weight (w = round(jaccard·10⁴), exact integer on both engines).
    */
  private def verifiedPairsW(s: SparkSession, d: String): DataFrame =
    graft.Tables.readCached(s, verifiedPairsDir(s, d))

  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairsW(s, d).select("id1", "id2")

  // --------------------------------------------------------------- queries
  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- exact dedup: md5 content key, min-id canonical per group. The
    // distributed HashSet of the reference (A1, `ae.rs:80-83`) as a groupBy.
    ("dedup_exact", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"k")
      corpus(s, d)
        .withColumn("k", md5($"text"))
        .withColumn("canonical_id", min($"doc_id").over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .filter($"doc_id" =!= $"canonical_id")
        .select($"doc_id", $"canonical_id", $"group_size")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql
         |SELECT doc_id, canonical_id, group_size FROM (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY $exactKeySql) AS canonical_id,
         |    count(*) OVER (PARTITION BY $exactKeySql) AS group_size
         |  FROM corpus)
         |WHERE doc_id <> canonical_id ORDER BY doc_id""".stripMargin)),

    // ---- normalized-text dedup: case-fold + whitespace-collapse before
    // hashing, so formatting-only variants collapse into one group (the
    // standard first pass of a training-data dedup pipeline).
    ("dedup_exact_normalized", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"k")
      corpus(s, d)
        .unionByName(
          corpus(s, d).filter($"doc_id" % 11 === 0)
            .select(($"doc_id" + 300000).as("doc_id"), upper($"text").as("text")))
        .withColumn("k", md5(regexp_replace(lower(trim($"text")), "\\s+", " ")))
        .withColumn("canonical_id", min($"doc_id").over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .filter($"doc_id" =!= $"canonical_id")
        .select($"doc_id", $"canonical_id", $"group_size")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |corpus2 AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL SELECT doc_id + 300000, upper(text) FROM corpus WHERE doc_id % 11 = 0)
         |SELECT doc_id, canonical_id, group_size FROM (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS canonical_id,
         |    count(*) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS group_size
         |  FROM corpus2)
         |WHERE doc_id <> canonical_id ORDER BY doc_id""".stripMargin)),

    // ---- order-invariant set fingerprint dedup: hash the SORTED DISTINCT
    // token set, so token-permuted copies (shuffled paragraphs, re-ordered
    // list items — this corpus's planted near-dups are exactly bag-of-words
    // permutations) collapse into one group EXACTLY, where md5(text) sees
    // different strings and MinHash only scores them probabilistically.
    // This is the cheap middle rung of the dedup ladder: one map-side
    // sort of a per-doc token set + one hash window — no signatures, no
    // candidate joins, deterministic on both engines (ASCII tokens ⇒ binary
    // collation agrees). Finds 21 permuted groups (75 docs) in the raw
    // corpus that dedup_exact's content hash misses entirely.
    ("dedup_set_fingerprint", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"k")
      corpus(s, d)
        .withColumn("k",
          md5(array_join(array_sort(array_distinct(tokens(lower($"text")))), " ")))
        .withColumn("canonical_id", min($"doc_id").over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .filter($"doc_id" =!= $"canonical_id")
        .select($"doc_id", $"canonical_id", $"group_size")
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |fp AS (
         |  SELECT doc_id, $setFpKeySql AS k
         |  FROM corpus)
         |SELECT doc_id, canonical_id, group_size FROM (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY k) AS canonical_id,
         |    count(*) OVER (PARTITION BY k) AS group_size
         |  FROM fp)
         |WHERE doc_id <> canonical_id ORDER BY doc_id""".stripMargin)),

    // ---- exact dedup at data scale: the documents corpus is fixed-size
    // across SFs, so this variant dedups the events stream (scales linearly
    // with the SF) by content key — the canonical-record pattern: group by
    // content hash, keep min event_id, count the duplicates.
    ("dedup_exact_events", (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("k", md5(concat_ws("|", $"event_type", $"props")))
        .groupBy($"k")
        .agg(min($"event_id").as("canonical_id"), count(lit(1)).as("n_dups"))
        .select($"canonical_id", $"n_dups")
        .orderBy($"canonical_id")
    }, Some(
      """SELECT min(event_id) AS canonical_id, count(*) AS n_dups
        |FROM events GROUP BY md5(event_type || '|' || props)
        |ORDER BY canonical_id""".stripMargin)),

    // ---- n-gram Jaccard: inverted index on shingle hash → candidate pairs
    // share >= 1 shingle → exact Jaccard >= 0.6 over the df-filtered shingle
    // space. Never materializes n². Shingles whose document frequency
    // exceeds JaccardDfCap are dropped from the index BEFORE pair emission
    // (stop-shingle removal, standard in the dedup literature): a single
    // corpus-wide boilerplate trigram shared by 10⁵ docs would otherwise
    // emit 5·10⁹ pairs in one task. The cut bounds per-group work at
    // cap²/2 pairs and trades recall only on pairs whose EVERY shared
    // shingle is a stop-shingle — such pairs are boilerplate overlap, not
    // near-duplicates, at any realistic threshold. Sizes are recomputed
    // over the same filtered space so Jaccard stays an exact set measure.
    // Pair counting groups the index by shingle and emits co-occurrence
    // pairs in a fused flatMap (one wide pass over shingle rows instead of
    // the sh⋈sh self-join's two, ~30% faster measured; a prefix-filtered
    // PPJoin variant was measured SLOWER on this corpus — near-dup docs
    // share even their rare shingles, so candidates only dropped 4.5x while
    // re-joining the shingle arrays for verification cost more than the
    // count it saved).
    ("dedup_ngram_jaccard", (s, d) => {
      import s.implicits._
      // local spread (r18): the tokenize+shingle+hash pass is CPU-bound and
      // was pinned to the corpus union's 3 scan tasks (0.34 s stage); the
      // repartition is local to this query so the shared corpus() callers
      // keep their planner-chosen widths.
      val sh = shingles(corpus(s, d)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
      // df-cut INSIDE the aggregate: BoundedCollectAgg buffers at most
      // cap+1 doc_ids and finishes an overflowing group as NULL, so a
      // corpus-wide stop-shingle costs O(cap) aggregation state instead of
      // materializing its full id array only for the size filter to drop it
      // (the 100 TB difference on hot keys). Output is exactly
      // collect_list + filter(size <= cap) — the oracle keeps its HAVING
      // count(*) <= cap form.
      val boundedCollect = udaf(new graft.functions.BoundedCollectAgg(JaccardDfCap))
        .withName(s"bounded_collect_$JaccardDfCap")
      val capped = sh.groupBy($"h").agg(boundedCollect($"doc_id").as("ids"))
        .filter($"ids".isNotNull)
        .select($"ids")
      // Pair emission is SALTED: a group's sorted id array is split into
      // blocks of JaccardBlock ids, and each (block_i, block_j) combination
      // becomes its own work-unit row. A HASH repartition on the block pair
      // spreads the units, so a df-cap-sized hot shingle emits its ~131k
      // pairs from ~36 parallel tasks of <= JaccardBlock² pairs each
      // instead of one straggler task — the output multiset is identical
      // (blocks preserve the sort, so cross-block pairs keep id1 < id2).
      // Hash, not round-robin (r16 driver-bench adjudication): round-robin
      // pays Spark's sort-before-repartition determinism pass over these
      // wide array rows and places units non-deterministically per
      // scheduler state; hashing the block contents is deterministic and
      // sort-free, and distinct (i,j) block pairs spread just as evenly.
      // Size markers
      // (id2 = -1 sentinel; ids are non-negative by construction — the
      // corpus derives them from documents.doc_id >= 0 plus +100000/+200000,
      // guarded below) ride the diagonal units, one per (shingle, doc).
      // A single codegen'd hash aggregate then counts pairs and sizes
      // together. (A hand-rolled per-partition LongMap combine was measured
      // 5.3s vs 3.1s here — the UnsafeRow hash agg wins, and it spills.)
      val units = capped.as[Array[Long]] // primitive decode — no per-id boxing
        .flatMap(blockUnits _)
      val counted = units
        // fan hot groups out across tasks, hashed on the block pair
        .repartition(s.sparkContext.defaultParallelism, units("_1"), units("_2"))
        .flatMap((unitRows _).tupled)
        .toDF("id1", "id2")
        .groupBy($"id1", $"id2").agg(count(lit(1)).as("cnt"))
        // Explicit spill-capable persist (Dataset.cache() is MEMORY_AND_DISK
        // too — spelled out because the exact path must spill, not recompute,
        // at larger corpora). Tiny here (pairs + one row per doc); read by
        // three join sides, and Bench clears the cache manager between
        // passes, so repeated invocations don't accumulate cached relations.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = counted.filter($"id2" === -1L).select($"id1".as("doc_id"), $"cnt".as("n"))
      val common = counted.filter($"id2" =!= -1L)
        .select($"id1", $"id2", $"cnt".as("common"))
      common
        .join(sizes.select($"doc_id".as("id1"), $"n".as("n1")), "id1")
        .join(sizes.select($"doc_id".as("id2"), $"n".as("n2")), "id2")
        .withColumn("jaccard", round($"common" / ($"n1" + $"n2" - $"common"), 4))
        .filter($"jaccard" >= 0.6)
        .select($"id1", $"id2", $"common", $"jaccard")
        .orderBy($"id1", $"id2")
    }, Some(
      s"""WITH $corpusSql,
         |$shinglesSql,
         |shc AS (
         |  SELECT doc_id, h FROM sh
         |  WHERE h IN (SELECT h FROM sh GROUP BY h HAVING count(*) <= $JaccardDfCap)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, common, jaccard FROM (
         |  SELECT id1, id2, common,
         |    ${rndSql("common / CAST(s1.n + s2.n - common AS DOUBLE)", 4)} AS jaccard
         |  FROM common JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2)
         |WHERE jaccard >= 0.6 ORDER BY id1, id2""".stripMargin)),

    // ---- MinHash + LSH: 16 permutations, 4 bands x 4 rows; band-bucket
    // equi-join yields candidates; exact Jaccard >= 0.5 verifies. The
    // probability shape: P(candidate | J) = 1 - (1 - J^4)^4.
    ("dedup_minhash_lsh", (s, d) => {
      import s.implicits._
      // Served from the per-JVM PERSISTED edge list ([[verifiedPairsDir]])
      // — the exact chain this query used to run inline (signatures from
      // the per-doc shingle arrays, band-bucket candidates, exact-Jaccard
      // verification touching ONLY candidate pairs; see the builder) now
      // runs once and every consumer (this query, the cluster family,
      // pipeline_dedup_stack, dedup_method_eval, dedup_lsh_recall) pays a
      // 3-column scan — the stored pair table a dedup service maintains,
      // not a per-query recompute (VERDICT r13 #7). The rounded double is
      // persisted verbatim, so the oracle text is unchanged and the
      // output byte-identical to the inline form.
      verifiedPairsW(s, d)
        .select($"id1", $"id2", $"jaccard")
        .orderBy($"id1", $"id2")
    }, Some {
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")}
         |SELECT id1, id2, jaccard FROM (
         |  SELECT c.id1, c.id2,
         |    ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS jaccard
         |  FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2)
         |WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin
    }),

    // ---- MinHash banding driven from PURE SQL (VERDICT r11 #7): the
    // native minhash_bands Generator exposes the per-doc band keys to
    // LATERAL VIEW, and the banded candidate join is plain SQL — the same
    // shape a warehouse user writes against a built-in UDTF. The Generator
    // calls the exact JVM core the DataFrame path uses (shingleArrayJvm +
    // bandKeysJvm), so both surfaces produce identical candidates by
    // construction (SqlSurfaceSpec pins the frame equality); the DuckDB
    // oracle re-derives the candidates from raw text.
    ("dedup_minhash_pairs_sql", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      corpus(s, d).createOrReplaceTempView("dedup_corpus_v")
      s.sql(
        """WITH b AS (
          |  SELECT doc_id, t.band, t.bkey
          |  FROM dedup_corpus_v LATERAL VIEW minhash_bands(text) t)
          |SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
          |FROM b x JOIN b y
          |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
          |ORDER BY id1, id2""".stripMargin)
    }, Some(
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")}
         |SELECT id1, id2 FROM cand ORDER BY id1, id2""".stripMargin)),

    // ---- FUZZY decontamination (the near-dup complement of
    // pipeline_decontaminate's exact 8-gram pass, which catches verbatim
    // prefix leakage but not EDITED benchmark items): eval items are
    // slightly-edited twins of every 50th training doc (last three tokens
    // dropped — the "benchmark rehosted with small edits" leak GPT-3-era
    // decontamination famously missed), and the MinHash+LSH machinery
    // flags (train doc, eval item) pairs whose trigram Jaccard survives
    // the ≥ 0.5 verify. Cross-side candidates only (train ids < 500000 ≤
    // eval ids); signatures/bands/verify are the shared dedup_minhash_lsh
    // arithmetic, so a leak is caught with the same probability shape
    // P(candidate | J) = 1 − (1 − J⁴)⁴ — eval sources are 25-85 tokens,
    // so the edited twins sit at J ≈ 0.83-0.96 where the bands are
    // near-certain. MEASURED planted recall: 10/10 at sf0.01, 98/100 at
    // sf0.1 — the two misses are the shortest sources at J ≈ 0.83 where
    // the band-catch probability is ~0.92, exactly the published curve
    // (spec-pinned ≥ 0.9; the exact 8-gram pass beside this one catches
    // verbatim leaks deterministically). The oracle re-derives candidates
    // and verification from raw text. Lives beside the dedup machinery;
    // family-wise a corpus-prep (pipeline) step.
    ("pipeline_decontaminate_fuzzy", (s, d) => {
      import s.implicits._
      val doc = Tables.documents(s, d).select($"doc_id", $"text")
      val toksOf = "split(trim(text), '\\\\s+')"
      val evalItems = doc.filter($"doc_id" % 50 === 0)
        .select(($"doc_id" + FuzzyEvalOffset).as("doc_id"),
          expr(s"array_join(slice($toksOf, 1, " +
            s"greatest(size($toksOf) - 3, 0)), ' ')").as("text"))
      val arrays = shingleStringArrays(doc.unionByName(evalItems)).cache()
      val cands = minhashCandidates(bandTable(arrays))
        .filter($"id1" < FuzzyEvalOffset && $"id2" >= FuzzyEvalOffset)
      cands
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("jaccard",
          round($"common" / (size($"ts1") + size($"ts2") - $"common"), 4))
        .filter($"jaccard" >= 0.5)
        .select($"id1".as("doc_id"), ($"id2" - FuzzyEvalOffset).as("eval_src"),
          $"jaccard")
        .orderBy($"doc_id", $"eval_src")
    }, Some {
      val toks = tokensSql("text")
      s"""WITH fz AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $FuzzyEvalOffset,
         |    array_to_string(($toks)[1:greatest(len($toks) - 3, 0)], ' ')
         |  FROM documents WHERE doc_id % 50 = 0),
         |${minhashSql("fz", "fz")}
         |SELECT id1 AS doc_id, id2 - $FuzzyEvalOffset AS eval_src, jaccard FROM (
         |  SELECT c.id1, c.id2,
         |    ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS jaccard
         |  FROM candfz c
         |  JOIN arrfz a1 ON a1.doc_id = c.id1 JOIN arrfz a2 ON a2.doc_id = c.id2
         |  WHERE c.id1 < $FuzzyEvalOffset AND c.id2 >= $FuzzyEvalOffset)
         |WHERE jaccard >= 0.5 ORDER BY doc_id, eval_src""".stripMargin
    }),

    // ---- dedup quality evaluation: recall of the MinHash+LSH near-dup
    // path against the exact n-gram-Jaccard ground truth — the number that
    // justifies running LSH instead of the quadratic exact pass at scale.
    // Ground truth = exact pairs at jaccard >= 0.6; found = LSH-verified
    // pairs at >= 0.5 (a candidate the bands missed is missed forever, so
    // the laxer verify threshold does not inflate recall). Composes the two
    // existing queries; the intersection is a semi-join on the pair ids —
    // fully distributed, no driver-side set logic.
    ("dedup_lsh_recall", (s, d) => {
      import s.implicits._
      val ex = queries("dedup_ngram_jaccard")(s, d).select($"id1", $"id2")
      val fd = queries("dedup_minhash_lsh")(s, d).select($"id1", $"id2")
      val hit = ex.join(fd, Seq("id1", "id2"), "left_semi")
      ex.agg(count(lit(1)).as("n_true"))
        .crossJoin(hit.agg(count(lit(1)).as("n_found")))
        .select($"n_true", $"n_found",
          round($"n_found" / $"n_true".cast("double"), 4).as("recall"))
    }, Some {
      s"""WITH $corpusSql,
         |$shinglesSql,
         |shc AS (
         |  SELECT doc_id, h FROM sh
         |  WHERE h IN (SELECT h FROM sh GROUP BY h HAVING count(*) <= $JaccardDfCap)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT id1, id2 FROM (
         |    SELECT id1, id2,
         |      ${rndSql("common / CAST(s1.n + s2.n - common AS DOUBLE)", 4)} AS jaccard
         |    FROM common JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2)
         |  WHERE jaccard >= 0.6),
         |${minhashSql("corpus", "3")},
         |fd AS (
         |  SELECT id1, id2 FROM (
         |    SELECT c.id1, c.id2,
         |      ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS jaccard
         |    FROM cand3 c JOIN arr3 a1 ON a1.doc_id = c.id1 JOIN arr3 a2 ON a2.doc_id = c.id2)
         |  WHERE jaccard >= 0.5)
         |SELECT
         |  (SELECT count(*) FROM ex) AS n_true,
         |  (SELECT count(*) FROM ex JOIN fd USING (id1, id2)) AS n_found,
         |  ${rndSql("(SELECT count(*) FROM ex JOIN fd USING (id1, id2)) / CAST((SELECT count(*) FROM ex) AS DOUBLE)", 4)} AS recall""".stripMargin
    }),

    // ---- SAMPLED LSH recall — the recall eval that survives 100 TB.
    // dedup_lsh_recall's ground truth is the full exact-Jaccard pair pass
    // (documented eval-only: ~32× wall at the 100× rehearsal, impossible at
    // corpus scale). Here exact truth is computed ONLY for a deterministic
    // probe subset (doc_id % ProbeStride = 0, ~2% of docs): the exact leg
    // is a probe-postings join — probes × df-capped posting lists, LINEAR
    // in the corpus — and the found leg reads the PERSISTED verified edge
    // list (the production artifact the cluster family serves from), so
    // the eval measures exactly what production would ship. Micro recall
    // over directed (probe → neighbor) pairs; truth at >= 0.6, found at
    // the pipeline's >= 0.5 verify cut, same thresholds as the full eval.
    ("dedup_lsh_recall_sampled", (s, d) => {
      import s.implicits._
      // local spread (r18): same rationale as dedup_ngram_jaccard.
      val sh = shingles(corpus(s, d)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id"))
      // r18: the probe-postings join used to run as df-filter semi-join +
      // cached shc + shc⋈shc self-join (32 jobs / 535 tasks, 2.6-2.9 s
      // measured). The df-cut and the pair emission now ride the SAME
      // bounded aggregate the full ngram pass uses: one O(cap)-state
      // aggregation per shingle, then a fused flatMap emits (probe →
      // neighbor) pairs plus (doc, -1) size markers, and one codegen'd hash
      // aggregate counts both — two exchanges total, no cache, no self-join.
      // Identical semantics: BoundedCollectAgg(cap) ≡ collect_list +
      // HAVING count(*) <= cap (the oracle's form); probe fan-out per
      // shingle is <= cap·(probes in group), the same bound the old join
      // had. Measured 2.9 → ~1.2 s; oracle text unchanged, hash-identical.
      val boundedCollect = udaf(new graft.functions.BoundedCollectAgg(JaccardDfCap))
        .withName(s"bounded_collect_$JaccardDfCap")
      val counted = sh.groupBy($"h").agg(boundedCollect($"doc_id").as("ids"))
        .filter($"ids".isNotNull)
        .select($"ids").as[Array[Long]]
        .flatMap(probePairRows _)
        .toDF("q_id", "o_id")
        .groupBy($"q_id", $"o_id").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = counted.filter($"o_id" === -1L)
        .select($"q_id".as("doc_id"), $"cnt".as("n"))
      val common = counted.filter($"o_id" =!= -1L)
        .select($"q_id", $"o_id", $"cnt".as("common"))
      val ex = common
        .join(sizes.select($"doc_id".as("q_id"), $"n".as("n1")), "q_id")
        .join(sizes.select($"doc_id".as("o_id"), $"n".as("n2")), "o_id")
        .filter(round($"common" / ($"n1" + $"n2" - $"common"), 4) >= 0.6)
        .select($"q_id", $"o_id")
      val fd = verifiedPairs(s, d)
      val fdd = fd.filter($"id1" % ProbeStride === 0)
          .select($"id1".as("q_id"), $"id2".as("o_id"))
        .unionByName(fd.filter($"id2" % ProbeStride === 0)
          .select($"id2".as("q_id"), $"id1".as("o_id")))
      val hit = ex.join(fdd, Seq("q_id", "o_id"), "left_semi")
      corpus(s, d).filter($"doc_id" % ProbeStride === 0)
        .agg(count(lit(1)).as("n_probes"))
        .crossJoin(ex.agg(count(lit(1)).as("n_true")))
        .crossJoin(hit.agg(count(lit(1)).as("n_found")))
        .select($"n_probes", $"n_true", $"n_found",
          when($"n_true" === 0, lit(0.0))
            .otherwise(round($"n_found" / $"n_true".cast("double"), 4))
            .as("recall"))
    }, Some {
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |shc AS (
         |  SELECT doc_id, h FROM sh
         |  WHERE h IN (SELECT h FROM sh GROUP BY h HAVING count(*) <= $JaccardDfCap)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |cm AS (
         |  SELECT p.doc_id AS q_id, o.doc_id AS o_id, count(*) AS common
         |  FROM shc p JOIN shc o ON p.h = o.h AND o.doc_id <> p.doc_id
         |  WHERE p.doc_id % $ProbeStride = 0
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT q_id, o_id FROM cm c
         |  JOIN sizes s1 ON s1.doc_id = c.q_id JOIN sizes s2 ON s2.doc_id = c.o_id
         |  WHERE ${rndSql("common / CAST(s1.n + s2.n - common AS DOUBLE)", 4)} >= 0.6),
         |$verCteSql,
         |fdd AS (
         |  SELECT id1 AS q_id, id2 AS o_id FROM ver WHERE id1 % $ProbeStride = 0
         |  UNION ALL
         |  SELECT id2 AS q_id, id1 AS o_id FROM ver WHERE id2 % $ProbeStride = 0)
         |SELECT
         |  (SELECT count(*) FROM corpus WHERE doc_id % $ProbeStride = 0) AS n_probes,
         |  (SELECT count(*) FROM ex) AS n_true,
         |  (SELECT count(*) FROM ex JOIN fdd USING (q_id, o_id)) AS n_found,
         |  CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 0.0
         |    ELSE ${rndSql("(SELECT count(*) FROM ex JOIN fdd USING (q_id, o_id)) / CAST((SELECT count(*) FROM ex) AS DOUBLE)", 4)}
         |  END AS recall""".stripMargin
    }),

    // ---- SimHash: 32-bit signature from count-weighted token hash bits.
    ("dedup_simhash", (s, d) => {
      import s.implicits._
      simhashTable(s, d).orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |${simhashSql}
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin)),

    // ---- SimHash near-dup pairs: pigeonhole on 4 x 8-bit chunks. k
    // differing bits touch at most k chunks, so hamming <= 3 guarantees at
    // least one of the 4 chunks is identical — the chunk equi-join finds
    // every such pair without the n² scan; bit_count verifies exactly.
    ("dedup_simhash_pairs", (s, d) => {
      import s.implicits._
      // cache: both sides of the self-join reuse the aggregated signatures
      val sim = simhashTable(s, d).cache()
      val chunks = sim.select($"doc_id", $"simhash",
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("k"), (($"simhash" cast "bigint") / lit(1L << (8 * k))).cast("long").bitwiseAND(255L).as("ck"))): _*)).as("c"))
        .select($"doc_id", $"simhash", $"c.k".as("k"), $"c.ck".as("ck"))
      chunks.as("x").join(chunks.as("y"),
          $"x.k" === $"y.k" && $"x.ck" === $"y.ck" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("id1"), $"y.doc_id".as("id2"),
          bit_count($"x.simhash".bitwiseXOR($"y.simhash")).cast("long").as("hamming"))
        .distinct()
        .filter($"hamming" <= 3)
        .orderBy($"id1", $"id2")
    }, Some(
      s"""WITH $corpusSql,
         |${simhashSql},
         |$simhashChunksCteSql
         |$simhashPairsSelectSql
         |ORDER BY id1, id2""".stripMargin)),

    // ---- dedup method evaluation against the PLANTED labels — the
    // "which dedup method do I run" selection table: the corpus's planted
    // relation is knowable by id (+100000 = byte-exact copy, +200000 =
    // near-dup tail), so each method's flagged set grades against it.
    // Per method: flagged count, recall on the planted exact class, recall
    // on the planted near class, and flags among ORIGINAL ids — labeled
    // extra_flagged, NOT false positives, because the raw corpus carries
    // real intrinsic duplicates (21 token-permuted groups) that several
    // methods legitimately catch. The differentiation the table shows:
    // exact hashing catches only byte-exact copies; the set fingerprint
    // adds permutations but not tails; SimHash (order-invariant frequency
    // signature) catches copies + permutations + most tails; MinHash+LSH
    // catches everything planted. Every flagged set reuses the SAME query
    // chain the per-method contracts verify (higher-id-of-pair convention
    // throughout), so the eval cannot drift from the methods. Scale: four
    // already-bounded method pipelines + one conditional agg each.
    ("dedup_method_eval", (s, d) => {
      import s.implicits._
      val pl = corpus(s, d).agg(
        sum(when($"doc_id" >= 100000L && $"doc_id" < 200000L, 1L).otherwise(0L))
          .as("n_planted_exact"),
        sum(when($"doc_id" >= 200000L, 1L).otherwise(0L)).as("n_planted_near"))
      def row(name: String, flagged: DataFrame): DataFrame =
        flagged.select($"doc_id").distinct()
          .agg(
            count(lit(1)).as("n_flagged"),
            sum(when($"doc_id" >= 100000L && $"doc_id" < 200000L, 1L).otherwise(0L))
              .as("f_exact"),
            sum(when($"doc_id" >= 200000L, 1L).otherwise(0L)).as("f_near"),
            sum(when($"doc_id" < 100000L, 1L).otherwise(0L)).as("extra_flagged"))
          .crossJoin(broadcast(pl))
          .select(lit(name).as("method"), $"n_flagged",
            expr("(f_exact * 10000L) div n_planted_exact").as("exact_recall_e4"),
            expr("(f_near * 10000L) div n_planted_near").as("near_recall_e4"),
            $"extra_flagged")
      Seq(
        row("exact", queries("dedup_exact")(s, d)),
        row("minhash_lsh",
          queries("dedup_minhash_lsh")(s, d).select($"id2".as("doc_id"))),
        row("set_fingerprint", queries("dedup_set_fingerprint")(s, d)),
        row("simhash",
          queries("dedup_simhash_pairs")(s, d).select($"id2".as("doc_id"))))
        .reduce(_ unionByName _).orderBy($"method")
    }, Some(
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |$simhashSql,
         |pl AS (
         |  SELECT CAST(sum(CASE WHEN doc_id >= 100000 AND doc_id < 200000 THEN 1 ELSE 0 END) AS BIGINT) AS pe,
         |    CAST(sum(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS pn
         |  FROM corpus),
         |ex_f AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY $exactKeySql) AS c FROM corpus)
         |  WHERE doc_id <> c),
         |sfp_f AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY $setFpKeySql) AS c
         |    FROM corpus)
         |  WHERE doc_id <> c),
         |$verCteSql,
         |mh_f AS (SELECT DISTINCT id2 AS doc_id FROM ver),
         |$simhashChunksCteSql,
         |sh_f AS (SELECT DISTINCT id2 AS doc_id FROM ($simhashPairsSelectSql))
         |SELECT method, n_flagged, exact_recall_e4, near_recall_e4, extra_flagged FROM (
         |  SELECT 'exact' AS method, CAST(count(*) AS BIGINT) AS n_flagged,
         |    (CAST(sum(CASE WHEN doc_id >= 100000 AND doc_id < 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pe AS exact_recall_e4,
         |    (CAST(sum(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pn AS near_recall_e4,
         |    CAST(sum(CASE WHEN doc_id < 100000 THEN 1 ELSE 0 END) AS BIGINT) AS extra_flagged
         |  FROM ex_f, pl GROUP BY pe, pn
         |  UNION ALL
         |  SELECT 'minhash_lsh', CAST(count(*) AS BIGINT),
         |    (CAST(sum(CASE WHEN doc_id >= 100000 AND doc_id < 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pe,
         |    (CAST(sum(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pn,
         |    CAST(sum(CASE WHEN doc_id < 100000 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM mh_f, pl GROUP BY pe, pn
         |  UNION ALL
         |  SELECT 'set_fingerprint', CAST(count(*) AS BIGINT),
         |    (CAST(sum(CASE WHEN doc_id >= 100000 AND doc_id < 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pe,
         |    (CAST(sum(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pn,
         |    CAST(sum(CASE WHEN doc_id < 100000 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM sfp_f, pl GROUP BY pe, pn
         |  UNION ALL
         |  SELECT 'simhash', CAST(count(*) AS BIGINT),
         |    (CAST(sum(CASE WHEN doc_id >= 100000 AND doc_id < 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pe,
         |    (CAST(sum(CASE WHEN doc_id >= 200000 THEN 1 ELSE 0 END) AS BIGINT) * 10000) // pn,
         |    CAST(sum(CASE WHEN doc_id < 100000 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM sh_f, pl GROUP BY pe, pn)
         |ORDER BY method""".stripMargin)),

    // ---- end-to-end corpus cleaning: the composition a training-data
    // pipeline actually runs — quality gate → exact normalized dedup →
    // MinHash+LSH near-dup removal — in ONE query, labeling every corpus doc
    // with the first stage that dropped it. Each stage only processes the
    // previous stage's survivors (filters narrow before the expensive LSH),
    // and the whole pipeline carries an exact DuckDB oracle.
    ("pipeline_clean_corpus", (s, d) => {
      import s.implicits._
      val c = corpus(s, d)
      // stage 1: quality gate (punct + word-length heuristics; expression
      // order written identically on both engines → exact threshold compare)
      val punct = length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")) /
        length($"text").cast("double")
      val avgLen = length(regexp_replace($"text", "\\s+", "")) /
        size(tokens($"text")).cast("double")
      val quality = lit(0.5) * (lit(1.0) - punct) + lit(0.5) * least(avgLen / 8.0, lit(1.0))
      val staged = c.select($"doc_id", $"text", (quality >= 0.45).as("q_ok"))
      val kept1 = staged.filter($"q_ok").select($"doc_id", $"text")
      // stage 2: exact dedup on normalized text, min-id canonical survives
      val canon = kept1
        .withColumn("k", md5(regexp_replace(lower(trim($"text")), "\\s+", " ")))
        .withColumn("canonical", min($"doc_id").over(Window.partitionBy($"k")))
      val kept2 = canon.filter($"doc_id" === $"canonical").select($"doc_id", $"text")
      // stage 3: drop the larger id of every verified (jaccard >= 0.5)
      // LSH candidate pair among the remaining docs
      val arrays = shingleStringArrays(kept2).cache()
      val near = minhashCandidates(bandTable(arrays))
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("jaccard", round($"common" / (size($"ts1") + size($"ts2") - $"common"), 4))
        .filter($"jaccard" >= 0.5)
        .select($"id2".as("doc_id")).distinct()
        .withColumn("near", lit(true))
      staged.select($"doc_id", $"q_ok")
        .join(canon.select($"doc_id", $"canonical"), Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select($"doc_id",
          when(!$"q_ok", "quality")
            .when($"doc_id" =!= $"canonical", "exact_dup")
            .when($"near", "near_dup")
            .otherwise("kept").as("stage"))
        .orderBy($"doc_id")
    }, Some(cleanCorpusOracleSql)),

    // ---- pipeline run report: the stage funnel every curation run
    // publishes — docs dropped per stage (quality gate → exact dedup →
    // near dedup) with corpus share and the surviving count after each
    // stage, derived from pipeline_clean_corpus's per-doc verdicts (the
    // SAME query chain, so report and pipeline cannot drift). Scale
    // shape: one ≤4-row hash agg + a 4-row ordered window on top of the
    // clean-corpus pass.
    ("pipeline_stage_funnel", (s, d) => {
      import s.implicits._
      // static 4-stage spine so a stage that dropped ZERO docs still shows
      // its row (a funnel report with silently-missing stages reads as a
      // pipeline that never ran the stage)
      val spine = Seq(("quality", 1L), ("exact_dup", 2L), ("near_dup", 3L), ("kept", 4L))
        .toDF("stage", "stage_order")
      val agg = queries("pipeline_clean_corpus")(s, d)
        .groupBy($"stage").agg(count(lit(1)).as("n_raw"))
      val tot = agg.agg(sum($"n_raw").as("total"))
      val w = Window.orderBy($"stage_order")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(agg, Seq("stage"), "left")
        .withColumn("n_docs", coalesce($"n_raw", lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(n_docs * 1000000L) div total"))
        .withColumn("surviving_after",
          $"total" - sum(when($"stage" =!= "kept", $"n_docs").otherwise(0L)).over(w))
        .select($"stage_order", $"stage", $"n_docs", $"share_ppm", $"surviving_after")
        .orderBy($"stage_order")
    }, Some(
      s"""WITH stages AS ($cleanCorpusOracleSql),
         |agg AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_raw FROM stages GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS total FROM agg),
         |spine AS (
         |  SELECT * FROM (VALUES ('quality', 1), ('exact_dup', 2),
         |                        ('near_dup', 3), ('kept', 4)) s(stage, stage_order)),
         |ord AS (
         |  SELECT spine.stage, CAST(spine.stage_order AS BIGINT) AS stage_order,
         |    coalesce(n_raw, 0) AS n_docs
         |  FROM spine LEFT JOIN agg ON agg.stage = spine.stage)
         |SELECT stage_order, stage, n_docs,
         |  (n_docs * 1000000) // total AS share_ppm,
         |  total - CAST(sum(CASE WHEN stage <> 'kept' THEN n_docs ELSE 0 END)
         |    OVER (ORDER BY stage_order ROWS UNBOUNDED PRECEDING) AS BIGINT) AS surviving_after
         |FROM ord, tot ORDER BY stage_order""".stripMargin)),

    // ---- near-dup cluster assignment: connected components over the
    // verified MinHash pair graph — the step an actual dedup pipeline runs
    // after pair generation (keep one doc per CLUSTER, not per pair; pair
    // lists double-count when A~B, B~C). Spark side is iterative min-label
    // propagation over the edge list (converges in O(component diameter)
    // rounds — near-dup clusters are shallow; each round is one shuffle of
    // the edge table, the standard DataFrame-only connected-components
    // shape). This is the ONE query that still runs label propagation — a
    // deliberate in-gate parity cross-check of ccBigStar (its twin
    // dedup_cc_bigstar is judged by the identical oracle); every production
    // consumer (density, incremental, canonical pick, leakage split) runs
    // the log-round ccBigStar. The oracle recomputes components via a
    // recursive CTE.
    ("dedup_clusters", (s, d) => {
      import s.implicits._
      val labels = connectedComponents(verifiedPairs(s, d))
      val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "comp")
        .select($"id".as("doc_id"), $"comp".as("cluster_id"), $"cluster_size")
        .orderBy($"doc_id")
    }, Some {
      s"""WITH RECURSIVE $corpusSql,
         |${minhashSql("corpus", "")},
         |$verCteSql,
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

    // ---- the SAME cluster assignment via alternating large-star/small-star
    // (Kiveris et al. SoCC'14) instead of min-label propagation: O(log n)
    // rounds on any topology vs O(component diameter), with the edge list
    // contracting toward the star forest as it runs — the algorithm to use
    // when a 100 TB corpus can contain chain-shaped near-dup components
    // that would blow label propagation's round bound. Judged by the
    // identical recursive-CTE oracle as dedup_clusters: both engines and
    // both algorithms must agree label-for-label (component = min id).
    ("dedup_cc_bigstar", (s, d) => {
      import s.implicits._
      val labels = ccBigStar(verifiedPairs(s, d))
      val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "comp")
        .select($"id".as("doc_id"), $"comp".as("cluster_id"), $"cluster_size")
        .orderBy($"doc_id")
    }, Some {
      s"""WITH RECURSIVE $corpusSql,
         |${minhashSql("corpus", "")},
         |$verCteSql,
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

    // ---- INCREMENTAL cluster maintenance: when a new batch lands on an
    // already-clustered corpus, don't re-cluster the world — contract
    // yesterday's components to their star edges (member → root, O(nodes)
    // rows), union the delta edges (pairs touching a new doc), and re-run
    // the log-round CC on that much smaller graph. Star contraction
    // preserves component minima (the root IS the min), so the result is
    // IDENTICAL to a full recompute — enforced here by judging against
    // dedup_clusters' exact oracle verbatim, with the derived corpus's
    // replica ids (>= 100000) playing the new batch. At 100 TB the
    // "existing" term is a stored label table, the delta is the new
    // batch's LSH pass, and the rerun graph is |nodes| + |delta| edges
    // instead of the full historical pair set.
    // ---- cluster edge density: for every near-dup cluster, the fraction of
    // its possible pairs actually verified at Jaccard ≥ 0.5 — the standard
    // audit for transitive-closure over-merging (an LSH cluster glued
    // together by a chain A~B~C where A and C are NOT near-dups shows up as
    // density < 1; keeping only min(cluster) would then delete documents
    // that duplicate nothing kept). chain_risk flags size ≥ 3 clusters
    // below half density — the ones to re-verify before destructive dedup.
    // All-integer diagnostic ((2·e·10⁴) div (n·(n−1))), exact on both
    // engines. Scale shape: reuses the labels/edges the cluster family
    // already computes; per-cluster aggregation is one hash agg keyed by
    // label — no pairwise work beyond the already-verified edge list.
    ("dedup_cluster_density", (s, d) => {
      import s.implicits._
      val pairs = verifiedPairs(s, d) // persisted fixture — re-scan is a 2-column parquet read
      val labels = ccBigStar(pairs)
      val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
      val edges = pairs
        .join(labels.select($"id".as("id1"), $"comp"), "id1")
        .groupBy($"comp").agg(count(lit(1)).as("n_edges"))
      sizes.join(edges, "comp")
        .select($"comp".as("cluster_id"), $"cluster_size", $"n_edges",
          expr("(2 * n_edges * 10000L) div (cluster_size * (cluster_size - 1))")
            .as("density_e4"))
        .withColumn("chain_risk", $"cluster_size" >= 3 && $"density_e4" < 5000)
        .orderBy($"cluster_id")
    }, Some {
      s"""WITH RECURSIVE $corpusSql,
         |${minhashSql("corpus", "")},
         |$verCteSql,
         |edges AS (SELECT id1 AS a, id2 AS b FROM ver UNION ALL SELECT id2, id1 FROM ver),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY cluster_id),
         |ecnt AS (
         |  SELECT c1.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM ver v JOIN comp c1 ON c1.id = v.id1 GROUP BY 1)
         |SELECT s.cluster_id, s.cluster_size, e.n_edges,
         |  (2 * e.n_edges * 10000) // (s.cluster_size * (s.cluster_size - 1)) AS density_e4,
         |  s.cluster_size >= 3 AND
         |    (2 * e.n_edges * 10000) // (s.cluster_size * (s.cluster_size - 1)) < 5000 AS chain_risk
         |FROM sizes s JOIN ecnt e USING (cluster_id)
         |ORDER BY s.cluster_id""".stripMargin
    }),

    ("dedup_cc_incremental", (s, d) => {
      import s.implicits._
      val pairs = verifiedPairs(s, d) // persisted fixture — re-scan is a 2-column parquet read
      val existing = pairs.filter($"id1" < 100000 && $"id2" < 100000)
      val delta = pairs.filter($"id1" >= 100000 || $"id2" >= 100000)
      val starEdges = ccBigStar(existing).filter($"id" =!= $"comp")
        .select($"id".as("id1"), $"comp".as("id2"))
      val labels = ccBigStar(starEdges.unionByName(delta))
      val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "comp")
        .select($"id".as("doc_id"), $"comp".as("cluster_id"), $"cluster_size")
        .orderBy($"doc_id")
    }, Some {
      s"""WITH RECURSIVE $corpusSql,
         |${minhashSql("corpus", "")},
         |$verCteSql,
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

    // ---- leakage-safe train/test split: the split hash is keyed on the
    // NEAR-DUP CLUSTER canonical (min id of the verified component,
    // falling back to the doc's own id for singletons), not the doc id —
    // so near-duplicates can never straddle train/test and leak eval
    // content into training (the split-leakage failure a plain per-doc
    // hash split has by construction). Same md5 band thresholds as
    // pipeline_train_test_split; swapping the hash INPUT is the entire
    // fix. Scale shape: the component labels ride the LSH-verified pair
    // graph (sub-quadratic) and everything else is a map-side hash.
    ("pipeline_leakage_safe_split", (s, d) => {
      import s.implicits._
      val labels = ccBigStar(verifiedPairs(s, d))
        .select($"id".as("doc_id"), $"comp")
      val h = md5($"cluster_key".cast("string"))
      corpus(s, d).select($"doc_id")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_key", coalesce($"comp", $"doc_id"))
        .select($"doc_id", $"cluster_key",
          when(h < "1a", "test").when(h < "33", "val").otherwise("train").as("split"))
        .orderBy($"doc_id")
    }, Some {
      s"""WITH RECURSIVE $corpusSql,
         |${minhashSql("corpus", "")},
         |$verCteSql,
         |edges AS (SELECT id1 AS a, id2 AS b FROM ver UNION ALL SELECT id2, id1 FROM ver),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |keyed AS (
         |  SELECT c.doc_id, coalesce(k.cluster_id, c.doc_id) AS cluster_key
         |  FROM corpus c LEFT JOIN comp k ON k.id = c.doc_id)
         |SELECT doc_id, cluster_key,
         |  CASE WHEN md5(CAST(cluster_key AS VARCHAR)) < '1a' THEN 'test'
         |       WHEN md5(CAST(cluster_key AS VARCHAR)) < '33' THEN 'val'
         |       ELSE 'train' END AS split
         |FROM keyed ORDER BY doc_id""".stripMargin
    }),

    // ---- centrality over the verified near-dup graph: 3 iterations of
    // INTEGER-QUANTIZED PageRank (Q=1e9, damping 0.85 as the exact rational
    // 85/100). Ranks a dup cluster's members by how centrally they sit in
    // the near-dup web — the "which copy is the hub" signal that
    // complements dedup_canonical_pick's quality ranking. Quantization is
    // what makes a distributed PageRank oracle-checkable: every step is
    // integer division and integer sums, both order-free, so the result is
    // bit-identical under ANY partitioning (float PageRank would drift by
    // summation order). Scale shape: the classic distributed PageRank — each
    // iteration is one equi-join of the edge list with the rank table plus
    // one hash-aggregate, all shuffles keyed on node id; no driver loops,
    // iteration count fixed at 3 (near-dup clusters are shallow; diameter
    // ≈ 2). Dangling nodes cannot exist (every graph member has degree ≥ 1
    // by construction from the undirected pair list).
    ("dedup_graph_pagerank", (s, d) => {
      import s.implicits._
      val verified = verifiedPairs(s, d)
      val edges = verified.select($"id1".as("a"), $"id2".as("b"))
        .union(verified.select($"id2".as("a"), $"id1".as("b")))
      val deg = edges.groupBy($"a".as("id")).agg(count(lit(1)).as("d"))
      // degree rides the edge list: one cached (a, b, d) table means each
      // iteration is a single equi-join + hash agg, not two joins — at
      // scale that's one shuffle per iteration saved on the corpus-sized
      // edge relation
      val edgesD = edges.join(deg.select($"id".as("a"), $"d"), "a")
        .cache() // joined once per iteration (3×)
      var r = deg.select($"id", lit(1000000000L).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edgesD
          .join(r.select($"id".as("a"), $"r"), "a")
          .select($"b".as("id"), expr("r div d").as("contrib"))
        r = contrib.groupBy($"id")
          .agg(expr("CAST(150000000 + (85 * sum(contrib)) div 100 AS BIGINT)").as("r"))
      }
      r.join(deg, "id")
        .select($"id".as("doc_id"), $"d".as("degree"), $"r".as("rank_q9"))
        .orderBy($"doc_id")
    }, Some {
      def iter(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT e.b AS id,
           |    CAST(150000000 + (85 * sum($prev.r // dg.d)) // 100 AS BIGINT) AS r
           |  FROM edges e JOIN $prev ON $prev.id = e.a JOIN dg ON dg.id = e.a
           |  GROUP BY e.b)""".stripMargin
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |$verCteSql,
         |edges AS (SELECT id1 AS a, id2 AS b FROM ver UNION ALL SELECT id2, id1 FROM ver),
         |dg AS (SELECT a AS id, count(*) AS d FROM edges GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM dg),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT r3.id AS doc_id, dg.d AS degree, r3.r AS rank_q9
         |FROM r3 JOIN dg ON dg.id = r3.id ORDER BY doc_id""".stripMargin
    }),

    // ---- embedding cosine near-dup: the exact O(n²) baseline (the
    // scalable path is Similarity's LSH/IVF variants; this query is the
    // ground truth they are judged against). Distributed block-pair shape:
    // vectors are unit-normalized once and assigned to id-range blocks;
    // the (b1 <= b2) block pairs form the work list, each block pair
    // scoring its cross product in its own task — no driver-side
    // collect(), no broadcast of the vector table, and the O(n²) compute
    // (the inherent cost of an exact baseline) spreads across
    // nBlocks·(nBlocks+1)/2 tasks whose shuffle keys are block ids. The
    // dot product is the codegen'd `vec_dot` (plans.VecDot), a sequential
    // left fold — bit-identical to DuckDB's list_dot_product.
    ("dedup_embedding_cosine", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      import s.implicits._
      val B = 256 // block size: bounds one task's pair square at B²
      val unit = Tables.embeddings(s, d)
        .select($"vec_id", transform($"embedding", x => x.cast("double")).as("raw"))
        .withColumn("nrm", sqrt(call_function("vec_dot", $"raw", $"raw")))
        .select($"vec_id", transform($"raw", x => x / $"nrm").as("emb"),
          ($"vec_id" / B).cast("long").as("blk"))
        .cache() // normalize once; read by both join sides (spills, Bench clears)
      val blocks = unit.select($"blk").distinct()
      val blockPairs = blocks.as("x").join(blocks.as("y"), $"x.blk" <= $"y.blk")
        .select($"x.blk".as("b1"), $"y.blk".as("b2"))
      blockPairs
        .join(unit.select($"blk".as("b1"), $"vec_id".as("id1"), $"emb".as("e1")), "b1")
        .join(unit.select($"blk".as("b2"), $"vec_id".as("id2"), $"emb".as("e2")), "b2")
        .filter($"id1" < $"id2") // same-block pairs kept once; cross-block always id1<id2
        .withColumn("cos", call_function("vec_dot", $"e1", $"e2"))
        .filter($"cos" >= 0.4)
        .select($"id1", $"id2", round($"cos", 4).as("cos"))
        .orderBy($"id1", $"id2")
    }, Some(
      s"""WITH u AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
         |  FROM embeddings)
         |SELECT id1, id2, ${rndSql("cos", 4)} AS cos FROM (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    list_dot_product(a.emb, b.emb) AS cos
         |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4 ORDER BY id1, id2""".stripMargin)),

    // ---- asymmetric containment over LSH candidates: containment
    // |A∩B|/|A| separates the "B extends A" case (c12=1, c21<1 — quotes,
    // tailed copies, boilerplate-wrapped reposts) from symmetric near-dups
    // (both ≈1), which Jaccard alone can't tell apart. Candidates come from
    // the banded MinHash join (sub-quadratic); the exact intersection runs
    // only on candidate pairs, reading ONE cached shingle-array table for
    // banding and verification (the single-shingling-pass rule).
    ("dedup_containment", (s, d) => {
      import s.implicits._
      val arrays = shingleStringArrays(corpus(s, d)).cache() // banding + both verify sides
      val cand = minhashCandidates(bandTable(arrays))
      cand.join(arrays.select($"doc_id".as("id1"), $"ts".as("t1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("t2")), "id2")
        .withColumn("common", size(array_intersect($"t1", $"t2")).cast("long"))
        .filter($"common" > 0)
        .select($"id1", $"id2", $"common",
          round($"common" / size($"t1"), 4).as("c12"),
          round($"common" / size($"t2"), 4).as("c21"))
        .withColumn("relation",
          when($"c12" >= 0.9 && $"c21" >= 0.9, "mutual")
            .when($"c12" >= 0.9, "id1_in_id2")
            .when($"c21" >= 0.9, "id2_in_id1")
            .otherwise("overlap"))
        .orderBy($"id1", $"id2")
    }, Some(
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |scored AS (
         |  SELECT c.id1, c.id2,
         |    CAST(len(list_intersect(a1.ts, a2.ts)) AS BIGINT) AS common,
         |    ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) AS DOUBLE)", 4)} AS c12,
         |    ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a2.ts) AS DOUBLE)", 4)} AS c21
         |  FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2)
         |SELECT id1, id2, common, c12, c21,
         |  CASE WHEN c12 >= 0.9 AND c21 >= 0.9 THEN 'mutual'
         |       WHEN c12 >= 0.9 THEN 'id1_in_id2'
         |       WHEN c21 >= 0.9 THEN 'id2_in_id1'
         |       ELSE 'overlap' END AS relation
         |FROM scored WHERE common > 0 ORDER BY id1, id2""".stripMargin)),

    // ---- triangle census of the verified near-dup graph: a triangle
    // (three mutually-similar docs) is the signature of a duplication
    // CLUSTER rather than a chance pair — here every doc_id % 35 == 0
    // plants one (original, exact copy, tailed copy are pairwise similar).
    // Graph-analytics shape at scale: the edge list is the (sparse)
    // verified pair set, oriented a<b<c so each triangle is counted once;
    // two hash self-joins, never a matrix product. Degree-ordered
    // orientation (order by degree before id) would bound the join fan-out
    // on power-law graphs — unnecessary at this graph's near-dup sparsity,
    // noted for the 100 TB form.
    ("dedup_graph_triangles", (s, d) => {
      import s.implicits._
      val arrays = shingleStringArrays(corpus(s, d)).cache()
      val cands = minhashCandidates(bandTable(arrays))
      val edges = cands
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("jaccard", $"common" / (size($"ts1") + size($"ts2") - $"common"))
        .filter($"jaccard" >= 0.5)
        .select($"id1", $"id2").cache() // read by all three join legs (spills; Bench clears)
      edges.as("ab").join(edges.as("bc"), $"ab.id2" === $"bc.id1")
        .join(edges.as("ac"),
          $"ac.id1" === $"ab.id1" && $"ac.id2" === $"bc.id2")
        .select($"ab.id1".as("a"), $"ab.id2".as("b"), $"bc.id2".as("c"))
        .orderBy($"a", $"b", $"c")
    }, Some(
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |edges AS (
         |  SELECT id1, id2 FROM (
         |    SELECT c.id1, c.id2,
         |      len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE) AS jaccard
         |    FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2)
         |  WHERE jaccard >= 0.5)
         |SELECT ab.id1 AS a, ab.id2 AS b, bc.id2 AS c
         |FROM edges ab JOIN edges bc ON ab.id2 = bc.id1
         |JOIN edges ac ON ac.id1 = ab.id1 AND ac.id2 = bc.id2
         |ORDER BY a, b, c""".stripMargin)),

    // ---- canonical-document selection per near-dup cluster: the operator
    // a cleaner runs AFTER clustering — which copy to KEEP. Rule: max total
    // similarity mass to cluster-mates (the most-central copy), tie →
    // longest text (the least-truncated copy), tie → lowest id
    // (deterministic). Mass is the exact-integer sum of the 4-decimal
    // jaccard weights (round(j·10⁴) per edge, summed as LONG —
    // order-invariant, no float accumulation), so both engines agree
    // bit-for-bit. Scale shape: the ranking window partitions by cluster
    // (bounded by cluster size, never corpus-wide); edges and labels are
    // the same sparse verified-pair set the other graph queries reuse.
    // PageRank was prototyped and rejected for this pick: near-dup clusters
    // are cliques, so its scores are uniform within a cluster — similarity
    // MASS (jaccard-weighted degree) is what actually separates members.
    ("dedup_canonical_pick", (s, d) => {
      import s.implicits._
      val c = corpus(s, d)
      val verj = verifiedPairsW(s, d) // persisted fixture; scanned by labels + both mass legs
      val labels = ccBigStar(verj.select($"id1", $"id2"))
      val wdeg = verj.select($"id1".as("id"), $"w")
        .unionByName(verj.select($"id2".as("id"), $"w"))
        .groupBy($"id").agg(sum($"w").as("mass_e4"))
      val lens = c.select($"doc_id".as("id"), length($"text").cast("long").as("tlen"))
      val rk = Window.partitionBy($"comp")
        .orderBy($"mass_e4".desc, $"tlen".desc, $"id".asc)
      labels.join(wdeg, "id").join(lens, "id")
        .withColumn("is_canonical", row_number().over(rk) === 1)
        .select($"id".as("doc_id"), $"comp".as("cluster_id"),
          $"mass_e4", $"tlen", $"is_canonical")
        .orderBy($"doc_id")
    }, Some {
      s"""WITH RECURSIVE $corpusSql,
         |${minhashSql("corpus", "")},
         |verj AS (
         |  SELECT id1, id2, CAST(round(jaccard * 10000, 0) AS BIGINT) AS w FROM (
         |    $scoredCandSql)
         |  WHERE jaccard >= 0.5),
         |edges AS (SELECT id1 AS a, id2 AS b FROM verj UNION ALL SELECT id2, id1 FROM verj),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |wdeg AS (
         |  SELECT id, CAST(sum(w) AS BIGINT) AS mass_e4 FROM (
         |    SELECT id1 AS id, w FROM verj UNION ALL SELECT id2, w FROM verj) GROUP BY id),
         |lens AS (SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS tlen FROM corpus)
         |SELECT c.id AS doc_id, c.cluster_id, mass_e4, tlen,
         |  (row_number() OVER (PARTITION BY cluster_id ORDER BY mass_e4 DESC, tlen DESC, c.id) = 1) AS is_canonical
         |FROM comp c JOIN wdeg USING (id) JOIN lens USING (id) ORDER BY doc_id""".stripMargin
    }),

    // ---- LSH band-layout tuning sweep: the SAME 16-value signatures keyed
    // three ways — 2 bands x 8 rows (high precision, low recall), the
    // production 4x4, and 8 x 2 (high recall, low precision) — with
    // candidate count and verified precision per layout in one query. This
    // is the measurement a pipeline runs BEFORE fixing its LSH config at a
    // new corpus scale: the S-curve P(cand) = 1-(1-j^r)^b moves with (b,r)
    // and the right point depends on the corpus' similarity distribution.
    // One signature pass feeds all three layouts; candidates are banded
    // equi-joins as ever; the jaccard verify runs ONCE on the distinct pair
    // union (the 8x2 set — 2x8 and 4x4 candidates are strict subsets: an
    // 8-row band match implies both 4-row halves match) and joins back per
    // config.
    ("dedup_lsh_band_sweep", (s, d) => {
      import s.implicits._
      val arrays = shingleStringArrays(corpus(s, d)).cache()
      val bandsAll = arrays.as[(Long, Array[String])]
        .flatMap { case (id, ts) => sweepBandRows(ts).map { case (c, b, k) => (id, c, b, k) } }
        .toDF("doc_id", "cfg", "band", "bkey")
      val candAll = bandsAll.as("x").join(bandsAll.as("y"),
          col("x.cfg") === col("y.cfg") && col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.cfg").as("cfg"), col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
        .distinct().cache() // read by the verify semi-pass + the final roll-up
      val uniq = candAll.select($"id1", $"id2").distinct()
      val ver = uniq
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("jaccard", round($"common" / (size($"ts1") + size($"ts2") - $"common"), 4))
        .select($"id1", $"id2", ($"jaccard" >= 0.5).as("ok"))
      candAll.join(ver, Seq("id1", "id2"))
        .groupBy($"cfg")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when($"ok", 1L).otherwise(0L)).as("n_verified"))
        .select(
          when($"cfg" === 0, "2x8").when($"cfg" === 1, "4x4").otherwise("8x2").as("config"),
          $"n_candidates", $"n_verified",
          round($"n_verified" / $"n_candidates", 4).as("prec"))
        .orderBy($"config")
    }, Some {
      val bandSelects = Seq((0, 8), (1, 4), (2, 2)).flatMap { case (cfg, r) =>
        (0 until 16 / r).map { b =>
          val key = (b * r until b * r + r).map(i => s"m$i").mkString(", ")
          s"SELECT doc_id, $cfg AS cfg, $b AS band, concat_ws(',', $key) AS bkey FROM sig"
        }
      }.mkString("\n  UNION ALL ")
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |bandsall AS (
         |  $bandSelects),
         |candall AS (
         |  SELECT DISTINCT x.cfg, x.doc_id AS id1, y.doc_id AS id2
         |  FROM bandsall x JOIN bandsall y
         |    ON x.cfg = y.cfg AND x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |uniq AS (SELECT DISTINCT id1, id2 FROM candall),
         |verq AS (
         |  SELECT u.id1, u.id2,
         |    ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} >= 0.5 AS ok
         |  FROM uniq u JOIN arr a1 ON a1.doc_id = u.id1 JOIN arr a2 ON a2.doc_id = u.id2)
         |SELECT CASE c.cfg WHEN 0 THEN '2x8' WHEN 1 THEN '4x4' ELSE '8x2' END AS config,
         |  count(*) AS n_candidates,
         |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
         |  ${rndSql("sum(CASE WHEN ok THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS prec
         |FROM candall c JOIN verq v ON v.id1 = c.id1 AND v.id2 = c.id2
         |GROUP BY c.cfg ORDER BY config""".stripMargin
    }),

    // ---- exact repeated-span detection (the substring-level dedup of Lee
    // et al. 2021, "Deduplicating Training Data Makes Language Models
    // Better", recast on fixed stride-aligned windows instead of a suffix
    // array — the suffix array's arbitrary-offset matches don't distribute;
    // stride-aligned spans keep the whole pass map-side + two hash
    // shuffles): every 32-char span at stride 16 is hashed, spans seen in
    // >= 2 distinct docs are duplicated text, and each doc reports the
    // fraction of its distinct spans that are duplicated. Per-doc distinct
    // is an array HOF (no shuffle); the only shuffles key on the 64-bit
    // span hash (count) and doc_id (report) — both map-side combinable.
    //
    // COLLISION ASSUMPTION (shared by every span/8-gram query in this file:
    // dedup_repeated_spans, dedup_matched_spans, dedup_span_islands,
    // dedup_ngram_novelty): Spark groups by xxhash64(span) while the oracle
    // groups by the raw string, so a 64-bit collision would silently merge
    // two distinct spans and break parity. Deliberate scale trade: shuffling
    // 8-byte keys instead of 32-char strings quarters the shuffle volume,
    // and the birthday bound keeps P(any collision) < 3·10⁻⁶ even at 10¹⁰
    // distinct spans (~100 TB of deduped text); at these corpus sizes it is
    // ~10⁻¹³. A cleaner that must be collision-proof groups by the span
    // string — the per-doc span sets are small, only the shuffle width
    // changes.
    ("dedup_repeated_spans", (s, d) => {
      import s.implicits._
      val (w, st) = (SpanLen, SpanStride)
      val c = corpus(s, d)
      // distinct spans per doc: positions 0, st, 2·st … while pos + w <= len
      val ex = c.filter(length($"text") >= w)
        .select($"doc_id", explode(array_distinct(transform(
          sequence(lit(0), ((length($"text") - w).cast("double") / st).cast("long")),
          i => $"text".substr((i * st + 1).cast("int"), lit(w))))).as("span"))
        .select($"doc_id", xxhash64($"span").as("h"))
      val cnt = ex.groupBy($"h").agg(count(lit(1)).as("ndocs")) // (doc,span) distinct -> count = doc count
      val per = ex.join(cnt, "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when($"ndocs" >= 2, 1L).otherwise(0L)).as("n_dup"))
      c.select($"doc_id").join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_spans", lit(0L)).as("n_spans"),
          coalesce($"n_dup", lit(0L)).as("n_dup"))
        .withColumn("dup_frac",
          when($"n_spans" === 0, lit(0.0)).otherwise(round($"n_dup" / $"n_spans", 4)))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |arr AS (
         |  SELECT doc_id, list_distinct(list_transform(range(0, (length(text)-$SpanLen)//$SpanStride + 1),
         |      i -> substr(text, CAST(i*$SpanStride+1 AS INT), $SpanLen))) AS spans
         |  FROM corpus WHERE length(text) >= $SpanLen),
         |ex AS (SELECT doc_id, unnest(spans) AS span FROM arr),
         |cnt AS (SELECT span, count(*) AS ndocs FROM ex GROUP BY span),
         |per AS (
         |  SELECT e.doc_id, count(*) AS n_spans,
         |    CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM ex e JOIN cnt USING (span) GROUP BY 1)
         |SELECT c.doc_id, coalesce(n_spans, 0) AS n_spans, coalesce(n_dup, 0) AS n_dup,
         |  CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
         |       ELSE ${rndSql("coalesce(n_dup, 0) / CAST(n_spans AS DOUBLE)", 4)} END AS dup_frac
         |FROM corpus c LEFT JOIN per USING (doc_id) ORDER BY c.doc_id""".stripMargin)),

    // ---- EXACT substring dedup via per-document SUFFIX ARRAYS (VERDICT
    // r10 #8 — the published Lee et al. formulation, upgrading the
    // stride-32 approximation above): duplicated text is detected at
    // ARBITRARY offsets. Per bounded document, a suffix array + Kasai LCP
    // walk (core.SuffixArrays, task-local, O(n log n) passes) enumerates
    // each DISTINCT 40-gram once with all its start positions — that
    // enumeration is the SA's win over hashing all n positions. Cross-doc
    // is the existing span-hash shape: one groupBy on the 64-bit gram hash
    // counts corpus-wide occurrences (within-doc repeats included), then
    // positions of grams seen >= 2 times collapse to maximal runs
    // (gaps-and-islands window per doc), giving the exact length of each
    // doc's longest duplicated substring anchored at whole matched grams:
    // longest_dup_span = max_run + K - 1. Planted contract: docs with an
    // exact copy or a tailed variant have their ENTIRE text duplicated —
    // full_dup = (longest_dup_span = length(text)) — which stride-aligned
    // spans cannot certify. Corpus-wide counts group by the gram STRING —
    // the oracle's exact key domain (no one-sided hash approximation).
    ("dedup_exact_substrings", (s, d) => {
      import s.implicits._
      val k = SubstrK
      val c = corpus(s, d)
      val ex = c.filter(length($"text") >= k)
        .select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          graft.core.SuffixArrays.kgramGroups(t, k).map { case (g, offs) =>
            (id, g, offs.map(_.toLong))
          }
        })
        .toDF("doc_id", "g", "offs")
        .select($"doc_id", $"g", $"offs",
          size($"offs").cast("long").as("n_occ"))
      // group by the gram STRING, the same key domain as the DuckDB
      // oracle — hashing only one side would make a 64-bit collision a
      // structural asymmetry rather than a shared approximation
      val cnt = ex.groupBy($"g").agg(sum($"n_occ").as("tot"))
      val dupOff = ex.join(cnt, "g").filter($"tot" >= 2)
        .select($"doc_id", explode($"offs").as("off"))
      val isl = dupOff.withColumn("grp",
        $"off" - row_number().over(Window.partitionBy($"doc_id").orderBy($"off")))
      val runs = isl.groupBy($"doc_id", $"grp").agg(count(lit(1)).as("run"))
      val per = runs.groupBy($"doc_id")
        .agg(max($"run").as("maxrun"), sum($"run").as("n_dup_pos"))
      c.select($"doc_id", length($"text").cast("long").as("tlen"))
        .join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          greatest($"tlen" - (k - 1), lit(0L)).as("n_pos"),
          coalesce($"n_dup_pos", lit(0L)).as("n_dup_pos"),
          coalesce($"maxrun" + (k - 1), lit(0L)).as("longest_dup_span"),
          (coalesce($"maxrun" + (k - 1), lit(0L)) === $"tlen").as("full_dup"))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |ex AS (
         |  SELECT doc_id, CAST(off AS BIGINT) AS off,
         |    substr(text, CAST(off + 1 AS INT), $SubstrK) AS g
         |  FROM (SELECT doc_id, text, unnest(range(0, length(text) - $SubstrK + 1)) AS off
         |        FROM corpus WHERE length(text) >= $SubstrK)),
         |cnt AS (SELECT g, count(*) AS tot FROM ex GROUP BY g),
         |dup AS (SELECT doc_id, off FROM ex JOIN cnt USING (g) WHERE tot >= 2),
         |isl AS (SELECT doc_id, off,
         |    off - row_number() OVER (PARTITION BY doc_id ORDER BY off) AS grp
         |  FROM dup),
         |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp),
         |per AS (SELECT doc_id, max(run) AS maxrun,
         |    CAST(sum(run) AS BIGINT) AS n_dup_pos FROM runs GROUP BY doc_id)
         |SELECT c.doc_id,
         |  greatest(CAST(length(c.text) - ${SubstrK - 1} AS BIGINT), 0) AS n_pos,
         |  coalesce(n_dup_pos, 0) AS n_dup_pos,
         |  CAST(coalesce(maxrun + ${SubstrK - 1}, 0) AS BIGINT) AS longest_dup_span,
         |  coalesce(maxrun + ${SubstrK - 1}, 0) = length(c.text) AS full_dup
         |FROM corpus c LEFT JOIN per USING (doc_id) ORDER BY c.doc_id""".stripMargin)),

    // ---- matched-span localization for verified near-dup pairs: WHERE the
    // shared text lives. For each Jaccard-verified pair, join the two docs'
    // stride-aligned span hashes and report the matched-span count plus the
    // first/last matching offsets on BOTH sides — the excision range a
    // substring-level cleaner needs (detection alone says "similar", not
    // "cut bytes 128..480"). Span emission is map-side; the only new
    // shuffles key on (doc, span-hash).
    ("dedup_matched_spans", (s, d) => {
      import s.implicits._
      val (wl, st) = (SpanLen, SpanStride)
      val c = corpus(s, d)
      val spans = c.filter(length($"text") >= wl)
        .select($"doc_id", posexplode(transform(
          sequence(lit(0), ((length($"text") - wl).cast("double") / st).cast("long")),
          i => $"text".substr((i * st + 1).cast("int"), lit(wl)))).as(Seq("k", "span")))
        .select($"doc_id", ($"k" * st).cast("long").as("off"), xxhash64($"span").as("h"))
      val arrays = shingleStringArrays(c).cache()
      val pairs = minhashCandidates(bandTable(arrays))
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("j", $"common" / (size($"ts1") + size($"ts2") - $"common"))
        .filter($"j" >= 0.5)
        .select($"id1", $"id2")
      pairs
        .join(spans.select($"doc_id".as("id1"), $"off".as("off1"), $"h"), "id1")
        .join(spans.select($"doc_id".as("id2"), $"off".as("off2"), $"h"), Seq("id2", "h"))
        .groupBy($"id1", $"id2")
        .agg(countDistinct($"h").as("n_matched_spans"),
          min($"off1").as("first_off1"), max($"off1").as("last_off1"),
          min($"off2").as("first_off2"), max($"off2").as("last_off2"))
        .orderBy($"id1", $"id2")
    }, Some(
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |pairs AS (
         |  SELECT id1, id2 FROM (
         |    SELECT c.id1, c.id2,
         |      len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE) AS j
         |    FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2)
         |  WHERE j >= 0.5),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, (length(text)-$SpanLen)//$SpanStride + 1), i -> CAST(i*$SpanStride AS BIGINT))) AS off,
         |    unnest(list_transform(range(0, (length(text)-$SpanLen)//$SpanStride + 1), i -> substr(text, CAST(i*$SpanStride+1 AS INT), $SpanLen))) AS span
         |  FROM corpus WHERE length(text) >= $SpanLen),
         |m AS (
         |  SELECT p.id1, p.id2, s1.span, s1.off AS off1, s2.off AS off2
         |  FROM pairs p JOIN spans s1 ON s1.doc_id = p.id1
         |  JOIN spans s2 ON s2.doc_id = p.id2 AND s2.span = s1.span)
         |SELECT id1, id2, CAST(count(DISTINCT span) AS BIGINT) AS n_matched_spans,
         |  min(off1) AS first_off1, max(off1) AS last_off1,
         |  min(off2) AS first_off2, max(off2) AS last_off2
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- contiguous excision ranges (gaps-and-islands over matched
    // spans): the matched offsets of a near-dup pair coalesce into runs —
    // consecutive offsets ≤ stride apart are one island — giving the
    // cleaner byte ranges to cut, not a scatter of span starts. The island
    // window partitions per (pair) over tens of offsets, never the corpus;
    // island end covers the span tail (+SpanLen).
    ("dedup_span_islands", (s, d) => {
      import s.implicits._
      val (wl, st) = (SpanLen, SpanStride)
      val c = corpus(s, d)
      val spans = c.filter(length($"text") >= wl)
        .select($"doc_id", posexplode(transform(
          sequence(lit(0), ((length($"text") - wl).cast("double") / st).cast("long")),
          i => $"text".substr((i * st + 1).cast("int"), lit(wl)))).as(Seq("k", "span")))
        .select($"doc_id", ($"k" * st).cast("long").as("off"), xxhash64($"span").as("h"))
      val arrays = shingleStringArrays(c).cache()
      val pairs = minhashCandidates(bandTable(arrays))
        .join(arrays.select($"doc_id".as("id1"), $"ts".as("ts1")), "id1")
        .join(arrays.select($"doc_id".as("id2"), $"ts".as("ts2")), "id2")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("j", $"common" / (size($"ts1") + size($"ts2") - $"common"))
        .filter($"j" >= 0.5)
        .select($"id1", $"id2")
      val matched = pairs
        .join(spans.select($"doc_id".as("id1"), $"h"), "id1")
        .join(spans.select($"doc_id".as("id2"), $"off", $"h"), Seq("id2", "h"))
        .select($"id1", $"id2", $"off").distinct()
      val wp = Window.partitionBy($"id1", $"id2").orderBy($"off")
      val wrun = Window.partitionBy($"id1", $"id2").orderBy($"off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      matched
        .withColumn("gap", when(
          $"off" - lag($"off", 1).over(wp) > st || lag($"off", 1).over(wp).isNull, 1L).otherwise(0L))
        .withColumn("island", sum($"gap").over(wrun))
        .groupBy($"id1", $"id2", $"island")
        .agg(min($"off").as("start_off"), (max($"off") + wl).as("end_off"),
          count(lit(1)).as("n_spans"))
        .select($"id1", $"id2", ($"island" - 1).as("island_idx"),
          $"start_off", $"end_off", $"n_spans")
        .orderBy($"id1", $"id2", $"island_idx")
    }, Some(
      s"""WITH $corpusSql,
         |${minhashSql("corpus", "")},
         |pairs AS (
         |  SELECT id1, id2 FROM (
         |    SELECT c.id1, c.id2,
         |      len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE) AS j
         |    FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2)
         |  WHERE j >= 0.5),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, (length(text)-$SpanLen)//$SpanStride + 1), i -> CAST(i*$SpanStride AS BIGINT))) AS off,
         |    unnest(list_transform(range(0, (length(text)-$SpanLen)//$SpanStride + 1), i -> substr(text, CAST(i*$SpanStride+1 AS INT), $SpanLen))) AS span
         |  FROM corpus WHERE length(text) >= $SpanLen),
         |matched AS (
         |  SELECT DISTINCT p.id1, p.id2, s2.off
         |  FROM pairs p JOIN spans s1 ON s1.doc_id = p.id1
         |  JOIN spans s2 ON s2.doc_id = p.id2 AND s2.span = s1.span),
         |flagged AS (
         |  SELECT id1, id2, off,
         |    CASE WHEN lag(off) OVER (PARTITION BY id1, id2 ORDER BY off) IS NULL
         |           OR off - lag(off) OVER (PARTITION BY id1, id2 ORDER BY off) > $SpanStride
         |         THEN 1 ELSE 0 END AS gap
         |  FROM matched),
         |runs AS (
         |  SELECT id1, id2, off,
         |    sum(gap) OVER (PARTITION BY id1, id2 ORDER BY off ROWS UNBOUNDED PRECEDING) AS island
         |  FROM flagged)
         |SELECT id1, id2, CAST(island - 1 AS BIGINT) AS island_idx,
         |  min(off) AS start_off, max(off) + $SpanLen AS end_off,
         |  count(*) AS n_spans
         |FROM runs GROUP BY id1, id2, island
         |ORDER BY id1, id2, island_idx""".stripMargin)),

    // ---- word 8-gram novelty vs earlier corpus: for each doc, the
    // fraction of its distinct 8-grams whose FIRST occurrence (min doc_id
    // over the corpus) is the doc itself — the temporal-dedup curve a
    // crawl-ordered ingest pipeline uses to measure marginal new content.
    // Same two-shuffle shape as repeated spans (gram-hash agg, doc report);
    // gram emission is a per-row HOF.
    ("dedup_ngram_novelty", (s, d) => {
      import s.implicits._
      val n = NoveltyGram
      val c = corpus(s, d)
      val ex = c.select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= n)
        .select($"doc_id", explode(array_distinct(transform(
          sequence(lit(1), size($"t") - (n - 1)),
          i => array_join(slice($"t", i, lit(n)), " ")))).as("g"))
        .select($"doc_id", xxhash64($"g").as("h"))
      val firsts = ex.groupBy($"h").agg(min($"doc_id").as("first_doc"))
      val per = ex.join(firsts, "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      c.select($"doc_id").join(per, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_grams", lit(0L)).as("n_grams"),
          coalesce($"n_novel", lit(0L)).as("n_novel"))
        .withColumn("novelty",
          when($"n_grams" === 0, lit(1.0)).otherwise(round($"n_novel" / $"n_grams", 4)))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM corpus),
         |grams AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-${NoveltyGram - 2}),
         |      i -> array_to_string(t[i:i+${NoveltyGram - 1}], ' '))) AS gs
         |  FROM toks WHERE len(t) >= $NoveltyGram),
         |ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
         |firsts AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g),
         |per AS (
         |  SELECT e.doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM ex e JOIN firsts USING (g) GROUP BY 1)
         |SELECT c.doc_id, coalesce(n_grams, 0) AS n_grams, coalesce(n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(n_grams, 0) = 0 THEN 1.0
         |       ELSE ${rndSql("n_novel / CAST(n_grams AS DOUBLE)", 4)} END AS novelty
         |FROM corpus c LEFT JOIN per USING (doc_id) ORDER BY c.doc_id""".stripMargin)),

    // ---- incremental-ingest dedup: classify an arriving batch against an
    // EXISTING reference corpus — the crawl-refresh shape (the nightly batch
    // never re-pairs with itself, only against the index). Existing = base
    // docs with doc_id % 3 != 0 (the %3==0 holdout plants guaranteed
    // 'novel' arrivals: their copies have no surviving source); new = the
    // planted copies/tails (>= 100000). Verdict ladder: 'exact' (md5 text
    // match) beats 'near' (cross-set LSH candidate verified at jaccard >=
    // 0.5) beats 'novel'; src_id = lowest matching existing id, -1 for
    // novel. Scale shape: both probes are equi-joins keyed on md5 / band
    // buckets — the new batch (small) streams against the existing index
    // without the index ever self-joining, which is what makes nightly
    // re-ingest affordable at 100 TB.
    ("pipeline_incremental_dedup", (s, d) => {
      import s.implicits._
      val c = corpus(s, d)
      val existing = c.filter($"doc_id" < 100000 && $"doc_id" % 3 =!= 0)
      val nw = c.filter($"doc_id" >= 100000)
      val exact = nw.select($"doc_id", md5($"text").as("k"))
        .join(existing.select(md5($"text").as("k"), $"doc_id".as("sid")), "k")
        .groupBy($"doc_id").agg(min($"sid").as("exact_src"))
      val arrE = shingleStringArrays(existing).cache()
      val arrN = shingleStringArrays(nw).cache()
      val cand = bandTable(arrN).as("x").join(bandTable(arrE).as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("sid")).distinct()
      val near = cand
        .join(arrN.select($"doc_id", $"ts".as("ts1")), "doc_id")
        .join(arrE.select($"doc_id".as("sid"), $"ts".as("ts2")), "sid")
        .withColumn("common", size(array_intersect($"ts1", $"ts2")))
        .withColumn("j", round($"common" / (size($"ts1") + size($"ts2") - $"common"), 4))
        .filter($"j" >= 0.5)
        .groupBy($"doc_id").agg(min($"sid").as("near_src"))
      nw.select($"doc_id")
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"exact_src".isNotNull, "exact")
            .when($"near_src".isNotNull, "near").otherwise("novel").as("verdict"),
          coalesce($"exact_src", $"near_src", lit(-1L)).as("src_id"))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH $corpusSql,
         |existing AS (SELECT doc_id, text FROM corpus WHERE doc_id < 100000 AND doc_id % 3 <> 0),
         |nw AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 100000),
         |${minhashSql("existing", "_e")},
         |${minhashSql("nw", "_n")},
         |ex AS (
         |  SELECT n.doc_id, min(e.doc_id) AS exact_src
         |  FROM nw n JOIN existing e ON md5(n.text) = md5(e.text) GROUP BY 1),
         |xc AS (
         |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS sid
         |  FROM bands_n x JOIN bands_e y ON x.band = y.band AND x.bkey = y.bkey),
         |nr AS (
         |  SELECT doc_id, min(sid) AS near_src FROM (
         |    SELECT c.doc_id, c.sid,
         |      ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS j
         |    FROM xc c JOIN arr_n a1 ON a1.doc_id = c.doc_id JOIN arr_e a2 ON a2.doc_id = c.sid)
         |  WHERE j >= 0.5 GROUP BY 1)
         |SELECT n.doc_id,
         |  CASE WHEN ex.exact_src IS NOT NULL THEN 'exact'
         |       WHEN nr.near_src IS NOT NULL THEN 'near' ELSE 'novel' END AS verdict,
         |  coalesce(ex.exact_src, nr.near_src, -1) AS src_id
         |FROM nw n LEFT JOIN ex ON ex.doc_id = n.doc_id LEFT JOIN nr ON nr.doc_id = n.doc_id
         |ORDER BY n.doc_id""".stripMargin))
  )

  /** Repeated-span window: 32 chars at stride 16 — adjacent spans overlap
    * by half, so any duplicated run >= 47 chars is guaranteed to contain at
    * least one aligned span on both sides.
    */
  private val SpanLen = 32
  private val SpanStride = 16
  // dedup_exact_substrings anchor-gram length: duplicated substrings of
  // >= SubstrK chars are detected at ARBITRARY offsets (Lee et al.'s
  // exact-substring threshold, scaled to this corpus's ~500-char docs).
  private val SubstrK = 40

  /** Novelty n-gram order (word 8-grams — the decontamination standard). */
  private val NoveltyGram = 8

  /** Document-frequency cut for the Jaccard inverted index: shingles in more
    * than this many docs are stop-shingles and never generate pairs. Bounds
    * any single pair-emission task at cap²/2 ≈ 131k pairs. (This corpus's
    * max df is ~715, so the cut is live even at sf0.01 — and the oracle SQL
    * applies the identical cut, keeping the hash check exact.)
    */
  private val JaccardDfCap = 512

  /** Probe sampling stride for dedup_lsh_recall_sampled: exact ground truth
    * is computed only for doc_id % ProbeStride = 0 (~2% of the corpus), so
    * the exact leg stays linear at any scale.
    */
  private val ProbeStride = 50

  /** Salting block size for Jaccard pair emission: work units carry at most
    * JaccardBlock² ≈ 4k pairs, so even a df-cap-sized group fans out across
    * (cap/block)·(cap/block+1)/2 = 36 tasks instead of one.
    */
  private val JaccardBlock = 64

  /** One shingle group's id array → salted (block_i, block_j, diagonal)
    * work units. The array is sorted in place, so every element of block i
    * is < every element of block j for i < j, and [[unitRows]] can emit
    * ordered pairs without comparisons. (BlockedPairsProps pins that the
    * two stages together reproduce the naive single-pass emission exactly.)
    */
  private[operators] def blockUnits(a: Array[Long]): Iterator[(Array[Long], Array[Long], Boolean)] = {
    java.util.Arrays.sort(a)
    require(a.isEmpty || a(0) >= 0,
      "dedup_ngram_jaccard: negative doc_id collides with the -1 size-marker sentinel")
    val blocks = a.grouped(JaccardBlock).toArray
    for {
      i <- blocks.indices.iterator
      j <- (i until blocks.length).iterator
    } yield (blocks(i), blocks(j), i == j)
  }

  /** One capped shingle group → directed (probe, neighbor) pair rows for
    * every member probe (doc_id % [[ProbeStride]] = 0) plus one (doc, -1)
    * size marker per member — the sampled-recall twin of
    * [[blockUnits]]/[[unitRows]] fused into one pass (no block salting:
    * probe fan-out is cap·(probes in group) <= cap·cap/stride, far below
    * the full pass's cap²/2 straggler bound).
    */
  private[operators] def probePairRows(a: Array[Long]): Seq[(Long, Long)] = {
    require(a.isEmpty || a.forall(_ >= 0),
      "dedup_lsh_recall_sampled: negative doc_id collides with the -1 size-marker sentinel")
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](a.length * 2)
    var i = 0
    while (i < a.length) {
      out += ((a(i), -1L)) // size marker: one per (shingle, doc)
      if (a(i) % ProbeStride == 0) {
        var j = 0
        while (j < a.length) {
          if (j != i) out += ((a(i), a(j)))
          j += 1
        }
      }
      i += 1
    }
    out.toSeq
  }

  /** One work unit → (id1, id2) pair rows plus, on the diagonal unit, one
    * (id, -1) size marker per member. <= JaccardBlock² pairs per unit.
    */
  private[operators] def unitRows(
      bi: Array[Long], bj: Array[Long], diag: Boolean): Seq[(Long, Long)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
      JaccardBlock * (JaccardBlock + 1))
    var i = 0
    while (i < bi.length) {
      if (diag) {
        out += ((bi(i), -1L)) // size marker: one per (shingle, doc)
        var j = i + 1
        while (j < bi.length) { out += ((bi(i), bi(j))); j += 1 }
      } else {
        var j = 0
        while (j < bj.length) { out += ((bi(i), bj(j))); j += 1 }
      }
      i += 1
    }
    out.toSeq
  }

  /** Round bound for the dedup_clusters label-propagation fixpoint: one
    * round per hop of component diameter, so 64 covers any cluster a dedup
    * pipeline should ever see (diameter-64 near-dup chains are a data bug,
    * not a workload).
    */
  private[operators] val MaxCcRounds = 64

  /** DataFrame-only connected components over an (id1, id2) edge list by
    * iterative min-label propagation → (id, comp). Converges in O(component
    * diameter) rounds — shallow for near-dup clusters, but a pathological
    * chain corpus (A~B~C~...) has diameter O(n), so the fixpoint is BOUNDED
    * and fails loudly instead of looping forever (ClusterConvergenceSpec
    * pins both the bound and fixpoint-consistency of the labels). Each round
    * is one shuffle of the edge table; localCheckpoint keeps the lineage
    * from re-running every prior round (and the upstream pair generation)
    * per iteration. The checkpoint is LAZY and the convergence count is the
    * action that materializes it — ONE Spark job per round, not a
    * checkpoint job plus a count job (halves actions for deep components).
    */
  private[operators] def connectedComponents(
      pairs: DataFrame, maxRounds: Int = MaxCcRounds): DataFrame = {
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val prop = edges.join(labels.select(col("id").as("nb"), col("comp").as("ncomp")), col("b") === col("nb"))
        .groupBy(col("a")).agg(min(col("ncomp")).as("best"))
      val next = labels.join(prop, col("id") === col("a"), "left")
        .select(col("id"), col("comp"), least(col("comp"), coalesce(col("best"), col("comp"))).as("comp2"))
        .localCheckpoint(eager = false)
      changed = next.filter(col("comp2") < col("comp")).count() // materializes the checkpoint
      labels = next.select(col("id"), col("comp2").as("comp"))
      round += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents: label propagation did not converge in $maxRounds rounds " +
        "(component diameter exceeds the bound — raise maxRounds or pre-contract the graph)")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) over an
    * (id1, id2) pair list → (id, comp), comp = component min id — label-
    * identical to [[connectedComponents]] (pinned by CcBigStarSpec).
    *
    * This is the 100 TB counterpart of min-label propagation: propagation
    * needs O(component diameter) rounds and re-shuffles the FULL edge list
    * every round, so a chain-shaped component (A~B~C~…, the pathological
    * corpus that trips the MaxCcRounds guard) costs O(n) rounds.
    * Large/small-star converges in O(log n) rounds on ANY topology and
    * CONTRACTS the edge list toward the final star forest as it goes — late
    * rounds shuffle an already-collapsed graph. Per half-round: one
    * map-side-combinable min() hash-aggregate keyed on node id plus one
    * equi-join of the (shrinking) adjacency rows against that per-node min
    * (skew on a hot canonical is bounded by its current degree, which the
    * contraction itself collapses). Convergence = the star-forest test,
    * ONE fused action per round: every src has exactly one parent
    * (|rows| == |distinct src|) and no parent is itself a child (no dst in
    * the src set). A big→small star forest is exactly the alternation's
    * fixpoint — each root is its star's min by orientation, and one star
    * per component because every step preserves connectivity.
    */
  private[operators] def ccBigStar(
      pairs: DataFrame, maxRounds: Int = MaxCcRounds): DataFrame = {
    // canonical big→small orientation (src > dst); the pair list never
    // contains self-loops (id1 < id2 by construction upstream)
    var edges = pairs.select(
        greatest(col("id1"), col("id2")).as("src"),
        least(col("id1"), col("id2")).as("dst"))
      .distinct().localCheckpoint()
    var changed = edges.count() > 0
    var round = 0
    while (changed && round < maxRounds) {
      // large-star(u): every strictly-larger neighbor v > u links to
      // m = min(Γ(u) ∪ {u}); edges to smaller neighbors re-emerge from the
      // smaller endpoint's own group, so connectivity is preserved.
      val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
      val lsMin = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = nbrs.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      // small-star(u): u and all its smaller neighbors N = {v < u} link to
      // min(N) — run on the big→small orientation, so N is exactly dst(u).
      val smallN = large.select(col("src").as("u"), col("dst").as("v"))
      val ssMin = smallN.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = smallN.join(ssMin, "u")
        .select(col("v").as("x"), col("m"))
        .unionByName(ssMin.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(greatest(col("x"), col("m")).as("src"),
          least(col("x"), col("m")).as("dst"))
        .distinct().localCheckpoint(eager = false)
      // star-forest test; this single action also materializes the checkpoint
      val chk = next
        .join(next.select(col("src").as("z")).distinct(),
          col("dst") === col("z"), "left")
        .agg(count(lit(1)).as("n"), count_distinct(col("src")).as("ns"),
          count(col("z")).as("bad")).head()
      changed = !(chk.getLong(0) == chk.getLong(1) && chk.getLong(2) == 0L)
      edges = next
      round += 1
    }
    if (changed) throw new IllegalStateException(
      s"ccBigStar: large/small-star did not converge in $maxRounds rounds " +
        "(O(log n) bound exceeded — inspect the edge list for corruption)")
    // fixpoint = star forest: every non-root points straight at its
    // component min; roots appear only on the dst side.
    val nonRoot = edges.select(col("src").as("id"), col("dst").as("comp"))
    val roots = edges.select(col("dst").as("id")).distinct()
      .join(nonRoot.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    nonRoot.unionByName(roots)
  }

  /** Eval-side id offset for pipeline_decontaminate_fuzzy. NOT a small
    * constant: ScaleUp replicas remap doc_ids into +10M blocks, so the
    * eval marker must sit far above ANY rescaled corpus id or the
    * cross-side filter silently misclassifies replica docs as eval rows
    * (measured: a +500000 offset froze the flag count at the base
    * replica's 110 across 10×/100×). 10¹² clears a hundred thousand
    * 10M-blocks.
    */
  private val FuzzyEvalOffset = 1000000000000L

  // ------------------------------------------------------ minhash constants
  private val Bands = 4
  private val Rows = 4
  /** 16 fixed (a, b) permutation constants, a in [1, P-1]; literals are
    * embedded in both the Spark plan and the oracle SQL text.
    */
  private val Perms: Seq[(Long, Long)] =
    (0 until Bands * Rows).map { i =>
      ((2654435761L * (i + 1)) % (P - 2) + 1, (1103515245L * (i + 7)) % P)
    }
  private val PermsArr: Array[(Long, Long)] = Perms.toArray

  // ------------------------------------------------------- simhash pieces
  private val SimBits = 32

  /** (doc_id, simhash) over the derived corpus: count-weighted token-hash
    * bits, bit b set iff sum(cnt * (2*bit_b(h)-1)) > 0.
    *
    * Fused per-doc JVM pass (tokenize → count → 32 signed-bit accumulators)
    * instead of explode + groupBy(doc, tok) + a 32-sum aggregation — the
    * signature stage drops from two shuffles to zero, and at 100 TB the
    * token rows never materialize. Arithmetic is exactly the oracle's
    * (h60 token hash, Long sums, > 0 bit test), so results stay identical.
    */
  private def simhashTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    corpus(s, d).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = Portable.Whitespace.split(text.trim)
          val cnt = new java.util.HashMap[String, Long]
          var i = 0
          while (i < toks.length) {
            cnt.merge(toks(i), 1L, (a, b) => a + b)
            i += 1
          }
          val sums = new Array[Long](SimBits)
          cnt.forEach { (tok, c) =>
            val h = h60Jvm(tok)
            var b = 0
            while (b < SimBits) {
              sums(b) += c * (((h >>> b) & 1L) * 2L - 1L)
              b += 1
            }
          }
          var sim = 0L
          var b = 0
          while (b < SimBits) {
            if (sums(b) > 0) sim |= (1L << b)
            b += 1
          }
          (id, sim)
        }
      }.toDF("doc_id", "simhash")
  }

  private def simhashSql: String = {
    val toks = tokensSql("text")
    val sumExprs = (0 until SimBits)
      .map(b => s"sum(cnt * (((h >> $b) & 1) * 2 - 1)) AS s$b").mkString(",\n    ")
    val combine = (0 until SimBits)
      .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""tokcnt AS (
       |  SELECT doc_id, tok, count(*) AS cnt, ${h60Sql("tok")} AS h
       |  FROM (SELECT doc_id, unnest($toks) AS tok FROM corpus)
       |  GROUP BY doc_id, tok),
       |sums AS (
       |  SELECT doc_id,
       |    $sumExprs
       |  FROM tokcnt GROUP BY doc_id),
       |sim AS (SELECT doc_id, $combine AS simhash FROM sums)""".stripMargin
  }

  /** Oracle for pipeline_clean_corpus, shared VERBATIM with
    * pipeline_stage_funnel (which wraps it in a roll-up) so the per-doc
    * verdicts and the run report cannot drift.
    */
  private lazy val cleanCorpusOracleSql: String = {
    val toks = tokensSql("text")
    s"""WITH $corpusSql,
       |q AS (
       |  SELECT doc_id, text,
       |    (0.5*(1.0 - length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE))
       |     + 0.5*least(length(regexp_replace(text,'\\s+','','g')) / CAST(len($toks) AS DOUBLE) / 8.0, 1.0)) >= 0.45 AS q_ok
       |  FROM corpus),
       |kept1 AS (SELECT doc_id, text FROM q WHERE q_ok),
       |canon AS (
       |  SELECT doc_id, text,
       |    min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS canonical
       |  FROM kept1),
       |kept2 AS (SELECT doc_id, text FROM canon WHERE doc_id = canonical),
       |${minhashSql("kept2", "2")},
       |near AS (
       |  SELECT DISTINCT id2 AS doc_id FROM (
       |    SELECT c.id1, c.id2,
       |      ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS jaccard
       |    FROM cand2 c JOIN arr2 a1 ON a1.doc_id = c.id1 JOIN arr2 a2 ON a2.doc_id = c.id2)
       |  WHERE jaccard >= 0.5)
       |SELECT q.doc_id,
       |  CASE WHEN NOT q.q_ok THEN 'quality'
       |       WHEN c.doc_id <> c.canonical THEN 'exact_dup'
       |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       |       ELSE 'kept' END AS stage
       |FROM q LEFT JOIN canon c ON c.doc_id = q.doc_id LEFT JOIN near n ON n.doc_id = q.doc_id
       |ORDER BY q.doc_id""".stripMargin
  }
}
