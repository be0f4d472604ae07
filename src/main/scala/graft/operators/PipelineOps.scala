package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-preparation operators a training-data pipeline needs around the
  * dedup/similarity/text stages (beyond the reference's surface — the
  * reference has no relational layer at all, SURVEY §2.5):
  *
  *  - column profiling, single-pass and incrementally merged,
  *  - privacy audits and releases (PII redaction, k-anonymity,
  *    l-diversity, a differentially-private histogram) and PSI drift,
  *  - sequence packing and sliding context windows,
  *  - schema-on-read JSON/CSV ingestion with corrupt-record capture,
  *  - curation reports (dataset card, dedup stack, line dedup, C4
  *    filters, dataset diff, shard manifest, skew report, expectations).
  *
  * Sampling, decontamination, layout and lake serving live in their own
  * registries ([[SamplingQueries]], [[DecontamQueries]],
  * [[LayoutQueries]], [[LakeServeQueries]]). Every query keeps an exact
  * DuckDB oracle: the transforms are pure functions of md5/token
  * arithmetic that both engines compute bit-identically.
  */
object PipelineOps extends graft.QueryRegistry {
  import Portable._

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- incremental profile maintenance (the table-stats merge law):
    // column profiles (count / min / max / NDV) maintained by MERGING a
    // base-slice profile with a delta-slice profile instead of rescanning —
    // how 100 TB table statistics actually stay fresh. count/min/max merge
    // by sum/min/max; the NDV sketch is a KMV bottom-64 of the distinct
    // value hashes, and bottom-k is CLOSED under union (any of the global
    // 64 smallest is among its own slice's 64 smallest), so the merged
    // sketch equals the full-scan sketch EXACTLY — not approximately — and
    // the merge_eq column asserts that identity per column, while
    // ndv_est = (K−1)·2⁶⁰ div kth (Beyer et al. 2007, the q66 estimator)
    // shows what the sketch would report at scale beside the exact NDV.
    // Scale shape: per column one distinct + TakeOrdered(64) per slice
    // (never a collect of the value set), 1-row profile frames combined
    // with array functions.
    ("pipeline_profile_merge", (s, d) => {
      import s.implicits._
      // r18 restructure (guide §2.3/§2.4): the old form ran 12 separate
      // profiles (4 columns × {full, base, delta}), each paying its own
      // distinct shuffle + TakeOrdered(64) over lineitem — ~24 exchanges,
      // 31 AQE jobs, 1.7-2.3 s. Now ONE explode of the four profiled
      // columns feeds TWO aggregation passes (per-(col,slice) and per-col),
      // with the KMV sketch as a mergeable bottom-64-DISTINCT aggregate
      // (MinKDistinctAgg: O(64) state, map-side partials — the exchange
      // carries ≤ 64 hashes per partition per group at any scale, never
      // the value set). The full-scan profile is still computed FROM THE
      // FULL SCAN (second agg pass), so merge_eq keeps demonstrating the
      // merge law rather than assuming it. Note the sketch dedupes by
      // HASH, exactly like the oracle's SELECT DISTINCT h (the old Spark
      // form deduped by value then hashed — identical short of an h60
      // collision, where the new form now matches the oracle).
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      val minK = udaf(new graft.functions.MinKDistinctAgg(64))
        .withName("min_k_distinct_64")
      val vals = Tables.lineitem(s, d)
        .select(($"l_orderkey" % 10 === 9).as("isd"),
          explode(array(cols.map(c =>
            struct(lit(c).as("c"), col(c).cast("long").as("v"))): _*)).as("x"))
        .select($"x.c".as("col"), $"x.v".as("v"), $"isd",
          h60(concat($"x.c", lit(":"), $"x.v")).as("h"))
      val sliced = vals.groupBy($"col", $"isd")
        .agg(count(lit(1)).as("n"), min($"v").as("min_v"),
          max($"v").as("max_v"), minK($"h").as("kmv"))
      val base = sliced.filter(!$"isd")
        .select($"col", $"n".as("n_b"), $"min_v".as("mn_b"),
          $"max_v".as("mx_b"), $"kmv".as("k_b"))
      val delta = sliced.filter($"isd")
        .select($"col", $"n".as("n_d"), $"min_v".as("mn_d"),
          $"max_v".as("mx_d"), $"kmv".as("k_d"))
      val full = vals.groupBy($"col")
        .agg(count(lit(1)).as("n"), min($"v").as("min_v"),
          max($"v").as("max_v"), countDistinct($"v").as("ndv_exact"),
          minK($"h").as("kmv"))
      full.join(broadcast(base), "col").join(broadcast(delta), "col")
        .withColumn("k_m",
          slice(array_sort(array_distinct(concat($"k_b", $"k_d"))), 1, 64))
        .withColumn("merge_eq",
          $"n_b" + $"n_d" === $"n" && least($"mn_b", $"mn_d") === $"min_v" &&
            greatest($"mx_b", $"mx_d") === $"max_v" && $"k_m" === $"kmv")
        .withColumn("ndv_est",
          when(size($"kmv") < 64, size($"kmv").cast("long"))
            .otherwise(expr("(1152921504606846976L div element_at(kmv, 64)) * 63L")))
        .select($"col", $"n", $"min_v", $"max_v",
          $"ndv_exact", $"ndv_est", $"merge_eq")
        .orderBy($"col")
    }, Some {
      def colSql(c: String): String = {
        val h = h60Sql(s"'$c:' || v")
        s"""SELECT '$c' AS col, f.n, f.min_v, f.max_v, f.ndv_exact,
           |  CASE WHEN len(f.kmv) < 64 THEN CAST(len(f.kmv) AS BIGINT)
           |    ELSE (1152921504606846976 // f.kmv[64]) * 63 END AS ndv_est,
           |  (b.n + de.n = f.n AND least(b.min_v, de.min_v) = f.min_v
           |    AND greatest(b.max_v, de.max_v) = f.max_v
           |    AND (list_sort(list_distinct(list_concat(b.kmv, de.kmv)))[1:64] = f.kmv))
           |    AS merge_eq
           |FROM (
           |  SELECT count(*) AS n, min(v) AS min_v, max(v) AS max_v,
           |    count(DISTINCT v) AS ndv_exact,
           |    (SELECT list(h ORDER BY h) FROM (
           |      SELECT DISTINCT $h AS h FROM (SELECT CAST($c AS BIGINT) AS v FROM lineitem)
           |      ORDER BY h LIMIT 64)) AS kmv
           |  FROM (SELECT CAST($c AS BIGINT) AS v FROM lineitem)) f
           |CROSS JOIN (
           |  SELECT count(*) AS n, min(v) AS min_v, max(v) AS max_v,
           |    (SELECT list(h ORDER BY h) FROM (
           |      SELECT DISTINCT $h AS h FROM (
           |        SELECT CAST($c AS BIGINT) AS v FROM lineitem WHERE l_orderkey % 10 <> 9)
           |      ORDER BY h LIMIT 64)) AS kmv
           |  FROM (SELECT CAST($c AS BIGINT) AS v FROM lineitem WHERE l_orderkey % 10 <> 9)) b
           |CROSS JOIN (
           |  SELECT count(*) AS n, min(v) AS min_v, max(v) AS max_v,
           |    (SELECT list(h ORDER BY h) FROM (
           |      SELECT DISTINCT $h AS h FROM (
           |        SELECT CAST($c AS BIGINT) AS v FROM lineitem WHERE l_orderkey % 10 = 9)
           |      ORDER BY h LIMIT 64)) AS kmv
           |  FROM (SELECT CAST($c AS BIGINT) AS v FROM lineitem WHERE l_orderkey % 10 = 9)) de""".stripMargin
      }
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        .map(colSql).mkString("", "\nUNION ALL\n", "\nORDER BY col")
    }),

    // ---- differentially-private noisy histogram (Dwork et al. 2006) — the
    // third leg of the privacy family (pii_redact: content; k_anonymity:
    // quasi-identifiers; here: published AGGREGATES). Customers-per-nation
    // with Laplace(b = Δ/ε = 1/0.5 = 2) noise via the inverse CDF
    // −b·sign(u−½)·ln(1−2|u−½|). The uniform u is DERIVED (h60 of the
    // bucket key, mid-point offset into (0,1)) — a seeded mechanism, which
    // is what makes the query oracle-checkable; a production release draws
    // u from a CSPRNG and publishes ONLY the noisy column. True counts ride
    // along here because this is the mechanism AUDIT on a non-sensitive
    // test table (the noise column is the point under test). Noise is
    // floor-quantized to milli-counts (the bm25 pattern) so everything
    // after the one ln() is integer. Scale: one hash-agg, then per-row
    // map-side expressions; nothing driver-side, no joins.
    ("pipeline_dp_histogram", (s, d) => {
      import s.implicits._
      val M = 4503599627370496L // 2^52
      val n = Tables.customer(s, d)
        .groupBy($"c_nationkey".cast("long").as("nat"))
        .agg(count(lit(1)).as("n"))
      n.withColumn("u",
          (h60(concat(lit("dpn_"), $"nat")) % M + 0.5) / lit(M.toDouble))
        .withColumn("noise_m3", floor(
          lit(-2000.0) * when($"u" >= 0.5, 1.0).otherwise(-1.0) *
            log(lit(1.0) - lit(2.0) * abs($"u" - 0.5))).cast("long"))
        .withColumn("noisy_m3", $"n" * 1000 + $"noise_m3")
        .withColumn("eps_e3", lit(500L))
        .select($"nat", $"n", $"noise_m3", $"noisy_m3", $"eps_e3")
        .orderBy($"nat")
    }, Some {
      val M = "4503599627370496"
      val u = s"(CAST(${h60Sql("'dpn_' || nat")} % $M AS DOUBLE) + 0.5) / $M"
      s"""WITH n AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nat, CAST(count(*) AS BIGINT) AS n
         |  FROM customer GROUP BY 1),
         |z AS (SELECT nat, n, $u AS u FROM n)
         |SELECT nat, n,
         |  CAST(floor(-2000.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
         |    * ln(1.0 - 2.0 * abs(u - 0.5))) AS BIGINT) AS noise_m3,
         |  n * 1000 + CAST(floor(-2000.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
         |    * ln(1.0 - 2.0 * abs(u - 0.5))) AS BIGINT) AS noisy_m3,
         |  CAST(500 AS BIGINT) AS eps_e3
         |FROM z ORDER BY nat""".stripMargin
    }),

    // ---- k-anonymity audit (Sweeney 2002) — the privacy counterpart of
    // pipeline_pii_redact: how re-identifiable is each row from its
    // quasi-identifiers alone? Three generalization levels over customer
    // (nation, segment, balance bucket): L0 = 1k-dollar buckets, L1 = 5k
    // buckets, L2 additionally suppresses the segment. Per level the report
    // carries the class count, the worst-case k (k_min), the rows living
    // in classes below k=5, and that mass as ppm — the numbers a release
    // gate checks before publishing, with the generalization ladder showing
    // the anonymity/utility trade. All-integer: balances go through exact
    // cents (round(bal·100)) shifted positive so truncating division IS
    // floor division on both engines. Scale shape: one hash-agg per level
    // (map-side combined), then a 1-row reduction each — no joins, no
    // windows, nothing driver-side.
    ("pipeline_k_anonymity", (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d).select(
          $"c_nationkey".cast("long").as("nat"), $"c_mktsegment".as("seg"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .withColumn("b1", expr("(cents + 100000000) div 100000"))
        .withColumn("b5", expr("(cents + 100000000) div 500000"))
      def level(label: String, cols: Seq[Column]): DataFrame =
        c.groupBy(cols: _*).agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).as("n_classes"), sum($"k").as("n_rows"),
            min($"k").as("k_min"),
            sum(when($"k" < 5, $"k").otherwise(0L)).as("rows_below_k"))
          .withColumn("risk_ppm", expr("rows_below_k * 1000000 div n_rows"))
          .withColumn("level", lit(label))
          .select($"level", $"n_rows", $"n_classes", $"k_min",
            $"rows_below_k", $"risk_ppm")
      level("L0_nat_seg_bal1k", Seq($"nat", $"seg", $"b1"))
        .unionByName(level("L1_nat_seg_bal5k", Seq($"nat", $"seg", $"b5")))
        .unionByName(level("L2_nat_bal5k", Seq($"nat", $"b5")))
        .orderBy($"level")
    }, Some {
      def levelSql(label: String, keys: String): String =
        s"""SELECT '$label' AS level, CAST(sum(k) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_classes, CAST(min(k) AS BIGINT) AS k_min,
           |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_k,
           |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000
           |    // sum(k) AS BIGINT) AS risk_ppm
           |FROM (SELECT $keys, CAST(count(*) AS BIGINT) AS k FROM qi GROUP BY $keys)""".stripMargin
      s"""WITH qi AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) // 100000 AS b1,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) // 500000 AS b5
         |  FROM customer)
         |${levelSql("L0_nat_seg_bal1k", "nat, seg, b1")}
         |UNION ALL
         |${levelSql("L1_nat_seg_bal5k", "nat, seg, b5")}
         |UNION ALL
         |${levelSql("L2_nat_bal5k", "nat, b5")}
         |ORDER BY level""".stripMargin
    }),

    // ---- l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's
    // necessary complement: a class of k=50 rows is still a disclosure if
    // all 50 share the SENSITIVE value (the homogeneity attack). Same
    // generalization ladder as pipeline_k_anonymity (QIs = nation +
    // balance bucket at 1k / 5k), sensitive attribute = market segment;
    // per level the report carries the worst-case distinct-value count
    // (l_min), the rows living in classes below l=3 (as ppm), and the
    // worst single-value concentration across classes (max_share_ppm —
    // the number the homogeneity attack reads). All-integer via the exact
    // cents bucketing. Scale shape: two stacked hash-aggs per level
    // ((QI, sensitive) cells, then QI classes) and a 1-row reduction —
    // map-side combined, no joins, no windows, nothing driver-side.
    ("pipeline_l_diversity", (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d).select(
          $"c_nationkey".cast("long").as("nat"), $"c_mktsegment".as("seg"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .withColumn("b1", expr("(cents + 100000000) div 100000"))
        .withColumn("b5", expr("(cents + 100000000) div 500000"))
      def level(label: String, qi: Seq[Column]): DataFrame = {
        val cells = c.groupBy(qi :+ $"seg": _*).agg(count(lit(1)).as("cnt"))
        val classes = cells.groupBy(qi: _*).agg(
          count(lit(1)).as("l"), sum($"cnt").as("k"), max($"cnt").as("top"))
        classes.agg(count(lit(1)).as("n_classes"), sum($"k").as("n_rows"),
            min($"l").as("l_min"),
            sum(when($"l" < 3, $"k").otherwise(0L)).as("rows_below_l3"),
            max(expr("top * 1000000 div k")).as("max_share_ppm"))
          .withColumn("risk_ppm", expr("rows_below_l3 * 1000000 div n_rows"))
          .withColumn("level", lit(label))
          .select($"level", $"n_rows", $"n_classes", $"l_min",
            $"rows_below_l3", $"risk_ppm", $"max_share_ppm")
      }
      level("L0_nat_bal1k", Seq($"nat", $"b1"))
        .unionByName(level("L1_nat_bal5k", Seq($"nat", $"b5")))
        .orderBy($"level")
    }, Some {
      def levelSql(label: String, qi: String): String =
        s"""SELECT '$label' AS level, CAST(sum(k) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_classes, CAST(min(l) AS BIGINT) AS l_min,
           |  CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS rows_below_l3,
           |  CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) * 1000000
           |    // sum(k) AS BIGINT) AS risk_ppm,
           |  CAST(max(top * 1000000 // k) AS BIGINT) AS max_share_ppm
           |FROM (
           |  SELECT $qi, CAST(count(*) AS BIGINT) AS l, CAST(sum(cnt) AS BIGINT) AS k,
           |    CAST(max(cnt) AS BIGINT) AS top
           |  FROM (SELECT $qi, seg, CAST(count(*) AS BIGINT) AS cnt
           |        FROM qi GROUP BY $qi, seg)
           |  GROUP BY $qi)""".stripMargin
      s"""WITH qi AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) // 100000 AS b1,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) // 500000 AS b5
         |  FROM customer)
         |${levelSql("L0_nat_bal1k", "nat, b1")}
         |UNION ALL
         |${levelSql("L1_nat_bal5k", "nat, b5")}
         |ORDER BY level""".stripMargin
    }),

    // ---- PSI drift report (population stability index — the standard
    // release-gate number for "did the data distribution move?"): the
    // documents table as the reference release, Dedup.corpus()'s planted
    // exact-copy/tail twin as the candidate, compared on the length-bucket
    // histogram (floor(length/100) capped at 19 — a schema-bounded ≤20-bin
    // feature). Per bucket: counts on both sides and the PSI contribution
    // (q−p)·ln(q/p) with add-1 smoothing (every term ≥ 0; smoothing keeps
    // ln finite for one-sided buckets), floor-quantized to integer
    // micro-units (the bm25 pattern) so the per-bucket terms and their sum
    // are order-free integers; bucket −1 carries the totals — psi_total
    // against the folklore 0.1/0.2 bands is the drift verdict. Scale
    // shape: one ≤20-group hash-agg per side, a ≤20-row join, and a 1-row
    // broadcast of the totals — nothing scales with the corpus but the
    // two scans.
    ("pipeline_psi_drift", (s, d) => {
      psiFromHists(
        psiLenHistogram(Tables.documents(s, d)).withColumnRenamed("cnt", "n_base"),
        psiLenHistogram(Dedup.corpus(s, d)).withColumnRenamed("cnt", "n_cur"))
    }, Some(
      s"""WITH ${graft.operators.Dedup.corpusSql},
         |hb AS (SELECT least(length(text) // 100, 19) AS b, count(*) AS n FROM documents GROUP BY 1),
         |hc AS (SELECT least(length(text) // 100, 19) AS b, count(*) AS n FROM corpus GROUP BY 1),
         |j AS (
         |  SELECT CAST(coalesce(hb.b, hc.b) AS BIGINT) AS bucket,
         |    CAST(coalesce(hb.n, 0) AS BIGINT) AS n_base,
         |    CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cur
         |  FROM hb FULL OUTER JOIN hc ON hb.b = hc.b),
         |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
         |  CAST(sum(n_cur) AS BIGINT) AS tc, count(*) AS nb FROM j),
         |c AS (
         |  SELECT bucket, n_base, n_cur,
         |    CAST(floor(((n_cur + 1.0) / (tc + nb) - (n_base + 1.0) / (tb + nb))
         |      * ln(((n_cur + 1.0) / (tc + nb)) / ((n_base + 1.0) / (tb + nb)))
         |      * 1000000) AS BIGINT) AS psi_u6
         |  FROM j CROSS JOIN t)
         |SELECT bucket, n_base, n_cur, psi_u6 FROM c
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(sum(n_base) AS BIGINT),
         |  CAST(sum(n_cur) AS BIGINT), CAST(sum(psi_u6) AS BIGINT) FROM c
         |ORDER BY bucket""".stripMargin)),

    // ---- SEQUENCE PACKING (the GPT-pretraining batch-assembly step: all
    // documents of a shard are concatenated — one EOS token after each —
    // and cut into fixed 256-token windows, documents straddling window
    // boundaries exactly as causal-LM packing does). Per shard this
    // reports the numbers a data loader budgets with: total tokens, the
    // window count, how many documents straddle a boundary (and would
    // need cross-window attention masking), and the tail padding waste.
    // All-integer window arithmetic (exclusive running sum, floor
    // division), so the oracle matches bit-for-bit. Scale shape: ONE
    // cumulative window per shard, map-side otherwise; at 100 TB the
    // shard key is the input split, so parallelism grows with data and
    // no global order is ever imposed.
    ("pipeline_sequence_pack", (s, d) => {
      import s.implicits._
      val cap = 256L
      val docs = Tables.documents(s, d)
        .select($"doc_id", ($"doc_id" % 16).as("shard"),
          (size(tokens($"text")) + 1).cast("long").as("n_tok"))
      val w = Window.partitionBy($"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.withColumn("cum", coalesce(sum($"n_tok").over(w), lit(0L)))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("n_tokens"),
          sum(when(expr(s"cum div $cap") =!=
              expr(s"(cum + n_tok - 1) div $cap"), 1L)
            .otherwise(0L)).as("n_straddlers"))
        .select($"shard", $"n_docs", $"n_tokens",
          expr(s"(n_tokens + ${cap - 1}) div $cap").as("n_bins"),
          $"n_straddlers",
          expr(s"(n_tokens + ${cap - 1}) div $cap * $cap - n_tokens")
            .as("tail_waste"))
        .orderBy($"shard")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 16 AS shard,
         |    len(${tokensSql("text")}) + 1 AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT shard, n_tok,
         |    COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM t)
         |SELECT shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST((sum(n_tok) + 255) // 256 AS BIGINT) AS n_bins,
         |  CAST(sum(CASE WHEN cum // 256 <> (cum + n_tok - 1) // 256
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
         |  CAST((sum(n_tok) + 255) // 256 * 256 - sum(n_tok) AS BIGINT) AS tail_waste
         |FROM c GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ---- GREEDY NO-STRADDLE packing (next-fit): the OTHER packing
    // regime beside pipeline_sequence_pack — documents are never split
    // across windows; a doc that doesn't fit the current window's
    // remainder closes it (padding the tail) and opens the next, and a
    // doc longer than the context is TRUNCATED to it (the data-loader
    // convention for unsplittable examples; cap 96 so the corpus
    // actually exercises that path at every SF). The per-window fill is
    // a SEQUENTIAL recurrence — measured in r13 as NOT
    // window-expressible (the closing decision depends on the running
    // fill, which depends on every earlier closing) — so it runs as one
    // bounded per-shard fold over collect_list, the q68/EWMA precedent:
    // 16 shards × ≤ corpus/16 (doc_id, n_tok) pairs, integer-only. The
    // oracle replays the same recurrence as a recursive CTE (the fifth
    // use of the recursive-oracle technique). n_bins_split is the
    // straddling packer's bin count on the same truncated lengths — the
    // lower bound greedy's n_windows/pad_tokens are judged against
    // (PackGreedySpec pins the dominance). At 100 TB the shard is the
    // input split: parallelism grows with data, no global order.
    ("pipeline_pack_greedy", (s, d) => {
      import s.implicits._
      val cap = 96L
      Tables.documents(s, d)
        .select($"doc_id", ($"doc_id" % 16).as("shard"),
          (size(tokens($"text")) + 1).cast("long").as("n_tok"))
        .groupBy($"shard")
        .agg(collect_list(struct($"doc_id", $"n_tok")).as("ds"))
        .select($"shard", $"ds")
        .map { r =>
          val shard = r.getLong(0)
          val ds = r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
          var fill = 0L; var nWin = 0L; var pad = 0L
          var nTrunc = 0L; var truncTok = 0L; var effSum = 0L
          ds.foreach { case (_, n0) =>
            val n = math.min(n0, cap)
            if (n0 > cap) { nTrunc += 1; truncTok += n0 - cap }
            effSum += n
            if (fill + n > cap) { pad += cap - fill; nWin += 1; fill = n }
            else fill += n
          }
          if (fill > 0) { pad += cap - fill; nWin += 1 }
          (shard, ds.size.toLong, ds.map(_._2).sum, nTrunc, truncTok,
            nWin, pad, (effSum + cap - 1) / cap)
        }
        .toDF("shard", "n_docs", "n_tokens", "n_trunc_docs",
          "trunc_tokens", "n_windows", "pad_tokens", "n_bins_split")
        .orderBy($"shard")
    }, Some(
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, doc_id % 16 AS shard,
         |    len(${tokensSql("text")}) + 1 AS n0,
         |    least(len(${tokensSql("text")}) + 1, 96) AS n,
         |    row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
         |  FROM documents),
         |r AS (
         |  SELECT shard, rn, n AS fill, CAST(1 AS BIGINT) AS n_win,
         |    CAST(0 AS BIGINT) AS pad
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.shard, t.rn,
         |    CASE WHEN r.fill + t.n > 96 THEN t.n ELSE r.fill + t.n END,
         |    r.n_win + CASE WHEN r.fill + t.n > 96 THEN 1 ELSE 0 END,
         |    r.pad + CASE WHEN r.fill + t.n > 96 THEN 96 - r.fill ELSE 0 END
         |  FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1),
         |fin AS (SELECT shard, max(rn) AS mr FROM r GROUP BY 1),
         |lastw AS (
         |  SELECT r.shard, r.n_win, r.pad + 96 - r.fill AS pad
         |  FROM r JOIN fin ON r.shard = fin.shard AND r.rn = fin.mr),
         |agg AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n0) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN n0 > 96 THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc_docs,
         |    CAST(sum(n0 - n) AS BIGINT) AS trunc_tokens,
         |    CAST((sum(n) + 95) // 96 AS BIGINT) AS n_bins_split
         |  FROM t GROUP BY 1)
         |SELECT agg.shard, n_docs, n_tokens, n_trunc_docs, trunc_tokens,
         |  CAST(n_win AS BIGINT) AS n_windows,
         |  CAST(pad AS BIGINT) AS pad_tokens, n_bins_split
         |FROM agg JOIN lastw ON agg.shard = lastw.shard
         |ORDER BY agg.shard""".stripMargin)),

    // ---- deterministic train/val/test split: threshold on the md5 hex of
    // the stable doc key. No RNG, no seed state to ship to 1000 executors —
    // re-running on a grown corpus keeps every old doc's assignment (the
    // property training pipelines need for incremental ingestion). The hex
    // compare is plain byte-wise string ordering, identical on both engines:
    // md5 < '1a' ≈ 10.2% test, '1a'..'33' ≈ 9.8% val, rest train.
    ("pipeline_train_test_split", (s, d) => {
      import s.implicits._
      val h = md5($"doc_id".cast("string"))
      Tables.documents(s, d)
        .select($"doc_id",
          when(h < "1a", "test").when(h < "33", "val").otherwise("train").as("split"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'test'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < '33' THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- PII redaction: scrub emails and phone numbers with anchored
    // character-class regexes (no lookaround, so Java regex and RE2 agree).
    // The corpus tables carry no real PII, so the query synthesizes a
    // contact line per customer from table data — deterministic on both
    // engines — then redacts it; n_* counts prove the patterns matched.
    ("pipeline_pii_redact", (s, d) => {
      import s.implicits._
      val emailPat = "[A-Za-z0-9.#_%+-]+@[A-Za-z0-9.-]+[A-Za-z]"
      val phonePat = "\\+[0-9][0-9-]+[0-9]"
      val raw = concat(
        lit("Reach "), $"c_name", lit(" at "),
        lower(regexp_replace($"c_name", " ", ".")), lit("@example.com or +1-"),
        ($"c_custkey" % 400 + 500).cast("string"), lit("-"),
        lpad(($"c_custkey" % 10000).cast("string"), 4, "0"), lit("."))
      Tables.customer(s, d)
        .select($"c_custkey", raw.as("raw"))
        .select(
          $"c_custkey",
          regexp_count($"raw", lit(emailPat)).cast("long").as("n_emails"),
          regexp_count($"raw", lit(phonePat)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace($"raw", emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("redacted"))
        .orderBy($"c_custkey")
    }, Some(
      """WITH raw AS (
        |  SELECT c_custkey,
        |    'Reach ' || c_name || ' at ' || lower(replace(c_name,' ','.')) ||
        |    '@example.com or +1-' || CAST(c_custkey % 400 + 500 AS VARCHAR) || '-' ||
        |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '.' AS raw
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9.#_%+-]+@[A-Za-z0-9.-]+[A-Za-z]')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\+[0-9][0-9-]+[0-9]')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(raw, '[A-Za-z0-9.#_%+-]+@[A-Za-z0-9.-]+[A-Za-z]', '<EMAIL>', 'g'),
        |    '\+[0-9][0-9-]+[0-9]', '<PHONE>', 'g') AS redacted
        |FROM raw ORDER BY c_custkey""".stripMargin)),

    // ---- sliding context windows (sequence packing): stride-48 windows of
    // up to 64 tokens per document — the standard "chunk long docs into
    // model-context pieces with overlap" transform. Pure array arithmetic
    // per row (sequence + explode), no shuffle; at 100 TB this is a map-only
    // stage whose output partitioning follows the input files.
    ("pipeline_token_windows", (s, d) => {
      import s.implicits._
      val W = 64
      val S = 48
      Tables.documents(s, d)
        .select($"doc_id", tokens($"text").as("toks"))
        .select($"doc_id", $"toks", size($"toks").as("n"))
        .select($"doc_id", $"toks", $"n",
          explode(sequence(lit(0), $"n" - 1, lit(S))).as("s"))
        .select(
          $"doc_id",
          ($"s" / S).cast("long").as("win_id"),
          $"s".cast("long").as("start_tok"),
          least(lit(W), $"n" - $"s").cast("long").as("n_tok"),
          element_at($"toks", $"s" + 1).as("head_tok"))
        .orderBy($"doc_id", $"win_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |u AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |w AS (SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, 48)) AS s FROM u)
         |SELECT doc_id, s // 48 AS win_id, s AS start_tok,
         |  least(64, n - s) AS n_tok, toks[s + 1] AS head_tok
         |FROM w ORDER BY doc_id, win_id""".stripMargin)),

    // ---- column profiler: nulls / exact distincts / min / max per column.
    // NOT one multi-distinct aggregate: N exact countDistincts in a single
    // agg make Catalyst Expand every row N+1 times (measured 4.6 s vs 0.5 s
    // here, and an (N+1)× row blowup at 100 TB). Instead two narrow passes:
    // (1) a map-side stack-unpivot to (col_name, val) — no shuffle, rows
    // grow N× but carry ONE value each — then groupBy(col_name) with a
    // plain partial-aggregated countDistinct per group; (2) a one-row
    // min/max aggregate (native types, so double/timestamp ordering is
    // value order, not string order), unpivoted and broadcast-joined on.
    ("pipeline_profile_columns", (s, d) => {
      val cols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
      val li = Tables.lineitem(s, d)
      val unpiv = cols.map(c => s"'$c', CAST($c AS STRING)")
        .mkString(s"stack(${cols.size}, ", ", ", ") AS (col_name, val)")
      val counts = li.select(expr(unpiv))
        .groupBy("col_name").agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("val")).as("n_distinct"))
      val mmAggs = cols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"mn_$c"), max(col(c)).cast("string").as(s"mx_$c")))
      val mmStack = cols.map(c => s"'$c', mn_$c, mx_$c")
        .mkString(s"stack(${cols.size}, ", ", ", ") AS (col_name, min_s, max_s)")
      val minmax = li.agg(mmAggs.head, mmAggs.tail: _*).select(expr(mmStack))
      counts.join(broadcast(minmax), "col_name")
        .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")
        .orderBy("col_name")
    }, Some {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, (SELECT count(*) FROM lineitem) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin
      Seq("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }),

    // ---- concat-and-chop sequence packing (the GPT-style packing pass):
    // per source, documents are laid end-to-end in doc_id order into one
    // token stream, then chopped into fixed 256-token contexts. Each doc's
    // global offset is a running-sum window (one shuffle keyed by source,
    // sorted once); which contexts a doc lands in is then pure arithmetic.
    // n_wins > 1 marks docs straddling a context boundary.
    ("pipeline_pack_contexts", (s, d) => {
      import s.implicits._
      val C = 256
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select($"doc_id", $"source", size(tokens($"text")).cast("long").as("n_tok"))
        .withColumn("start_tok", coalesce(sum($"n_tok").over(w), lit(0L)))
        .select($"source", $"doc_id", $"n_tok", $"start_tok",
          floor($"start_tok" / C).as("first_win"),
          floor(($"start_tok" + $"n_tok" - 1) / C).as("last_win"))
        .withColumn("n_wins", $"last_win" - $"first_win" + 1)
        .orderBy($"source", $"doc_id")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
         |  FROM documents),
         |o AS (
         |  SELECT source, doc_id, n_tok,
         |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT source, doc_id, n_tok, start_tok,
         |  start_tok // 256 AS first_win,
         |  (start_tok + n_tok - 1) // 256 AS last_win,
         |  (start_tok + n_tok - 1) // 256 - start_tok // 256 + 1 AS n_wins
         |FROM o ORDER BY source, doc_id""".stripMargin)),

    // ---- schema-on-read JSON ingestion with corrupt-record capture: the
    // raw-feed half of a 100 TB intake — json lines (derived from the
    // documents table, with every 97th record deterministically truncated
    // to a malformed line) land once per JVM in a temp dir, then the query
    // reads them back through spark.read.json with an EXPLICIT schema and
    // PERMISSIVE mode, so malformed records surface in _corrupt_record
    // instead of killing the job or silently vanishing (FAILFAST/DROPMALFORMED
    // — the two failure modes an unattended ingest cannot afford). Output
    // buckets rows by lang with corrupt lines in a '_corrupt' bucket; the
    // oracle recomputes both directly from the source table, so a parser
    // that dropped or misclassified a single record hash-mismatches. The
    // explicit schema keeps the scan single-pass (no sampling job) — the
    // scale-correct way to read semi-structured feeds.
    ("pipeline_json_ingest", (s, d) => {
      import s.implicits._
      val dir = jsonIngestDir(s, d)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .select(
          when($"_corrupt_record".isNotNull, lit("_corrupt")).otherwise($"lang").as("lang"),
          coalesce($"n_chars", lit(0L)).as("nc"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_rows"), sum($"nc").as("n_chars_total"))
        .orderBy($"lang")
    }, Some(
      """SELECT CASE WHEN doc_id % 97 = 0 THEN '_corrupt' ELSE lang END AS lang,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS n_chars_total
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- schema-on-read CSV ingestion with corrupt-record capture: the
    // other ubiquitous feed format, with a TYPE-level corruption (n_chars
    // made non-numeric on every 89th row) where the JSON contract plants a
    // structural one — PERMISSIVE mode must null the malformed column and
    // capture the raw line, and the report buckets corrupt rows under a
    // quarantine key instead of dropping them silently (the production
    // contract for untrusted feeds). Scale shape identical to the JSON
    // twin: schema-locked scan (no inference pass), one hash agg.
    ("pipeline_csv_ingest", (s, d) => {
      import s.implicits._
      val dir = csvIngestDir(s, d)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dir)
        .select(
          when($"_corrupt_record".isNotNull, lit("_corrupt")).otherwise($"lang").as("lang"),
          coalesce($"n_chars", lit(0L)).as("nc"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_rows"), sum($"nc").as("n_chars_total"))
        .orderBy($"lang")
    }, Some(
      """SELECT CASE WHEN doc_id % 89 = 0 THEN '_corrupt' ELSE lang END AS lang,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 89 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS n_chars_total
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- dataset card: the one-row summary a curation run publishes —
    // corpus size, token volume, language spread, exact-duplication rate,
    // and quality keep-rate, computed in ONE pass over the corpus plus one
    // hash-window for the duplicate rate (every stat is map-combinable; no
    // joins, no sort). The per-doc machinery behind each number lives in
    // its own query; this is the roll-up.
    ("pipeline_dataset_card", (s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      val nTok = size(toks)
      val stopRatio = size(filter(toks, t => t.isin(TextOps.Stops: _*))) / nTok.cast("double")
      val punctRatio = length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")) /
        length($"text").cast("double")
      val avgLen = length(regexp_replace($"text", "\\s+", "")) / nTok.cast("double")
      val z = lit(2.0) * (lit(1.0) - punctRatio) +
        lit(1.5) * least(stopRatio * 5.0, lit(1.0)) +
        lit(1.0) * least(avgLen / 8.0, lit(1.0)) +
        lit(0.5) * least(nTok / 100.0, lit(1.0)) - lit(2.6)
      val keep = (z / (lit(1.0) + abs(z))) >= 0.1
      val wk = Window.partitionBy(md5(regexp_replace(lower(trim($"text")), "\\s+", " ")))
      Tables.documents(s, d)
        .withColumn("is_dup", $"doc_id" =!= min($"doc_id").over(wk))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(nTok.cast("long")).as("n_tokens"),
          countDistinct($"lang").as("n_langs"),
          countDistinct($"source").as("n_sources"),
          round(avg(length($"text")), 2).as("mean_chars"),
          round(sum(when($"is_dup", 1L).otherwise(0L)) / count(lit(1)).cast("double"), 4)
            .as("exact_dup_rate"),
          round(sum(when(keep, 1L).otherwise(0L)) / count(lit(1)).cast("double"), 4)
            .as("quality_keep_rate"))
    }, Some {
      val punct = "length(regexp_replace(text,'[A-Za-z0-9\\s]','','g')) / CAST(length(text) AS DOUBLE)"
      val stop = s"len(list_filter(${tokensSql("text")}, t -> t IN (${TextOps.stopsSqlList}))) / CAST(len(${tokensSql("text")}) AS DOUBLE)"
      val avgl = s"length(regexp_replace(text,'\\s+','','g')) / CAST(len(${tokensSql("text")}) AS DOUBLE)"
      val ntok = s"len(${tokensSql("text")})"
      val z = s"2.0*(1.0 - $punct) + 1.5*least(($stop) * 5.0, 1.0) + 1.0*least(($avgl) / 8.0, 1.0) + 0.5*least($ntok / 100.0, 1.0) - 2.6"
      s"""WITH base AS (
         |  SELECT doc_id, text, lang, source,
         |    doc_id <> min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS is_dup,
         |    (($z) / (1.0 + abs($z)) >= 0.1) AS keep
         |  FROM documents)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(len(${tokensSql("text")})) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  ${rndSql("avg(length(text))", 2)} AS mean_chars,
         |  ${rndSql("sum(CASE WHEN is_dup THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS exact_dup_rate,
         |  ${rndSql("sum(CASE WHEN keep THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)", 4)} AS quality_keep_rate
         |FROM base""".stripMargin
    }),

    // ---- the full modern dedup stack as one per-doc verdict table: exact
    // (normalized-hash canonical), MinHash near-dup (LSH candidates,
    // Jaccard-verified), and semantic (embedding SemDeDup) — three
    // independent stage verdicts over the SAME planted id space (the text
    // corpus recipe and the embedding corpus recipe share ids: originals,
    // +100000 exact copies, +200000 near-dups), joined into per-doc flags.
    // This is the cross-modality summary a curation run reports; the
    // sequential text pipeline lives in pipeline_clean_corpus. Each stage
    // keeps its native scale shape (window on hash / bucketed LSH join /
    // cluster-bounded pair scan); the final assembly is three hash joins
    // on doc_id.
    ("pipeline_dedup_stack", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"k")
      val exact = Dedup.corpus(s, d)
        .withColumn("k", md5(regexp_replace(lower(trim($"text")), "\\s+", " ")))
        .withColumn("exact_dup", $"doc_id" =!= min($"doc_id").over(w))
        .select($"doc_id", $"exact_dup")
      val near = Dedup.queries("dedup_minhash_lsh")(s, d)
        .select($"id2".as("doc_id")).distinct().withColumn("near_dup", lit(true))
      val sem = Clustering.queries("dedup_semantic")(s, d)
        .select($"vec_id".as("doc_id"), $"dropped".as("semantic_dup"))
      exact.join(near, Seq("doc_id"), "left")
        .join(sem, Seq("doc_id"), "left")
        .select($"doc_id", $"exact_dup",
          coalesce($"near_dup", lit(false)).as("near_dup"),
          coalesce($"semantic_dup", lit(false)).as("semantic_dup"))
        .withColumn("kept", !($"exact_dup" || $"near_dup" || $"semantic_dup"))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH ${Dedup.corpusSql},
         |${Dedup.minhashSql("corpus", "")},
         |near AS (
         |  SELECT DISTINCT id2 AS doc_id FROM (
         |    SELECT c.id2,
         |      ${rndSql("len(list_intersect(a1.ts, a2.ts)) / CAST(len(a1.ts) + len(a2.ts) - len(list_intersect(a1.ts, a2.ts)) AS DOUBLE)", 4)} AS jaccard
         |    FROM cand c JOIN arr a1 ON a1.doc_id = c.id1 JOIN arr a2 ON a2.doc_id = c.id2)
         |  WHERE jaccard >= 0.5),
         |${Clustering.plantedSql},
         |${Clustering.kmeansSql("u")},
         |${Clustering.semanticDropChainSql},
         |exd AS (
         |  SELECT doc_id,
         |    doc_id <> min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS exact_dup
         |  FROM corpus)
         |SELECT exd.doc_id, exact_dup,
         |  (n.doc_id IS NOT NULL) AS near_dup,
         |  (sp.vec_id IS NOT NULL) AS semantic_dup,
         |  NOT (exact_dup OR n.doc_id IS NOT NULL OR sp.vec_id IS NOT NULL) AS kept
         |FROM exd LEFT JOIN near n ON n.doc_id = exd.doc_id
         |LEFT JOIN sem_drp sp ON sp.vec_id = exd.doc_id
         |ORDER BY exd.doc_id""".stripMargin)),

    // ---- line-level boilerplate excision (the C4/RefinedWeb "deduplicate
    // at the line level" pass, on synthetic line boundaries — this corpus
    // has no newlines, so the unit is the non-overlapping 10-word segment):
    // a segment seen in >= 2 DISTINCT docs is boilerplate and is CUT; the
    // doc is rebuilt from its kept segments in order. Unlike the span
    // queries (which only REPORT duplication), this one produces the
    // cleaned text — the excision operator itself. Scale shape: segments
    // explode map-side; the two shuffles key on the 64-bit segment hash
    // (doc-frequency, map-side combinable) and doc_id (rebuild, state
    // bounded by doc length). Spark counts df on xxhash64(segment) — see
    // the COLLISION ASSUMPTION note in Dedup's span family, which this
    // query shares (oracle groups by the raw string).
    ("pipeline_line_dedup", (s, d) => {
      import s.implicits._
      val c = Dedup.corpus(s, d)
      val segs = c
        .withColumn("t", split(trim($"text"), "\\s+"))
        .select($"doc_id", explode(sequence(lit(0L),
          floor((size($"t") + 9) / 10).cast("long") - 1)).as("k"),
          $"t")
        .select($"doc_id", $"k",
          array_join(slice($"t", ($"k" * 10 + 1).cast("int"), lit(10)), " ").as("seg"))
        .withColumn("h", xxhash64($"seg"))
      val dfreq = segs.groupBy($"h").agg(countDistinct($"doc_id").as("ndocs"))
      segs.join(dfreq, "h")
        .withColumn("boiler", $"ndocs" >= 2)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when($"boiler", 1L).otherwise(0L)).as("n_removed"),
          array_join(transform(array_sort(collect_list(
              when(!$"boiler", struct($"k", $"seg")))),
            x => x("seg")), " ").as("rebuilt"))
        .select($"doc_id", $"n_segments", $"n_removed",
          length($"rebuilt").cast("long").as("n_chars_after"),
          h60($"rebuilt").as("clean_h60"))
        .orderBy($"doc_id")
    }, Some(
      s"""WITH ${Dedup.corpusSql},
         |segs AS (
         |  SELECT doc_id, CAST(k AS BIGINT) AS k,
         |    array_to_string(list_slice(${tokensSql("text")}, k*10+1, k*10+10), ' ') AS seg
         |  FROM corpus, LATERAL (SELECT unnest(range(0, (len(${tokensSql("text")})+9)//10)) AS k)),
         |df AS (SELECT seg, count(DISTINCT doc_id) AS ndocs FROM segs GROUP BY seg),
         |marked AS (SELECT s.doc_id, s.k, s.seg, d.ndocs >= 2 AS boiler FROM segs s JOIN df d USING (seg)),
         |per AS (
         |  SELECT doc_id, count(*) AS n_segments,
         |    CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |    coalesce(string_agg(CASE WHEN NOT boiler THEN seg END, ' ' ORDER BY k), '') AS rebuilt
         |  FROM marked GROUP BY doc_id)
         |SELECT doc_id, n_segments, n_removed,
         |  CAST(length(rebuilt) AS BIGINT) AS n_chars_after,
         |  ${h60Sql("rebuilt")} AS clean_h60
         |FROM per ORDER BY doc_id""".stripMargin)),

    // ---- dataset snapshot diff: version-to-version provenance at the
    // DATASET level (q25 is row-level warehouse CDC; this is the "what
    // changed between corpus releases" roll-up a dataset card references).
    // v2 is derived deterministically from v1: 10% deleted, 1-in-7 edited,
    // the deleted ids reincarnated as new docs — so every class is planted.
    // Identity is the doc_id; change detection is an md5 text compare —
    // content hashes join/compare, never the texts. Scale shape: one full
    // outer join on the id + a 4-group aggregation.
    ("pipeline_dataset_diff", (s, d) => {
      import s.implicits._
      val v1 = Tables.documents(s, d).select($"doc_id", $"text")
      val v2 = v1.filter($"doc_id" % 10 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, concat($"text", lit(" edited tail")))
            .otherwise($"text").as("text"))
        .unionByName(v1.filter($"doc_id" % 10 === 0)
          .select(($"doc_id" + 300000).as("doc_id"), $"text"))
      val a = v1.select($"doc_id".as("id1"), md5($"text").as("h1"),
        size(tokens($"text")).cast("long").as("t1"))
      val b = v2.select($"doc_id".as("id2"), md5($"text").as("h2"),
        size(tokens($"text")).cast("long").as("t2"))
      a.join(b, $"id1" === $"id2", "full_outer")
        .select(
          when($"id2".isNull, "removed")
            .when($"id1".isNull, "added")
            .when($"h1" =!= $"h2", "changed")
            .otherwise("unchanged").as("status"),
          coalesce($"t1", lit(0L)).as("t1"), coalesce($"t2", lit(0L)).as("t2"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_docs"),
          sum($"t1").as("tokens_v1"), sum($"t2").as("tokens_v2"),
          (sum($"t2") - sum($"t1")).as("token_delta"))
        .orderBy($"status")
    }, Some {
      val nt = s"len(${tokensSql("text")})"
      s"""WITH v1 AS (SELECT doc_id, text FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' edited tail' ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 10 = 0),
         |a AS (SELECT doc_id AS id1, md5(text) AS h1, CAST($nt AS BIGINT) AS t1 FROM v1),
         |b AS (SELECT doc_id AS id2, md5(text) AS h2, CAST($nt AS BIGINT) AS t2 FROM v2),
         |j AS (
         |  SELECT CASE WHEN id2 IS NULL THEN 'removed'
         |              WHEN id1 IS NULL THEN 'added'
         |              WHEN h1 <> h2 THEN 'changed'
         |              ELSE 'unchanged' END AS status,
         |    coalesce(t1, 0) AS t1, coalesce(t2, 0) AS t2
         |  FROM a FULL OUTER JOIN b ON id1 = id2)
         |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(t1) AS BIGINT) AS tokens_v1, CAST(sum(t2) AS BIGINT) AS tokens_v2,
         |  CAST(sum(t2) - sum(t1) AS BIGINT) AS token_delta
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- export shard manifest: content-hash sharding (h60(text) mod 16 —
    // skew-free by construction, no hot shard whatever the doc_id
    // distribution) with per-shard volume stats and the output-file count a
    // writer would plan at a 64 KiB target. The write-planning pass that
    // fronts any 100 TB parquet export: one scan, one 16-group aggregation;
    // file counts stay integer-exact via ceiling division, no float sizing.
    ("pipeline_shard_manifest", (s, d) => {
      import s.implicits._
      val target = 65536L
      Tables.documents(s, d)
        .select($"doc_id", $"n_chars", pmod(h60($"text"), lit(16)).as("shard"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("n_chars"),
          min($"doc_id").as("min_doc_id"),
          max($"doc_id").as("max_doc_id"))
        .withColumn("n_files", expr(s"(n_chars + ${target - 1L}) div $target"))
        .orderBy($"shard")
    }, Some(
      s"""SELECT ${h60Sql("text")} % 16 AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
         |  (CAST(sum(n_chars) AS BIGINT) + 65535) // 65536 AS n_files
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- C4-style heuristic filter battery (Raffel et al. 2020 §2.2 rules
    // recast for this corpus): the per-rule boolean breakdown a cleaning
    // run reports BEFORE dropping anything — which rule fires how often is
    // the tuning signal; `keep` is their conjunction. All six rules are
    // single-pass string/array expressions (map-only, no shuffle, no UDF):
    //   min_words     — ≥ 10 whitespace tokens;
    //   word_len      — mean token length in [3, 10], integer
    //                   cross-multiplied (3n ≤ Σlen ≤ 10n — no division);
    //   ends_punct    — text ends in terminal punctuation;
    //   no_braces     — no '{' / '}' (code leakage into prose);
    //   no_lorem      — no 'lorem ipsum' placeholder;
    //   has_stopwords — ≥ 2 distinct common stopwords present (the C4
    //                   "natural language, not a tag soup" proxy).
    ("pipeline_c4_filters", (s, d) => {
      import s.implicits._
      val toks = tokens($"text")
      val sumLen = aggregate(transform(toks, t => length(t)),
        lit(0L), (acc, x) => acc + x)
      val nStops = size(array_intersect(
        transform(toks, t => lower(t)),
        array(TextOps.Stops.map(lit): _*)))
      Tables.documents(s, d)
        .select($"doc_id", toks.as("toks"), $"text")
        .withColumn("sl", sumLen)
        .withColumn("n", size($"toks").cast("long"))
        .select($"doc_id",
          (size($"toks") >= 10).as("r_min_words"),
          ($"sl" >= $"n" * 3 && $"sl" <= $"n" * 10).as("r_word_len"),
          // \z, not $: Java-regex $ also matches BEFORE a final line
          // terminator, while the DuckDB oracle's RE2 $ matches only the
          // absolute end — \z pins both engines to end-of-string semantics
          // even if a future corpus carries trailing newlines (ADVICE r7).
          $"text".rlike("[.!?\"]\\z").as("r_ends_punct"),
          (!$"text".contains("{") && !$"text".contains("}")).as("r_no_braces"),
          (!lower($"text").contains("lorem ipsum")).as("r_no_lorem"),
          (nStops >= 2).as("r_has_stopwords"))
        .withColumn("keep",
          $"r_min_words" && $"r_word_len" && $"r_ends_punct" &&
            $"r_no_braces" && $"r_no_lorem" && $"r_has_stopwords")
        .orderBy($"doc_id")
    }, Some {
      val t = tokensSql("text")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    len($t) >= 10 AS r_min_words,
         |    list_sum(list_transform($t, x -> length(x))) BETWEEN len($t) * 3 AND len($t) * 10 AS r_word_len,
         |    regexp_matches(text, '[.!?"]$$') AS r_ends_punct,
         |    NOT (contains(text, '{') OR contains(text, '}')) AS r_no_braces,
         |    NOT contains(lower(text), 'lorem ipsum') AS r_no_lorem,
         |    len(list_intersect(list_transform($t, x -> lower(x)),
         |      [${TextOps.stopsSqlList}])) >= 2 AS r_has_stopwords
         |  FROM documents)
         |SELECT doc_id, r_min_words, r_word_len, r_ends_punct, r_no_braces,
         |  r_no_lorem, r_has_stopwords,
         |  r_min_words AND r_word_len AND r_ends_punct AND r_no_braces
         |    AND r_no_lorem AND r_has_stopwords AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    }),

    // ---- hot-key skew report: the pre-flight diagnostic run before any
    // large keyed join/agg — per-key row counts on the join key, the
    // top-10 heaviest keys, each key's corpus share (ppm) and its skew
    // factor vs the mean key (×10⁴) — the numbers that decide whether a
    // key needs salting (q29's remedy) or AQE skew-join handling. All-
    // integer outputs, so the report is exact on both engines. Scale
    // shape: one hash agg keyed on user_id (map-side partial combine,
    // per-key state O(1)), one single-row stats broadcast, and a global
    // top-10 over the already-aggregated per-key table — the sort input
    // is |distinct keys|, not |rows|.
    ("pipeline_skew_report", (s, d) => {
      import s.implicits._
      val perKey = Tables.events(s, d)
        .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      val stats = perKey.agg(
        sum($"cnt").as("total"), count(lit(1)).as("n_keys"))
      perKey.crossJoin(broadcast(stats))
        .select($"user_id", $"cnt",
          expr("(cnt * 1000000L) div total").as("share_ppm"),
          expr("(cnt * n_keys * 10000L) div total").as("skew_x_e4"))
        .orderBy($"cnt".desc, $"user_id")
        .limit(10)
    }, Some(
      """WITH per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM per)
        |SELECT user_id, cnt,
        |  (cnt * 1000000) // total AS share_ppm,
        |  (cnt * n_keys * 10000) // total AS skew_x_e4
        |FROM per, st ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin)),

    // ---- data-contract validation (the expectations/dbt-test stage a
    // production pipeline runs before publishing a table): six checks —
    // two referential-integrity anti-joins (orders→customer,
    // lineitem→orders), a range check, a NOT NULL check, a primary-key
    // uniqueness check, and a derived-column consistency check — each one
    // row (check_name, n_checked, n_violations, pass). Everything is
    // exact-integer, so a single silently-dropped or misclassified row
    // flips the hash. Scale shape: each FK check is one equi-anti-join on
    // the key (broadcastable dimension side), the rest are map-side
    // predicates folded by one agg; checks run independently so the
    // planner parallelizes the union's legs.
    ("pipeline_expectations", (s, d) => {
      import s.implicits._
      def row(name: String, checked: DataFrame): DataFrame = checked
        .agg(count(lit(1)).as("n_checked"),
          sum(when($"bad", 1L).otherwise(0L)).as("n_violations"))
        .select(lit(name).as("check_name"), $"n_checked", $"n_violations",
          ($"n_violations" === 0L).as("pass"))
      val cust = Tables.customer(s, d).select($"c_custkey")
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val fkOC = row("fk_orders_customer",
        ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left")
          .select($"c_custkey".isNull.as("bad")))
      val fkLO = row("fk_lineitem_orders",
        li.join(ord.select($"o_orderkey".as("ok")), li("l_orderkey") === $"ok", "left")
          .select($"ok".isNull.as("bad")))
      val rng = row("range_lineitem_qty",
        li.select((!$"l_quantity".between(1.0, 50.0)).as("bad")))
      val nn = row("not_null_events_ts",
        Tables.events(s, d).select($"ts".isNull.as("bad")))
      val pk = row("unique_orders_pk",
        ord.groupBy($"o_orderkey").agg(count(lit(1)).as("c"))
          .select(($"c" > 1L).as("bad")))
      val dc = row("docs_chars_consistent",
        Tables.documents(s, d).select(($"n_chars" =!= length($"text")).as("bad")))
      Seq(fkOC, fkLO, rng, nn, pk, dc).reduce(_ unionByName _)
        .orderBy($"check_name")
    }, Some(
      """SELECT * FROM (
        |  SELECT 'fk_orders_customer' AS check_name,
        |    CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'range_lineitem_qty', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'not_null_events_ts', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) = 0
        |  FROM events
        |  UNION ALL
        |  SELECT 'unique_orders_pk', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0
        |  FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)
        |  UNION ALL
        |  SELECT 'docs_chars_consistent', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0
        |  FROM documents)
        |ORDER BY check_name""".stripMargin)),
  )

  /** PSI length bucket: floor(length/100) capped at 19 — the ≤20-bin
    * feature pipeline_psi_drift and its streaming twin share.
    */
  private[graft] def psiLenBucket: Column =
    least(expr("length(text) div 100"), lit(19)).cast("long")

  private[graft] def psiLenHistogram(src: DataFrame): DataFrame =
    src.select(psiLenBucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** The PSI computation over two ≤20-row histograms (bucket, n_base) /
    * (bucket, n_cur) — ONE definition shared by pipeline_psi_drift and
    * stream_psi_replay so the batch report and the streaming monitor's
    * judging chain cannot drift. See pipeline_psi_drift for the math.
    */
  private[graft] def psiFromHists(base: DataFrame, cur: DataFrame): DataFrame = {
    val j = base.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = j.agg(sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"),
      count(lit(1)).as("nb"))
    val c = j.crossJoin(broadcast(tot))
      .withColumn("p", (col("n_base") + 1.0) / (col("tb") + col("nb")))
      .withColumn("q", (col("n_cur") + 1.0) / (col("tc") + col("nb")))
      .withColumn("psi_u6",
        floor((col("q") - col("p")) * log(col("q") / col("p")) * 1e6).cast("long"))
      .select(col("bucket"), col("n_base"), col("n_cur"), col("psi_u6"))
    c.unionByName(c.agg(lit(-1L).as("bucket"), sum(col("n_base")).as("n_base"),
        sum(col("n_cur")).as("n_cur"), sum(col("psi_u6")).as("psi_u6")))
      .orderBy(col("bucket"))
  }

  /** CSV twin of [[jsonIngestDir]]: doc_id,lang,n_chars lines with every
    * doc_id % 89 == 0 row's n_chars made non-numeric — a type-level
    * corruption (the JSON fixture's is structural), so the CSV reader's
    * PERMISSIVE mode must catch a different failure class.
    */
  private def csvIngestDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_csv", d) { dir =>
      import s.implicits._
      val root = dir.resolve("data").toString
      Tables.documents(s, d)
        .select(concat_ws(",", $"doc_id", $"lang",
          when($"doc_id" % 89 === 0, concat($"n_chars", lit("x")))
            .otherwise($"n_chars".cast("string"))).as("value"))
        .coalesce(4).write.mode("overwrite").text(root)
      root
    }

  /** Once-per-JVM json-lines feed for pipeline_json_ingest: the documents
    * table as to_json lines, every 97th record truncated by two chars (the
    * closing quote/brace) into a deterministically malformed line. Setup,
    * not query work — the same once-per-JVM temp-dir pattern as the
    * streaming replay wave files.
    */
  private def jsonIngestDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_json", d) { dir =>
      import s.implicits._
      val root = dir.resolve("data").toString
      val j = to_json(struct($"doc_id", $"lang", $"n_chars"))
      Tables.documents(s, d)
        .select($"doc_id", $"lang", $"n_chars")
        .select(when($"doc_id" % 97 === 0, j.substr(lit(1), length(j) - 2))
          .otherwise(j).as("value"))
        .coalesce(4).write.mode("overwrite").text(root)
      root
    }
}
