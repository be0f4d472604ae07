package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.lake.LakeIndex.{BloomK, matchedFilesOnly, normPath}

/** Corpus-preparation operators a training-data pipeline needs around the
  * dedup/similarity/text stages (builder mandate, beyond the reference's
  * surface — the reference has no relational layer at all, SURVEY §2.5):
  *
  *  - deterministic train/test splitting (hash-threshold, no RNG state),
  *  - PII redaction (regex scrub, the standard pre-release pass),
  *  - sliding context-window extraction (token windows for sequence packing),
  *  - single-pass column profiling (the "what's in this table" scan),
  *  - bloom-filter semi-join pre-filtering (shuffle-avoidance at scale),
  *  - eval-set decontamination (n-gram overlap between the training corpus
  *    and a benchmark set — the pass that keeps test questions out of
  *    training data).
  *
  * All are shuffle-free per-row transforms except the profiler (one aggregate
  * over one scan) and the bloom build (one treeAggregate over the small
  * side). Every query keeps an exact DuckDB oracle: the split and windows are
  * pure functions of md5/token arithmetic that both engines compute
  * bit-identically; the bloom query is oracle-checked through the sketch
  * contract (no false negatives ever; false-positive rate within a slack
  * bound that holds deterministically for this fixed seedless build).
  */
object PipelineOps {
  import Portable._

  // Materialized-view refresh boundary (pipeline_mv_refresh / _mv_serve):
  // ship rows before this are the base build; at/after are the delta the
  // incremental refresh merges in. Date-based, so the split is stable as
  // the corpus scales (the generator's ship range is 1995-01..2001-11).
  private val MvCutoff = "2001-08-01"

  // Point-lookup probe keys for pipeline_bloom_index: fixed literals below
  // the smallest SF's max orderkey (1499 at sf0.001), so the SAME seven
  // dashboard lookups run at every scale — a modulus-defined probe set
  // would grow with the corpus and the union of matched files would stop
  // demonstrating skipping.
  private[graft] val BloomIdxKeys = Seq(7L, 212L, 388L, 701L, 994L, 1207L, 1403L)

  // Sorted-neighborhood width for pipeline_entity_resolution: within each
  // blocking key, records of both sides are ordered by (cents, name) and
  // each record pairs only with the W nearest positions — candidate count
  // AND join cost are <= 2W per record per pass, LINEAR in the corpus no
  // matter how degenerate a block key gets (TPC-H name prefixes are
  // near-constant; a plain per-block or per-record cap still paid the
  // quadratic block join before the cut — measured 17 s warm at 10x).
  private val ErNeighborWidth = 16

  private def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

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
      import s.implicits._
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

    // ---- Z-order layout statistics: THE storage-layout lever for scan
    // pruning at 100 TB (Delta/Iceberg OPTIMIZE ZORDER). Each row's
    // (l_partkey, l_suppkey) is normalized to 16 bits per dimension and
    // bit-interleaved into a Morton z-value; rows are bucketed into 64
    // equal-width z ranges ("files") and, as the baseline, into 64
    // arrival-order (l_orderkey) ranges. Per bucket the min/max envelope of
    // BOTH keys is the file-skipping metadata; the report compares the two
    // layouts on envelope tightness (avg span per dimension) and on a fixed
    // 2-D probe (partkey AND suppkey each in [max/4, max/2]) — the count of
    // buckets whose envelopes intersect the probe IS the files-scanned
    // number a pruning reader would pay. All-integer end to end (scaled
    // division, bit ops, integer spans). Scale shape: normalization bounds
    // are one broadcast agg; the z-value is a map-side expression (at scale
    // it is the repartitionByRange key when actually rewriting the table);
    // one hash-agg per layout over 64 groups.
    ("pipeline_zorder_stats", (s, d) => {
      import s.implicits._
      val zExpr = ZMortonSpark
      val li = Tables.lineitem(s, d).select(
        $"l_orderkey".cast("long").as("o"),
        $"l_partkey".cast("long").as("p"),
        $"l_suppkey".cast("long").as("sk"))
      val mx = li.agg(max($"p").as("pmax"), max($"sk").as("smax"),
        min($"o").as("omin"), max($"o").as("omax"))
      val t = li.crossJoin(broadcast(mx))
        .withColumn("px", expr("p * 65536 div (pmax + 1)"))
        .withColumn("sy", expr("sk * 65536 div (smax + 1)"))
        .withColumn("z", expr(zExpr))
      val zr = t.agg(min($"z").as("zmin"), max($"z").as("zmax"))
      val b = t.crossJoin(broadcast(zr))
        .withColumn("zbkt", expr("(z - zmin) * 64 div (zmax - zmin + 1)"))
        .withColumn("lbkt", expr("(o - omin) * 64 div (omax - omin + 1)"))
      def layoutStats(bcol: String, label: String): DataFrame =
        b.groupBy(col(bcol).as("bkt"))
          .agg(min($"p").as("minp"), max($"p").as("maxp"),
            min($"sk").as("mins"), max($"sk").as("maxs"),
            max($"pmax").as("pmax"), max($"smax").as("smax"))
          .agg(count(lit(1)).as("n_buckets"),
            expr("sum(maxp - minp) div count(1)").as("avg_part_span"),
            expr("sum(maxs - mins) div count(1)").as("avg_supp_span"),
            sum(when(
              $"minp" <= expr("pmax div 2") && $"maxp" >= expr("pmax div 4") &&
                $"mins" <= expr("smax div 2") && $"maxs" >= expr("smax div 4"),
              1L).otherwise(0L)).as("probe_buckets_hit"))
          .withColumn("layout", lit(label))
          .select($"layout", $"n_buckets", $"avg_part_span",
            $"avg_supp_span", $"probe_buckets_hit")
      layoutStats("zbkt", "zorder").unionByName(layoutStats("lbkt", "linear"))
        .orderBy($"layout")
    }, Some {
      val zDuck = ZMortonDuck
      def layoutCte(bcol: String): String =
        s"""SELECT $bcol AS bkt, min(p) AS minp, max(p) AS maxp,
           |    min(sk) AS mins, max(sk) AS maxs,
           |    max(pmax) AS pmax, max(smax) AS smax
           |  FROM b GROUP BY 1""".stripMargin
      def layoutStats(src: String, label: String): String =
        s"""SELECT '$label' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
           |    CAST(sum(maxp - minp) // count(*) AS BIGINT) AS avg_part_span,
           |    CAST(sum(maxs - mins) // count(*) AS BIGINT) AS avg_supp_span,
           |    CAST(sum(CASE WHEN minp <= pmax // 2 AND maxp >= pmax // 4
           |      AND mins <= smax // 2 AND maxs >= smax // 4
           |      THEN 1 ELSE 0 END) AS BIGINT) AS probe_buckets_hit
           |  FROM $src""".stripMargin
      s"""WITH li AS (
         |  SELECT CAST(l_orderkey AS BIGINT) AS o, CAST(l_partkey AS BIGINT) AS p,
         |    CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
         |mx AS (SELECT max(p) AS pmax, max(sk) AS smax,
         |  min(o) AS omin, max(o) AS omax FROM li),
         |t AS (
         |  SELECT o, p, sk, pmax, smax, omin, omax,
         |    (p * 65536) // (pmax + 1) AS px,
         |    (sk * 65536) // (smax + 1) AS sy
         |  FROM li CROSS JOIN mx),
         |tz AS (SELECT *, $zDuck AS z FROM t),
         |zr AS (SELECT min(z) AS zmin, max(z) AS zmax FROM tz),
         |b AS (
         |  SELECT *, ((z - zmin) * 64) // (zmax - zmin + 1) AS zbkt,
         |    ((o - omin) * 64) // (omax - omin + 1) AS lbkt
         |  FROM tz CROSS JOIN zr),
         |zb AS (${layoutCte("zbkt")}),
         |lb AS (${layoutCte("lbkt")})
         |${layoutStats("zb", "zorder")}
         |UNION ALL
         |${layoutStats("lb", "linear")}
         |ORDER BY layout""".stripMargin
    }),

    // ---- Z-order compaction EXECUTED ([[zorderExecDir]]): the report
    // above priced the layout; this one BUILDS it — the fact rows are
    // physically rewritten into 64 Morton-bucketed files (deterministic
    // equal-width z buckets, one file per bucket, rows z-sorted inside
    // each file so row-group pruning composes with file skipping) plus a
    // per-file min/max envelope SIDECAR. The readout is that sidecar
    // verbatim; because the bucketing is deterministic, the oracle
    // recomputes every file's envelope and row count from the raw tables
    // — a row landing in the wrong file, a lost row, or a stale sidecar
    // all hash-mismatch. At 100 TB this is OPTIMIZE ZORDER: the rewrite
    // is one range-shuffle by z, the sidecar one metadata-scale agg.
    ("pipeline_zorder_exec", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${zorderExecDir(s, d)}/zdata_stats")
        .select($"zbkt".cast("long").as("zbkt"), $"n_rows",
          $"minp", $"maxp", $"mins", $"maxs")
        .orderBy($"zbkt")
    }, Some(
      s"""$zorderCtes
         |SELECT zbkt, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(p) AS minp, max(p) AS maxp,
         |  min(sk) AS mins, max(sk) AS maxs
         |FROM zb GROUP BY 1 ORDER BY zbkt""".stripMargin)),

    // ---- min/max STATS-SKIPPING serve over the executed z-order layout:
    // the 2-D range probe (partkey AND suppkey each in [max/4, max/2])
    // plans against the envelope sidecar, OPENS only files whose envelope
    // intersects the probe, and applies the exact predicate to just those
    // — file-skipping the way an Iceberg reader uses manifest column
    // stats. The skipping numbers themselves are hash-checked: the oracle
    // recomputes the deterministic bucketing, so n_files_opened must
    // equal the true envelope-intersection count (an over-open breaks the
    // number, an under-open loses rows and breaks the aggregates).
    // ZorderExecSpec additionally pins truth ⊆ opened files and that the
    // z-layout opens strictly fewer files than the arrival-order twin.
    ("pipeline_stats_skipping", (s, d) => {
      import s.implicits._
      val root = zorderExecDir(s, d)
      val stats = graft.Tables.readCached(s, s"$root/zdata_stats")
      // probe bounds from the global maxima — one metadata-scale row
      val r = Tables.lineitem(s, d)
        .agg(max($"l_partkey".cast("long")), max($"l_suppkey".cast("long")))
        .head()
      val (pLo, pHi) = (r.getLong(0) / 4, r.getLong(0) / 2)
      val (sLo, sHi) = (r.getLong(1) / 4, r.getLong(1) / 2)
      val matched = stats
        .filter($"minp" <= pHi && $"maxp" >= pLo &&
          $"mins" <= sHi && $"maxs" >= sLo)
        .select($"file").as[String].collect()
      val nTotal = stats.count()
      readMatchedFiles(s, s"$root/zdata", matched.toSeq)
        .filter($"p".between(pLo, pHi) && $"sk".between(sLo, sHi))
        .agg(count(lit(1)).as("n_rows"), sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .select(lit(nTotal).as("n_files_total"),
          lit(matched.length.toLong).as("n_files_opened"),
          $"n_rows", $"sum_qty", $"revenue_cents")
    }, Some(
      s"""$zorderCtes,
         |env AS (
         |  SELECT zbkt, min(p) AS minp, max(p) AS maxp,
         |    min(sk) AS mins, max(sk) AS maxs
         |  FROM zb GROUP BY 1),
         |pr AS (SELECT pmax // 4 AS plo, pmax // 2 AS phi,
         |  smax // 4 AS slo, smax // 2 AS shi FROM mx),
         |hit AS (
         |  SELECT l.* FROM li l CROSS JOIN pr
         |  WHERE p BETWEEN plo AND phi AND sk BETWEEN slo AND shi)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM env) AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM env CROSS JOIN pr
         |     WHERE minp <= phi AND maxp >= plo
         |       AND mins <= shi AND maxs >= slo) AS n_files_opened,
         |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_rows,
         |  (SELECT CAST(sum(qty) AS BIGINT) FROM hit) AS sum_qty,
         |  (SELECT CAST(sum(net_cents) AS BIGINT) FROM hit) AS revenue_cents""".stripMargin)),

    // ---- bucketed-table co-located join: the second storage-layout lever
    // beside pipeline_zorder_stats (that one kills SCAN cost; this one
    // kills SHUFFLE cost). lineitem and orders are written ONCE per JVM as
    // parquet tables hash-bucketed (and per-file sorted) on the order key
    // ([[bucketedTables]]); this query then joins them with the merge hint
    // and Spark satisfies the join's distribution requirement from the
    // bucket layout — the executed plan has NO exchange under the join
    // (PlanQualitySpec pins it). At 100 TB this is THE pattern for a fact
    // table whose join key every query hits: pay the orderkey shuffle once
    // at write time, never again; the residual shuffle here is the final
    // 5-row priority rollup. Revenue is summed in exact cents so the
    // result hash is immune to float accumulation order.
    ("pipeline_bucketed_join", (s, d) => {
      import s.implicits._
      val (lt, ot) = bucketedTables(s, d)
      s.table(lt).hint("merge")
        .join(s.table(ot), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(countDistinct($"o_orderkey").as("n_orders"),
          count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("revenue_cents"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- materialized-view serving after INCREMENTAL refresh — the third
    // storage-layout lever beside zorder (scan cost) and bucketing (shuffle
    // cost): aggregate cost. The once-per-JVM fixture ([[mvRollupDir]])
    // builds a daily rollup of everything shipped before MvCutoff, then
    // merges the post-cutoff delta into ONLY the touched month partitions
    // via dynamic partition overwrite (additive measures, so incremental
    // merge ≡ full rebuild EXACTLY). This query is the full monthly report
    // served from the refreshed view; the oracle recomputes it from the raw
    // fact table, so the hash match proves base ⊕ delta ≡ direct scan — a
    // clobbered untouched month, a double-counted delta, or a missed one
    // all mismatch. The serve plan reads ~rows-per-day rollup rows, never
    // lineitem.
    ("pipeline_mv_refresh", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, mvRollupDir(s, d))
        .groupBy($"ship_month")
        .agg(countDistinct($"ship_day").as("n_days"),
          sum($"n_items").as("n_items"),
          sum($"sum_qty").as("sum_qty"),
          sum($"revenue_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- the dashboard point query over the same materialized view: a
    // recent-months revenue readout whose month predicate prunes at the
    // FILE INDEX of the ship_month-partitioned rollup (PlanQualitySpec pins
    // the PartitionFilters entry) — the query opens 6 month directories out
    // of ~82, and those 6 span both build paths (2001-06/07 are base-built,
    // 2001-08..11 came through the incremental refresh), so serving
    // correctness across the base/refresh seam is oracle-checked too.
    ("pipeline_mv_serve", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, mvRollupDir(s, d))
        .filter($"ship_month" >= "2001-06")
        .groupBy($"ship_month")
        .agg(sum($"n_items").as("n_items"),
          sum($"revenue_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') >= '2001-06'
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- AUTOMATIC MV rewrite (aggregate navigation — Oracle/Calcite's
    // QUERY REWRITE, as a Catalyst optimizer rule): this query is written
    // NAIVELY against the 60M-row fact table — groupBy month over
    // Tables.lineitem, no mention of any rollup — and the installed
    // MvAggregateRewrite rule rewrites it at optimization time to read the
    // month-partitioned MV instead, mapping count(*) → sum(n_items) and
    // each additive sum onto its pre-aggregated measure. The DuckDB oracle
    // is the NAIVE fact-table SQL, so the hash match proves the rewrite is
    // semantics-preserving; PlanQualitySpec pins that the executed plan
    // reads the MV files and never scans lineitem, and that the rule
    // actually fired. At 100 TB this is the feature that makes the rollup
    // USEFUL: dashboards keep their natural SQL and the engine serves it
    // from the summary.
    ("pipeline_mv_rewrite", (s, d) => {
      graft.plans.MvRewrite.install(s, mvRewriteTemplate(s, d), mvRollupDir(s, d))
      mvRewriteTemplate(s, d)
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(count(CAST(l_quantity AS BIGINT)) AS BIGINT) AS n_qty,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- the FILTERED naive dashboard query through the same rewrite
    // rule: a month-range predicate on the fact aggregate's group key is
    // recognized as group-selecting (it can only keep or drop WHOLE
    // months), translated onto the MV's ship_month column, and — because
    // the rollup is month-partitioned — becomes partition pruning: the
    // naive filtered query ends up reading 6 month directories of the
    // summary instead of scanning the fact table (PlanQualitySpec pins
    // fired + PartitionFilters + no lineitem). A predicate on any OTHER
    // column disqualifies the rewrite (spec-pinned negative case), which
    // is the correctness boundary of aggregate navigation.
    ("pipeline_mv_rewrite_range", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvRewriteTemplate(s, d), mvRollupDir(s, d))
      Tables.lineitem(s, d)
        .filter(date_format($"l_shipdate", "yyyy-MM") >= "2001-06")
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("bigint")).as("sum_qty"),
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') >= '2001-06'
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- GRAIN NAVIGATION through the same rule: the naive QUARTERLY
    // aggregate — a grain the rollup does not store — is rewritten to
    // aggregate the MONTHLY MV under a derived key (quarter-of-ship_month,
    // registered as a SQL expression over the MV's columns), sound because
    // every measure is additive and months nest inside quarters. This is
    // the full aggregate-navigation feature: one summary table serves its
    // own grain, coarser grains, and filtered slices of both. Oracle is
    // the naive quarterly fact SQL; spec pins fired + MV scan + 3-row
    // aggregate input per quarter (the MV's months) instead of 60M rows.
    ("pipeline_mv_rewrite_quarter", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvQuarterTemplate(s, d), mvRollupDir(s, d),
        Some("concat(substr(ship_month, 1, 4), '-Q', " +
          "(CAST(substr(ship_month, 6, 2) AS INT) + 2) DIV 3)"))
      mvQuarterTemplate(s, d)
    }, Some(
      """SELECT strftime(l_shipdate, '%Y') || '-Q' || quarter(l_shipdate) AS ship_quarter,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY ship_quarter""".stripMargin)),

    // ---- MULTI-KEY aggregate navigation: the naive two-key rollup
    // (month × return flag) rewritten onto a two-key MV — the common real
    // MV shape (date × dimension). Every key must map onto its MV column
    // and every measure onto its partial; the DuckDB oracle is the naive
    // fact SQL, PlanQualitySpec pins the executed plan reads the wide MV.
    ("pipeline_mv_rewrite_multi", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvFlagTemplate(s, d), mvFlagDir(s, d))
      Tables.lineitem(s, d)
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
          $"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("bigint")).as("sum_qty"),
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("revenue_cents"),
          min($"l_quantity".cast("bigint")).as("min_qty"),
          max($"l_quantity".cast("bigint")).as("max_qty"))
        .orderBy($"ship_month", $"l_returnflag")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY ship_month, l_returnflag""".stripMargin)),

    // ---- AVG navigation: the naive monthly avg(quantity) decomposes onto
    // the EXISTING monthly MV's sum-pair — avg(x) → sum(sum_qty) /
    // sum(n_items) (the rollup stores no average; none is needed). Exact
    // because the operands are integer partials: the long sums cast to
    // double exactly below 2^53, so the one division equals the naive
    // double-accumulated avg bit-for-bit on integral columns — the reason
    // the rule refuses to navigate decimal/float averages.
    ("pipeline_mv_rewrite_avg", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvRewriteTemplate(s, d), mvRollupDir(s, d))
      Tables.lineitem(s, d)
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          avg($"l_quantity".cast("bigint")).as("avg_qty"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  avg(CAST(l_quantity AS BIGINT)) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- min/max + per-key filter translation through the multi-key MV:
    // predicates on BOTH keys (month range + flag IN-list) are each
    // group-selecting, translate onto their MV columns, and the month one
    // becomes partition pruning on the month-partitioned rollup. min/max
    // re-aggregate as MIN/MAX of the stored extrema — sound here because
    // the wide MV is insert-only (the GDPR-delete pipeline maintains a
    // DIFFERENT rollup; a deleted row could make a stored extremum stale,
    // which is why lakehouse engines, and this rule, scope min/max
    // navigation to append-only facts).
    ("pipeline_mv_rewrite_minmax", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvFlagTemplate(s, d), mvFlagDir(s, d))
      Tables.lineitem(s, d)
        .filter(date_format($"l_shipdate", "yyyy-MM") >= "2001-06" &&
          $"l_returnflag".isin("R", "A"))
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
          $"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          min($"l_quantity".cast("bigint")).as("min_qty"),
          max($"l_quantity".cast("bigint")).as("max_qty"))
        .orderBy($"ship_month", $"l_returnflag")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        |FROM lineitem
        |WHERE strftime(l_shipdate, '%Y-%m') >= '2001-06' AND l_returnflag IN ('R', 'A')
        |GROUP BY 1, 2 ORDER BY ship_month, l_returnflag""".stripMargin)),

    // ---- KEY-SUBSET rollup navigation: the naive MONTH-ONLY aggregate
    // with extremal measures — a grain no registered MV stores under these
    // measures. The monthly MV matches the grain but lacks min/max, so the
    // rule falls THROUGH to the (month × returnflag) wide MV and
    // re-aggregates across the dropped flag key (sums re-sum, min/max
    // re-extremize — sound on the insert-only fact); the returnflag
    // predicate, on a key the query does NOT group by, is still
    // group-selecting at the rollup's grain and translates onto the MV's
    // flag column. This completes aggregate navigation's classic feature
    // set: one summary serves its grain, coarser grains, key subsets and
    // filtered slices of all three. Oracle is the naive fact SQL;
    // PlanQualitySpec pins fired + wide-MV scan + no lineitem.
    ("pipeline_mv_rewrite_subset", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvRewriteTemplate(s, d), mvRollupDir(s, d))
      graft.plans.MvRewrite.install(s, mvFlagTemplate(s, d), mvFlagDir(s, d))
      Tables.lineitem(s, d)
        .filter($"l_returnflag".isin("R", "N"))
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("bigint")).as("sum_qty"),
          min($"l_quantity".cast("bigint")).as("min_qty"),
          max($"l_quantity".cast("bigint")).as("max_qty"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        |FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- STAR-SCHEMA MV navigation: the naive BI dashboard query —
    // lineitem ⋈ orders on the PK-FK key, grouped by ship month × the
    // DIM-side o_orderpriority — rewritten to read the registered
    // denormalized rollup instead of joining 60M fact rows against the
    // dimension. The rule recognizes the inner equi-join silhouette
    // conservatively: per-side path-set equality, a side-oriented
    // join-key-NAME signature (names are what survive `canonicalized`'s
    // erasure), inferred join-key IsNotNulls exempted, any other filter
    // group-key-only. The DuckDB oracle is the NAIVE join SQL;
    // PlanQualitySpec pins that the executed plan reads the MV and scans
    // NEITHER fact NOR dim, and that a different dim attribute or a
    // non-key filter leaves the join on the fact table. At 100 TB this is
    // the rewrite that matters most — every real dashboard groups a fact
    // by dimension attributes.
    ("pipeline_mv_rewrite_join", (s, d) => {
      graft.plans.MvRewrite.install(s, mvJoinTemplate(s, d), mvJoinDir(s, d))
      mvJoinTemplate(s, d)
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY ship_month, o_orderpriority""".stripMargin)),

    // ---- the FILTERED naive star-schema query through the same join
    // target: a recent-months predicate on the fact-derived group key of
    // the naive join-aggregate translates onto the denormalized MV's
    // ship_month and — month-partitioned — prunes its file index; the
    // DIM-side priority filter translates onto the MV's o_orderpriority
    // column. Both firing together is the full dashboard path: naive
    // join SQL in, 6 pruned summary files out.
    ("pipeline_mv_rewrite_join_range", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvJoinTemplate(s, d), mvJoinDir(s, d))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .filter(date_format($"l_shipdate", "yyyy-MM") >= "2001-06" &&
          $"o_orderpriority".isin("1-URGENT", "2-HIGH"))
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
          $"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("revenue_cents"))
        .orderBy($"ship_month", $"o_orderpriority")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE strftime(l_shipdate, '%Y-%m') >= '2001-06'
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1, 2 ORDER BY ship_month, o_orderpriority""".stripMargin)),

    // ---- KEY-SUBSET navigation over the JOIN MV: the naive join
    // aggregate grouped by the DIM attribute ALONE (a strict subset of
    // the registered {ship_month, o_orderpriority} keys) re-aggregates
    // the denormalized rollup across the dropped month key — the
    // priority-level company dashboard served from ~415 summary rows
    // instead of re-joining the fact to the dimension. Same conservative
    // guards (leaf paths + join signature + measure signatures);
    // PlanQualitySpec pins the executed plan reads the MV and joins
    // nothing.
    ("pipeline_mv_rewrite_join_subset", (s, d) => {
      import s.implicits._
      graft.plans.MvRewrite.install(s, mvJoinTemplate(s, d), mvJoinDir(s, d))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("bigint")).as("sum_qty"),
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("revenue_cents"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- bloom data-skipping index serve: point-lookup of seven order
    // keys against a fact laid out by ship month — a layout that CANNOT
    // serve this lookup by partition pruning (an order's items scatter
    // across months). The per-file bloom sidecars ([[bloomIdxDir]]) say
    // which files might contain any probe; the scan then opens ONLY those
    // (~25-30 of 83+ at driver SFs, and within-month file pruning grows the
    // skip as files multiply at scale — DiagnosticsSpec pins the ratio).
    // Exactness rides the bloom's no-false-negative guarantee: a missed
    // file would drop rows and hash-mismatch the oracle, a false positive
    // only opens one extra file. NOTE eager construction (the
    // sim_kmeanspp_init caveat): the metadata-scale bloom probe + file-list
    // collect run when the DataFrame is BUILT — that's the point, the file
    // list must exist before the scan is planned (Delta log replay does
    // the same driver-side).
    ("pipeline_bloom_index", (s, d) => {
      import s.implicits._
      val files = bloomIdxMatchedFilesOnly(s, d)
      val probes = broadcast(BloomIdxKeys.toDF("k"))
      readBloomMatched(s, d, files.toSeq)
        .join(probes, $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"),
          countDistinct($"ship_month").as("n_ship_months"))
        .orderBy($"l_orderkey")
    }, Some(bloomLookupOracle)),

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

    // ---- bloom-filter semi-join pre-filter: build a bloom filter over the
    // small side's keys (distributed treeAggregate; ~1.2 MB for 1M keys at
    // 1% fpp), broadcast it, and drop probe rows before they reach the
    // shuffle — at 100 TB this turns a full-table shuffle join into a scan
    // that forwards only ~member + fpp·nonmember rows. Oracle-checked via
    // the sketch contract (q28/q46 pattern): exact member counts are
    // deterministic, a bloom filter can NEVER miss a member (missed = 0),
    // and the false-positive count for this fixed build is deterministic
    // and bounded by 5× the design fpp (wide slack), so the booleans hold
    // however Spark schedules the build.
    ("pipeline_bloom_prefilter", (s, d) => {
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      val members = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")
      val nMembers = members.count()
      // the member side scales with the data, so the filter width does too:
      // next power of two >= 16 bits/member, k=4 -> fpp ~ (1/4)^4 worst-case
      var mBits = 1 << 10
      while (mBits < nMembers * 16 && mBits < (1 << 28)) mBits <<= 1
      // native in-dataflow build: BloomAgg bitset over xxhash64(key), one
      // broadcast row — no driver-side construction, no UDF probe; the
      // membership test is the codegen'd bloom_contains expression.
      val bloomAgg = udaf(new graft.functions.BloomAgg(mBits, BloomK),
        org.apache.spark.sql.Encoders.scalaLong)
      val bloomRow = members.agg(bloomAgg(xxhash64($"c_custkey")).as("bloom"))
      def hit = call_function("bloom_contains",
        $"bloom", xxhash64($"o_custkey"), lit(BloomK))
      val orders = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      // members scales with the customer table — no broadcast hint; the
      // planner broadcasts the semi-join side below the threshold and
      // shuffles above it (the bloom prefilter is the scale answer anyway).
      val memberOrders = orders.join(members,
        $"o_custkey" === $"c_custkey", "left_semi")
      val nOrders = orders.count()
      val nMemberOrders = memberOrders.count()
      val nMissed = memberOrders.crossJoin(broadcast(bloomRow))
        .filter(!hit).count()
      val nPass = orders.crossJoin(broadcast(bloomRow))
        .filter(hit).count()
      val fpOk = (nPass - nMemberOrders).toDouble <=
        math.max(0.05 * (nOrders - nMemberOrders), 1.0)
      Seq((nOrders, nMemberOrders, nMissed, fpOk))
        .toDF("n_orders", "n_member_orders", "n_missed", "fp_ok")
    }, Some(
      """SELECT (SELECT count(*) FROM orders) AS n_orders,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey IN (SELECT c_custkey FROM customer
        |                         WHERE c_mktsegment = 'BUILDING')) AS n_member_orders,
        |  CAST(0 AS BIGINT) AS n_missed, TRUE AS fp_ok""".stripMargin)),

    // ---- partitioned write + partition-pruned read: the layout half of
    // the 100 TB story. The corpus lands once per JVM as parquet
    // partitioned by lang (hive-style lang=xx/ directories — the layout a
    // curation pipeline publishes so downstream consumers can prune); the
    // query then reads it back with a lang predicate, which Spark resolves
    // at PLANNING time against the directory listing (PartitionFilters in
    // the scan, pinned by PlanQualitySpec) — non-matching partitions are
    // never opened, let alone read. The oracle recomputes the same
    // aggregate from the source table, so a row lost or duplicated through
    // the write/read round-trip hash-mismatches.
    ("pipeline_partitioned_prune", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, partitionedCorpus(s, d))
        .filter($"lang".isin("en", "de"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars_total"))
        .orderBy($"lang")
    }, Some(
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- small-files compaction planner: the maintenance pass every
    // long-lived lakehouse table needs — incremental ingests leave
    // thousands of undersized files, and scan cost degrades with file
    // COUNT (per-file open/footer overhead), not bytes. The planner runs
    // on the MANIFEST (per-file byte stats — here 64 synthetic files from
    // hash-bucketing the corpus), never the data: files sort by (bytes
    // desc, id), a running prefix sum assigns each to bin = (cumsum −
    // bytes) div target (the sorted-fill plan: every bin lands within
    // max-file-size of the target), and the emitted plan drives a
    // distributed rewrite job. The single-partition window is bounded by
    // the manifest's file count per table partition — planner input, not
    // corpus data. All integer arithmetic; the oracle replays the same
    // plan in SQL, so both engines must agree bin-for-bin.
    ("pipeline_compaction_plan", (s, d) => {
      import s.implicits._
      val files = Tables.documents(s, d)
        .withColumn("file_id", pmod(h60($"doc_id".cast("string")), lit(64)))
        .groupBy($"file_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("bytes"))
      val target = files.agg(expr("sum(bytes) div 8 + 1").as("target")) // integer div
      val w = Window.orderBy($"bytes".desc, $"file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files.crossJoin(broadcast(target))
        .withColumn("cum", sum($"bytes").over(w))
        .withColumn("bin", expr("(cum - bytes) div target"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_files"), sum($"n_docs").as("n_docs"),
          sum($"bytes").as("bin_bytes"))
        .orderBy($"bin")
    }, Some(
      s"""WITH files AS (
        |  SELECT file_id, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM (SELECT doc_id, n_chars,
        |          ${h60Sql("CAST(doc_id AS VARCHAR)")} % 64 AS file_id
        |        FROM documents) GROUP BY 1),
        |t AS (SELECT CAST(sum(bytes) // 8 + 1 AS BIGINT) AS target FROM files),
        |planned AS (
        |  SELECT file_id, n_docs, bytes,
        |    (sum(bytes) OVER (ORDER BY bytes DESC, file_id ROWS UNBOUNDED PRECEDING)
        |      - bytes) // target AS bin
        |  FROM files CROSS JOIN t)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_files,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs, CAST(sum(bytes) AS BIGINT) AS bin_bytes
        |FROM planned GROUP BY 1 ORDER BY bin""".stripMargin)),

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

    // ---- decontamination behind a NATIVE bloom prefilter: the eval set's
    // n-gram hashes aggregate into a BloomAgg bitset (16 KB, merge = OR,
    // bit-identical under any partitioning), broadcast as ONE ROW inside
    // the dataflow — no driver-side build, no UDF. Each training doc tests
    // `exists(hs, h -> bloom_contains(bloom, h, k))` map-side (O(k) bit
    // probes per gram via the codegen'd expression); only bloom-candidate
    // docs explode their grams into the exact verification join, and a
    // false positive there simply matches nothing. Output is therefore
    // EXACT (a bloom filter can never miss a member) — the oracle is the
    // plain exact SQL with no bloom anywhere. The 100 TB shape: benchmark
    // suites are fixed-size, so the filter stays KBs however big the
    // corpus; non-candidate documents (almost all of them) never shuffle
    // a single n-gram.
    ("pipeline_bloom_decontaminate", (s, d) => {
      import s.implicits._
      val flagged = bloomDecontamFlags(s, d)
      val evalH = evalGramHashes(s, d)
      val hits = flagged.filter($"cand")
        .select($"doc_id", explode($"hs").as("h"))
        .join(evalH, "h") // tiny distinct eval side — planner broadcasts
        .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      flagged.select($"doc_id").join(hits, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n", lit(0L)).as("n_hit_grams"),
          (coalesce($"n", lit(0L)) > 0).as("contaminated"))
        .orderBy($"doc_id")
    }, Some {
      def cat(arr: String) = (1 to DecontamN).map(k => s"$arr[i+$k]").mkString(" || ' ' || ")
      s"""WITH tr AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(0, len(toks) - ${DecontamN - 1}), i -> ${cat("toks")}))) AS g
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)),
         |ev AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    range(0, len(toks) - ${DecontamN - 1}), i -> ${cat("toks")}))) AS g
         |  FROM (SELECT doc_id, (${tokensSql("text")})[1:$DecontamPrefix] AS toks
         |        FROM documents WHERE doc_id % 50 = 0)),
         |hits AS (SELECT doc_id, count(*) AS n FROM tr JOIN ev USING (g) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n, 0) AS n_hit_grams,
         |  coalesce(n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin
    }),

    // ---- eval-set decontamination: flag every training document sharing a
    // word 8-gram with a benchmark item (the standard n-gram-overlap
    // decontamination pass a pre-training pipeline runs before a model ever
    // sees the corpus). The corpus carries no real benchmark, so the eval
    // set is derived deterministically IN-QUERY on both engines: the
    // first-12-token prefix of every 50th document stands in for a test
    // question whose text leaked into training data. Scale shape: each side
    // is a map-only pass emitting per-doc DISTINCT 8-grams; the match is an
    // equi-join keyed by the 64-bit xxhash of the gram (the oracle joins the
    // raw strings — identical counts, as with the shingle index), and the
    // eval side is tiny by construction, so the planner broadcasts it —
    // at 100 TB the corpus streams through one scan stage and only matching
    // (doc, eval) rows reach the final aggregate.
    ("pipeline_decontaminate", (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      // fused per-doc tokenize → distinct 8-grams (same rationale as the
      // dedup shingle pass: array HOFs interpret per element; one JVM loop)
      def ngramRows(df: DataFrame, idName: String): DataFrame =
        df.select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val toks = Portable.Whitespace.split(text.trim)
              val seen = new java.util.LinkedHashSet[String]
              var i = 0
              while (i + DecontamN - 1 < toks.length) {
                val sb = new java.lang.StringBuilder(toks(i))
                var j = 1
                while (j < DecontamN) { sb.append(' ').append(toks(i + j)); j += 1 }
                seen.add(sb.toString)
                i += 1
              }
              (id, seen.toArray(Array.empty[String]))
            }
          }.toDF(idName, "gs").select(col(idName), explode(col("gs")).as("g"))
      val trainG = ngramRows(docs, "doc_id")
        .select($"doc_id", xxhash64($"g").as("h"))
      val evalDocs = docs.filter($"doc_id" % 50 === 0)
        .select($"doc_id",
          concat_ws(" ", slice(tokens($"text"), 1, DecontamPrefix)).as("text"))
      val evalG = ngramRows(evalDocs, "eval_id")
        .select($"eval_id", xxhash64($"g").as("h"))
      trainG.join(evalG, "h") // tiny eval side — planner broadcasts, no hint
        .groupBy($"doc_id", $"eval_id")
        .agg(count(lit(1)).as("n_hits")) // both sides per-id distinct
        .orderBy($"doc_id", $"eval_id")
    }, Some {
      def cat(arr: String) = (1 to DecontamN).map(k => s"$arr[i+$k]").mkString(" || ' ' || ")
      decontamSqlTail(cat)
    }),

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

    // ---- entity resolution with MULTI-PASS BLOCKING (record linkage,
    // Fellegi & Sunter 1969 shape; blocking per Hernández & Stolfo's
    // merge/purge): match customers against a planted registry — every 3rd
    // customer appears with ONE name character overwritten (position
    // (custkey div 3) % 9 sweeps all nine digit slots, so perturbations
    // land in both blocking regions), and
    // every 11th as a same-balance GHOST with an unrelated name (blocks,
    // then must be rejected by the verifier). Two blocking passes, each a
    // plain equi-join (never all-pairs): exact balance cents, and
    // (nation, segment, name-suffix-4). A single-character perturbation
    // cannot break the balance key, so twin recall is 100% by
    // construction; a suffix perturbation breaks pass B and the union of
    // passes still catches it — the multi-pass argument. Verification is
    // levenshtein ≤ 1 (the planted distance; both engines implement the
    // same DP), and via_bal/via_name report which pass found each match.
    // Scale shape: candidates are linear (cents are near-unique, name
    // blocks are nation×segment×suffix-bounded); the verifier runs only
    // on blocked pairs.
    // ---- entity RESOLUTION with measurable blocking quality (the r11
    // companion to pipeline_entity_match, which demonstrates multi-pass
    // matching but whose clean fixture makes recall trivially 1): a
    // registry derived from customer with PLANTED attribute noise —
    // one-char substitution typos, adjacent-digit transpositions
    // (c%5=0), off-by-one balances (c%7=0), a corrupted nation field
    // (c%13=0, the transposed-field error class), plus ghost records with
    // no true match (c%11=0) — so blocking precision AND recall are real
    // numbers with a closed-form truth (r_id - 500000 = the source
    // customer). Three blocking passes (name-prefix, name-suffix, exact
    // balance) pair via SORTED-NEIGHBORHOOD banding within each block:
    // members of both sides are ordered by (cents, name) and each record
    // pairs only with the ErNeighborWidth nearest positions (the same
    // banded equi-join as the kNN big-bucket regime — |pos diff| <= W
    // with blk/blk+1 block keys, never the raw block cross product), so
    // BOTH candidate emission and join cost stay LINEAR in the corpus
    // even where a block key degenerates — TPC-H name prefixes are
    // near-constant, and a plain per-block or per-record cap measured
    // join-quadratic at 10x before this shape. Candidates score by
    // levenshtein <= 2 with 1-cent balance tolerance. Deterministically
    // unfindable: rows where the nation is corrupted AND the balance is
    // off (c%273=0) defeat all three passes — fn is exactly those at
    // every driver SF (spec-pinned: blocks sort true pairs within W
    // there), so the recall number explains itself; under the 100x
    // rehearsal's verbatim-replica skew the width honestly sheds some
    // same-cents replica pairs while the wall stays linear. The oracle
    // recomputes the whole pipeline including the neighborhood cut (the
    // plain |pos diff| <= W inequality — same pair set as the banded
    // execution), so the cap is part of the contract.
    ("pipeline_entity_resolution", (s, d) => {
      import s.implicits._
      val matched = erMatchedPairs(s, d)
      val noised = erNoised(s, d)
      val agg = matched.agg(
        count(lit(1)).as("n_matched"),
        sum(when($"r_id" - 500000 === $"c_custkey", 1L).otherwise(0L)).as("tp"))
      noised.agg(count(lit(1)).as("n_truth")).crossJoin(agg)
        .select($"n_truth", $"n_matched", $"tp",
          ($"n_matched" - $"tp").as("fp"), ($"n_truth" - $"tp").as("fn"),
          expr("CASE WHEN n_matched = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE tp * 1000000 div n_matched END").as("precision_ppm"),
          expr("tp * 1000000 div n_truth").as("recall_ppm"))
    }, Some {
      s"""WITH $erMatchedSqlCtes,
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_matched,
         |    CAST(sum(CASE WHEN r_id - 500000 = c_custkey THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM matched),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM noised)
         |SELECT n_truth, n_matched, tp,
         |  n_matched - tp AS fp, n_truth - tp AS fn,
         |  CASE WHEN n_matched = 0 THEN CAST(0 AS BIGINT)
         |    ELSE tp * 1000000 // n_matched END AS precision_ppm,
         |  tp * 1000000 // n_truth AS recall_ppm
         |FROM t, m""".stripMargin
    }),

    // ---- GOLDEN-RECORD SURVIVORSHIP (the MDM step after matching): the
    // ER pairs are clustered with the log-round large-star/small-star CC
    // ([[Dedup.ccBigStar]] — matched pairs can chain through shared
    // registry records, so clusters, not pairs, are the entity unit), then
    // each field survives per cluster under one deterministic cascade:
    // most members holding the value wins (majority — heals a corrupted
    // field whenever clean copies outnumber it), ties prefer the value
    // held by a MASTER-side record (source priority: the customer table is
    // authoritative, which is what resolves every 1-vs-1 customer/twin
    // tie — the corrupted %13 nation, the %7 one-cent drift, the noised
    // name all fall back to the exact master value), remaining ties take
    // the smallest member id (total order even across FP merges). One
    // golden row per matched entity; entity_id is the cluster min — the
    // master custkey itself except under FP merges. The oracle recomputes
    // clusters via a recursive transitive closure and the same cascade;
    // PipelineOpsSpec pins that every planted noise class resolves to the
    // source customer's true attributes.
    ("pipeline_golden_record", (s, d) => {
      import s.implicits._
      val members = graft.Tables.readCached(s, erGoldenMembersDir(s, d))
      def survive(field: String): DataFrame = {
        val g = members.groupBy($"comp", col(field).as("value"))
          .agg(count(lit(1)).as("cnt"),
            max(when($"side" === 0, 1).otherwise(0)).as("mast"),
            min($"id").as("mid"))
        // (cnt, mast, mid) is total per cluster: holder sets of distinct
        // values are disjoint, so min-ids never tie
        val w = Window.partitionBy($"comp")
          .orderBy($"cnt".desc, $"mast".desc, $"mid")
        g.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"comp", $"value".as("g_" + field))
      }
      val stats = members.groupBy($"comp")
        .agg(count(lit(1)).as("n_members"),
          sum($"side").cast("long").as("n_registry"))
      stats.join(survive("name"), "comp").join(survive("nat"), "comp")
        .join(survive("seg"), "comp").join(survive("cents"), "comp")
        .select($"comp".as("entity_id"), $"g_name".as("golden_name"),
          $"g_nat".as("golden_nation"), $"g_seg".as("golden_segment"),
          $"g_cents".as("golden_cents"), $"n_members", $"n_registry")
        .orderBy($"entity_id")
    }, Some {
      def survSql(field: String, src: String): String =
        s"""g_$field AS (
           |  SELECT comp, $src AS value, count(*) AS cnt,
           |    max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS mast,
           |    min(id) AS mid
           |  FROM members GROUP BY 1, 2),
           |s_$field AS (
           |  SELECT comp, value AS g_$field FROM (
           |    SELECT comp, value, row_number() OVER (PARTITION BY comp
           |      ORDER BY cnt DESC, mast DESC, mid) AS rn FROM g_$field)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH RECURSIVE $erMatchedSqlCtes,
         |sym AS (
         |  SELECT c_custkey AS a, r_id AS b FROM matched
         |  UNION SELECT r_id, c_custkey FROM matched),
         |reach(src, dst) AS (
         |  SELECT a, a FROM sym
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN sym e ON e.a = r.dst),
         |compt AS (SELECT src AS id, min(dst) AS comp FROM reach GROUP BY 1),
         |members AS (
         |  SELECT comp, 0 AS side, id, c_name AS name,
         |    CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg, cents
         |  FROM compt JOIN cust ON id = c_custkey
         |  UNION ALL
         |  SELECT comp, 1, id, r_name, CAST(r_nat AS BIGINT), r_seg, r_cents
         |  FROM compt JOIN reg ON id = r_id),
         |${survSql("name", "name")},
         |${survSql("nat", "nat")},
         |${survSql("seg", "seg")},
         |${survSql("cents", "cents")},
         |st AS (
         |  SELECT comp, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(side) AS BIGINT) AS n_registry
         |  FROM members GROUP BY 1)
         |SELECT st.comp AS entity_id, g_name AS golden_name,
         |  CAST(g_nat AS BIGINT) AS golden_nation,
         |  g_seg AS golden_segment,
         |  CAST(g_cents AS BIGINT) AS golden_cents, n_members, n_registry
         |FROM st JOIN s_name ON s_name.comp = st.comp
         |  JOIN s_nat ON s_nat.comp = st.comp
         |  JOIN s_seg ON s_seg.comp = st.comp
         |  JOIN s_cents ON s_cents.comp = st.comp
         |ORDER BY entity_id""".stripMargin
    }),

    ("pipeline_entity_match", (s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d).select($"c_custkey", $"c_name",
        $"c_nationkey", $"c_mktsegment",
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val twins = cust.filter($"c_custkey" % 3 === 0).select(
        ($"c_custkey" + 500000).as("r_id"),
        expr("""concat(substr(c_name, 1, CAST(9 + (c_custkey div 3) % 9 AS INT)), 'X',
                substr(c_name, CAST(11 + (c_custkey div 3) % 9 AS INT)))""").as("r_name"),
        $"c_nationkey".as("r_nat"), $"c_mktsegment".as("r_seg"),
        $"cents".as("r_cents"))
      val ghosts = cust.filter($"c_custkey" % 11 === 0).select(
        ($"c_custkey" + 600000).as("r_id"),
        concat(lit("Ghost#"), $"c_custkey").as("r_name"),
        $"c_nationkey".as("r_nat"), $"c_mktsegment".as("r_seg"),
        $"cents".as("r_cents"))
      val reg = twins.unionByName(ghosts)
      def pass(j: DataFrame, bal: Int, nm: Int): DataFrame = j.select(
        $"c_custkey", $"r_id", $"c_name", $"r_name",
        lit(bal).as("via_bal"), lit(nm).as("via_name"))
      val pa = pass(cust.join(reg, $"cents" === $"r_cents"), 1, 0)
      val pb = pass(cust.join(reg, $"c_nationkey" === $"r_nat" &&
        $"c_mktsegment" === $"r_seg" &&
        expr("substr(c_name, 15, 4)") === expr("substr(r_name, 15, 4)")), 0, 1)
      pa.unionByName(pb)
        .groupBy($"c_custkey", $"r_id", $"c_name", $"r_name")
        .agg(max($"via_bal").as("vb"), max($"via_name").as("vn"))
        .withColumn("lev", levenshtein($"c_name", $"r_name"))
        .filter($"lev" <= 1)
        .select($"c_custkey", $"r_id".as("registry_id"),
          $"lev".cast("long").as("lev"),
          $"vb".cast("long").as("via_bal"), $"vn".cast("long").as("via_name"))
        .orderBy($"c_custkey", $"registry_id")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |reg AS (
        |  SELECT c_custkey + 500000 AS r_id,
        |    concat(substr(c_name, 1, CAST(9 + (c_custkey // 3) % 9 AS INT)), 'X',
        |      substr(c_name, CAST(11 + (c_custkey // 3) % 9 AS INT))) AS r_name,
        |    c_nationkey AS r_nat, c_mktsegment AS r_seg, cents AS r_cents
        |  FROM cust WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey + 600000, 'Ghost#' || c_custkey,
        |    c_nationkey, c_mktsegment, cents
        |  FROM cust WHERE c_custkey % 11 = 0),
        |pa AS (
        |  SELECT c.c_custkey, r.r_id, c.c_name, r.r_name,
        |    1 AS via_bal, 0 AS via_name
        |  FROM cust c JOIN reg r ON c.cents = r.r_cents),
        |pb AS (
        |  SELECT c.c_custkey, r.r_id, c.c_name, r.r_name,
        |    0 AS via_bal, 1 AS via_name
        |  FROM cust c JOIN reg r ON c.c_nationkey = r.r_nat
        |    AND c.c_mktsegment = r.r_seg
        |    AND substr(c.c_name, 15, 4) = substr(r.r_name, 15, 4)),
        |u AS (
        |  SELECT c_custkey, r_id, c_name, r_name,
        |    max(via_bal) AS vb, max(via_name) AS vn
        |  FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT c_custkey, r_id AS registry_id,
        |  CAST(levenshtein(c_name, r_name) AS BIGINT) AS lev,
        |  CAST(vb AS BIGINT) AS via_bal, CAST(vn AS BIGINT) AS via_name
        |FROM u WHERE levenshtein(c_name, r_name) <= 1
        |ORDER BY c_custkey, registry_id""".stripMargin)),

    // ---- compaction EXECUTION (the execute half of
    // pipeline_compaction_plan, which only plans bins): the ship-month
    // fact layout ([[bloomIdxDir]]'s data tree, written by whatever task
    // parallelism produced it — several small files per month) is
    // rewritten once per JVM to ONE file per partition
    // (repartition(ship_month) before partitionBy aligns tasks to
    // partitions — the OPTIMIZE/rewriteDataFiles pass). The query reports
    // the per-month row/order counts FROM THE COMPACTED TREE and the
    // oracle recomputes them from the raw fact table, so a row lost or
    // duplicated by the rewrite hash-mismatches; DiagnosticsSpec pins the
    // structural claim (exactly one file per month dir, total file count
    // strictly down). At 100 TB compaction is what keeps the file count —
    // and with it planning time and open-file cost — bounded as
    // micro-batches accumulate.
    ("pipeline_compaction_exec", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, compactedDir(s, d))
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- point lookup THROUGH the compacted layout's own re-built
    // sidecars ([[compactedIdxDir]] — the index maintenance an OPTIMIZE
    // pass owes its table: compaction rewrites every file, so the old
    // sidecars describe dead paths and the point-lookup serve would
    // silently die without a re-index). Same seven dashboard keys and the
    // VERBATIM pipeline_bloom_index oracle: hash-matching it proves the
    // compacted tree + fresh index serve exactly what the original layout
    // served. Within-month skipping necessarily coarsens to month-level
    // at one file per month — the documented compaction trade
    // (DiagnosticsSpec pins index↔tree 1:1 and that skipping survives).
    ("pipeline_compaction_lookup", (s, d) => {
      import s.implicits._
      val probes = BloomIdxKeys.toDF("k")
      val files = matchedFilesOnly(s, compactedIdxDir(s, d), probes)
      readMatchedFiles(s, compactedDir(s, d), files.toSeq)
        .join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"),
          countDistinct($"ship_month").as("n_ship_months"))
        .orderBy($"l_orderkey")
    }, Some(bloomLookupOracle)),

    // ---- GDPR deletion planning (right-to-be-forgotten, the fourth
    // privacy leg after pii_redact / k_anonymity+l_diversity /
    // dp_histogram — and the one that touches STORAGE): erase-requests
    // arrive as customer keys (every 271st customer); the planner resolves
    // them to order keys, probes the lineitem bloom sidecars with those
    // keys, and builds the per-month rewrite manifest — rows to purge and
    // orders affected per partition — by scanning ONLY the bloom-matched
    // files (the deletion-vector / rewrite-planning pass of a lakehouse
    // DELETE; scanning the full fact table to find a handful of users is
    // exactly what the sidecars exist to avoid). Exactness rides the
    // bloom's no-false-negative guarantee — a missed file would drop
    // purge rows and hash-mismatch the oracle, which recomputes the
    // manifest from the raw tables. Same eager metadata-scale planning
    // collect as pipeline_bloom_index (documented there).
    ("pipeline_delete_plan", (s, d) => {
      import s.implicits._
      val keys = eraseOrderKeys(s, d)
      val files = bloomIdxMatchedFilesOnlyFor(s, d, keys)
      readBloomMatched(s, d, files.toSeq)
        .join(keys.withColumnRenamed("k", "l_orderkey"), Seq("l_orderkey"))
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows_purge"),
          countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows_purge,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 = 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- GDPR deletion EXECUTION (the plan above, run to completion —
    // see [[deleteExecDir]]): unmatched files carry over by hard link
    // (zero bytes rewritten), matched files are rewritten minus the purge
    // rows, bloom sidecars reconcile incrementally (retained rows remapped,
    // fresh bitsets only for rewritten files), and the daily MV refreshes
    // only months that actually lost rows. This query is the post-delete
    // monthly report FROM THE REWRITTEN TREE; the oracle recomputes it from
    // the raw tables minus the erased customers' orders, so any under- or
    // over-purge hash-mismatches. DiagnosticsSpec pins the metadata story:
    // index rows ↔ tree files 1:1, retained files untouched, erased keys
    // unfindable through the new sidecars.
    ("pipeline_delete_exec", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(wave1ServeOracleSql)),

    // ---- the MV after the delete: the daily rollup incremental-refreshed
    // through the mutation (untouched months linked over, lost-row months
    // recomputed from the post-delete tree). Reading the WHOLE view and
    // oracle-recomputing it from raw-minus-erased is the strongest
    // consistency check: a stale touched month, a clobbered untouched one,
    // or a refresh computed from pre-delete data all hash-mismatch. Output
    // is calendar-bounded (~2.5k daily rows for the 1995-2001 ship range)
    // at every SF.
    ("pipeline_delete_mv", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(l_shipdate AS DATE) AS ship_day,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 <> 0
        |GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- point-lookup service through the RECONCILED sidecars: probes mix
    // the seven dashboard order keys with the erased orders of the lowest
    // erased customers (custkey ≤ 271 — deterministic at every SF). The
    // lookup plans its file list against the POST-delete index and scans
    // only those files of the post-delete tree; erased orders come back
    // with zero rows (right-to-be-forgotten, served), retained keys with
    // their true aggregates. The oracle recomputes from raw-minus-erased,
    // so a stale sidecar row pointing at a rewritten-away file, or purge
    // rows surviving in a matched file, both surface.
    ("pipeline_delete_serve", (s, d) => {
      import s.implicits._
      val root = deleteExecDir(s, d)
      val probes = eraseOrderKeys(s, d)
        .join(Tables.orders(s, d).filter($"o_custkey" <= 271L)
          .select($"o_orderkey"), $"k" === $"o_orderkey", "left_semi")
        .unionByName(BloomIdxKeys.toDF("k")).distinct()
      val files = matchedFilesOnly(s, s"$root/index", probes)
      readMatchedFiles(s, s"$root/data", files.toSeq)
        .join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""SELECT l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_custkey % 271 <> 0
         |  AND (l_orderkey IN (${BloomIdxKeys.mkString(", ")})
         |    OR o_orderkey IN (SELECT o_orderkey FROM orders
         |         WHERE o_custkey % 271 = 0 AND o_custkey <= 271))
         |GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- MERGE-ON-READ delete, step 1: write position-delete sidecars
    // ([[morDeleteDir]]) — erase wave 1 expressed as (file, physical row
    // position) rows, ZERO data files rewritten (MorDeleteSpec pins the
    // tree is byte-untouched). This is the Iceberg position-delete /
    // Delta deletion-vector shape: at 100 TB a small delete costs
    // |deleted rows| of sidecar write, not |matched files| of rewrite.
    // The readout is the sidecar's per-month delete manifest; the oracle
    // recomputes it from the raw tables, so a missed bloom file (dropped
    // positions) or a mis-keyed scan both hash-mismatch.
    ("pipeline_mor_delete", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${morDeleteDir(s, d)}/deletes")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_del_pos"),
          countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_del_pos,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 = 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- MERGE-ON-READ delete, step 2: SERVE through the sidecar
    // ([[morServeRead]]) — the monthly report over the ORIGINAL tree with
    // the position deletes anti-joined out at scan time (broadcast hash
    // probe per row, no fact-side shuffle). Judged by the VERBATIM
    // copy-on-write oracle of pipeline_delete_exec: both mutation
    // strategies must converge to the identical post-delete state, so an
    // unapplied position, a double-counted file, or a position drifting
    // across scans (row_index is physical and stable) all hash-mismatch.
    ("pipeline_mor_serve", (s, d) => {
      import s.implicits._
      morServeRead(s, d)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(wave1ServeOracleSql)),

    // ---- MERGE-ON-READ delete, step 3: COMPACTION folds the sidecar in
    // and retires it ([[morCompactDir]]) — only files that actually carry
    // delete positions rewrite (a subset of the CoW path's bloom-matched
    // set: false-positive matches stay linked), everything else carries
    // over by hard link. Same VERBATIM CoW oracle: the folded tree must
    // equal the copy-on-write result row-for-row (also pinned directly by
    // MorDeleteSpec), closing the MOR lifecycle delete → serve → fold.
    ("pipeline_mor_compact", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${morCompactDir(s, d)}/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(wave1ServeOracleSql)),

    // ---- MERGE-ON-READ upsert ([[morMergeDir]]): the MOR twin of the
    // copy-on-write MERGE below, composing with wave 1's position-delete
    // sidecar over the SAME untouched original tree — replaced rows get a
    // second position-delete sidecar, the batch lands as plain appended
    // files, and the serve applies both sidecars in ONE unioned broadcast
    // anti-join before unioning the batch in. Judged by the VERBATIM
    // copy-on-write merge oracle: both merge strategies must converge to
    // the identical post-merge state (also pinned row-for-row against the
    // CoW tree by MorDeleteSpec). Zero original files rewritten — at
    // 100 TB the upsert costs |batch| + |replaced rows| of write.
    ("pipeline_mor_merge", (s, d) => {
      import s.implicits._
      morMergeRead(s, d)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(mergedStateOracleSql)),

    // ---- DELETION VECTORS, serve ([[dvDeleteDir]]): the FOURTH delete
    // form (Delta DVs / Iceberg v3) — wave 1 as ONE bitmap per touched
    // file, applied at scan time by a broadcast per-FILE join + a
    // codegen'd bit test (no join on position, no fact-side shuffle).
    // Judged by the VERBATIM copy-on-write delete oracle: all four
    // strategies must converge to the identical post-delete state.
    ("pipeline_dv_serve", (s, d) => {
      import s.implicits._
      dvServeRead(s, d, "dv1")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(wave1ServeOracleSql)),

    // ---- DELETION VECTORS, update ([[dvMergeBitmaps]]): wave 2 arrives
    // and each touched file's vector is REPLACED by the OR of old and new
    // bits — the property DVs buy over position-delete files, whose
    // sidecar list grows per commit until compaction. Wave-1-only files
    // keep their vector verbatim (DvSpec pins byte-identity); customer 0
    // sits in BOTH erase sets, so overlapping bits must OR idempotently.
    // The oracle recomputes the double-delete state from raw.
    ("pipeline_dv_update", (s, d) => {
      import s.implicits._
      dvServeRead(s, d, "dv")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 <> 0 AND o_custkey % 337 <> 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- DELETION VECTORS, compaction ([[dvCompactDir]]): the merged
    // sidecar folds into the tree and RETIRES — no refinement needed (a
    // vector IS the exact per-file delete set, so exactly the touched
    // files rewrite; bloom false positives cannot exist here), untouched
    // files hard-link through, and post-compaction readers scan with no
    // probe at all. Judged by the VERBATIM double-delete oracle —
    // compaction must be invisible; DvSpec pins retirement, exact
    // rewrite set, and folded ≡ probe serve row-for-row.
    ("pipeline_dv_compact", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${dvCompactDir(s, d)}/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 271 <> 0 AND o_custkey % 337 <> 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- EQUALITY DELETE, step 1 ([[eqDeleteDir]]/[[eqMergeDir]]): the
    // third delete strategy, completing the Iceberg v2 delete taxonomy
    // beside copy-on-write and position deletes — the delete file carries
    // ONLY key values + the commit's sequence number, so writing it opens
    // ZERO data files (no bloom probe, no position scan; the resolution
    // cost is deferred to readers and, eventually, one compaction). The
    // readout is both delete files' key manifests bucketed by k % 10; the
    // oracle recomputes both key sets from raw, so a lost key, a
    // mis-sequenced file, or batch keys leaking into wave 1 all
    // hash-mismatch.
    ("pipeline_eq_delete", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${eqDeleteDir(s, d)}/eq_deletes")
        .unionByName(graft.Tables.readCached(s, s"${eqMergeDir(s, d)}/eq_deletes"))
        .groupBy($"seq_del".as("wave"), ($"k" % 10L).as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"wave", $"bucket")
    }, Some(
      s"""WITH w1 AS (
         |  SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS wave
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE c_custkey % 271 = 0),
         |w2 AS (
         |  SELECT k, CAST(2 AS BIGINT) AS wave FROM (
         |    SELECT DISTINCT l_orderkey AS k
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |    WHERE o_custkey % 293 = 0
         |    UNION
         |    SELECT o_orderkey + $MergeInsertOffset AS k
         |    FROM orders WHERE o_custkey % 293 = 0)),
         |alld AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
         |SELECT wave, k % 10 AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  min(k) AS min_k, max(k) AS max_k
         |FROM alld GROUP BY 1, 2 ORDER BY wave, bucket""".stripMargin)),

    // ---- EQUALITY DELETE, step 2: SERVE ([[eqServeRead]]) — the monthly
    // report over the ORIGINAL tree with the wave-1 equality delete
    // anti-joined out at scan time under the sequence rule (seq_del 1 >
    // seq_data 0, so it applies). Judged by the VERBATIM copy-on-write
    // oracle: all three delete strategies must converge to the identical
    // post-delete state.
    ("pipeline_eq_serve", (s, d) => {
      import s.implicits._
      eqServeRead(s, d)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(wave1ServeOracleSql)),

    // ---- EQUALITY DELETE, step 3: the composed MERGE serve
    // ([[eqMergeServe]]) — wave-1 delete (seq 1) + merge batch and its
    // replacement delete (seq 2) over the untouched seq-0 tree, one
    // unioned broadcast probe. The SEQUENCE rule is load-bearing here,
    // not decorative: customer 0's keys are in BOTH delete files, yet the
    // batch's re-inserted rows for them must survive because no delete is
    // strictly newer than the batch — a sequence-ignorant reader fails
    // this oracle (EqDeleteSpec pins the counterfactual). Judged by the
    // VERBATIM copy-on-write merge oracle.
    ("pipeline_eq_merge_serve", (s, d) => {
      import s.implicits._
      eqMergeServe(s, d)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(mergedStateOracleSql)),

    // ---- EQUALITY DELETE, step 4: COMPACTION ([[eqCompactDir]]) — the
    // monthly report over the FOLDED tree, scanned with NO delete probe
    // at all: both equality-delete files were rewritten in (only files
    // actually holding matching rows touched; the seq-2 batch files
    // retained verbatim under the strictly-older rule despite their keys
    // sitting in the seq-2 delete file) and RETIRED. Judged by the
    // VERBATIM copy-on-write merge oracle — compaction must be invisible
    // to readers; a delete applied to the wrong sequence, a lost rewrite,
    // or a batch file wrongly emptied all hash-mismatch. EqCompactSpec
    // pins the lifecycle: delete files retired, zero unmatched-file
    // rewrites, serve ≡ the pre-compaction probe serve row-for-row.
    ("pipeline_eq_compact", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${eqCompactDir(s, d)}/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(mergedStateOracleSql)),

    // ---- OPTIMISTIC CONCURRENCY serve ([[concurrentCommitDir]]): the
    // monthly report through the tip AFTER the race — writer B's delete
    // committed first, writer A detected the file-level conflict (its
    // staged plan rewrote files B's commit removed), discarded its
    // staging and rebased against B's tip. Deletes of fixed key sets
    // commute, so the converged state is order-independent
    // (ConcurrencySpec pins B∘A ≡ A∘B row-for-row); the oracle
    // recomputes it from raw — a lost rebase (A's delete silently
    // dropped), a double-applied wave, or a stale-staging commit (files
    // carrying B's deleted rows back in) all hash-mismatch.
    ("pipeline_concurrent_commit", (s, d) => {
      import s.implicits._
      val tip = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"${concurrentCommitDir(s, d)}/tip.txt"))
      graft.Tables.readCached(s, s"$tip/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey % 383 <> 0 AND o_custkey % 389 <> 0
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- CHANGELOG-DRIVEN MV MAINTENANCE: the consumption side of
    // [[snapshotChangelog]] — the daily rollup is refreshed from snapshot
    // 2's MV to snapshot 4's state by APPLYING the 2→4 changelog as
    // signed per-(month, day) deltas (insert/update_post add, delete/
    // update_pre subtract), never rescanning the fact: exactly how a
    // Delta-CDF consumer maintains a downstream aggregate. Judged by the
    // VERBATIM oracle of pipeline_delete_mv2 (the engine's own
    // thrice-refreshed MV of the same epoch) — a wrong verb sign, a lost
    // delta group, or a fully-deleted day surviving all hash-mismatch.
    // At 100 TB the refresh reads |changed rows| + the rollup, never the
    // table.
    ("pipeline_changelog_apply_mv", (s, d) => {
      import s.implicits._
      val mv2 = graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
      val delta = graft.Tables.readCached(s, changelogDir(s, d))
        .withColumn("sgn",
          when($"change_type".isin("insert", "update_post"), $"n")
            .otherwise(-$"n"))
        .groupBy($"ship_month", $"ship_day")
        .agg(sum($"sgn").as("d_items"),
          sum($"sgn" * $"qty").as("d_qty"),
          sum($"sgn" * $"net_cents").as("d_cents"))
      mv2.join(delta, Seq("ship_month", "ship_day"), "full_outer")
        .select($"ship_month", $"ship_day",
          (coalesce($"n_items", lit(0L)) + coalesce($"d_items", lit(0L)))
            .as("n_items"),
          (coalesce($"sum_qty", lit(0L)) + coalesce($"d_qty", lit(0L)))
            .as("sum_qty"),
          (coalesce($"revenue_cents", lit(0L)) + coalesce($"d_cents", lit(0L)))
            .as("revenue_cents"))
        .filter($"n_items" > 0L)
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month, ship_day,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- TWO-LEVEL MANIFEST PLANNING ([[manifestListDir]]): a one-year
    // month-window report over the chain tip, PLANNED through the
    // manifest-list layer — the list's partition-range stats prune
    // whole manifest groups before any file is listed, so plan I/O is
    // |groups| + |matching entries|, flat in total file count (priced in
    // BASELINE.md, "Round 15: two-level manifest planning priced"). The
    // serve reads exactly the planned files; the oracle recomputes the
    // window from raw, so a group pruned wrongly (lost months), a stale
    // list row, or an over-wide plan leaking a neighboring month all
    // hash-mismatch.
    ("pipeline_manifest_list", (s, d) => {
      import s.implicits._
      val (files, _, _) = planViaManifestList(s, d, "1995-01", "1995-12")
      // the layout's own pinned discovery base — the serve plans entirely
      // from the two-level fixture, never re-deriving the tip
      val base = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"${manifestListDir(s, d)}/base.txt"))
      readMatchedFiles(s, base, files)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged
         |WHERE o_custkey % 337 <> 0
         |  AND ship_month BETWEEN '1995-01' AND '1995-12'
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- SNAPSHOT ROLLBACK serve ([[rollbackMetaDir]]): the monthly
    // report read through the ROLLBACK snapshot's manifest — the current
    // pointer moved back past the merge and delete-w2 waves by one pure
    // metadata write, so the readout must equal the wave-1 state again
    // and is judged by pipeline_delete_exec's VERBATIM oracle. Lineage
    // keeps the whole history (the rollback row's parent is the old tip),
    // so the abandoned waves stay time-travelable until expiration GC'd.
    ("pipeline_snapshot_rollback", (s, d) => {
      import s.implicits._
      val root = rollbackMetaDir(s, d)
      val cur = graft.Tables.readCached(s, s"$root/snapshots")
        .orderBy($"snap_id".desc).limit(1)
        .select($"snap_id", $"base").as[(Long, String)].head()
      val files = graft.Tables.readCached(s, s"$root/manifests")
        .filter($"snap_id" === cur._1).select($"file").as[String].collect()
      readMatchedFiles(s, cur._2, files.toSeq)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(wave1ServeOracleSql)),

    // ---- CATALOG time travel ([[catalogDir]]): the state summary of
    // EVERY catalog version of ship_fact — v0 resolves to the chain's
    // tip metadata (the wave-2 state), v1 to the rollback commit's
    // (wave-1 again): the catalog's append-only pointer log IS the
    // table's readable history, and each version plans through its own
    // resolved metadata world via the one shared [[readSnapshotFrom]]
    // path. The oracle recomputes both epochs from raw, so a pointer at
    // the wrong world, a version resolved to the wrong snapshot, or a
    // swap that mutated history instead of appending all hash-mismatch.
    // CatalogSpec pins the CAS contract (stale swaps refuse; a commit
    // appends exactly one row).
    ("pipeline_catalog_time_travel", (s, d) => {
      import s.implicits._
      val log = graft.Tables.readCached(s, s"${catalogDir(s, d)}/catalog_log")
        .filter($"table_name" === "ship_fact")
        .select($"version", $"meta_root", $"snap_id")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      parallelFrames(log.toSeq.map { case (v, metaRoot, snap) => () =>
        readSnapshotFrom(s, metaRoot, snap)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"qty").as("sum_qty"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(v).as("version"), $"n_rows", $"n_orders",
            $"sum_qty", $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"version")
    }, Some(
      s"""$mergeStateCtes
         |SELECT CAST(0 AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT),
         |  CAST(count(*) AS BIGINT),
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
         |  CAST(sum(qty) AS BIGINT), CAST(sum(net_cents) AS BIGINT)
         |FROM base WHERE o_custkey % 271 <> 0
         |ORDER BY version""".stripMargin)),

    // ---- BRANCHES + TAGS ([[branchMetaDir]]): the multi-ref metadata
    // layer — per-ref state summary served through each CURRENT head's
    // manifest (main after the cherry-pick → snapshot 7, the audit
    // branch → its append commit 6, the immutable tag → the compaction
    // snapshot 1). The oracle recomputes all three epochs from raw
    // (merge chain + wave-1 state + the branch batch), so a ref pointing
    // at the wrong snapshot, a branch commit leaking into main, or a
    // cherry-pick double-applying the batch all hash-mismatch.
    ("pipeline_snapshot_branch", (s, d) => {
      import s.implicits._
      // per-ref frames resolve their manifests with driver-blocking
      // collects — build them concurrently (guide §2.6, [[parallelFrames]])
      parallelFrames(currentRefs(s, d).map { case (ref, tpe, id) => () =>
        readBranchSnapshot(s, d, id)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"qty").as("sum_qty"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(ref).as("ref"), lit(tpe).as("ref_type"),
            lit(id).as("snap_id"), $"n_rows", $"n_orders", $"sum_qty",
            $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"ref")
    }, Some(branchRefsOracleSql)),

    // ---- REF-AWARE EXPIRATION + GC ([[refsGcDir]]): the per-ref state
    // summary AGAIN — but served from the post-GC clone, after retention
    // kept only {every ref head} ∪ {main head's parent} and the orphan
    // walk physically deleted every clone file no LIVE manifest
    // references. Judged by pipeline_snapshot_branch's oracle VERBATIM
    // (shared text): an over-eager GC — the single-chain tip+parent
    // policy would have deleted the tag-pinned compaction files and the
    // audit branch's inherited wave-1 files — fails this query loudly at
    // scan time; an under-delete is pinned by RefsGcSpec. Expired
    // snapshot 2's files survive ONLY because the audit head's manifest
    // still reaches them: retention is manifest reachability across ALL
    // refs, not chain membership.
    ("pipeline_refs_expire", (s, d) => {
      import s.implicits._
      val root = refsGcDir(s, d)
      val refs = graft.Tables.readCached(s, s"$root/refs")
        .as[(String, String, Long)].collect().sortBy(_._1)
      parallelFrames(refs.toSeq.map { case (ref, tpe, id) => () =>
        readRefsGcSnapshot(s, d, id)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"qty").as("sum_qty"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(ref).as("ref"), lit(tpe).as("ref_type"),
            lit(id).as("snap_id"), $"n_rows", $"n_orders", $"sum_qty",
            $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"ref")
    }, Some(branchRefsOracleSql)),

    // ---- CHERRY-PICK serve: the monthly report through main's head
    // AFTER the pick (snapshot 7 = snapshot 4's manifest + the branch's
    // batch files RE-LINKED — zero data files written; BranchSpec pins
    // the manifest algebra and physical sharing). The oracle is the
    // post-chain state plus the batch, recomputed from raw: a pick that
    // dropped a file, double-linked the batch, or disturbed 4's
    // manifest hash-mismatches by month.
    ("pipeline_cherry_pick", (s, d) => {
      import s.implicits._
      val mainId = currentRefs(s, d).collectFirst {
        case ("main", _, id) => id }.get
      readBranchSnapshot(s, d, mainId)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes,
         |bb AS (
         |  SELECT o_orderkey + $BranchBatchOffset AS l_orderkey,
         |    strftime(o_orderdate, '%Y-%m') AS ship_month,
         |    CAST(2 AS BIGINT) AS qty,
         |    (o_orderkey % 991) * 100 + 7 AS net_cents
         |  FROM orders WHERE o_custkey % 499 = 0)
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM (
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM merged
         |  WHERE o_custkey % 337 <> 0
         |  UNION ALL
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM bb)
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- INCREMENTAL APPEND SCAN: rows ADDED between the audit
    // branch's fork (snapshot 2) and its head (6) — the Iceberg
    // incremental-read fast path for append-only deltas: the manifests
    // diff on relpath (metadata-scale) and ONLY the added files are
    // read; no row-level diff is ever computed (contrast
    // pipeline_snapshot_changelog, which must full-outer rewrites). A
    // downstream consumer tailing a table pays |new files|, never table
    // size. Oracle = the branch batch recomputed from raw, monthly.
    ("pipeline_incremental_scan", (s, d) => {
      import s.implicits._
      val root = branchMetaDir(s, d)
      val mans = graft.Tables.readCached(s, s"$root/manifests")
        .filter($"snap_id".isin(2L, 6L))
        .select($"snap_id", $"file", $"base")
        .as[(Long, String, String)].collect()
      def rel(f: String, b: String) =
        java.nio.file.Paths.get(normPath(b))
          .relativize(java.nio.file.Paths.get(normPath(f))).toString
      val before = mans.collect { case (2L, f, b) => rel(f, b) }.toSet
      val added = mans.collect {
        case (6L, f, b) if !before(rel(f, b)) => (normPath(b), normPath(f))
      }
      added.groupBy(_._1).map { case (b, fs) =>
        readMatchedFiles(s, b, fs.map(_._2).toSeq)
          .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
      }.reduceOption(_ unionByName _)
        .getOrElse(sys.error(
          "no files added between snapshots 2 and 6 — branch fixture drift"))
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT o_orderkey + $BranchBatchOffset) AS BIGINT) AS n_orders,
         |  CAST(sum(2) AS BIGINT) AS sum_qty,
         |  CAST(sum((o_orderkey % 991) * 100 + 7) AS BIGINT) AS revenue_cents
         |FROM orders WHERE o_custkey % 499 = 0
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- BRANCH MERGE-BACK ([[branchMergeDir]]): the monthly report
    // through main's head AFTER both diverged branches folded back in —
    // the audit append (fork 2) and a hotfix copy-on-write delete of
    // customers % 163 == 0 (fork 4), each validated file-level against
    // main's movement since its fork and applied as pure manifest
    // algebra (zero data files written by either merge). The oracle
    // recomputes the converged state from raw: post-chain survivors
    // minus the hotfix customers plus the branch batch. A lost delta, a
    // double-applied batch, a merge that resurrected a removed file, or
    // an order-dependent result (BranchMergeSpec pins A∘B ≡ B∘A on the
    // twin snapshots) all hash-mismatch.
    ("pipeline_branch_merge", (s, d) => {
      import s.implicits._
      val mainId = graft.Tables.readCached(s, s"${branchMergeDir(s, d)}/refs_log")
        .filter($"ref" === "main").orderBy($"step".desc).limit(1)
        .select($"snap_id").as[Long].head()
      readMergedSnapshot(s, d, mainId)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes,
         |bb AS (
         |  SELECT o_orderkey + $BranchBatchOffset AS l_orderkey,
         |    strftime(o_orderdate, '%Y-%m') AS ship_month,
         |    CAST(2 AS BIGINT) AS qty,
         |    (o_orderkey % 991) * 100 + 7 AS net_cents
         |  FROM orders WHERE o_custkey % 499 = 0),
         |fin AS (
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM merged
         |  WHERE o_custkey % 337 <> 0 AND o_custkey % 163 <> 0
         |  UNION ALL
         |  SELECT l_orderkey, ship_month, qty, net_cents FROM bb)
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM fin GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- POINT LOOKUPS through a BRANCH ref: the audit head is a full
    // table — its commit reconciled a sidecar index ([[branchMetaDir]]:
    // inherited files keep the parent snapshot's index rows, batch files
    // get fresh bitsets), so the seven dashboard keys PLUS the two
    // smallest branch-batch keys (derived, both engines agree: the
    // ordered key set is deterministic) are served by bloom-planned file
    // opens spanning BOTH physical roots, never a scan — the batch-key
    // probes can only be answered through the FRESH index rows routing
    // to the branch root. A stale inherited row, an unindexed batch file
    // (its keys unfindable — bloom has no false negatives), or a probe
    // resolved against the wrong root all hash-mismatch.
    ("pipeline_branch_lookup", (s, d) => {
      import s.implicits._
      val root = branchMetaDir(s, d)
      val auditId = currentRefs(s, d).collectFirst {
        case ("audit", _, id) => id }.get
      val twins = graft.Tables.readCached(s, s"$root/branch_files")
        .select($"l_orderkey").orderBy($"l_orderkey")
        .limit(2).as[Long].collect()
      val probes = (BloomIdxKeys ++ twins).toDF("k")
      val files = matchedFilesOnly(s, s"$root/idx$auditId", probes)
      // resolve each matched file's discovery base through the manifest
      // (metadata-scale: one row per file of ONE snapshot)
      val baseOf = graft.Tables.readCached(s, s"$root/manifests")
        .filter($"snap_id" === auditId)
        .select($"base", $"file").as[(String, String)].collect()
        .map { case (b, f) => normPath(f) -> normPath(b) }.toMap
      // a drifted index row (path normalization mismatch vs the manifest)
      // must fail loudly with the offending path, not as a bare
      // NoSuchElementException
      val legs = files.toSeq.groupBy(f => baseOf.getOrElse(f, sys.error(
          s"index file $f missing from snapshot $auditId manifest"))).map { case (b, fs) =>
        readMatchedFiles(s, b, fs)
          .select($"l_orderkey", $"qty", $"net_cents")
      }.reduceOption(_ unionByName _)
        .getOrElse(graft.Tables.readCached(s, bloomIdxDataDir(s, d))
          .select($"l_orderkey", $"qty", $"net_cents").filter(lit(false)))
      legs.join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""WITH audit AS (
         |  SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_cents
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_custkey % 271 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + $BranchBatchOffset, CAST(2 AS BIGINT),
         |    (o_orderkey % 991) * 100 + 7
         |  FROM orders WHERE o_custkey % 499 = 0)
         |SELECT l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM audit
         |WHERE l_orderkey IN (${BloomIdxKeys.mkString(", ")})
         |   OR l_orderkey IN (
         |     SELECT o_orderkey + $BranchBatchOffset FROM orders
         |     WHERE o_custkey % 499 = 0 ORDER BY o_orderkey LIMIT 2)
         |GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- PARTITION EVOLUTION serve ([[partEvoDir]]): a ship-range
    // probe SPANNING the month→week cutover, planned per layout leg —
    // the month-partitioned history prunes on ship_month, the
    // week-partitioned present prunes on the integer epoch-week
    // transform (with the day-grain residual on each side), and the two
    // pruned scans union into one report. The oracle recomputes the
    // range from raw, so a boundary row lost or double-served at the
    // cutover seam (the bug class spec evolution invites) hash-
    // mismatches; PartEvoSpec pins both legs actually pruned (opened
    // files ≪ layout files) and old ∪ new ≡ the fact exactly.
    ("pipeline_partition_evolution", (s, d) => {
      import s.implicits._
      val root = partEvoDir(s, d)
      val (lo, hi) = ("1997-11-15", "1998-03-15")
      val wLo = java.time.LocalDate.parse("1998-01-01").toEpochDay / 7
      val wHi = java.time.LocalDate.parse(hi).toEpochDay / 7
      val old = graft.Tables.readCached(s, s"$root/old")
        .filter($"ship_month".isin("1997-11", "1997-12") &&
          $"ship_day" >= lo)
        .select($"ship_month", $"qty", $"net_cents")
      val neu = graft.Tables.readCached(s, s"$root/new")
        .filter($"ship_week".between(wLo, wHi) && $"ship_day" <= hi)
        .select(date_format($"ship_day", "yyyy-MM").as("ship_month"),
          $"qty", $"net_cents")
      old.unionByName(neu)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"), sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-11-15' AND DATE '1998-03-15'
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- WRITE-AUDIT-PUBLISH, audit readout ([[wapDir]]): the
    // expectations verdict over BOTH staged merge candidates — the clean
    // batch (0 violations → published) and the poisoned twin (qty
    // negated on %7 keys → held back). The oracle recomputes both
    // candidates' staged STATE from raw (the poisoned rows are exactly
    // the batch rows with l_orderkey % 7 == 0 — synthetic keys included,
    // since the predicate applies to the key itself on both engines), so
    // a mis-audited candidate or a wrong publish verdict hash-mismatches.
    ("pipeline_wap_audit", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${wapDir(s, d)}/publish_log")
        .select($"candidate", $"n_checked", $"n_violations", $"published")
        .orderBy($"candidate")
    }, Some(
      s"""$mergeStateCtes
         |SELECT 'bad' AS candidate,
         |  CAST(count(*) AS BIGINT) AS n_checked,
         |  CAST(sum(CASE WHEN (o_custkey % 293 = 0 OR o_custkey = -1)
         |    AND l_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         |  sum(CASE WHEN (o_custkey % 293 = 0 OR o_custkey = -1)
         |    AND l_orderkey % 7 = 0 THEN 1 ELSE 0 END) = 0 AS published
         |FROM merged
         |UNION ALL
         |SELECT 'good', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
         |  0 = 0
         |FROM merged
         |ORDER BY candidate""".stripMargin)),

    // ---- WRITE-AUDIT-PUBLISH, published-pointer serve: the monthly
    // report read THROUGH the publish log's pointer (one metadata row →
    // base path), judged by the VERBATIM copy-on-write merge oracle — if
    // the audit gate had published the poisoned candidate, every %7
    // batch row's qty sign flips and the hash mismatches. WapSpec pins
    // the lifecycle's destructive half: the failed candidate's staged
    // root is GONE, and both the published snapshot and its wave-1
    // parent still serve (hard-linked retention makes abandonment safe).
    ("pipeline_wap_publish", (s, d) => {
      import s.implicits._
      val base = graft.Tables.readCached(s, s"${wapDir(s, d)}/publish_log")
        .filter($"published").select($"base").as[String].head()
      graft.Tables.readCached(s, base)
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(mergedStateOracleSql)),

    // ---- copy-on-write MERGE (upsert) EXECUTION on top of delete wave 1
    // ([[mergeExecDir]]): the CDC change-detection → APPLY loop run to
    // completion. The batch ([[mergeUpsertRows]]) replaces every %293
    // customer's order lines with qty+1 twins (re-inserting customer 0's
    // wave-1-purged orders — insert-or-replace) and inserts one synthetic
    // line per target order, some into months the tree had no partition
    // for. Only bloom-matched files rewrite; inserts append; the index
    // reconciles incrementally; only gaining/losing MV months refresh.
    // This query is the post-merge monthly report FROM THE REWRITTEN TREE;
    // the oracle recomputes the merged state from the raw tables, so a
    // lost update, a dropped insert, a double-applied replacement or an
    // unrewritten matched file all hash-mismatch.
    ("pipeline_merge_exec", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${mergeExecDir(s, d)}/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(mergedStateOracleSql)),

    // ---- the MV after the merge: the daily rollup incremental-refreshed
    // through an upsert — months that lost OR gained rows recomputed from
    // the post-merge tree (including months that did not exist before the
    // insert slice), untouched months carried over by link. Full readout
    // vs a raw-recompute oracle: a stale gained month (the refresh trap an
    // insert introduces that a delete never does) hash-mismatches.
    ("pipeline_merge_mv", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${mergeExecDir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month, ship_day,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

    // ---- point-lookup service through the post-MERGE sidecars: probes mix
    // the seven dashboard keys, updated order keys (≤ 1499, so the same
    // probe set at every SF), their synthetic insert twins (+10^12 — rows
    // that exist ONLY via the merge's fresh files and index rows), and the
    // wave-1 erased orders of customers ≤ 271 (customer 0's come back
    // UPDATED — re-inserted by the merge; customer 271's stay gone). The
    // oracle recomputes each group from the merged state, so a stale
    // sidecar, a missing insert index row, or an unreplaced update all
    // surface.
    ("pipeline_merge_serve", (s, d) => {
      import s.implicits._
      val root = mergeExecDir(s, d)
      val updKeys = Tables.orders(s, d)
        .filter($"o_custkey" % 293 === 0 && $"o_orderkey" <= 1499L)
        .select($"o_orderkey".as("k"))
      val probes = updKeys
        .unionByName(updKeys.select(($"k" + MergeInsertOffset).as("k")))
        .unionByName(Tables.orders(s, d)
          .filter($"o_custkey" % 271 === 0 && $"o_custkey" <= 271L)
          .select($"o_orderkey".as("k")))
        .unionByName(BloomIdxKeys.toDF("k")).distinct()
      val files = matchedFilesOnly(s, s"$root/index", probes)
      readMatchedFiles(s, s"$root/data", files.toSeq)
        .join(broadcast(probes), $"l_orderkey" === $"k")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""$mergeStateCtes
         |SELECT l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged
         |WHERE l_orderkey IN (${BloomIdxKeys.mkString(", ")})
         |  OR l_orderkey IN (SELECT o_orderkey FROM orders
         |       WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499)
         |  OR l_orderkey IN (SELECT o_orderkey + $MergeInsertOffset FROM orders
         |       WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499)
         |  OR l_orderkey IN (SELECT o_orderkey FROM orders
         |       WHERE o_custkey % 271 = 0 AND o_custkey <= 271)
         |GROUP BY 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- mutation COMPOSABILITY: a SECOND erase wave (customers
    // c % 337 == 0) applied to the MERGE snapshot — the interleaved chain
    // delete w1 → upsert → delete w2, each wave PLANNED THROUGH THE
    // PREVIOUS MUTATION'S RECONCILED SIDECARS and refreshing its
    // already-refreshed MV ([[deleteExec2Dir]]). This is the property a
    // lakehouse table actually needs — every mutation must leave an index
    // and summaries accurate enough to plan the next one; a stale sidecar
    // surviving the merge would either leak wave-2 purge rows (false
    // negative: impossible by construction, hash-checked here) or be
    // caught by DiagnosticsSpec's 1:1 index↔tree pin. Oracle recomputes
    // the merged-then-doubly-purged monthly report from the raw tables:
    // customer 0's re-inserted updates must be purged AGAIN, its synthetic
    // inserts (keys in no erase set) must survive.
    ("pipeline_delete_exec2", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${deleteExec2Dir(s, d)}/data")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- snapshot LINEAGE readout (the table-history view an Iceberg
    // `snapshots` metadata table serves): one row per snapshot of the
    // ship-month fact's mutation chain — original layout, compaction
    // rewrite, delete wave 1, MERGE upsert, delete wave 2 — each row's
    // row/order/month counts computed FROM THAT SNAPSHOT'S OWN TREE and
    // oracle-recomputed from the raw tables under the snapshot's
    // cumulative semantics. The hash match proves the chain is what it
    // claims: compaction preserved every row, each delete removed exactly
    // its erase set, the merge replaced/inserted exactly its batch. At
    // 100 TB these numbers come from snapshot manifests, not scans — here
    // the scan IS the audit (pipeline_time_travel serves the
    // manifest-addressed path).
    // ---- METADATA TABLE: row counts per snapshot answered WITHOUT
    // touching data — each snapshot's own sidecar index carries (file,
    // n_rows), so `SELECT count(*) VERSION AS OF s` is a metadata-scale
    // sum over |files| index rows (the Iceberg `$files` / statistics
    // shape; pipeline_snapshot_log below answers the same question BY
    // SCANNING, this one is its scale-FREE twin). Hash-checking the sums
    // against the raw-recompute oracle turns the whole chain's index
    // row-accounting into a correctness contract: any reconciliation
    // that lost or double-counted a file's rows (retained remap, fresh
    // build, compaction re-index) mismatches here even if point lookups
    // still happen to succeed.
    ("pipeline_meta_rowcounts", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val snaps = graft.Tables.readCached(s, s"$meta/snapshots")
        .select($"snap_id", $"op", $"idx")
        .as[(Long, String, String)].collect().sortBy(_._1)
      // file COUNTS stay out of the readout — they are layout-dependent
      // (the file-size targeting changes them); row sums are layout-free
      snaps.map { case (id, op, idx) =>
        graft.Tables.readCached(s, idx)
          .agg(sum($"n_rows").as("n_rows"))
          .select(lit(id).as("snap_id"), lit(op).as("op"), $"n_rows")
      }.reduce(_ unionByName _).orderBy($"snap_id")
    }, Some(
      s"""$mergeStateCtes,
        |s0 AS (SELECT CAST(0 AS BIGINT) AS snap_id, 'original' AS op,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM base),
        |s1 AS (SELECT CAST(1 AS BIGINT), 'compacted',
        |  CAST(count(*) AS BIGINT) FROM base),
        |s2 AS (SELECT CAST(2 AS BIGINT), 'delete_w1',
        |  CAST(count(*) AS BIGINT) FROM base WHERE o_custkey % 271 <> 0),
        |s3 AS (SELECT CAST(3 AS BIGINT), 'merge',
        |  CAST(count(*) AS BIGINT) FROM merged),
        |s4 AS (SELECT CAST(4 AS BIGINT), 'delete_w2',
        |  CAST(count(*) AS BIGINT) FROM merged WHERE o_custkey % 337 <> 0)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |UNION ALL SELECT * FROM s4
        |ORDER BY snap_id""".stripMargin)),

    // ---- METADATA TABLE: per-PARTITION row counts of the chain tip
    // (the Iceberg `$partitions` view) answered without touching data —
    // the tip's sidecar carries (file, n_rows) and the partition tuple
    // is the file's ship_month dir, so the whole readout is one
    // metadata-scale aggregation over |files| index rows. The oracle
    // recomputes the tip's monthly counts from raw: a sidecar row
    // crediting the wrong partition (path-parse drift) or a lost file
    // hash-mismatches per month, not just in the global sum.
    ("pipeline_meta_partitions", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val tipIdx = graft.Tables.readCached(s, s"$meta/snapshots")
        .orderBy($"snap_id".desc).limit(1).select($"idx").as[String].head()
      graft.Tables.readCached(s, tipIdx)
        .withColumn("mm",
          regexp_extract($"file", "ship_month=([0-9]{4}-[0-9]{2})", 1))
        // mirror manifestListDir: a sidecar path with no partition dir must
        // fail loudly, never mis-credit its rows to partition ""
        .select(when($"mm" === "", raise_error(concat(
            lit("index file carries no partition dir: "), $"file")))
          .otherwise($"mm").as("ship_month"), $"n_rows")
        .groupBy($"ship_month")
        .agg(sum($"n_rows").as("n_rows"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month, CAST(count(*) AS BIGINT) AS n_rows
         |FROM merged WHERE o_custkey % 337 <> 0
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    ("pipeline_snapshot_log", (s, d) => {
      import s.implicits._
      def stat(id: Long, op: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            countDistinct($"ship_month").as("n_months"))
          .select(lit(id).as("snap_id"), lit(op).as("op"),
            $"n_rows", $"n_orders", $"n_months")
      stat(0L, "original", graft.Tables.readCached(s, bloomIdxDataDir(s, d)))
        .unionByName(stat(1L, "compacted", graft.Tables.readCached(s, compactedDir(s, d))))
        .unionByName(stat(2L, "delete_w1",
          graft.Tables.readCached(s, s"${deleteExecDir(s, d)}/data")))
        .unionByName(stat(3L, "merge",
          graft.Tables.readCached(s, s"${mergeExecDir(s, d)}/data")))
        .unionByName(stat(4L, "delete_w2",
          graft.Tables.readCached(s, s"${deleteExec2Dir(s, d)}/data")))
        .orderBy($"snap_id")
    }, Some(
      s"""$mergeStateCtes,
        |s0 AS (SELECT CAST(0 AS BIGINT) AS snap_id, 'original' AS op,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT ship_month) AS BIGINT) AS n_months FROM base),
        |s1 AS (SELECT CAST(1 AS BIGINT), 'compacted',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM base),
        |s2 AS (SELECT CAST(2 AS BIGINT), 'delete_w1',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM base
        |  WHERE o_custkey % 271 <> 0),
        |s3 AS (SELECT CAST(3 AS BIGINT), 'merge',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM merged),
        |s4 AS (SELECT CAST(4 AS BIGINT), 'delete_w2',
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |  CAST(count(DISTINCT ship_month) AS BIGINT) FROM merged
        |  WHERE o_custkey % 337 <> 0)
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |UNION ALL SELECT * FROM s4
        |ORDER BY snap_id""".stripMargin)),

    // ---- snapshot TIME TRAVEL: two different snapshots of the mutation
    // chain read IN ONE QUERY through the persisted snapshots+manifests
    // metadata pair ([[snapshotMetaDir]] / [[readSnapshot]]) — the
    // Iceberg "read as of" half the lineage audit above doesn't serve.
    // Per month: row/revenue state at delete_w1 vs at delete_w2, plus the
    // deltas the interleaved merge+delete produced (months the merge's
    // insert slice CREATED appear with n_rows_w1 = 0). The oracle
    // recomputes both epochs from the raw tables under each snapshot's
    // cumulative semantics; DiagnosticsSpec pins that the manifest-
    // addressed scan of snapshot k opens exactly manifest(k)'s files and
    // none of any later snapshot.
    ("pipeline_time_travel", (s, d) => {
      import s.implicits._
      val w1 = readSnapshot(s, d, 2L).groupBy($"ship_month")
        .agg(count(lit(1)).as("n1"), sum($"net_cents").as("c1"))
      val w2 = readSnapshot(s, d, 4L).groupBy($"ship_month")
        .agg(count(lit(1)).as("n2"), sum($"net_cents").as("c2"))
      w1.join(w2, Seq("ship_month"), "full_outer")
        .select($"ship_month",
          coalesce($"n1", lit(0L)).as("n_rows_w1"),
          coalesce($"n2", lit(0L)).as("n_rows_w2"),
          (coalesce($"n2", lit(0L)) - coalesce($"n1", lit(0L))).as("rows_delta"),
          (coalesce($"c2", lit(0L)) - coalesce($"c1", lit(0L))).as("cents_delta"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes,
         |w1 AS (SELECT ship_month, CAST(count(*) AS BIGINT) AS n1,
         |    CAST(sum(net_cents) AS BIGINT) AS c1
         |  FROM base WHERE o_custkey % 271 <> 0 GROUP BY 1),
         |w2 AS (SELECT ship_month, CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(net_cents) AS BIGINT) AS c2
         |  FROM merged WHERE o_custkey % 337 <> 0 GROUP BY 1)
         |SELECT COALESCE(w1.ship_month, w2.ship_month) AS ship_month,
         |  CAST(COALESCE(n1, 0) AS BIGINT) AS n_rows_w1,
         |  CAST(COALESCE(n2, 0) AS BIGINT) AS n_rows_w2,
         |  CAST(COALESCE(n2, 0) - COALESCE(n1, 0) AS BIGINT) AS rows_delta,
         |  CAST(COALESCE(c2, 0) - COALESCE(c1, 0) AS BIGINT) AS cents_delta
         |FROM w1 FULL OUTER JOIN w2 ON w1.ship_month = w2.ship_month
         |ORDER BY ship_month""".stripMargin)),

    // ---- TIME-TRAVEL POINT LOOKUP: the two halves composed — "as of
    // snapshot N" resolution through the persisted snapshots metadata AND
    // bloom-sidecar file skipping, using each epoch's OWN reconciled
    // index (the one that snapshot's mutation left behind; a time-travel
    // reader must never plan through the current index). Probes mix
    // dashboard keys, merge-updated keys, their synthetic insert twins,
    // and the wave-1-erased orders of customers ≤ 271; reading delete_w1
    // vs merge side by side shows the merge's effects per key: customer
    // 0's orders ABSENT at w1 and RESURRECTED with qty+1 at the merge,
    // synthetic keys appearing only at the merge, updated keys gaining
    // exactly one qty per line. Oracle recomputes both epochs from raw.
    ("pipeline_time_travel_serve", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val snaps = graft.Tables.readCached(s, s"$meta/snapshots")
        .select($"snap_id", $"base", $"idx").as[(Long, String, String)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      val updKeys = Tables.orders(s, d)
        .filter($"o_custkey" % 293 === 0 && $"o_orderkey" <= 1499L)
        .select($"o_orderkey".as("k"))
      val probes = updKeys
        .unionByName(updKeys.select(($"k" + MergeInsertOffset).as("k")))
        .unionByName(Tables.orders(s, d)
          .filter($"o_custkey" % 271 === 0 && $"o_custkey" <= 271L)
          .select($"o_orderkey".as("k")))
        .unionByName(BloomIdxKeys.toDF("k")).distinct()
      def epoch(id: Long, nc: String, qc: String): DataFrame = {
        val (base, idx) = snaps(id)
        val files = matchedFilesOnly(s, idx, probes)
        readMatchedFiles(s, base, files.toSeq)
          .join(broadcast(probes), $"l_orderkey" === $"k")
          .groupBy($"l_orderkey")
          .agg(count(lit(1)).as(nc), sum($"qty").as(qc))
      }
      // The two epochs are independent reads whose planning each blocks the
      // driver on an index-probe collect; resolve them CONCURRENTLY (guide
      // §2.6 "overlap independent jobs") — each epoch's result frame is
      // unchanged, only the driver no longer serializes the two probes.
      val Seq(w1, mg) = parallelFrames(
        () => epoch(2L, "n_w1", "qty_w1"),
        () => epoch(3L, "n_merge", "qty_merge"))
      w1.join(mg, Seq("l_orderkey"), "full_outer")
        .select($"l_orderkey",
          coalesce($"n_w1", lit(0L)).as("n_w1"),
          coalesce($"qty_w1", lit(0L)).as("qty_w1"),
          coalesce($"n_merge", lit(0L)).as("n_merge"),
          coalesce($"qty_merge", lit(0L)).as("qty_merge"))
        .orderBy($"l_orderkey")
    }, Some(
      s"""$mergeStateCtes,
         |pr AS (
         |  SELECT o_orderkey AS k FROM orders
         |    WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499
         |  UNION SELECT o_orderkey + $MergeInsertOffset FROM orders
         |    WHERE o_custkey % 293 = 0 AND o_orderkey <= 1499
         |  UNION SELECT o_orderkey FROM orders
         |    WHERE o_custkey % 271 = 0 AND o_custkey <= 271
         |  UNION SELECT CAST(unnest([${BloomIdxKeys.mkString(", ")}]) AS BIGINT)),
         |w1e AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n1,
         |    CAST(sum(qty) AS BIGINT) AS q1
         |  FROM base JOIN pr ON l_orderkey = k
         |  WHERE o_custkey % 271 <> 0 GROUP BY 1),
         |mge AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n2,
         |    CAST(sum(qty) AS BIGINT) AS q2
         |  FROM merged JOIN pr ON l_orderkey = k GROUP BY 1)
         |SELECT COALESCE(w1e.l_orderkey, mge.l_orderkey) AS l_orderkey,
         |  CAST(COALESCE(n1, 0) AS BIGINT) AS n_w1,
         |  CAST(COALESCE(q1, 0) AS BIGINT) AS qty_w1,
         |  CAST(COALESCE(n2, 0) AS BIGINT) AS n_merge,
         |  CAST(COALESCE(q2, 0) AS BIGINT) AS qty_merge
         |FROM w1e FULL OUTER JOIN mge ON w1e.l_orderkey = mge.l_orderkey
         |ORDER BY l_orderkey""".stripMargin)),

    // ---- SNAPSHOT EXPIRATION + ORPHAN GC ([[gcExpireDir]]): retention
    // keeps the chain's current snapshot and its parent (delete_w2 and
    // merge); the original, the compaction branch and delete wave 1
    // EXPIRE, and every clone file no live manifest references — their
    // exclusive data files plus planted orphan debris — is physically
    // deleted. This readout serves BOTH live snapshots' monthly state
    // through the post-GC metadata, so an over-eager GC (a deleted file a
    // live manifest still needs) fails loudly at scan time and an
    // under-delete is pinned by GcExpireSpec; the oracle recomputes each
    // live epoch from the raw tables. At 100 TB expire+GC is
    // metadata-scale: one manifest anti-join picks the dead files, data
    // rows are never read.
    ("pipeline_snapshot_expire", (s, d) => {
      import s.implicits._
      val root = gcExpireDir(s, d)
      val live = graft.Tables.readCached(s, s"$root/snapshots")
        .select($"snap_id").as[Long].collect().sorted
      parallelFrames(live.toSeq.map { id => () =>
        readLiveSnapshot(s, d, id)
          .groupBy($"ship_month")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"net_cents").as("revenue_cents"))
          .select(lit(id).as("snap_id"), $"ship_month", $"n_rows",
            $"n_orders", $"revenue_cents")
      }: _*).reduce(_ unionByName _).orderBy($"snap_id", $"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT CAST(3 AS BIGINT) AS snap_id, ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged GROUP BY 1, 2
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), ship_month,
         |  CAST(count(*) AS BIGINT),
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
         |  CAST(sum(net_cents) AS BIGINT)
         |FROM merged WHERE o_custkey % 337 <> 0 GROUP BY 1, 2
         |ORDER BY snap_id, ship_month""".stripMargin)),

    // ---- CHANGELOG EMISSION between persisted snapshots
    // ([[snapshotChangelog]]): the net typed change rows from delete
    // wave 1's snapshot (id 2) ACROSS the merge wave to the chain tip
    // (id 4), computed purely from the engine's manifests + changed
    // files — removed/added file sets come from the relative-path
    // manifest diff, retained files are provably identical and never
    // read, and a snapshot-3 file rewritten again at 4 appears in
    // neither manifest so its transient rows cancel (NET change, the
    // Iceberg changelog-scan contract). The oracle recomputes both
    // epochs from raw and diffs the same payload multisets: a phantom
    // collateral row (a rewrite emitting a changed copy), a dropped
    // insert, an unpurged delete, or a mistyped update all
    // hash-mismatch. Output is |changed rows|, never table size.
    ("pipeline_snapshot_changelog", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, changelogDir(s, d))
        .orderBy($"l_orderkey", $"change_type", $"ship_day", $"qty",
          $"net_cents")
    }, Some(
      s"""$mergeStateCtes,
         |pre AS (
         |  SELECT l_orderkey, ship_month, ship_day, qty, net_cents,
         |    CAST(count(*) AS BIGINT) AS n_pre
         |  FROM base WHERE o_custkey % 271 <> 0 GROUP BY 1, 2, 3, 4, 5),
         |post AS (
         |  SELECT l_orderkey, ship_month, ship_day, qty, net_cents,
         |    CAST(count(*) AS BIGINT) AS n_post
         |  FROM merged WHERE o_custkey % 337 <> 0 GROUP BY 1, 2, 3, 4, 5),
         |d AS (
         |  SELECT l_orderkey, ship_month, ship_day, qty, net_cents,
         |    COALESCE(n_post, 0) - COALESCE(n_pre, 0) AS diff
         |  FROM pre FULL OUTER JOIN post USING (l_orderkey, ship_month,
         |    ship_day, qty, net_cents)
         |  WHERE COALESCE(n_post, 0) <> COALESCE(n_pre, 0)),
         |f AS (
         |  SELECT *,
         |    max(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY l_orderkey) AS has_pos,
         |    max(CASE WHEN diff < 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY l_orderkey) AS has_neg
         |  FROM d)
         |SELECT CASE WHEN diff > 0 AND has_neg = 1 THEN 'update_post'
         |            WHEN diff > 0 THEN 'insert'
         |            WHEN has_pos = 1 THEN 'update_pre'
         |            ELSE 'delete' END AS change_type,
         |  l_orderkey, ship_month, ship_day, qty, net_cents,
         |  CAST(abs(diff) AS BIGINT) AS n
         |FROM f
         |ORDER BY l_orderkey, change_type, ship_day, qty, net_cents""".stripMargin)),

    // ---- the MV after ALL THREE mutations (delete → merge → delete):
    // full daily readout of the thrice-refreshed rollup, oracle recomputed
    // from the merged-then-w2-purged state — a stale month from any wave's
    // refresh (including a merge-GAINED month wave 2 must still know
    // about) hash-mismatches.
    ("pipeline_delete_mv2", (s, d) => {
      import s.implicits._
      graft.Tables.readCached(s, s"${deleteExec2Dir(s, d)}/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
          $"revenue_cents")
        .orderBy($"ship_month", $"ship_day")
    }, Some(
      s"""$mergeStateCtes
        |SELECT ship_month, ship_day,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
        |FROM merged WHERE o_custkey % 337 <> 0
        |GROUP BY 1, 2 ORDER BY ship_month, ship_day""".stripMargin)),

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

    // ---- schema evolution on read: two parquet releases of the same
    // table, the newer one with an ADDED column, unified by mergeSchema +
    // partition discovery (release=<v> dirs) — the additive-evolution read
    // path a long-lived lakehouse table needs (reading old files yields
    // NULL for the new column; no rewrite of historical data). The report
    // proves the semantics: r1 rows carry only NULL tiers, r2 rows all
    // carry one, both releases' row/char totals survive the union. Oracle
    // recomputes both releases from the source table, so one misfilled
    // NULL or dropped row hash-mismatches. Scale note: mergeSchema reads
    // every file FOOTER at planning time — on a 100 TB table pin the
    // unified schema in a catalog/metastore instead and keep per-file
    // schema reconciliation at the scan (this read path is exactly what
    // the catalog would replay); the data-plane shape (scan + 2-row agg)
    // is unchanged.
    ("pipeline_schema_evolution", (s, d) => {
      import s.implicits._
      s.read.option("mergeSchema", "true").parquet(schemaEvoDir(s, d))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L)).as("n_null_tier"),
          countDistinct($"quality_tier").as("n_tiers"),
          sum($"n_chars").as("n_chars_total"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'r1' ELSE 'r2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tier,
        |  CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN n_chars // 100 END) AS BIGINT) AS n_tiers,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- COLUMN-ID schema evolution ([[schemaIdDir]]): rename, drop and
    // type-widen WITHOUT rewriting old files — the evolution classes
    // mergeSchema cannot express (it matches by NAME, so a rename forks
    // the column and a widen aborts the footer merge). Both releases
    // serve through the CURRENT schema via the id-mapped scan
    // ([[idMappedRelease]]): r1's physical n_chars answers as
    // char_count (field 3 renamed), its INT32 score upcasts to bigint
    // (field 4 widened — r2's scores exceed Int.MaxValue, so a
    // non-widening reader overflows or aborts), lang is never read
    // (field 2 dropped), quality_tier is typed NULL (field 5 postdates
    // r1). The oracle recomputes both releases from raw; SchemaIdSpec
    // pins that r1's files still carry the OLD footer schema afterward.
    ("pipeline_schema_rename", (s, d) => {
      import s.implicits._
      // pinned to schema v2 — a reader resolves through the snapshot's
      // schema version, exactly like an Iceberg scan pins schema-id
      idMappedRelease(s, d, "r1", Some(2L))
        .unionByName(idMappedRelease(s, d, "r2", Some(2L)))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum($"char_count").as("sum_chars"),
          sum($"score").as("sum_score"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L)).as("n_null_tier"),
          countDistinct($"quality_tier").as("n_tiers"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'r1' ELSE 'r2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1000
        |    ELSE doc_id % 1000 + 3000000000 END) AS BIGINT) AS sum_score,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tier,
        |  CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN n_chars // 100 END) AS BIGINT) AS n_tiers
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- INITIAL-DEFAULT schema evolution (Iceberg v3 semantics, on
    // top of the column-ID layer): schema v3 adds region_code int with
    // DEFAULT 99 — every file written before the field existed serves
    // 99, NOT NULL, while quality_tier (added in v2 without a default)
    // keeps serving typed NULL from r1's files: the two absent-field
    // treatments coexist per field in one scan, still with zero bytes
    // rewritten. The oracle recomputes both: a default leaking into the
    // null-filled field (or vice versa) hash-mismatches.
    ("pipeline_schema_default", (s, d) => {
      import s.implicits._
      idMappedRelease(s, d, "r1", Some(3L))
        .unionByName(idMappedRelease(s, d, "r2", Some(3L)))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum($"region_code".cast("long")).as("sum_region"),
          sum(when($"region_code".isNull, 1L).otherwise(0L))
            .as("n_null_region"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L))
            .as("n_null_tier"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'r1' ELSE 'r2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) * 99 AS BIGINT) AS sum_region,
        |  CAST(0 AS BIGINT) AS n_null_region,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_tier
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- TYPE-PROMOTION matrix ([[schemaPromoDir]], VERDICT r15 #7):
    // float→double, decimal(9,2)→decimal(18,4) and int→bigint all widen
    // ON READ through the field-id mapping with p1's footers untouched,
    // and the two v3 default kinds split correctly — p1's pre-field rows
    // serve the INITIAL-default (7), p2's writer-omitted column carries
    // the WRITE-default (5) physically. Weights are dyadic (n_chars/16,
    // /8) and prices string-built decimals, so every promoted sum is
    // exact and the oracle recomputes it bit-for-bit; serving 7 where 5
    // belongs (or a lossy widen) hash-mismatches.
    ("pipeline_schema_promote", (s, d) => {
      import s.implicits._
      promoMappedRelease(s, d, "p1")
        .unionByName(promoMappedRelease(s, d, "p2"))
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          round(sum($"weight"), 4).as("sum_weight"),
          // output as DOUBLE, not DECIMAL: the sum is exact at this
          // magnitude/scale either way, and the surface convention is
          // DOUBLE/BIGINT/VARCHAR output columns only (SURVEY §7 — the
          // driver hash does not canonicalize DECIMAL).
          sum($"price").cast("double").as("sum_price"),
          sum($"score").as("sum_score"),
          sum($"flag".cast("long")).as("sum_flag"))
        .orderBy($"release")
    }, Some(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'p1' ELSE 'p2' END AS release,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(sum(CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS DOUBLE) / 16
        |    ELSE CAST(n_chars AS DOUBLE) / 8 END), 4) AS sum_weight,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0
        |    THEN CAST(n_chars || '.' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS DECIMAL(18,4))
        |    ELSE CAST(n_chars || '.' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS DECIMAL(18,4))
        |    END) AS DOUBLE) AS sum_price,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1000
        |    ELSE doc_id % 1000 + 3000000000 END) AS BIGINT) AS sum_score,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 5 END) AS BIGINT) AS sum_flag
        |FROM documents
        |GROUP BY 1 ORDER BY 1""".stripMargin))
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

  /** (doc_id, hs: array<bigint>) — each doc's DISTINCT word 8-gram xxhash64
    * values from one fused JVM pass (tokenize → gram → hash; the same
    * xxhash64(seed 42) the column function computes, via the catalyst
    * static, so gram hashes are interchangeable across the decontamination
    * queries). Map-only: no shuffle, no gram strings on the wire.
    */
  private def ngramHashArrays(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.StringType
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = Portable.Whitespace.split(text.trim)
          val seen = new java.util.LinkedHashSet[String]
          var i = 0
          while (i + DecontamN - 1 < toks.length) {
            val sb = new java.lang.StringBuilder(toks(i))
            var j = 1
            while (j < DecontamN) { sb.append(' ').append(toks(i + j)); j += 1 }
            seen.add(sb.toString)
            i += 1
          }
          val hs = new Array[Long](seen.size)
          val itr = seen.iterator
          var n = 0
          while (itr.hasNext) {
            hs(n) = XxHash64Function.hash(
              UTF8String.fromString(itr.next()), StringType, 42L)
            n += 1
          }
          (id, hs)
        }
      }.toDF("doc_id", "hs")
  }

  /** Distinct eval-set 8-gram hashes (derived benchmark: first-12-token
    * prefix of every 50th doc — the same derivation pipeline_decontaminate
    * uses). One column `h`.
    */
  private def evalGramHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val evalDocs = Tables.documents(s, d)
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id",
        concat_ws(" ", slice(tokens($"text"), 1, DecontamPrefix)).as("text"))
    ngramHashArrays(evalDocs).select(explode($"hs").as("h")).distinct()
  }

  /** Per-doc bloom prefilter verdicts: (doc_id, hs, cand) where `cand` is
    * the map-side `exists(hs, h -> bloom_contains(bloom, h, k))` against
    * the eval-set BloomAgg bitset. Shared by pipeline_bloom_decontaminate
    * and BloomSpec (which pins no-false-negative and that the prefilter
    * actually prunes).
    */
  private[operators] def bloomDecontamFlags(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.plans.GraftExtensions.register(s)
    val bloomAgg = udaf(new graft.functions.BloomAgg(BloomBits, BloomK),
      org.apache.spark.sql.Encoders.scalaLong)
    val bloomRow = evalGramHashes(s, d).agg(bloomAgg($"h").as("bloom"))
    ngramHashArrays(Tables.documents(s, d).select($"doc_id", $"text"))
      .crossJoin(broadcast(bloomRow))
      .withColumn("cand",
        exists($"hs", h => call_function("bloom_contains", $"bloom", h, lit(BloomK))))
      .select($"doc_id", $"hs", $"cand")
  }

  /** Eval-set bloom sizing: 2^17 bits (16 KB) holds the ~hundreds of
    * benchmark grams at k=4 with fpp ≈ (kn/m)^k — negligible here, and the
    * whole point is that benchmark suites don't grow with the corpus.
    */
  private val BloomBits = 1 << 17

  /** Once-per-JVM two-release parquet fixture for pipeline_schema_evolution:
    * release=r1 (even doc_ids) writes (doc_id, lang, n_chars); release=r2
    * (odd doc_ids) ADDS a quality_tier column — the additive schema change
    * a long-lived lakehouse table accumulates. Directory layout uses
    * release=<v> partition dirs so discovery yields the release column.
    */
  private def schemaEvoDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_schevo", d) { dir =>
      val root = dir.toString
      val doc = Tables.documents(s, d)
      doc.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/release=r1")
      doc.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") / lit(100)).cast("long").as("quality_tier"))
        .write.mode("overwrite").parquet(s"$root/release=r2")
      root
    }

  /** Once-per-JVM COLUMN-ID schema-evolution fixture — the Iceberg field-ID
    * model that makes rename/drop/type-widen METADATA operations (the
    * mergeSchema path above only covers column ADD): every column carries a
    * stable field id; the `schemas` table maps (schema version, field_id) →
    * (name, type); each release records its write-time version. Two
    * releases of a doc-stats table:
    *
    *  - `release=r1` files under schema v1: doc_id[1], lang[2],
    *    n_chars[3] bigint, score[4] INT — physically, an INT32 column;
    *  - schema v2 evolves WITHOUT touching r1's files: field 3 RENAMED
    *    n_chars → char_count, field 4 WIDENED int → bigint, field 2 (lang)
    *    DROPPED, field 5 (quality_tier) ADDED;
    *  - `release=r2` files written under v2 names/types — its scores
    *    exceed Int.MaxValue, so the widen is load-bearing, not cosmetic.
    *
    * SchemaIdSpec pins: r1's physical footer still carries the OLD names
    * and INT32 score after serving through v2 (old files unrewritten —
    * same files, same schema), and the id-mapped union is what a v2
    * reader sees.
    */
  private[graft] def schemaIdDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_schid", d) { dir =>
      import s.implicits._
      val root = dir.toString
      val doc = Tables.documents(s, d)
      doc.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"lang", $"n_chars".cast("long").as("n_chars"),
          ($"doc_id" % 1000).cast("int").as("score"))
        .write.mode("overwrite").parquet(s"$root/data/release=r1")
      doc.filter($"doc_id" % 2 === 1)
        .select($"doc_id",
          $"n_chars".cast("long").as("char_count"),
          ($"doc_id" % 1000 + 3000000000L).as("score"),
          ($"n_chars" / 100).cast("long").as("quality_tier"))
        .write.mode("overwrite").parquet(s"$root/data/release=r2")
      // v3 (Iceberg v3 semantics) ADDS field 6 with an INITIAL DEFAULT:
      // rows written before the field existed serve the default, not
      // NULL — while field 5 (no default) keeps serving typed NULL from
      // old files, so the two absent-field treatments coexist per field.
      Seq(
        (1L, 1L, "doc_id", "bigint", None),
        (1L, 2L, "lang", "string", None),
        (1L, 3L, "n_chars", "bigint", None),
        (1L, 4L, "score", "int", None),
        (2L, 1L, "doc_id", "bigint", None),
        (2L, 3L, "char_count", "bigint", None),
        (2L, 4L, "score", "bigint", None),
        (2L, 5L, "quality_tier", "bigint", None),
        (3L, 1L, "doc_id", "bigint", None),
        (3L, 3L, "char_count", "bigint", None),
        (3L, 4L, "score", "bigint", None),
        (3L, 5L, "quality_tier", "bigint", None),
        (3L, 6L, "region_code", "int", Some("99")))
        .toDF("version", "field_id", "name", "dtype", "dflt").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/schemas")
      Seq(("r1", 1L), ("r2", 2L)).toDF("release", "version").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/releases")
      root
    }

  /** TYPE-PROMOTION fixture (VERDICT r15 #7) — the widening matrix beyond
    * [[schemaIdDir]]'s int→bigint case, plus BOTH default kinds of
    * Iceberg v3:
    *
    *  - `release=p1` under schema v1: weight FLOAT (physically FLOAT32),
    *    price DECIMAL(9,2), score INT. Every value is chosen so the
    *    promoted read is EXACT: weights are dyadic rationals (n_chars/16 —
    *    float ⊆ double losslessly), prices are string-built decimals, so
    *    the DuckDB oracle recomputes them bit-for-bit;
    *  - schema v2 widens field 2 float→double, field 3
    *    decimal(9,2)→decimal(18,4), field 4 int→bigint, and ADDS field 5
    *    `flag` int with INITIAL-DEFAULT 7 and WRITE-DEFAULT 5 — the two
    *    defaults are deliberately different values so a reader serving
    *    the wrong one hash-mismatches;
    *  - `release=p2` written under v2 by a writer that OMITS `flag`: the
    *    WRITE path materializes the write-default (p2's footers
    *    physically carry flag=5), while p1's pre-field rows serve the
    *    initial-default 7 at read — the exact v3 split (initial-default
    *    = read-time constant for old files; write-default = value
    *    stamped into new files when the writer leaves the column out).
    *
    * p1's footers stay byte-identical through every promoted read
    * (SchemaIdSpec pins footer bytes AND the physical FLOAT/DECIMAL(9,2)/
    * INT32 types surviving); zero bytes rewrite for the whole matrix.
    */
  private[graft] def schemaPromoDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_schpromo", d) { dir =>
      import s.implicits._
      val root = dir.toString
      val doc = Tables.documents(s, d)
      doc.filter($"doc_id" % 2 === 0)
        .select($"doc_id",
          ($"n_chars".cast("double") / 16).cast("float").as("weight"),
          concat($"n_chars".cast("string"), lit("."),
            lpad(($"doc_id" % 100).cast("string"), 2, "0"))
            .cast("decimal(9,2)").as("price"),
          ($"doc_id" % 1000).cast("int").as("score"))
        .write.mode("overwrite").parquet(s"$root/data/release=p1")
      // the v2 writer omits `flag`; the WRITE path stamps the
      // write-default into the new files — a physical column, not a
      // read-time constant
      doc.filter($"doc_id" % 2 === 1)
        .select($"doc_id",
          ($"n_chars".cast("double") / 8).as("weight"),
          concat($"n_chars".cast("string"), lit("."),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
            .cast("decimal(18,4)").as("price"),
          ($"doc_id" % 1000 + 3000000000L).as("score"),
          lit(5).as("flag"))
        .write.mode("overwrite").parquet(s"$root/data/release=p2")
      Seq(
        (1L, 1L, "doc_id", "bigint", None, None),
        (1L, 2L, "weight", "float", None, None),
        (1L, 3L, "price", "decimal(9,2)", None, None),
        (1L, 4L, "score", "int", None, None),
        (2L, 1L, "doc_id", "bigint", None, None),
        (2L, 2L, "weight", "double", None, None),
        (2L, 3L, "price", "decimal(18,4)", None, None),
        (2L, 4L, "score", "bigint", None, None),
        (2L, 5L, "flag", "int", Some("7"), Some("5")))
        .toDF("version", "field_id", "name", "dtype", "dflt", "wdflt")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/schemas")
      Seq(("p1", 1L), ("p2", 2L)).toDF("release", "version").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/releases")
      root
    }

  /** ID-mapped scan of one promo release at schema v2 — the same
    * field-id indirection as [[idMappedRelease]] over the promotion
    * fixture's wider schema table (write-defaults are a WRITE-path
    * concern: by the time a reader runs, files written under the field's
    * schema carry the column physically, so the read-side mapping only
    * ever serves the initial-default for pre-field files).
    */
  private[graft] def promoMappedRelease(
      s: SparkSession, d: String, release: String): DataFrame = {
    import s.implicits._
    val root = schemaPromoDir(s, d)
    val schemas = graft.Tables.readCached(s, s"$root/schemas")
      .as[(Long, Long, String, String, Option[String], Option[String])]
      .collect()
    val current = schemas.filter(_._1 == 2L).sortBy(_._2)
    val wver = graft.Tables.readCached(s, s"$root/releases")
      .filter($"release" === release).select($"version").as[Long].head()
    val writeByFid = schemas.filter(_._1 == wver)
      .map(t => t._2 -> t._3).toMap
    val cols = current.map { case (_, fid, name, dtype, dflt, _) =>
      writeByFid.get(fid) match {
        case Some(wname) => col(wname).cast(dtype).as(name)
        case None => dflt.map(v => lit(v)).getOrElse(lit(null))
          .cast(dtype).as(name)
      }
    }
    graft.Tables.readCached(s, s"$root/data/release=$release")
      .select(cols.toSeq: _*)
      .withColumn("release", lit(release))
  }

  /** ID-MAPPED SCAN of one release: resolve the release's write-time
    * schema and the CURRENT schema through the `schemas` table, join on
    * field_id, and emit every current field as `col(write_name)
    * .cast(current_type).as(current_name)` — or a typed NULL when the
    * field postdates the file. Pure projection over the raw scan: column
    * pruning and filter pushdown still reach the parquet reader (dropped
    * columns are never requested — lang does not appear in r1's
    * ReadSchema), and the rename/widen costs zero bytes of rewrite. The
    * schema lookups are metadata-scale (a handful of rows); at 100 TB
    * they live in the catalog and this mapping is exactly what its scan
    * planner replays per file group.
    */
  private[graft] def idMappedRelease(
      s: SparkSession, d: String, release: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    import s.implicits._
    val root = schemaIdDir(s, d)
    val schemas = graft.Tables.readCached(s, s"$root/schemas")
      .as[(Long, Long, String, String, Option[String])].collect()
    val curVer = asOfVersion.getOrElse(schemas.map(_._1).max)
    val current = schemas.filter(_._1 == curVer).sortBy(_._2)
    require(current.nonEmpty, s"unknown schema version $curVer")
    val wver = graft.Tables.readCached(s, s"$root/releases")
      .filter($"release" === release).select($"version").as[Long].head()
    val writeByFid = schemas.filter(_._1 == wver)
      .map(t => t._2 -> t._3).toMap
    val cols = current.map { case (_, fid, name, dtype, dflt) =>
      writeByFid.get(fid) match {
        case Some(wname) => col(wname).cast(dtype).as(name)
        // absent from the file's write-time schema: the field's INITIAL
        // DEFAULT if it declares one (Iceberg v3), else typed NULL
        case None => dflt.map(v => lit(v)).getOrElse(lit(null))
          .cast(dtype).as(name)
      }
    }
    graft.Tables.readCached(s, s"$root/data/release=$release")
      .select(cols.toSeq: _*)
      .withColumn("release", lit(release))
  }

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

  /** Once-per-JVM bucketed-table fixture for pipeline_bucketed_join:
    * lineitem and orders saved as parquet tables hash-bucketed AND
    * per-file sorted on the order key (16 buckets — enough to show the
    * layout; production sizes to cluster parallelism). The
    * repartition(16, key) before each write aligns writer tasks with
    * buckets so every bucket is ONE file; the join then needs no exchange
    * at all, only a cheap partition-local sort per bucket (Spark 3+ no
    * longer propagates bucket-file sort order). Table names carry the
    * dataset fingerprint, the backing files live in swept temp dirs
    * (option("path") keeps them out of the repo's warehouse dir).
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    graft.Fixtures.memo("graft_bkt", d) { dir =>
      import s.implicits._
      val tag = java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3
        .stringHash(graft.Fixtures.dirKey(d))).replace('-', 'm')
      val (lt, ot) = (s"lineitem_bkt_$tag", s"orders_bkt_$tag")
      val lroot = dir.resolve("lineitem").toString
      val oroot = dir.resolve("orders").toString
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .repartition(16, $"l_orderkey")
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", lroot).saveAsTable(lt)
      Tables.orders(s, d)
        .select($"o_orderkey", $"o_orderpriority")
        .repartition(16, $"o_orderkey")
        .write.mode("overwrite").format("parquet")
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .option("path", oroot).saveAsTable(ot)
      (lt, ot)
    }

  /** Once-per-JVM materialized daily-rollup view of lineitem, partitioned by
    * ship month, INCREMENTALLY REFRESHED: the base build covers everything
    * shipped before [[MvCutoff]]; the delta (the last ~4 ship months) is then
    * merged in by additive re-aggregation of ONLY the touched month
    * partitions and written back with dynamic partition overwrite — the
    * Delta/Iceberg `replaceWhere` refresh shape. Additive measures (counts,
    * integer cents, integer quantities) make merge ≡ rebuild exact, and the
    * serving queries' DuckDB oracles recompute from the raw fact table, so a
    * wrong merge or an overwrite that clobbers an untouched month
    * hash-mismatches. At 100 TB: the fact scan is paid once at build, each
    * refresh costs O(delta + touched partitions), and every dashboard query
    * reads a summary ~3 orders of magnitude smaller than the fact table.
    * The merged months are staged to a scratch dir first because Spark
    * (correctly) refuses to overwrite a path that feeds the running plan.
    */
  private[operators] def mvRollupDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mv", d) { dir =>
      import s.implicits._
      val root = dir.resolve("mv").toString
      val li = Tables.lineitem(s, d)
      def daily(src: DataFrame): DataFrame = src
        .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
          to_date($"l_shipdate").as("ship_day"))
        .agg(count(lit(1)).as("n_items"),
          count($"l_quantity".cast("bigint")).as("n_qty"),
          sum($"l_quantity".cast("bigint")).as("sum_qty"),
          sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
            .as("revenue_cents"))
      daily(li.filter($"l_shipdate" < lit(MvCutoff)))
        .write.mode("overwrite").partitionBy("ship_month").parquet(root)
      val delta = daily(li.filter($"l_shipdate" >= lit(MvCutoff)))
      val touched = delta.select($"ship_month").distinct() // ≤ a few months
      val merged = graft.Tables.readCached(s, root)
        .join(broadcast(touched), Seq("ship_month"), "left_semi")
        .unionByName(delta)
        .groupBy($"ship_month", $"ship_day")
        .agg(sum($"n_items").as("n_items"), sum($"n_qty").as("n_qty"),
          sum($"sum_qty").as("sum_qty"),
          sum($"revenue_cents").as("revenue_cents"))
      val stage = graft.Fixtures.tempDir("graft_mvstage").resolve("s").toString
      merged.write.mode("overwrite").parquet(stage)
      // per-write option, NOT a session-conf flip: a concurrent query
      // planned during a conf-flip window would inherit dynamic overwrite
      graft.Tables.readCached(s, stage)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ship_month").parquet(root)
      root
    }

  /** Once-per-JVM bloom data-skipping index (the Delta/Iceberg bloom-index
    * sidecar pattern — the fourth storage-layout lever: zorder kills scan
    * cost, bucketing kills shuffle cost, the MV kills aggregate cost, this
    * kills POINT-LOOKUP cost on a column the layout was NOT organized by).
    * `data/` is the slim fact laid out by ship month (the natural arrival
    * order — an orderkey's items scatter across months, so month pruning
    * can't serve an orderkey lookup); `index/` holds one row per data FILE:
    * (file, bloom bitset over xxhash64(l_orderkey), n_rows). The bitset is
    * [[graft.functions.BloomAgg]]'s mergeable aggregate, sized to ~16 bits
    * per row per file (fpp ≈ (1−e^(−1/4))⁴ ≈ 0.24%), built in ONE pass
    * grouped by `input_file_name()`. A false positive only opens one extra
    * file; a false negative is impossible — which is why the serving
    * query's exact DuckDB oracle works at all.
    */
  private def bloomIdxDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_bloomidx", d) { root =>
      import s.implicits._
      graft.plans.GraftExtensions.register(s)
      val dataDir = root.resolve("data").toString
      val li = Tables.lineitem(s, d)
      li.select($"l_orderkey", $"l_partkey",
          $"l_quantity".cast("bigint").as("qty"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
            .as("net_cents"),
          to_date($"l_shipdate").as("ship_day"), // lets the daily MV refresh
          // recompute touched months from THIS tree after a delete rewrite
          date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(dataDir)
      val data = graft.Tables.readCached(s, dataDir)
      val perFile = math.max(64L, li.count() /
        math.max(1, data.inputFiles.length))
      var mBits = 1 << 10
      while (mBits < perFile * 16 && mBits < (1 << 27)) mBits <<= 1
      val bloomAgg = udaf(new graft.functions.BloomAgg(mBits, BloomK),
        org.apache.spark.sql.Encoders.scalaLong)
      data.select(input_file_name().as("file"), xxhash64($"l_orderkey").as("h"))
        .groupBy($"file")
        .agg(bloomAgg($"h").as("bloom"), count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(root.resolve("index").toString)
      root.toString
    }

  /** The naive fact-table monthly aggregate — BOTH the MV-rewrite template
    * registered with [[graft.plans.MvRewrite.install]] and the query
    * pipeline_mv_rewrite runs, built once here so the registered shapes
    * and the demonstrated query are the same Column code by construction.
    * Output names match the MV's measure columns ([[mvRollupDir]]'s daily
    * schema), group key first — the install contract.
    */
  private[operators] def mvRewriteTemplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        // count of the NON-NULL averaged column — the denominator AVG
        // navigation needs to stay sound on a nullable column (count(*)
        // would over-divide if l_quantity ever carried nulls)
        count($"l_quantity".cast("bigint")).as("n_qty"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy($"ship_month")
  }

  /** The naive QUARTERLY fact aggregate — the grain-navigation template
    * and query (pipeline_mv_rewrite_quarter), one definition so the
    * registered shapes and the demonstrated query cannot drift. Quarter
    * key as 'yyyy-Qn' text, identical on both engines.
    */
  private[operators] def mvQuarterTemplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy(concat(date_format($"l_shipdate", "yyyy"), lit("-Q"),
        quarter($"l_shipdate")).as("ship_quarter"))
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy($"ship_quarter")
  }

  /** The naive (month, returnflag) fact aggregate with additive AND
    * extremal measures — template and demonstrated queries for the
    * multi-key / min-max MV navigation, one definition so the registered
    * shapes and the queries cannot drift. min/max re-aggregate soundly
    * because this MV is insert-only (never maintained through a delete).
    */
  private[operators] def mvFlagTemplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        $"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"),
        min($"l_quantity".cast("bigint")).as("min_qty"),
        max($"l_quantity".cast("bigint")).as("max_qty"))
      .orderBy($"ship_month", $"l_returnflag")
  }

  /** Once-per-JVM (ship_month, l_returnflag) rollup — the multi-key MV the
    * wide-navigation queries serve from, month-partitioned so translated
    * month predicates still prune at the file index.
    */
  private[operators] def mvFlagDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mvflag", d) { dir =>
      val root = dir.resolve("mv").toString
      mvFlagTemplate(s, d).write.mode("overwrite")
        .partitionBy("ship_month").parquet(root)
      root
    }

  /** The naive STAR-SCHEMA aggregate — fact ⋈ dim (lineitem ⋈ orders on
    * the PK-FK key) grouped by a fact-derived key × a DIM attribute — the
    * join-navigation template and demonstrated query
    * (pipeline_mv_rewrite_join), one definition so the registered shapes
    * and the query cannot drift. This is the BI dashboard shape
    * single-table navigation can't serve: the group key o_orderpriority
    * lives on the dimension side.
    */
  private[operators] def mvJoinTemplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        $"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy($"ship_month", $"o_orderpriority")
  }

  /** Once-per-JVM (ship_month, o_orderpriority) DENORMALIZED rollup — the
    * star-schema MV the join-navigation query serves from,
    * month-partitioned so translated month predicates still prune at the
    * file index.
    */
  private[operators] def mvJoinDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mvjoin", d) { dir =>
      val root = dir.resolve("mv").toString
      mvJoinTemplate(s, d).write.mode("overwrite")
        .partitionBy("ship_month").parquet(root)
      root
    }

  /** Once-per-JVM compacted rewrite of [[bloomIdxDir]]'s ship-month data
    * tree: repartition on the partition column so each month is written by
    * exactly one task → one file per month dir (pipeline_compaction_exec;
    * spec-pinned structure in DiagnosticsSpec).
    */
  private[operators] def compactedDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_compact", d) { dir =>
      val root = dir.resolve("data").toString
      graft.Tables.readCached(s, bloomIdxDataDir(s, d))
        .repartition(col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(root)
      root
    }

  /** Shared oracle of pipeline_bloom_index and pipeline_compaction_lookup
    * — the same seven point lookups served through two physical layouts
    * (the original multi-file tree and the compacted one-file-per-month
    * tree), each via its OWN sidecar index.
    */
  private def bloomLookupOracle: String =
    s"""SELECT l_orderkey,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       |  CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS n_ship_months
       |FROM lineitem WHERE l_orderkey IN (${BloomIdxKeys.mkString(", ")})
       |GROUP BY 1 ORDER BY l_orderkey""".stripMargin

  /** The ER fixture's master side: customers with exact integer-cents
    * balances — the authoritative source the noised registry is resolved
    * against. Shared by pipeline_entity_resolution (pair metrics) and
    * pipeline_golden_record (survivorship).
    */
  private[operators] def erCustomers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).select($"c_custkey", $"c_name",
      $"c_nationkey", $"c_mktsegment",
      expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
  }

  /** The NOISED registry twins (every third customer, with planted noise
    * classes: %5 adjacent-character transposition, otherwise one-char 'X'
    * substitution at a key-dependent position; %13 wrong nation; %7
    * one-cent balance drift) — the ER ground truth set.
    */
  private[operators] def erNoised(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = erCustomers(s, d)
    cust.filter($"c_custkey" % 3 === 0).select(
      ($"c_custkey" + 500000).as("r_id"),
      expr("""CASE WHEN c_custkey % 5 = 0 THEN
             |  concat(substr(c_name, 1, CAST(least(10 + (c_custkey div 3) % 9, 17) AS INT) - 1),
             |    substr(c_name, CAST(least(10 + (c_custkey div 3) % 9, 17) AS INT) + 1, 1),
             |    substr(c_name, CAST(least(10 + (c_custkey div 3) % 9, 17) AS INT), 1),
             |    substr(c_name, CAST(least(10 + (c_custkey div 3) % 9, 17) AS INT) + 2))
             |ELSE
             |  concat(substr(c_name, 1, CAST(10 + (c_custkey div 3) % 9 AS INT) - 1), 'X',
             |    substr(c_name, CAST(10 + (c_custkey div 3) % 9 AS INT) + 1))
             |END""".stripMargin).as("r_name"),
      expr("CASE WHEN c_custkey % 13 = 0 THEN (c_nationkey + 1) % 25 " +
        "ELSE c_nationkey END").as("r_nat"),
      $"c_mktsegment".as("r_seg"),
      expr("cents + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END").as("r_cents"))
  }

  /** The full dirty registry: noised twins plus designed-unmatchable ghost
    * records (every 11th customer under an unrelated name).
    */
  private[operators] def erRegistry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = erCustomers(s, d)
    val ghosts = cust.filter($"c_custkey" % 11 === 0).select(
      ($"c_custkey" + 600000).as("r_id"),
      concat(lit("Ghost#"), $"c_custkey").as("r_name"),
      $"c_nationkey".as("r_nat"), $"c_mktsegment".as("r_seg"),
      $"cents".as("r_cents"))
    erNoised(s, d).unionByName(ghosts)
  }

  /** Sorted-neighborhood ER matching (three banded blocking passes — two
    * name-fragment keys and an exact-cents key — each ordering its blocks
    * by (cents, name) and pairing only the [[ErNeighborWidth]] nearest
    * positions via the blk/blk+1 equi-join, so both the JOIN and the
    * emission stay linear under degenerate block keys) followed by the
    * levenshtein ≤ 2 ∧ |Δcents| ≤ 1 scoring gate. Returns the distinct
    * matched (c_custkey, r_id) pairs — the input to both the pair-metric
    * readout and golden-record survivorship.
    */
  private[operators] def erMatchedPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = erCustomers(s, d)
    val reg = erRegistry(s, d)
    // one pass: union both sides under the pass's block key, order each
    // block by (cents, name), pair cross-side within the width via the
    // banded equi-join (blk / blk+1), orient cust -> reg
    def pass(ck: DataFrame => Column, rk: DataFrame => Column): DataFrame = {
      val u = cust.select(ck(cust).as("bkey"), lit(0).as("side"),
          $"c_custkey".as("id"), $"c_name".as("name"), $"cents")
        .unionByName(reg.select(rk(reg).as("bkey"), lit(1).as("side"),
          $"r_id".as("id"), $"r_name".as("name"), $"r_cents".as("cents")))
      val w = Window.partitionBy($"bkey")
        .orderBy($"cents", $"name", $"side", $"id")
      val posd = u.withColumn("pos", row_number().over(w))
        .withColumn("blk", floor($"pos" / ErNeighborWidth))
      val xl = posd.withColumn("kblk", explode(array($"blk", $"blk" + 1)))
      xl.as("x").join(posd.as("y"),
          $"x.bkey" === $"y.bkey" && $"x.kblk" === $"y.blk" &&
            $"y.pos" > $"x.pos" &&
            $"y.pos" - $"x.pos" <= ErNeighborWidth &&
            $"x.side" =!= $"y.side")
        .select(
          when($"x.side" === 0, $"x.id").otherwise($"y.id").as("c_custkey"),
          when($"x.side" === 0, $"y.id").otherwise($"x.id").as("r_id"),
          when($"x.side" === 0, $"x.name").otherwise($"y.name").as("c_name"),
          when($"x.side" === 0, $"y.name").otherwise($"x.name").as("r_name"),
          when($"x.side" === 0, $"x.cents").otherwise($"y.cents").as("cents"),
          when($"x.side" === 0, $"y.cents").otherwise($"x.cents").as("r_cents"))
    }
    val pa = pass(
      c => concat_ws("|", c("c_nationkey"), c("c_mktsegment"),
        expr("substr(c_name, 10, 4)")),
      r => concat_ws("|", r("r_nat"), r("r_seg"),
        expr("substr(r_name, 10, 4)")))
    val pb = pass(
      c => concat_ws("|", c("c_nationkey"), c("c_mktsegment"),
        expr("substr(c_name, 15, 4)")),
      r => concat_ws("|", r("r_nat"), r("r_seg"),
        expr("substr(r_name, 15, 4)")))
    val pc = pass(
      c => c("cents").cast("string"),
      r => r("r_cents").cast("string"))
    pa.unionByName(pb).unionByName(pc)
      // r18: cheap |Δcents| gate FIRST (kills most name-fragment-blocked
      // pairs before any string DP), then the THRESHOLDED levenshtein —
      // bounded O(len·k) band instead of the full O(len²) matrix; returns
      // -1 iff distance > 2, so `>= 0` ≡ the old `<= 2`. Same pairs out.
      .filter(abs($"cents" - $"r_cents") <= 1 &&
        levenshtein($"c_name", $"r_name", 2) >= 0)
      .select($"c_custkey", $"r_id").distinct()
  }

  /** DuckDB twin of the ER fixture + matching — CTEs `cust`, `noised`,
    * `reg`, the three passes, and `matched` (distinct pairs). No WITH
    * prefix: the pair-metric oracle uses plain WITH, the golden-record
    * oracle WITH RECURSIVE (its connected components).
    */
  private def erMatchedSqlCtes: String = {
    def passSql(ckey: String, rkey: String, sfx: String): String =
      s"""u$sfx AS (
         |  SELECT $ckey AS bkey, 0 AS side, c_custkey AS id, c_name AS name, cents FROM cust
         |  UNION ALL
         |  SELECT $rkey, 1, r_id, r_name, r_cents FROM reg),
         |pos$sfx AS (
         |  SELECT *, row_number() OVER (PARTITION BY bkey
         |    ORDER BY cents, name, side, id) AS pos FROM u$sfx),
         |p$sfx AS (
         |  SELECT CASE WHEN x.side = 0 THEN x.id ELSE y.id END AS c_custkey,
         |    CASE WHEN x.side = 0 THEN y.id ELSE x.id END AS r_id,
         |    CASE WHEN x.side = 0 THEN x.name ELSE y.name END AS c_name,
         |    CASE WHEN x.side = 0 THEN y.name ELSE x.name END AS r_name,
         |    CASE WHEN x.side = 0 THEN x.cents ELSE y.cents END AS cents,
         |    CASE WHEN x.side = 0 THEN y.cents ELSE x.cents END AS r_cents
         |  FROM pos$sfx x JOIN pos$sfx y ON x.bkey = y.bkey
         |    AND y.pos > x.pos AND y.pos - x.pos <= $ErNeighborWidth
         |    AND x.side <> y.side)""".stripMargin
    s"""cust AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       |noised AS (
       |  SELECT c_custkey + 500000 AS r_id,
       |    CASE WHEN c_custkey % 5 = 0 THEN
       |      concat(substr(c_name, 1, CAST(least(10 + (c_custkey // 3) % 9, 17) AS INT) - 1),
       |        substr(c_name, CAST(least(10 + (c_custkey // 3) % 9, 17) AS INT) + 1, 1),
       |        substr(c_name, CAST(least(10 + (c_custkey // 3) % 9, 17) AS INT), 1),
       |        substr(c_name, CAST(least(10 + (c_custkey // 3) % 9, 17) AS INT) + 2))
       |    ELSE
       |      concat(substr(c_name, 1, CAST(10 + (c_custkey // 3) % 9 AS INT) - 1), 'X',
       |        substr(c_name, CAST(10 + (c_custkey // 3) % 9 AS INT) + 1))
       |    END AS r_name,
       |    CASE WHEN c_custkey % 13 = 0 THEN (c_nationkey + 1) % 25
       |      ELSE c_nationkey END AS r_nat,
       |    c_mktsegment AS r_seg,
       |    cents + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS r_cents
       |  FROM cust WHERE c_custkey % 3 = 0),
       |reg AS (
       |  SELECT * FROM noised
       |  UNION ALL
       |  SELECT c_custkey + 600000, 'Ghost#' || c_custkey,
       |    c_nationkey, c_mktsegment, cents
       |  FROM cust WHERE c_custkey % 11 = 0),
       |${passSql("concat_ws('|', c_nationkey, c_mktsegment, substr(c_name, 10, 4))",
          "concat_ws('|', r_nat, r_seg, substr(r_name, 10, 4))", "a")},
       |${passSql("concat_ws('|', c_nationkey, c_mktsegment, substr(c_name, 15, 4))",
          "concat_ws('|', r_nat, r_seg, substr(r_name, 15, 4))", "b")},
       |${passSql("CAST(cents AS VARCHAR)", "CAST(r_cents AS VARCHAR)", "c")},
       |matched AS (
       |  SELECT DISTINCT c_custkey, r_id FROM (
       |    SELECT * FROM pa UNION ALL SELECT * FROM pb UNION ALL SELECT * FROM pc)
       |  WHERE levenshtein(c_name, r_name) <= 2 AND abs(cents - r_cents) <= 1)""".stripMargin
  }

  /** Once-per-JVM CLUSTER-MEMBER table for golden-record survivorship:
    * the three-pass ER matching + log-round connected components run once
    * and persist one row per record in a matched cluster
    * (comp, side, id, name, nat, seg, cents) — the matching/clustering is
    * index construction (priced in BASELINE's build table: ~6.5 s at
    * sf0.1, ~17 s at 10×); the survivorship cascade itself is the served
    * query and runs over this metadata-scale table.
    */
  private[operators] def erGoldenMembersDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_ergolden", d) { dir =>
      import s.implicits._
      val root = dir.resolve("members").toString
      val cust = erCustomers(s, d)
      val reg = erRegistry(s, d)
      val cc = Dedup.ccBigStar(erMatchedPairs(s, d)
        .select($"c_custkey".as("id1"), $"r_id".as("id2")))
      cc.join(cust, $"id" === $"c_custkey")
        .select($"comp", lit(0).as("side"), $"id", $"c_name".as("name"),
          $"c_nationkey".cast("long").as("nat"),
          $"c_mktsegment".as("seg"), $"cents")
        .unionByName(cc.join(reg, $"id" === $"r_id")
          .select($"comp", lit(1).as("side"), $"id", $"r_name".as("name"),
            $"r_nat".cast("long").as("nat"), $"r_seg".as("seg"),
            $"r_cents".as("cents")))
        .write.mode("overwrite").parquet(root)
      root
    }

  /** 16-bit × 16-bit Morton (Z-order) bit interleave over the normalized
    * coordinates `px`/`sy` — shared by the layout-statistics report, the
    * EXECUTED z-order rewrite ([[zorderExecDir]]) and their DuckDB twins,
    * so the engine and the oracle speak the same curve bit-for-bit.
    */
  private val ZMortonSpark: String = (0 until 16).map(i =>
    s"((shiftright(px, $i) & 1) * ${1L << (2 * i)}L) + " +
      s"((shiftright(sy, $i) & 1) * ${1L << (2 * i + 1)}L)").mkString(" + ")

  private val ZMortonDuck: String = (0 until 16).map(i =>
    s"(((px >> $i) & 1) * ${1L << (2 * i)}) + " +
      s"(((sy >> $i) & 1) * ${1L << (2 * i + 1)})").mkString(" + ")

  /** Shared DuckDB CTE prefix recomputing the DETERMINISTIC z-order
    * bucketing of [[zorderExecDir]] from the raw tables: payload, global
    * normalization bounds, Morton value and the equal-width bucket ids.
    * Because the executed layout writes exactly one file per `zbkt`
    * bucket, per-FILE parquet envelopes are per-BUCKET min/max here —
    * file-level skipping metadata an oracle can recompute exactly.
    */
  private def zorderCtes: String =
    s"""WITH li AS (
       |  SELECT CAST(l_orderkey AS BIGINT) AS o, CAST(l_partkey AS BIGINT) AS p,
       |    CAST(l_suppkey AS BIGINT) AS sk,
       |    CAST(l_quantity AS BIGINT) AS qty,
       |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_cents
       |  FROM lineitem),
       |mx AS (SELECT max(p) AS pmax, max(sk) AS smax,
       |  min(o) AS omin, max(o) AS omax FROM li),
       |t AS (
       |  SELECT li.*, pmax, smax, omin, omax,
       |    (p * 65536) // (pmax + 1) AS px,
       |    (sk * 65536) // (smax + 1) AS sy
       |  FROM li CROSS JOIN mx),
       |tz AS (SELECT *, $ZMortonDuck AS z FROM t),
       |zr AS (SELECT min(z) AS zmin, max(z) AS zmax FROM tz),
       |zb AS (
       |  SELECT *, ((z - zmin) * 64) // (zmax - zmin + 1) AS zbkt
       |  FROM tz CROSS JOIN zr)""".stripMargin

  /** Synthetic MERGE-insert key offset. Must sit far above any RESCALED
    * order-key block, not just the raw corpus: `tools.ScaleUp` shifts
    * `o_orderkey` by `r * 10M` per replica, so a rescaled corpus reaches
    * ~10^9 keys and the old `+100M` offset collided with replica r+10's
    * REAL keys — `applyMutation` would bloom-match and silently delete
    * live rows, breaking the "disjoint from every real orderkey" oracle
    * assumption. 10^12 clears every rescale the tools can produce (the
    * same fix class as the fuzzy-decontam eval-id offset).
    */
  private[operators] val MergeInsertOffset = 1000000000000L

  /** Shared oracle prefix for every readout at or after the MERGE wave:
    * CTE `merged` is the exact row-set of the ship-month tree after
    * delete wave 1 then the upsert batch of [[mergeUpsertRows]] —
    * surviving rows (erased customers out, EXCEPT the %293 targets whose
    * rows the merge replaced/re-inserted with qty+1) plus the synthetic
    * insert lines. Synthetic rows carry o_custkey = −1 so the wave-2
    * readouts' `o_custkey % 337 <> 0` filter keeps them, matching the
    * executor's key-based delete (synthetic keys are in no erase set).
    */
  private[operators] def mergeStateCtes: String =
    s"""WITH base AS (
      |  SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS ship_month,
      |    CAST(l_shipdate AS DATE) AS ship_day,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_cents,
      |    o_custkey
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |merged AS (
      |  SELECT l_orderkey, ship_month, ship_day,
      |    qty + CASE WHEN o_custkey % 293 = 0 THEN 1 ELSE 0 END AS qty,
      |    net_cents, o_custkey
      |  FROM base WHERE o_custkey % 293 = 0 OR o_custkey % 271 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + $MergeInsertOffset, strftime(o_orderdate, '%Y-%m'),
      |    CAST(o_orderdate AS DATE), CAST(1 AS BIGINT),
      |    (o_orderkey % 997) * 100 + 1, CAST(-1 AS BIGINT)
      |  FROM orders WHERE o_custkey % 293 = 0)""".stripMargin

  /** Shared oracle of every monthly report over the delete-wave-1 state
    * (customer %271 erased): the copy-on-write delete and each strategy
    * that must converge to it — MOR serve and compaction, deletion
    * vectors, equality deletes, the snapshot rollback.
    */
  private def wave1ServeOracleSql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_custkey % 271 <> 0
      |GROUP BY 1 ORDER BY ship_month""".stripMargin

  /** Shared oracle of every monthly report over the post-MERGE state
    * ([[mergeStateCtes]]): the copy-on-write merge and each strategy that
    * must converge to it — MOR merge, equality-delete merge serve and
    * compaction, the published write-audit-publish branch.
    */
  private def mergedStateOracleSql: String =
    s"""$mergeStateCtes
       |SELECT ship_month,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       |  CAST(sum(qty) AS BIGINT) AS sum_qty,
       |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
       |FROM merged GROUP BY 1 ORDER BY ship_month""".stripMargin

  /** Shared oracle of pipeline_snapshot_branch AND pipeline_refs_expire —
    * every CURRENT ref's state recomputed from raw: the audit branch head
    * (snapshot 6) = wave-1 survivors + the branch batch, main's head
    * after the cherry-pick (snapshot 7) = the post-chain state + the same
    * batch, the immutable tag (snapshot 1) = the original rows the
    * compaction rewrote. Sharing the text is the point: the POST-GC serve
    * is judged verbatim by the pre-GC oracle, so expiration + orphan GC
    * must be invisible to every ref or the readout hash-mismatches.
    */
  private def branchRefsOracleSql: String =
    s"""$mergeStateCtes,
       |bb AS (
       |  SELECT o_orderkey + $BranchBatchOffset AS l_orderkey,
       |    CAST(2 AS BIGINT) AS qty,
       |    (o_orderkey % 991) * 100 + 7 AS net_cents
       |  FROM orders WHERE o_custkey % 499 = 0),
       |w1s AS (SELECT l_orderkey, qty, net_cents FROM base
       |        WHERE o_custkey % 271 <> 0),
       |w2s AS (SELECT l_orderkey, qty, net_cents FROM merged
       |        WHERE o_custkey % 337 <> 0)
       |SELECT 'audit' AS ref, 'branch' AS ref_type,
       |  CAST(6 AS BIGINT) AS snap_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       |  CAST(sum(qty) AS BIGINT) AS sum_qty,
       |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
       |FROM (SELECT * FROM w1s UNION ALL SELECT * FROM bb)
       |UNION ALL
       |SELECT 'main', 'branch', CAST(7 AS BIGINT),
       |  CAST(count(*) AS BIGINT),
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
       |  CAST(sum(qty) AS BIGINT), CAST(sum(net_cents) AS BIGINT)
       |FROM (SELECT * FROM w2s UNION ALL SELECT * FROM bb)
       |UNION ALL
       |SELECT 'v1_compacted', 'tag', CAST(1 AS BIGINT),
       |  CAST(count(*) AS BIGINT),
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT),
       |  CAST(sum(qty) AS BIGINT), CAST(sum(net_cents) AS BIGINT)
       |FROM base
       |ORDER BY ref""".stripMargin

  /** One-pass bloom sidecar build over an arbitrary parquet tree keyed by
    * l_orderkey: one index row per data FILE (normalized plain path, bloom
    * bitset, n_rows), bitset sized ~16 bits/row/file like [[bloomIdxDir]].
    * Used to RE-INDEX a rewritten layout (compaction) — after a full
    * rewrite every file is new, so a full re-index is the honest cost;
    * the delete path reconciles incrementally instead because it rewrites
    * only matched files.
    */
  private def writeBloomIndex(
      s: SparkSession, dataDir: String, idxDir: String): Unit = {
    val data = graft.Tables.readCached(s, dataDir)
    bloomIndexRows(s, data, data.inputFiles.length)
      .write.mode("overwrite").parquet(idxDir)
  }

  /** The sidecar rows themselves — one (normalized file path, bloom over
    * xxhash64(l_orderkey), n_rows) row per file of `data`, bitset sized
    * ~16 bits/row/file. The SINGLE definition of the sizing rule and row
    * shape for every reconciled/rebuilt index (full re-index via
    * [[writeBloomIndex]]; the delete path's fresh-files slice in
    * applyDelete) — one copy, so the heuristic cannot drift between them.
    */
  private[graft] def bloomIndexRows(
      s: SparkSession, data: DataFrame, nFiles: Int): DataFrame = {
    import s.implicits._
    graft.plans.GraftExtensions.register(s)
    val perFile = math.max(64L, data.count() / math.max(1, nFiles))
    var mBits = 1 << 10
    while (mBits < perFile * 16 && mBits < (1 << 27)) mBits <<= 1
    val bloomAgg = udaf(new graft.functions.BloomAgg(mBits, BloomK),
      org.apache.spark.sql.Encoders.scalaLong)
    data.select(regexp_replace(input_file_name(), "^file:/+", "/").as("file"),
        xxhash64($"l_orderkey").as("h"))
      .groupBy($"file")
      .agg(bloomAgg($"h").as("bloom"), count(lit(1)).as("n_rows"))
  }

  /** Once-per-JVM bloom sidecars for the COMPACTED tree — the index
    * maintenance a real OPTIMIZE pass performs: compaction rewrites every
    * file, so the pre-compaction sidecars describe dead paths and the
    * layout would silently lose its point-lookup serve without a
    * re-index. DiagnosticsSpec pins index rows ↔ compacted files 1:1.
    */
  private[operators] def compactedIdxDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_compactidx", d) { dir =>
      val idx = dir.resolve("index").toString
      writeBloomIndex(s, compactedDir(s, d), idx)
      idx
    }

  /** Data-skipping plan step for pipeline_bloom_index: probe every file's
    * bloom sidecar with the seven lookup keys and return (files that might
    * contain any probe, total file count). The collect is METADATA-scale —
    * one row per data file, the same driver-side planning a Delta log
    * replay or an Iceberg manifest scan does — never data rows.
    */
  private[operators] def bloomIdxMatchedFiles(
      s: SparkSession, d: String): (Array[String], Long) = {
    import s.implicits._
    bloomIdxMatchedFilesFor(s, d, BloomIdxKeys.toDF("k"))
  }

  /** Bloom-sidecar probe for an arbitrary orderkey set (column `k`):
    * returns (files that might contain any probe key, total file count).
    * The probe side joins the metadata-scale index (one row per data
    * file), never data rows; used by the point-lookup serve and by the
    * GDPR deletion planner.
    */
  private[operators] def bloomIdxMatchedFilesFor(
      s: SparkSession, d: String,
      probes: DataFrame): (Array[String], Long) =
    matchedFilesInIndex(s, s"${bloomIdxDir(s, d)}/index", probes)

  /** Build independent DataFrames concurrently (guide §2.6): each thunk may
    * block the driver on metadata collects (index probes, snapshot
    * resolution) — running them on the global pool overlaps those waits.
    * Results are position-stable and each frame is identical to a serial
    * build; only driver wall-clock changes. Spark job submission from
    * multiple driver threads is a documented, supported pattern. The
    * concurrent build is the only path: 3 alternating serial/concurrent
    * profile pairs showed it faster on every readout cell (e.g.
    * time_travel_serve 1.23/1.23/1.28 s serial vs 0.80/1.05/1.00 s
    * concurrent).
    */
  private[graft] def parallelFrames(thunks: (() => DataFrame)*): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(thunks.map(t => Future(t())).toSeq),
      scala.concurrent.duration.Duration.Inf)
  }

  /** Count-free twins of the two probes above for query paths that never
    * read the total (see [[graft.sources.lake.LakeIndex.matchedFilesOnly]]).
    */
  private[operators] def bloomIdxMatchedFilesOnly(
      s: SparkSession, d: String): Array[String] = {
    import s.implicits._
    bloomIdxMatchedFilesOnlyFor(s, d, BloomIdxKeys.toDF("k"))
  }

  private[operators] def bloomIdxMatchedFilesOnlyFor(
      s: SparkSession, d: String, probes: DataFrame): Array[String] =
    matchedFilesOnly(s, s"${bloomIdxDir(s, d)}/index", probes)

  /** Probe an arbitrary per-file bloom-sidecar index (rows: file, bloom,
    * n_rows) with an orderkey set (column `k`): (files that might contain
    * any probe, total file count). Metadata-scale — one row per data file
    * — and PRICED, not hand-waved (VERDICT r12 #8): on a synthetic
    * replica of the sf0.1 sidecars the whole planning step (index read +
    * bloom probe + matched-name collect; BASELINE.md, "Round-13:
    * driver-side file-list planning priced") measures 0.55 s at 10 000
    * files and 1.2 s at 100 000 files — linear
    * in file count with a tiny constant, the same driver-side planning
    * I/O a Delta log replay or Iceberg manifest scan pays. A table would
    * need millions of files before this collect dominates, at which point
    * the index itself gets partitioned (manifest lists) — out of scope
    * for a single-table sidecar.
    */
  private[graft] def matchedFilesInIndex(
      s: SparkSession, idxPath: String,
      probes: DataFrame): (Array[String], Long) =
    (matchedFilesOnly(s, idxPath, probes),
      graft.Tables.readCached(s, idxPath).count())

  private[graft] def bloomIdxDataDir(s: SparkSession, d: String): String =
    s"${bloomIdxDir(s, d)}/data"

  /** Read a bloom-matched file subset of the ship-month data tree,
    * degrading to a 0-row frame (correct schema, partition columns
    * included) when NO file matched — `parquet()` with zero paths throws
    * instead. `Filter(false)` over the full-tree scan optimizes to an
    * empty LocalRelation (PruneFilters), so the empty case plans no I/O.
    */
  private[operators] def readBloomMatched(
      s: SparkSession, d: String, files: Seq[String]): DataFrame =
    readMatchedFiles(s, bloomIdxDataDir(s, d), files)

  /** Per-JVM cache of each fixture world's file schema, keyed by the
    * discovery base. Every manifest-addressed world is schema-homogeneous
    * by construction (mutation chains rewrite files at the world's one
    * schema; the schema-EVOLUTION worlds go through [[idMappedRelease]],
    * never here), so handing the reader an explicit schema is exactly what
    * an Iceberg scan does — the schema comes from table metadata, not from
    * a per-query footer-inference job. Measured (r17-opt, TimeTT): each
    * warm readSnapshot construction dropped ~0.3-0.5 s of inference job;
    * the time-travel family runs 2-3 such constructions per pass.
    */
  private val scanSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private[graft] def readMatchedFiles(
      s: SparkSession, base: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) graft.Tables.readCached(s, base).filter(lit(false))
    else {
      val schema = scanSchemaCache.computeIfAbsent(base,
        _ => graft.Tables.readCached(s, files.head).schema)
      // ADVICE r17: the homogeneity invariant above is enforced, not just
      // documented, under -Dgraft.debug.schemaCheck=true — a sampled second
      // file's footer must match the cached schema (cheap: one driver-side
      // footer read per call; off by default so the hot path stays free).
      if (java.lang.Boolean.getBoolean("graft.debug.schemaCheck") && files.size > 1) {
        val probe = graft.Tables.readCached(s, files.last).schema
        require(probe == schema,
          s"readMatchedFiles: schema drift under $base — ${files.last} has $probe, cached $schema")
      }
      s.read.option("basePath", base).schema(schema).parquet(files: _*)
    }

  /** The `_metadata.file_path` virtual column normalized to a plain local
    * path — the Column twin of [[graft.sources.lake.LakeIndex.normPath]], shared by every consumer of
    * parquet physical positions (MOR sidecars, the z-order envelope
    * build) so the URI-normalization rule lives in exactly two places
    * (one per representation) instead of drifting per call site.
    */
  private[graft] def metaFilePath: org.apache.spark.sql.Column =
    regexp_replace(col("_metadata.file_path"), "^file:/+", "/")

  /** Order keys of every `m`-th customer (column `k`) — THE definition of
    * a customer-modulus erase/conflict wave, shared by every mutation
    * planner, executor, serving query and spec so no copy can drift from
    * the oracles' `o_custkey % m` predicates.
    */
  private[graft] def orderKeysOfCustomersMod(
      s: SparkSession, d: String, m: Int): DataFrame = {
    import s.implicits._
    val picked = Tables.customer(s, d).filter($"c_custkey" % m === 0)
      .select($"c_custkey")
    Tables.orders(s, d).join(picked, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey".as("k"))
  }

  /** The customer keys the GDPR fixture erases (every 271st customer) and
    * their order keys — shared by the planner, the executor and the
    * post-delete serving queries so all three speak about the same purge.
    */
  private[graft] def eraseOrderKeys(s: SparkSession, d: String): DataFrame =
    orderKeysOfCustomersMod(s, d, 271)

  /** Once-per-JVM GDPR delete EXECUTION over the bloom-indexed ship-month
    * layout — the rewrite pass `pipeline_delete_plan` only plans, run to
    * completion with full metadata reconciliation (the lakehouse
    * DELETE-with-index-maintenance loop):
    *
    *  1. resolve erase requests (customer keys) to order keys;
    *  2. probe the bloom sidecars — only MATCHED files can hold purge rows
    *     (no false negatives), so every UNMATCHED file is RETAINED
    *     verbatim: hard-linked into the new tree, zero bytes rewritten
    *     (the copy-on-write `DELETE` of Delta/Iceberg, where retained
    *     files carry over by reference in the new snapshot);
    *  3. matched files are read, purge rows anti-joined out, and the
    *     remainder appended into the same month partitions;
    *  4. the bloom INDEX is reconciled incrementally: retained files keep
    *     their sidecar rows (path-remapped), rewritten files get freshly
    *     built bitsets — never a full-tree re-index;
    *  5. the daily MV is incremental-refreshed: only months that actually
    *     lost rows are recomputed (from the post-delete tree), untouched
    *     month partitions carry over by link.
    *
    * Correctness: the serving queries' DuckDB oracles recompute the
    * post-delete state from the RAW tables (lineitem minus erased
    * customers' orders), so an under-purge (missed file), over-purge
    * (wrong anti-join), stale index row, or unrefreshed MV month all
    * hash-mismatch; DiagnosticsSpec pins index↔tree consistency, retained
    * files carrying over untouched and erased keys being unfindable.
    * At 100 TB: cost scales with |matched files| + |touched months|, not
    * table size — the whole point of the sidecar-planned rewrite.
    */
  private[graft] def deleteExecDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_delexec", d)(applyMutation(s, _,
      bloomIdxDataDir(s, d), s"${bloomIdxDir(s, d)}/index",
      normPath(mvRollupDir(s, d)), eraseOrderKeys(s, d)))

  /** Once-per-JVM MERGE-ON-READ delete of erase wave 1 (customers
    * c % 271 == 0) over the bloom-indexed ship-month layout — the
    * Iceberg position-delete / Delta deletion-vector story, complementing
    * [[deleteExecDir]]'s copy-on-write twin: at 100 TB a small delete
    * should cost |delete rows| of WRITE, not |matched files| of REWRITE.
    *
    *  1. resolve erase requests to order keys and probe the bloom
    *     sidecars — only MATCHED files can hold purge rows;
    *  2. scan ONLY those files with the parquet `_metadata.row_index`
    *     virtual column and record each purge row's PHYSICAL position as
    *     a `(file, pos)` sidecar row (plus the key and month for
    *     reporting — Iceberg position-delete files may carry the deleted
    *     row's columns too). ZERO data files are rewritten or even
    *     linked: the snapshot is the ORIGINAL tree plus the sidecar
    *     (MorDeleteSpec pins exactly that);
    *  3. readers apply the sidecar at scan time ([[morServeRead]]);
    *  4. the next compaction folds the deletes in ([[morCompactDir]])
    *     and the sidecar retires.
    *
    * Returns a root with `deletes/` (parquet sidecar) and
    * `data_base.txt` (the pointer at the untouched data tree).
    */
  private[operators] def morDeleteDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mor", d) { root =>
      import s.implicits._
      val dataDir = normPath(bloomIdxDataDir(s, d))
      val keys = eraseOrderKeys(s, d)
      val matched =
        matchedFilesOnly(s, s"${bloomIdxDir(s, d)}/index", keys)
      readMatchedFiles(s, dataDir, matched.toSeq)
        .select(
          metaFilePath
            .as("file"),
          col("_metadata.row_index").as("pos"),
          $"l_orderkey", $"ship_month")
        .join(broadcast(keys), $"l_orderkey" === $"k", "left_semi")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("deletes").toString)
      java.nio.file.Files.writeString(root.resolve("data_base.txt"), dataDir)
      root.toString
    }

  /** Merge-on-read SCAN of the [[morDeleteDir]] snapshot: the data tree
    * streamed through a BROADCAST anti-join against the position-delete
    * sidecar on (file, physical row position) — the per-row hash probe a
    * deletion-vector reader pays, no shuffle of the fact side, rows of
    * files without deletes pass through the probe untouched. At 100 TB
    * the sidecar is |deleted rows|, a normal broadcast.
    */
  private[operators] def morServeRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = morDeleteDir(s, d)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/data_base.txt"))
    val del = graft.Tables.readCached(s, s"$root/deletes").select($"file", $"pos")
    graft.Tables.readCached(s, base)
      .withColumn("file",
        metaFilePath)
      .withColumn("pos", col("_metadata.row_index"))
      .join(broadcast(del), Seq("file", "pos"), "left_anti")
      .drop("file", "pos")
  }

  /** Physical positions of keyed rows — the shared planning step of the
    * position-delete AND deletion-vector writers: bloom-probe the sidecar
    * index with the keys, scan ONLY matched files with the parquet
    * `_metadata.row_index` virtual column, semi-join the keys. Output one
    * (file, pos) row per purge row; |matched files| of read, zero writes.
    */
  private[graft] def purgePositions(
      s: SparkSession, d: String, keys: DataFrame): DataFrame = {
    import s.implicits._
    val dataDir = normPath(bloomIdxDataDir(s, d))
    val matched =
      matchedFilesOnly(s, s"${bloomIdxDir(s, d)}/index", keys)
    readMatchedFiles(s, dataDir, matched.toSeq)
      .select(metaFilePath.as("file"),
        col("_metadata.row_index").as("pos"), $"l_orderkey")
      .join(broadcast(keys), $"l_orderkey" === $"k", "left_semi")
      .select($"file", $"pos")
  }

  /** Pack per-file positions into DELETION-VECTOR bitmaps: one row per
    * file, `bits` = little-endian packed 64-bit words sized to the file's
    * highest deleted position, `n_set` = popcount. The typed mapGroups is
    * metadata-scale (|deleted rows| in, |touched files| out) — never the
    * fact table.
    *
    * DENSITY ASSUMPTION: the vector is a DENSE word array up to the
    * file's max deleted position — position/8 bytes per file regardless
    * of how few bits are set, unlike the roaring bitmaps real
    * Delta/Iceberg DVs serialize. That is the right trade only while
    * per-file row counts stay bounded (parquet row groups target
    * 10^5–10^7 rows/file, i.e. ≤ ~1.25 MB/vector); the guard below
    * refuses a sparse high-position delete (e.g. one bit at 10^9) rather
    * than silently allocating a ~125 MB word array into every broadcast.
    * A compressed (roaring/RLE) encoding is the upgrade path if files
    * ever exceed [[DvMaxPosition]] rows.
    */
  private[graft] val DvMaxPosition: Long = 1L << 26 // 64M rows → ≤8 MB/vector

  private[graft] def dvFromPositions(s: SparkSession, pos: DataFrame): DataFrame = {
    import s.implicits._
    pos.select(col("file"), col("pos")).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val ps = it.map(_._2).toArray
        require(ps.max < DvMaxPosition,
          s"DV position ${ps.max} in $f exceeds the dense-bitmap bound " +
            s"$DvMaxPosition — use a compressed vector encoding")
        val words = new Array[Long]((ps.max >> 6).toInt + 1)
        ps.foreach(p => words((p >> 6).toInt) |= (1L << (p & 63).toInt))
        (f, words.toSeq, ps.length.toLong)
      }.toDF("file", "bits", "n_set")
  }

  /** Merge two DV sidecars per file — bitwise OR of the word arrays
    * (padded to the longer one), popcount recomputed. This is THE
    * property deletion vectors buy over position-delete files: a new
    * delete wave REPLACES each touched file's vector (one DV per file,
    * always) instead of appending another sidecar the reader must union
    * forever. Pure built-in array functions — codegen-friendly,
    * metadata-scale (one row per touched file).
    */
  private[graft] def dvMergeBitmaps(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("file"), col("bits").as("ba"))
      .join(b.select(col("file"), col("bits").as("bb")), Seq("file"),
        "full_outer")
      .select(col("file"),
        coalesce(col("ba"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("ba"),
        coalesce(col("bb"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("bb"))
      .withColumn("n", greatest(size(col("ba")), size(col("bb"))))
      .select(col("file"),
        expr("""zip_with(
            concat(ba, array_repeat(CAST(0 AS BIGINT), n - size(ba))),
            concat(bb, array_repeat(CAST(0 AS BIGINT), n - size(bb))),
            (x, y) -> x | y)""").as("bits"))
      .withColumn("n_set",
        expr("aggregate(bits, CAST(0 AS BIGINT), (acc, w) -> acc + bit_count(w))"))

  /** Apply a DV sidecar at scan time: broadcast-join the (one-row-per-
    * file) vectors on file, then a pure bit-test expression — a row
    * survives when its file has no vector, its position lies beyond the
    * vector (written after the delete), or its bit is clear. No join on
    * position, no shuffle of the fact side; the bit test stays inside
    * whole-stage codegen.
    */
  private[graft] def dvApply(data: DataFrame, dv: DataFrame): DataFrame =
    data
      .join(broadcast(dv.select(col("file"), col("bits"))), Seq("file"),
        "left_outer")
      .filter(col("bits").isNull || expr(
        """coalesce(
             (shiftright(try_element_at(bits, CAST(pos DIV 64 AS INT) + 1),
                         CAST(pos % 64 AS INT)) & 1) = 0,
             true)"""))
      .drop("bits")

  /** DELETION VECTORS — the FOURTH delete form (Delta deletion vectors /
    * Iceberg v3 DVs), closing the taxonomy beside copy-on-write
    * ([[deleteExecDir]]), position-delete files ([[morDeleteDir]]) and
    * equality deletes ([[eqDeleteDir]]): wave 1 (customers % 271) lands
    * as ONE bitmap per touched file (`dv1/`); wave 2 (customers % 337)
    * then arrives and MERGES — each touched file's vector is REPLACED by
    * the OR of old and new bits (`dv/`, the current sidecar), while
    * wave-1-only files keep their vector verbatim. No data file is ever
    * read on the merge path beyond wave 2's own position scan, no
    * sidecar list grows per commit, and customer 0 (in BOTH erase sets)
    * makes the overlap idempotence real. vs the position-delete sidecar:
    * |file rows|/8 bits instead of |deleted rows| × (path, pos) rows —
    * the representation that stays broadcastable at dense deletes.
    * DvSpec pins one-vector-per-file, popcount exactness, replace-vs-
    * accumulate, wave-1 vectors surviving the merge byte-identical, and
    * zero data-file writes.
    */
  private[graft] def dvDeleteDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_dv", d) { root =>
      import s.implicits._
      val dataDir = normPath(bloomIdxDataDir(s, d))
      val dv1 = dvFromPositions(s,
        purgePositions(s, d, eraseOrderKeys(s, d)))
      dv1.coalesce(1).write.mode("overwrite")
        .parquet(root.resolve("dv1").toString)
      val dv2 = dvFromPositions(s,
        purgePositions(s, d, orderKeysOfCustomersMod(s, d, 337)))
      dvMergeBitmaps(graft.Tables.readCached(s, root.resolve("dv1").toString), dv2)
        .coalesce(1).write.mode("overwrite")
        .parquet(root.resolve("dv").toString)
      java.nio.file.Files.writeString(root.resolve("data_base.txt"), dataDir)
      root.toString
    }

  /** The WHOLE DV read path over a parquet tree: scan with the
    * normalized physical file path + row_index projected, apply the
    * vectors, drop the plumbing columns. The single definition of the
    * position-column wiring — shared by the batch serves, the compaction
    * fold and the streaming replay so the three cannot drift.
    */
  private[graft] def dvApplyOverScan(
      scan: DataFrame, dv: DataFrame): DataFrame =
    dvApply(
      scan.withColumn("file", metaFilePath)
        .withColumn("pos", col("_metadata.row_index")),
      dv)
      .drop("file", "pos")

  private[graft] def dvApplyOverBase(
      s: SparkSession, base: String, dv: DataFrame): DataFrame =
    dvApplyOverScan(graft.Tables.readCached(s, base), dv)

  /** DV scan of the wave-1-only snapshot (`dv1/`) or the current merged
    * one (`dv/`) — the original tree with vectors applied at scan time.
    */
  private[graft] def dvServeRead(
      s: SparkSession, d: String, sidecar: String): DataFrame = {
    val root = dvDeleteDir(s, d)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/data_base.txt"))
    dvApplyOverBase(s, base, graft.Tables.readCached(s, s"$root/$sidecar"))
  }

  /** DELETION-VECTOR COMPACTION — folds the merged sidecar (`dv/`) into
    * the tree and RETIRES it, completing the DV lifecycle (write →
    * merge → serve → fold). Unlike the equality-delete compaction there
    * is no refinement step: a vector IS the exact per-file delete set
    * (popcount ≥ 1 ⇔ the file must rewrite), so the plan opens exactly
    * the touched files — never a bloom false positive. Untouched files
    * carry over by hard link; touched files rewrite minus their bits via
    * the SAME [[dvApply]] plan readers used, so folded serve ≡ probe
    * serve by construction. Retired vectors land in `retired/`, the live
    * sidecar (`live_dv/`) is empty. DvSpec pins all of it.
    */
  private[operators] def dvCompactDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_dvcompact", d) { root =>
      import s.implicits._
      val dvRoot = dvDeleteDir(s, d)
      val base = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dvRoot/data_base.txt"))
      val oldData = java.nio.file.Paths.get(base)
      val dv = graft.Tables.readCached(s, s"$dvRoot/dv")
      val touched = dv.select($"file").as[String].collect()
        .map(normPath).toSet
      val newData = root.resolve("data")
      graft.Tables.readCached(s, base).inputFiles.map(normPath)
        .filterNot(touched.contains).foreach { f =>
          val src = java.nio.file.Paths.get(f)
          graft.Fixtures.linkOrCopy(src,
            newData.resolve(oldData.relativize(src).toString))
        }
      dvApplyOverScan(readMatchedFiles(s, base, touched.toSeq), dv)
        .repartition(col("ship_month"))
        .write.mode("append").partitionBy("ship_month")
        .parquet(newData.toString)
      dv.coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("retired").toString)
      dv.filter(lit(false)).coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("live_dv").toString)
      root.toString
    }

  /** Compaction that FOLDS the position-delete sidecar in and retires it:
    * only files that actually carry delete positions are rewritten minus
    * those positions (a possibly SMALLER set than the bloom-matched files
    * the copy-on-write path rewrites — false-positive matches held no
    * purge rows and stay linked); every other file carries over by hard
    * link. The result is a plain tree equal row-for-row to the
    * copy-on-write delete's ([[deleteExecDir]]) — MorDeleteSpec pins the
    * equivalence; the serving oracle here is the VERBATIM CoW oracle.
    */
  private[operators] def morCompactDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_morcompact", d) { root =>
      import s.implicits._
      val morRoot = morDeleteDir(s, d)
      val base = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$morRoot/data_base.txt"))
      val oldData = java.nio.file.Paths.get(base)
      val del = graft.Tables.readCached(s, s"$morRoot/deletes").select($"file", $"pos")
      // metadata-scale: one path per file that has at least one delete
      val delFiles = del.select($"file").distinct().as[String].collect().toSet
      val newData = root.resolve("data")
      graft.Tables.readCached(s, base).inputFiles.map(normPath)
        .filterNot(delFiles.contains).foreach { f =>
          val src = java.nio.file.Paths.get(f)
          graft.Fixtures.linkOrCopy(src,
            newData.resolve(oldData.relativize(src).toString))
        }
      readMatchedFiles(s, base, delFiles.toSeq)
        .withColumn("file",
          metaFilePath)
        .withColumn("pos", col("_metadata.row_index"))
        .join(broadcast(del), Seq("file", "pos"), "left_anti")
        .drop("file", "pos")
        .repartition(col("ship_month")) // file-size targeting, see applyMutation step 3
        .write.mode("append").partitionBy("ship_month")
        .parquet(newData.toString)
      root.toString
    }

  /** MERGE-ON-READ upsert — the MOR twin of [[mergeExecDir]]'s
    * copy-on-write MERGE, completing the MOR story (delete AND upsert;
    * Iceberg v2 MERGE writes position deletes for replaced rows plus
    * plain appended data files). Composes with [[morDeleteDir]]'s wave-1
    * sidecar over the SAME untouched original tree:
    *
    *  1. position-delete the batch keys' existing rows — bloom-probe,
    *     scan only matched files with `_metadata.row_index`, write a
    *     second sidecar (`deletes2/`). A row can sit in BOTH sidecars
    *     (customer 0 is in the erase wave and the merge wave); the serve
    *     unions positions, so double-marking is harmless;
    *  2. land the whole upsert batch as plain appended files
    *     (`batch/`, month-partitioned — new months just create dirs);
    *  3. readers apply both sidecars and union the batch
    *     ([[morMergeRead]]).
    *
    * ZERO original files rewritten; cost = |batch| + |delete rows| of
    * WRITE — the merge a 100 TB table wants for a small upsert.
    */
  private[operators] def morMergeDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mormerge", d) { root =>
      import s.implicits._
      val dataDir = normPath(bloomIdxDataDir(s, d))
      val batch = mergeUpsertRows(s, d)
      val keys = batch.select($"l_orderkey".as("k")).distinct()
      val matched =
        matchedFilesOnly(s, s"${bloomIdxDir(s, d)}/index", keys)
      readMatchedFiles(s, dataDir, matched.toSeq)
        .select(
          metaFilePath
            .as("file"),
          col("_metadata.row_index").as("pos"),
          $"l_orderkey", $"ship_month")
        .join(broadcast(keys), $"l_orderkey" === $"k", "left_semi")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("deletes2").toString)
      batch.repartition(col("ship_month")) // file-size targeting, see applyMutation step 3
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(root.resolve("batch").toString)
      root.toString
    }

  /** Merge-on-read scan of the composed snapshot: original tree minus
    * (wave-1 erase positions ∪ merge-replaced positions) — ONE unioned
    * broadcast anti-join — plus the appended batch files. Equals the
    * copy-on-write merge state row-for-row (MorDeleteSpec pins it; the
    * serving oracle is [[mergeExecDir]]'s VERBATIM mergeStateCtes
    * readout).
    */
  private[operators] def morMergeRead(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w1 = morDeleteDir(s, d)
    val mg = morMergeDir(s, d)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$w1/data_base.txt"))
    val del = graft.Tables.readCached(s, s"$w1/deletes").select($"file", $"pos")
      .unionByName(graft.Tables.readCached(s, s"$mg/deletes2").select($"file", $"pos"))
      .distinct()
    graft.Tables.readCached(s, base)
      .withColumn("file",
        metaFilePath)
      .withColumn("pos", col("_metadata.row_index"))
      .join(broadcast(del), Seq("file", "pos"), "left_anti")
      .drop("file", "pos")
      .unionByName(graft.Tables.readCached(s, s"$mg/batch"))
  }

  /** EQUALITY-DELETE write of erase wave 1 — the THIRD delete strategy
    * beside copy-on-write ([[deleteExecDir]]) and position deletes
    * ([[morDeleteDir]]), completing the Iceberg v2 delete-file taxonomy:
    * the delete file carries only the KEY VALUES plus the commit's
    * sequence number. Resolving keys to files or row positions is
    * deferred entirely to readers, so the delete itself opens ZERO data
    * files — no bloom probe, no `_metadata.row_index` scan (contrast
    * [[morDeleteDir]] step 2, which must read every matched file). Cost
    * at delete time = |keys| of write: the cheapest DELETE a 100 TB
    * table can buy, paid back with a per-row broadcast key probe at
    * every scan until a compaction folds the file in (at which point the
    * deferred probe cost — find the affected files — is finally paid,
    * once). Data files written before the delete carry sequence 0; this
    * delete commits at sequence 1 and applies to strictly older data
    * only ([[eqApply]]). EqDeleteSpec pins the zero-read layout (the
    * delete file's schema has no file/position column at all — it
    * CANNOT have touched the tree), key-set exactness, and serve ≡ the
    * copy-on-write result row-for-row.
    */
  private[operators] def eqDeleteDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_eqdel", d) { root =>
      import s.implicits._
      eraseOrderKeys(s, d).select($"k", lit(1L).as("seq_del"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("eq_deletes").toString)
      java.nio.file.Files.writeString(root.resolve("data_base.txt"),
        normPath(bloomIdxDataDir(s, d)))
      root.toString
    }

  /** Equality-delete MERGE wave on top of [[eqDeleteDir]]: the same
    * insert-or-replace batch as [[mergeExecDir]]/[[morMergeDir]], done
    * the equality way — the replaced keys become a SECOND equality-delete
    * file at sequence 2 (again zero data files opened: the keys come
    * from the batch itself) and the batch lands as plain appended files
    * carrying sequence 2. The sequence numbers are what make the
    * composition correct: wave 1's delete (seq 1) and the merge's own
    * delete (seq 2) both apply to the original tree (seq 0) but NEITHER
    * applies to the batch files (seq 2 — Iceberg's strictly-older rule),
    * so rows the batch re-inserts for wave-1-erased keys (customer 0 is
    * in both waves) survive. A sequence-ignorant reader would wrongly
    * kill them — EqDeleteSpec pins exactly that failure as the
    * counterfactual.
    */
  private[operators] def eqMergeDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_eqmerge", d) { root =>
      import s.implicits._
      // land the batch first, then derive the delete manifest from the
      // FILES THAT LANDED — one evaluation of the upsert dataflow instead
      // of two, and the delete file is provably consistent with the batch
      mergeUpsertRows(s, d)
        .repartition(col("ship_month")) // file-size targeting, see applyMutation step 3
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(root.resolve("batch").toString)
      graft.Tables.readCached(s, root.resolve("batch").toString)
        .select($"l_orderkey".as("k")).distinct()
        .select($"k", lit(2L).as("seq_del"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("eq_deletes").toString)
      root.toString
    }

  /** Apply equality deletes under Iceberg's sequence rule: a delete
    * committed at sequence s kills a key's rows only in data files with
    * sequence < s. One broadcast LEFT ANTI hash join — equi-key on
    * l_orderkey with the `seq_del > seq_data` residual — so the fact
    * side never shuffles and files newer than every delete pass the
    * probe untouched. At 100 TB the delete files are |deleted keys|, a
    * normal broadcast (smaller than a position sidecar, which is
    * |deleted rows| × (path, pos)).
    */
  private[operators] def eqApply(data: DataFrame, dels: DataFrame): DataFrame =
    data.join(broadcast(dels),
      data("l_orderkey") === dels("k") && dels("seq_del") > data("seq_data"),
      "left_anti")

  /** Scan of the [[eqDeleteDir]] snapshot: original tree (sequence 0)
    * minus the wave-1 equality delete, applied at read time. Equals the
    * copy-on-write delete state row-for-row (EqDeleteSpec pins it); the
    * serving oracle is pipeline_delete_exec's VERBATIM oracle.
    */
  private[operators] def eqServeRead(s: SparkSession, d: String): DataFrame =
    eqServeFromDir(s, d, s"${eqDeleteDir(s, d)}/eq_deletes")

  /** Serve the ORIGINAL (sequence-0) tree through an arbitrary
    * equality-delete dir — the one serve plan shared by the batch path
    * ([[eqServeRead]]) and the streaming ingest contract
    * (stream_eqdel_replay), so the two cannot drift.
    */
  private[graft] def eqServeFromDir(
      s: SparkSession, d: String, delDir: String): DataFrame =
    eqApply(
      graft.Tables.readCached(s, normPath(bloomIdxDataDir(s, d)))
        .withColumn("seq_data", lit(0L)),
      graft.Tables.readCached(s, delDir))
      .drop("seq_data")

  /** Scan of the composed equality-delete snapshot (wave-1 delete at
    * seq 1, merge batch + its replacement delete at seq 2): both delete
    * files union into ONE broadcast probe, both data legs carry their
    * file sequence, and [[eqApply]]'s strictly-older rule sorts out who
    * kills whom. Equals the copy-on-write merge state row-for-row;
    * judged by [[mergeExecDir]]'s VERBATIM mergeStateCtes oracle.
    */
  private[operators] def eqMergeServe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w1 = eqDeleteDir(s, d)
    val mg = eqMergeDir(s, d)
    // ONE resolution of the sequence-0 tree for every equality serve
    // (shared with [[eqServeFromDir]]); the data_base.txt pointer the
    // delete write records is pinned against this path by EqDeleteSpec,
    // not used as a second source of truth here
    val base = normPath(bloomIdxDataDir(s, d))
    val dels = graft.Tables.readCached(s, s"$w1/eq_deletes")
      .unionByName(graft.Tables.readCached(s, s"$mg/eq_deletes"))
    val legs = graft.Tables.readCached(s, base).withColumn("seq_data", lit(0L))
      .unionByName(
        graft.Tables.readCached(s, s"$mg/batch").withColumn("seq_data", lit(2L)))
    eqApply(legs, dels).drop("seq_data")
  }

  /** EQUALITY-DELETE COMPACTION — the lifecycle step that completes the
    * third delete strategy: without it the live delete set (and every
    * reader's broadcast probe) grows forever. Folds BOTH equality-delete
    * files (wave 1 at seq 1, the merge's replacement delete at seq 2)
    * into the composed snapshot ([[eqMergeServe]]'s world) and RETIRES
    * them, paying the deferred resolution cost exactly once:
    *
    *  1. PLAN (metadata-scale): bloom-probe the seq-0 sidecar index with
    *     every delete key — every delete is strictly newer than seq-0
    *     data, so all keys are candidates there. A false-positive
    *     SUPERSET of the files to touch.
    *  2. REFINE with one candidate-only scan: keep files that actually
    *     hold a matching row; bloom false positives drop back to the
    *     retain set (rewriting them would churn bytes for nothing —
    *     EqCompactSpec pins zero unmatched rewrites).
    *  3. RETAIN by hard link: every unmatched seq-0 file AND every batch
    *     file. The batch files' keys sit verbatim in the seq-2 delete
    *     file, yet no delete is strictly newer than seq 2 — the sequence
    *     rule ([[eqApply]]) retains them untouched; a sequence-ignorant
    *     compactor would rewrite (and wrongly empty) them.
    *  4. REWRITE the matched files minus every live delete under the
    *     same [[eqApply]] rule the readers used — compaction is the
    *     read-time plan made physical, so serve ≡ pre-compaction serve
    *     row-for-row by construction.
    *  5. RETIRE: both delete files land in `retired_deletes`; the live
    *     set (`live_deletes`) is empty. Post-compaction readers scan
    *     `data/` with NO probe at all.
    *
    * Cost at 100 TB: |delete keys| of planning + |actually-matched
    * files| of rewrite — never table size. The audit `plan` table (one
    * row per source file: leg, action) is what the spec pins against.
    */
  private[operators] def eqCompactDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_eqcompact", d) { root =>
      import s.implicits._
      val w1 = eqDeleteDir(s, d)
      val mg = eqMergeDir(s, d)
      val delsDf = graft.Tables.readCached(s, s"$w1/eq_deletes")
        .unionByName(graft.Tables.readCached(s, s"$mg/eq_deletes"))
      val newData = root.resolve("data")
      val oldData = java.nio.file.Paths.get(normPath(bloomIdxDataDir(s, d)))
      val batchDir = java.nio.file.Paths.get(normPath(s"$mg/batch"))
      val cand = matchedFilesOnly(s, s"${bloomIdxDir(s, d)}/index",
        delsDf.select($"k"))
      val hot = readMatchedFiles(s, oldData.toString, cand.toSeq)
        .select(metaFilePath.as("file"), $"l_orderkey")
        .join(broadcast(delsDf.select($"k")), $"l_orderkey" === $"k",
          "left_semi")
        .select($"file").distinct().as[String].collect()
        .map(normPath).toSet
      def linkInto(src: java.nio.file.Path, base: java.nio.file.Path): Unit =
        graft.Fixtures.linkOrCopy(src,
          newData.resolve(base.relativize(src).toString))
      val baseFiles = graft.Tables.readCached(s, oldData.toString).inputFiles.map(normPath)
      baseFiles.filterNot(hot.contains)
        .foreach(f => linkInto(java.nio.file.Paths.get(f), oldData))
      val batchFiles = graft.Tables.readCached(s, batchDir.toString).inputFiles.map(normPath)
      batchFiles.foreach(f => linkInto(java.nio.file.Paths.get(f), batchDir))
      eqApply(readMatchedFiles(s, oldData.toString, hot.toSeq)
          .withColumn("seq_data", lit(0L)), delsDf)
        .drop("seq_data")
        .repartition(col("ship_month"))
        .write.mode("append").partitionBy("ship_month")
        .parquet(newData.toString)
      val retired =
        graft.Tables.readCached(s, s"$w1/eq_deletes").inputFiles
          .map(f => (normPath(f), 1L)).toSeq ++
        graft.Tables.readCached(s, s"$mg/eq_deletes").inputFiles
          .map(f => (normPath(f), 2L)).toSeq
      retired.toDF("file", "seq_del").coalesce(1)
        .write.mode("overwrite")
        .parquet(root.resolve("retired_deletes").toString)
      delsDf.filter(lit(false)).coalesce(1)
        .write.mode("overwrite")
        .parquet(root.resolve("live_deletes").toString)
      (baseFiles.map(f =>
          (f, "base", if (hot(f)) "rewritten" else "retained")).toSeq ++
        batchFiles.map(f => (f, "batch", "retained_newer")).toSeq)
        .toDF("file", "leg", "action").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("plan").toString)
      root.toString
    }

  /** OPTIMISTIC CONCURRENCY CONTROL — two writers race a commit from the
    * SAME base snapshot, the loser detects the conflict and REBASES (the
    * Iceberg/Delta commit protocol: validate that the files your plan
    * touches still exist at the current tip; if a concurrent commit
    * rewrote any of them your staged work is stale — retry against the
    * new tip). Deterministic serialization of the race:
    *
    *  1. writer A PLANS a delete (customers % 383) against tip T0:
    *     bloom-probe, STAGE the rewritten files (the optimistic work a
    *     real writer pays before validation);
    *  2. writer B commits its own delete (customers % 389) first —
    *     tip moves T0 → T1 via the standard mutation engine;
    *  3. A's commit attempt VALIDATES: its base (T0) is no longer the
    *     tip, and the files its plan rewrites intersect the files B's
    *     commit removed (customer 0 is in both key sets, so its files
    *     conflict at every SF) — a file-level TRUE conflict, not just a
    *     tip bump (a disjoint-file tip bump fast-forwards: that
    *     metadata-only publish is exactly [[wapDir]]'s pointer flip, so
    *     OCC here exercises only the interesting path);
    *  4. A discards its ENTIRE staging (recorded, then unlinked — the
    *     WAP-abandon shape) and REBASES: re-plans the same logical
    *     delete against T1 through T1's RECONCILED index, commits → T2.
    *
    * The final state is delete(A) ∘ delete(B) regardless of commit
    * order (deletes of fixed key sets commute); the serving oracle
    * recomputes it from raw, and ConcurrencySpec pins the conflict was
    * real (overlap nonempty), the staging was written then discarded,
    * the rebase planned through T1's index (not T0's), and
    * order-independence (B-then-A ≡ A-then-B row-for-row). At 100 TB
    * this is the protocol that lets hundreds of writers share a table:
    * validation is a manifest diff (metadata-scale), and only true
    * file overlaps pay the replan.
    */
  private[operators] def concurrentCommitDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_occ", d) { root =>
      import s.implicits._
      val baseData = normPath(bloomIdxDataDir(s, d))
      val baseIdx = s"${bloomIdxDir(s, d)}/index"
      val baseMv = normPath(mvRollupDir(s, d))
      val kA = orderKeysOfCustomersMod(s, d, 383)
      val kB = orderKeysOfCustomersMod(s, d, 389)
      // 1. writer A plans + stages against T0
      val matchedA0 = matchedFilesOnly(s, baseIdx, kA)
      val stagedA = root.resolve("stagedA")
      readMatchedFiles(s, baseData, matchedA0.toSeq)
        .join(broadcast(kA), col("l_orderkey") === $"k", "left_anti")
        .repartition(col("ship_month")) // file-size targeting, see applyMutation step 3
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(stagedA.toString)
      val nStaged = graft.Tables.readCached(s, stagedA.toString).inputFiles.length
      // 2. writer B commits first: T0 → T1
      val t1 = applyMutation(s, graft.Fixtures.tempDir("graft_occ_b"),
        baseData, baseIdx, baseMv, kB)
      // 3. A validates: manifest diff on relative path — files of T0 that
      // did not carry into T1 are the ones B rewrote away
      val t0Path = java.nio.file.Paths.get(baseData)
      val t1Rel = graft.Tables.readCached(s, s"$t1/data").inputFiles.map(normPath)
        .map(f => java.nio.file.Paths.get(s"$t1/data").relativize(
          java.nio.file.Paths.get(f)).toString).toSet
      val removedByB = graft.Tables.readCached(s, baseData).inputFiles.map(normPath)
        .filter(f => !t1Rel.contains(
          t0Path.relativize(java.nio.file.Paths.get(f)).toString)).toSet
      val conflict = matchedA0.map(normPath).toSet intersect removedByB
      require(conflict.nonEmpty,
        "degenerate OCC fixture: the race produced no file conflict")
      // 4. discard the stale staging wholesale, rebase against T1
      graft.Fixtures.deleteRecursively(stagedA)
      val t2 = applyMutation(s, graft.Fixtures.tempDir("graft_occ_a"),
        s"$t1/data", s"$t1/index", s"$t1/mv", kA)
      Seq(
        (0L, "B", "T0", "committed", 0L, 0L, "T1"),
        (1L, "A", "T0", "conflict", conflict.size.toLong, nStaged.toLong, ""),
        (2L, "A", "T1", "committed", 0L, 0L, "T2"))
        .toDF("step", "writer", "base_tip", "outcome",
          "n_conflict_files", "n_staged_discarded", "new_tip")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("commit_log").toString)
      java.nio.file.Files.writeString(root.resolve("tip.txt"), t2)
      root.toString
    }

  /** The CDC upsert feed for the MERGE wave — the "changed rows" batch a
    * change-capture pipeline would hand a lakehouse writer, derived
    * deterministically from the raw tables so DuckDB can recompute the
    * post-merge state exactly:
    *
    *  - UPDATE slice: every lineitem row of orders whose customer key is
    *    divisible by 293 (disjoint from the 271/337 erase moduli at every
    *    driver SF except custkey 0, which is deliberately in ALL waves),
    *    re-emitted with `qty + 1` — full-row replacement at order
    *    granularity;
    *  - INSERT slice: one brand-new line per target order under the
    *    synthetic key `o_orderkey + 10^12` (disjoint from every real
    *    orderkey), landing in the ORDER DATE's month — some of which are
    *    months the tree has no partition for yet.
    *
    * Customer 0 makes the wave order observable: its rows were purged by
    * delete wave 1, so the MERGE re-inserts them (insert-or-replace), and
    * delete wave 2 purges the replaced rows again (0 % 337 == 0) while its
    * synthetic inserts — whose keys are in no erase set — survive.
    */
  private[operators] def mergeUpsertRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tgt = Tables.orders(s, d).filter($"o_custkey" % 293 === 0)
      .select($"o_orderkey", $"o_orderdate")
    val upd = Tables.lineitem(s, d)
      .join(tgt.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_partkey",
        ($"l_quantity".cast("bigint") + 1L).as("qty"),
        expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
          .as("net_cents"),
        to_date($"l_shipdate").as("ship_day"),
        date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
    val ins = tgt.select(
      ($"o_orderkey" + MergeInsertOffset).as("l_orderkey"),
      ($"o_orderkey" % 200000L + 1L).as("l_partkey"),
      lit(1L).as("qty"),
      (($"o_orderkey" % 997L) * 100L + 1L).as("net_cents"),
      to_date($"o_orderdate").as("ship_day"),
      date_format($"o_orderdate", "yyyy-MM").as("ship_month"))
    upd.unionByName(ins)
  }

  /** Once-per-JVM copy-on-write MERGE executed ON TOP of delete wave 1's
    * snapshot, planned through wave 1's RECONCILED sidecars (completing the
    * CDC change-detection → APPLY loop): bloom-matched files are rewritten
    * with the batch's keyed rows replaced, inserts land as fresh files
    * (new months get fresh partition dirs), the index reconciles
    * incrementally and only gaining/losing MV months refresh. Wave 2 then
    * deletes THROUGH this snapshot's metadata — delete → merge → delete,
    * each mutation planning via the previous one's reconciled index.
    */
  private[operators] def mergeExecDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_mergeexec", d) { root =>
      import s.implicits._
      val w1 = deleteExecDir(s, d)
      val batch = mergeUpsertRows(s, d)
      applyMutation(s, root, s"$w1/data", s"$w1/index",
        s"$w1/mv", batch.select($"l_orderkey".as("k")).distinct(),
        Some(batch))
    }

  /** SECOND erase wave (customers c % 337 == 0) applied ON TOP of the
    * MERGE snapshot — the full interleaved chain delete w1 → upsert →
    * delete w2, each wave planned through the PREVIOUS mutation's
    * RECONCILED sidecars and refreshing its already-refreshed MV: mutation
    * COMPOSABILITY, the property a lakehouse table actually needs. Keys
    * divisible by both erase moduli are already gone from the source tree
    * (their probes just find no rows) — except where the merge re-inserted
    * them (customer 0), which this wave must purge AGAIN; the merge's
    * synthetic insert keys are in no erase set and must survive.
    */
  private[operators] def deleteExec2Dir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_delexec2", d) { root =>
      val m = mergeExecDir(s, d)
      applyMutation(s, root, s"$m/data", s"$m/index", s"$m/mv",
        orderKeysOfCustomersMod(s, d, 337))
    }

  /** One copy-on-write MUTATION over a (data, sidecar index, daily MV)
    * snapshot triple — DELETE when `upsert` is empty, MERGE
    * (insert-or-replace at order granularity, the Delta/Iceberg
    * copy-on-write `MERGE INTO`) when it carries a batch. The engine of
    * [[deleteExecDir]] (wave 1 over the original bloom layout),
    * [[mergeExecDir]] (the upsert wave over wave 1's output) and
    * [[deleteExec2Dir]] (wave 2 over the merge's output), writing the new
    * snapshot under `root` (`data/`, `index/`, `mv/`) and returning it:
    *
    *  1. probe the sidecars — only MATCHED files can hold rows of the
    *     mutation's key set (purge keys, or the batch's upsert keys);
    *  2. retain every unmatched file by hard link (zero bytes rewritten);
    *  3. rewrite matched files minus the keyed rows, plus the whole
    *     upsert batch (matched keys' old rows drop out and are replaced
    *     by their batch rows; batch keys absent from the tree — inserts,
    *     or re-inserts of previously deleted orders — simply land),
    *     appended per month (new months get fresh partition dirs);
    *  4. reconcile the index: retained rows path-remapped, fresh bitsets
    *     only for newly written files;
    *  5. refresh the MV: untouched months linked over; months that lost
    *     OR gained rows recomputed from the post-mutation tree.
    *
    * At 100 TB the cost profile is the MERGE you want: |matched files| +
    * |batch| + |touched months|, never table size.
    */
  /** Default per-file row target for [[applyMutation]]'s writer: high
    * enough that every month at the test SFs stays one file (the layout
    * the existing oracles and manifest counts pin), low enough that a
    * real giant month splits. At ~50 B/row this is ~200 MB files — the
    * Iceberg/Delta write-target ballpark.
    */
  private[operators] val MutationTargetFileRows = 4000000L

  /** Writer FILE-SIZE TARGETING — step 3's write path: repartition by
    * month for dir-locality, bucket WITHIN each month by key hash
    * (`ceil(monthRows / target)` buckets, from a metadata-scale per-month
    * count over the mutation's working set) so a giant month gets
    * parallel writers instead of one task, and enforce the per-file
    * bound with `maxRecordsPerFile` so no file exceeds the target even
    * when bucket hashes collide into one task. File count stays
    * O(months × ceil(rows/target)) — MutationWriterSpec pins both bounds
    * — and small months still land as ONE file (bucket count 1), so the
    * small-file regression the month-repartition fixed cannot return.
    */
  private[operators] def writeMonthTargeted(s: SparkSession, df: DataFrame,
      path: String, targetRows: Long): Unit = {
    val counts = df.groupBy(col("ship_month")).agg(count(lit(1)).as("cnt"))
    df.join(broadcast(counts), Seq("ship_month"))
      .withColumn("wbkt", pmod(xxhash64(col("l_orderkey")),
        greatest(lit(1L), ceil(col("cnt") / lit(targetRows.toDouble)))))
      .drop("cnt")
      .repartition(col("ship_month"), col("wbkt"))
      .drop("wbkt")
      .write.mode("append").option("maxRecordsPerFile", targetRows)
      .partitionBy("ship_month").parquet(path)
  }

  private[operators] def applyMutation(s: SparkSession,
      root: java.nio.file.Path, srcDataDir: String,
      srcIdxPath: String, srcMvDir: String,
      keys0: org.apache.spark.sql.DataFrame,
      upsert: Option[org.apache.spark.sql.DataFrame] = None,
      targetRows: Long = MutationTargetFileRows): String = {
    import s.implicits._
    graft.plans.GraftExtensions.register(s)
    val keys = keys0
    val newData = root.resolve("data")
    val oldData = java.nio.file.Paths.get(normPath(srcDataDir))

    // 1-2. plan via the sidecars; everything unmatched is retained by link
    val matched = matchedFilesOnly(s, srcIdxPath, keys)
    val matchedSet = matched.map(normPath).toSet
    val retainedDst = graft.Tables.readCached(s, oldData.toString).inputFiles
      .map(normPath).filterNot(matchedSet.contains).map { f =>
        val src = java.nio.file.Paths.get(f)
        val dst = newData.resolve(oldData.relativize(src).toString)
        graft.Fixtures.linkOrCopy(src, dst)
        dst.toString
      }.toSet

    // 3. rewrite matched files minus the keyed rows, plus the upsert batch
    // (append never touches the linked files; month dirs may mix both).
    // [[writeMonthTargeted]] is the writer's file-size targeting: without
    // a month repartition every task writes its own sliver into every
    // month it touches (32 tasks × ~84 months ⇒ a merge wave ballooned
    // the 100× manifest 367 → 5 701 files, and every manifest-addressed
    // read of that snapshot paid ~13-19 s of per-file open overhead —
    // measured, BASELINE.md "Mutation-writer file-size targeting"); with
    // it each month lands as ceil(monthRows/target) files (ONE at every
    // rehearsed SF), capped
    // per file by maxRecordsPerFile so a real giant month splits instead
    // of becoming one giant file. One extra shuffle + count of
    // |matched| + |batch| rows — the mutation's own working set, never
    // the table.
    val rewritten = readMatchedFiles(s, oldData.toString, matched.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_anti")
    // cached for the write: [[writeMonthTargeted]]'s per-month count and
    // the write itself both consume the working set — without the cache
    // the matched-file scan + anti-join would run twice
    val out = upsert.fold(rewritten)(b => rewritten.unionByName(b)).cache()
    try writeMonthTargeted(s, out, newData.toString, targetRows)
    finally out.unpersist()

    // 4. index reconciliation: remap retained rows, fresh rows for the
    // rewritten files only
    val oldDataStr = oldData.toString
    val newDataStr = normPath(newData.toString)
    val newFiles = graft.Tables.readCached(s, newData.toString).inputFiles
      .map(normPath).filterNot(retainedDst.contains).toSeq
    // anti-join against a one-column frame instead of an isin literal
    // list: matched can be thousands of paths (a wave that touches every
    // month rewrites most of the tree), and a thousands-literal predicate
    // bloats the plan where a broadcast anti-join stays flat
    val retainedIdxPre = graft.Tables.readCached(s, srcIdxPath)
      .withColumn("file", regexp_replace($"file", "^file:/+", "/"))
      .join(broadcast(matched.map(normPath).toSeq.toDF("mfile")),
        $"file" === $"mfile", "left_anti")
    // Loud guard for the substr remap below: it assumes every retained
    // sidecar path sits under the normalized source tree. A row recorded
    // under a different normalization (symlinked temp dirs, scheme
    // variants) would otherwise silently remap to a nonexistent file and
    // only surface later as a 1:1 pin failure — fail here, at rewrite
    // time, with the offending path. Metadata-scale (one row per file).
    val stray = retainedIdxPre.filter(!$"file".startsWith(oldDataStr))
      .select($"file").limit(1).collect()
    require(stray.isEmpty,
      s"retained sidecar path not under $oldDataStr: ${stray.mkString(",")}")
    val retainedIdx = retainedIdxPre
      .withColumn("file",
        concat(lit(newDataStr), expr(s"substr(file, ${oldDataStr.length + 1})")))
    val freshIdx = bloomIndexRows(s,
      readMatchedFiles(s, newData.toString, newFiles), newFiles.length)
    retainedIdx.unionByName(freshIdx)
      .write.mode("overwrite").parquet(root.resolve("index").toString)

    // 5. MV incremental refresh: recompute ONLY months that lost rows
    // (keyed rows dropping out) or gained them (batch rows landing)
    val lostMonths = readMatchedFiles(s, oldData.toString, matched.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_semi")
      .select($"ship_month")
    val touched = upsert.fold(lostMonths)(b =>
        lostMonths.unionByName(b.select($"ship_month")))
      .distinct().as[String].collect().toSeq
    val newMv = root.resolve("mv")
    val oldMv = java.nio.file.Paths.get(normPath(srcMvDir))
    val monthDirs = java.nio.file.Files.list(oldMv)
    try monthDirs.forEach { md =>
      val name = md.getFileName.toString // ship_month=YYYY-MM
      if (name.startsWith("ship_month=") &&
          !touched.contains(name.stripPrefix("ship_month="))) {
        val dstDir = newMv.resolve(name)
        val fs = java.nio.file.Files.list(md)
        try fs.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f))
            graft.Fixtures.linkOrCopy(f,
              dstDir.resolve(f.getFileName.toString))
        } finally fs.close()
      }
    } finally monthDirs.close()
    if (touched.nonEmpty)
      graft.Tables.readCached(s, newData.toString)
        .filter($"ship_month".isin(touched: _*))
        .groupBy($"ship_month", $"ship_day")
        .agg(count(lit(1)).as("n_items"), count($"qty").as("n_qty"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .write.mode("append").partitionBy("ship_month").parquet(newMv.toString)
    root.toString
  }

  /** Once-per-JVM PARTITION EVOLUTION fixture (Iceberg's spec evolution:
    * a table changes its partition transform and OLD data is not
    * rewritten): the ship fact is month-partitioned up to the 1998-01
    * cutover (`old/`) and epoch-week-partitioned from it (`new/`,
    * `ship_week = unix_date(ship_day) div 7` — an integer transform both
    * engines compute exactly; calendar-week names were rejected for the
    * ISO-year-boundary trap). One logical table, two physical layouts;
    * readers prune each leg with ITS OWN partition scheme and union —
    * exactly how an evolved Iceberg table plans a scan per spec-id. At
    * 100 TB this is the migration story: finer partitioning for new hot
    * data without paying a historical rewrite.
    */
  private[operators] def partEvoDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_partevo", d) { root =>
      import s.implicits._
      val slim = Tables.lineitem(s, d).select(
        $"l_orderkey",
        $"l_quantity".cast("long").as("qty"),
        expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
          .as("net_cents"),
        to_date($"l_shipdate").as("ship_day"),
        date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      slim.filter($"ship_month" < "1998-01")
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(root.resolve("old").toString)
      slim.filter($"ship_month" >= "1998-01").drop("ship_month")
        .withColumn("ship_week", expr("unix_date(ship_day) div 7"))
        .write.mode("overwrite").partitionBy("ship_week")
        .parquet(root.resolve("new").toString)
      root.toString
    }

  /** Once-per-JVM WRITE-AUDIT-PUBLISH run (the Iceberg WAP / Delta
    * staging pattern — a mutation lands as an UNCOMMITTED snapshot, an
    * expectations audit gates the pointer flip, and a failed candidate is
    * abandoned and garbage-collected):
    *
    *  1. STAGE two candidate MERGE snapshots over delete wave 1: the
    *     clean batch (the existing [[mergeExecDir]] snapshot — reused,
    *     the audit does not re-execute it) and a POISONED twin whose
    *     batch negates qty on every l_orderkey % 7 == 0 row (the
    *     corrupt-upstream-feed class an audit exists to catch);
    *  2. AUDIT each staged tree against the positivity expectation
    *     (qty > 0) — one map-side agg per candidate, recorded in
    *     `publish_log/` with the publish verdict (violations == 0);
    *  3. PUBLISH the passing candidate: the log row carries its base
    *     path — the pointer flip is one metadata row, nothing moves;
    *  4. ABANDON the failed candidate: its whole staged root is deleted.
    *     Retained files were HARD LINKS into wave 1's tree, so the GC
    *     cannot damage the published snapshot or any ancestor — the
    *     link-based retention is what makes staged-snapshot abandonment
    *     free and safe (WapSpec pins both trees still serve afterwards).
    *
    * At 100 TB: staging costs one normal mutation, the audit is one scan
    * of the STAGED tree (never the table history), publish is metadata,
    * abandon is unlink.
    */
  private[operators] def wapDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_wap", d) { root =>
      import s.implicits._
      val w1 = deleteExecDir(s, d)
      val good = mergeExecDir(s, d)
      val badBatch = mergeUpsertRows(s, d).withColumn("qty",
        when($"l_orderkey" % 7 === 0, -$"qty").otherwise($"qty"))
      val bad = applyMutation(s, graft.Fixtures.tempDir("graft_wapbad"),
        s"$w1/data", s"$w1/index", s"$w1/mv",
        badBatch.select($"l_orderkey".as("k")).distinct(), Some(badBatch))
      def audit(base: String): (Long, Long) = {
        val r = graft.Tables.readCached(s, s"$base/data")
          .agg(count(lit(1)), sum(when($"qty" <= 0L, 1L).otherwise(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      val (gn, gv) = audit(good)
      val (bn, bv) = audit(bad)
      Seq(("good", gn, gv, gv == 0L, normPath(s"$good/data")),
          ("bad", bn, bv, bv == 0L, normPath(s"$bad/data")))
        .toDF("candidate", "n_checked", "n_violations", "published", "base")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("publish_log").toString)
      // abandon + GC the failed candidate — never a published snapshot
      require(bv > 0L && gv == 0L,
        s"WAP fixture degenerated: good=$gv bad=$bv violations")
      val badRoot = java.nio.file.Paths.get(bad)
      java.nio.file.Files.walk(badRoot).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      root.toString
    }

  /** Once-per-JVM PERSISTED snapshot metadata for the ship-month fact's
    * mutation chain — the Iceberg `snapshots` + `manifests` metadata pair
    * that makes time travel a METADATA operation: `snapshots/` has one row
    * per snapshot (snap_id, op, parent_id, base) forming the lineage DAG
    * (compaction and delete_w1 are sibling children of the original);
    * `manifests/` has one row per (snap_id, data file). Reading "as of
    * snapshot N" resolves through these tables only — never by pointing a
    * scan at a tree path — so a reader of snapshot k provably cannot open
    * files of snapshot k+1 (DiagnosticsSpec pins exactly that). At 100 TB
    * both tables are metadata-scale: one row per snapshot / per file.
    */
  private[graft] def snapshotMetaDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_snapmeta", d) { root =>
      import s.implicits._
      val snaps = Seq(
        (0L, "original", -1L, normPath(bloomIdxDataDir(s, d)),
          normPath(bloomIdxDataDir(s, d)).stripSuffix("/data") + "/index"),
        (1L, "compacted", 0L, normPath(compactedDir(s, d)),
          normPath(compactedIdxDir(s, d))),
        (2L, "delete_w1", 0L, s"${deleteExecDir(s, d)}/data",
          s"${deleteExecDir(s, d)}/index"),
        (3L, "merge", 2L, s"${mergeExecDir(s, d)}/data",
          s"${mergeExecDir(s, d)}/index"),
        (4L, "delete_w2", 3L, s"${deleteExec2Dir(s, d)}/data",
          s"${deleteExec2Dir(s, d)}/index"))
      snaps.map { case (id, _, _, base, _) =>
        graft.Tables.readCached(s, base).inputFiles.map(normPath).toSeq
          .toDF("file").select(lit(id).as("snap_id"), $"file")
      }.reduce(_ unionByName _).coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      // every snapshot also records ITS OWN sidecar index path — a
      // time-travel reader plans point lookups through the index the
      // snapshot was reconciled with, not the current one
      snaps.toDF("snap_id", "op", "parent_id", "base", "idx").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      root.toString
    }

  /** Once-per-JVM EXECUTED Z-order rewrite of the fact rows (OPTIMIZE
    * ZORDER BY (l_partkey, l_suppkey)) plus an arrival-order twin for the
    * skipping comparison:
    *
    *  - `zdata/`  — 64 files, one per DETERMINISTIC equal-width Morton
    *    bucket (`zbkt = (z − zmin)·64 div span`), rows z-sorted within
    *    each file. Equal-width buckets instead of `repartitionByRange`
    *    because the range partitioner SAMPLES — its boundaries are not
    *    reproducible, and determinism is what lets the DuckDB oracle
    *    recompute every file's envelope exactly.
    *  - `zdata_stats/` — the min/max envelope sidecar: one row per file
    *    with (n_rows, min/max of both probe dimensions), i.e. the column
    *    stats an Iceberg manifest or parquet footer carries, persisted
    *    where the serve can plan from them without touching data.
    *  - `ldata/`, `ldata_stats/` — the same rows bucketed by arrival
    *    order (l_orderkey ranges): the layout a naive ingest produces,
    *    kept as the comparison set ZorderExecSpec prices skipping
    *    against.
    *
    * At 100 TB: one range-shuffle by z (the rewrite), one metadata-scale
    * agg per sidecar; the 64-file miniature stands in for thousands of
    * files — the bucket arithmetic is scale-free.
    */
  private[operators] def zorderExecDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_zexec", d) { root =>
      import s.implicits._
      val li = Tables.lineitem(s, d).select(
        $"l_orderkey".cast("long").as("o"),
        $"l_partkey".cast("long").as("p"),
        $"l_suppkey".cast("long").as("sk"),
        $"l_quantity".cast("long").as("qty"),
        expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
          .as("net_cents"))
      val mx = li.agg(max($"p").as("pmax"), max($"sk").as("smax"),
        min($"o").as("omin"), max($"o").as("omax"))
      // cached for the build: the Morton pipeline feeds the z-range agg
      // and BOTH layout writes — without the cache the fact scan + 32-term
      // interleave would run three times per fixture build
      val t = li.crossJoin(broadcast(mx))
        .withColumn("px", expr("p * 65536 div (pmax + 1)"))
        .withColumn("sy", expr("sk * 65536 div (smax + 1)"))
        .withColumn("z", expr(ZMortonSpark))
        .cache()
      val zr = t.agg(min($"z").as("zmin"), max($"z").as("zmax"))
      val b = t.crossJoin(broadcast(zr))
        .withColumn("zbkt", expr("(z - zmin) * 64 div (zmax - zmin + 1)"))
        .withColumn("lbkt", expr("(o - omin) * 64 div (omax - omin + 1)"))
      def writeLayout(bcol: String, dir: String,
          sortCols: Seq[String]): Unit = {
        val path = root.resolve(dir).toString
        b.select($"o", $"p", $"sk", $"qty", $"net_cents", $"z", col(bcol))
          .repartition(64, col(bcol))
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.mode("overwrite").partitionBy(bcol).parquet(path)
        graft.Tables.readCached(s, path)
          .select(
            metaFilePath
              .as("file"),
            col(bcol), $"p", $"sk")
          .groupBy(col(bcol), $"file")
          .agg(count(lit(1)).as("n_rows"),
            min($"p").as("minp"), max($"p").as("maxp"),
            min($"sk").as("mins"), max($"sk").as("maxs"))
          .coalesce(1)
          .write.mode("overwrite").parquet(root.resolve(dir + "_stats").toString)
      }
      writeLayout("zbkt", "zdata", Seq("z", "o"))
      writeLayout("lbkt", "ldata", Seq("o"))
      t.unpersist()
      root.toString
    }

  /** Once-per-JVM SNAPSHOT EXPIRATION + ORPHAN-FILE GC — the lifecycle
    * step [[snapshotMetaDir]]'s monotone lineage was missing (Iceberg's
    * `expireSnapshots` + `deleteOrphanFiles`). Runs against a dedicated
    * CLONE of the whole 5-snapshot chain so the GC's physical deletes
    * cannot touch the shared per-JVM fixtures other queries read:
    *
    *  1. CLONE — hard-link every manifest-referenced file under
    *     `files/<relative path>`. Retained files keep their relative path
    *     across the mutation chain (applyMutation links them unrenamed)
    *     and rewritten files get globally unique part names, so relpath
    *     identifies content — a file shared by N snapshots becomes ONE
    *     physical clone referenced by N manifest rows, restoring the
    *     refcount structure GC is about. Plus two ORPHAN debris files a
    *     failed write would leave (referenced by no manifest at all).
    *  2. EXPIRE — retention keeps the current snapshot and its parent
    *     (ids 3, 4); original (0), the compaction branch (1) and delete
    *     wave 1 (2) fall out of the `snapshots` table.
    *  3. GC — walk `files/` and DELETE every file no LIVE manifest
    *     references: expired-only data files and the orphans. The walk is
    *     metadata-scale (one stat per file); deletes are recorded in
    *     `gc_deleted/` for the spec, live metadata lands in `snapshots/`
    *     + `manifests/`.
    *
    * GcExpireSpec pins: GC'd ∩ live = ∅, GC'd ⊇ orphans, every
    * expired-only file gone, every live file untouched (same inode), and
    * the live snapshots still serving their exact pre-GC state.
    */
  private[operators] def gcExpireDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_gc", d) { root =>
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val snaps = graft.Tables.readCached(s, s"$meta/snapshots")
        .select($"snap_id", $"op", $"parent_id", $"base")
        .as[(Long, String, Long, String)].collect().sortBy(_._1)
      val manifests = graft.Tables.readCached(s, s"$meta/manifests")
        .select($"snap_id", $"file").as[(Long, String)].collect()
      val filesDir = root.resolve("files")
      val baseOf = snaps.map(t => t._1 -> java.nio.file.Paths.get(normPath(t._4))).toMap
      def linkInto(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
        graft.Fixtures.linkOrCopy(src, dst)
      val cloneRows = manifests.map { case (sid, f) =>
        val src = java.nio.file.Paths.get(f)
        val dst = filesDir.resolve(baseOf(sid).relativize(src).toString)
        linkInto(src, dst)
        (sid, dst.toString)
      }.toSeq
      Seq("orphan_a.parquet", "orphan_b.parquet").foreach { n =>
        linkInto(java.nio.file.Paths.get(manifests.head._2), filesDir.resolve(n))
      }
      // pre-GC metadata (the spec's "before" picture)
      cloneRows.toDF("snap_id", "file").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests_all").toString)
      // expire: keep the current snapshot and its parent
      val maxId = snaps.map(_._1).max
      val live = Set(maxId, snaps.find(_._1 == maxId).get._3)
      val liveFiles = cloneRows.collect {
        case (sid, f) if live(sid) => f
      }.toSet
      // GC walk: every file under files/ unreferenced by a live manifest
      // collect first with the walk stream CLOSED, then delete — never
      // mutate the tree under an open directory stream
      val onDisk = scala.collection.mutable.ArrayBuffer[String]()
      val walk = java.nio.file.Files.walk(filesDir)
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) onDisk += p.toString
      } finally walk.close()
      val deleted = onDisk.filterNot(liveFiles.contains)
      deleted.foreach(f =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
      deleted.toSeq.toDF("file").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("gc_deleted").toString)
      cloneRows.filter(r => live(r._1)).toDF("snap_id", "file").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      snaps.filter(t => live(t._1)).map(t => (t._1, t._2, t._3)).toSeq
        .toDF("snap_id", "op", "parent_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      root.toString
    }

  /** Once-per-JVM SNAPSHOT ROLLBACK — the recovery half of the snapshot
    * lifecycle (Iceberg `rollback_to_snapshot`): the table's current
    * pointer moves back to the pre-merge state by writing ONE new
    * snapshot (id 5, op `rollback`, parent = the chain tip so lineage
    * records WHEN the rollback happened) whose manifest is snapshot 2's
    * file list VERBATIM. Pure metadata: no data file is written, moved
    * or deleted — RollbackSpec pins the manifest identity and the
    * metadata-only layout. Readers of "current" then serve the wave-1
    * state again, which is why the readout below is judged by the
    * original delete-wave oracle.
    */
  private[operators] def rollbackMetaDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_rollback", d) { root =>
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val snaps = graft.Tables.readCached(s, s"$meta/snapshots")
      val tip = snaps.agg(max($"snap_id")).as[Long].head()
      val src = snaps.filter($"op" === "delete_w1")
        .select($"snap_id", $"base", $"idx").as[(Long, String, String)].head()
      snaps.unionByName(
          Seq((tip + 1, "rollback", tip, src._2, src._3))
            .toDF("snap_id", "op", "parent_id", "base", "idx"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      val mans = graft.Tables.readCached(s, s"$meta/manifests")
      mans.unionByName(
          mans.filter($"snap_id" === src._1)
            .select(lit(tip + 1).as("snap_id"), $"file"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      root.toString
    }

  // Key offset for the branch append batch: disjoint from every real
  // orderkey AND from the merge wave's synthetic inserts
  // (MergeInsertOffset = 10^12; ScaleUp replicas shift real keys by
  // r·10^7, so 2·10^12 stays clear of both at any rehearsed scale).
  private[operators] val BranchBatchOffset = 2000000000000L

  /** The branch's append batch — synthetic rows keyed
    * o_orderkey + [[BranchBatchOffset]] for orders of every 499th
    * customer (nonempty at every SF: customer 0 qualifies), landing in
    * the order date's month. Derived deterministically from raw so
    * DuckDB recomputes every ref's state exactly.
    */
  private[graft] def branchBatchRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).filter($"o_custkey" % 499 === 0)
      .select(
        ($"o_orderkey" + BranchBatchOffset).as("l_orderkey"),
        ($"o_orderkey" % 200000L + 1L).as("l_partkey"),
        lit(2L).as("qty"),
        (($"o_orderkey" % 991L) * 100L + 7L).as("net_cents"),
        to_date($"o_orderdate").as("ship_day"),
        date_format($"o_orderdate", "yyyy-MM").as("ship_month"))
  }

  /** BRANCHES, TAGS and CHERRY-PICK over the snapshot lineage — the
    * multi-ref metadata layer (Iceberg refs / `cherrypick_snapshot`)
    * that turns the single `current` pointer into named, independently
    * movable heads:
    *
    *  - refs start as main → 4 (the chain tip), tag `v1_compacted` → 1
    *    (immutable label on the compaction snapshot), and a new `audit`
    *    branch cut at snapshot 2 (the wave-1 delete state);
    *  - the audit branch COMMITS an append wave: snapshot 6 (op
    *    `branch_append`, parent 2) whose manifest is snapshot 2's file
    *    list plus the batch's files. main is untouched — branch
    *    isolation is just manifest algebra;
    *  - main CHERRY-PICKS the branch commit: snapshot 7 (op
    *    `cherry_pick`, parent 4) re-links the SAME physical batch files
    *    onto main's manifest — a pure metadata commit (an append
    *    transfers cleanly; nothing it touched conflicts with 2→4), zero
    *    data files written or copied. main moves 4 → 7.
    *
    * Manifests here carry (snap_id, file, base): the per-file discovery
    * base is the moral equivalent of the partition tuple an Iceberg
    * manifest stores per file — it is what lets one snapshot span files
    * from two physical roots (the inherited tree + the branch's
    * appends). The `refs_log` table records every ref movement
    * (step-ordered), so the readout and BranchSpec can audit WHO moved
    * WHEN; history snapshots 0-4 are copied verbatim, never rewritten.
    */
  private[graft] def branchMetaDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_branch", d) { root =>
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val bfDir = root.resolve("branch_files").toString
      branchBatchRows(s, d)
        .repartition(col("ship_month")) // file-size targeting, see applyMutation step 3
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(bfDir)
      val batchFiles = graft.Tables.readCached(s, bfDir).inputFiles.map(normPath).toSeq
      val baseSnaps = graft.Tables.readCached(s, s"$meta/snapshots")
      val mans0 = graft.Tables.readCached(s, s"$meta/manifests")
        .join(baseSnaps.select($"snap_id", $"base"), Seq("snap_id"))
        .select($"snap_id", $"file", $"base")
      def inherited(from: Long, as: Long) = mans0
        .filter($"snap_id" === from)
        .select(lit(as).as("snap_id"), $"file", $"base")
      def batchLeg(as: Long) = batchFiles.toDF("file")
        .select(lit(as).as("snap_id"), $"file", lit(bfDir).as("base"))
      mans0
        .unionByName(inherited(2L, 6L)).unionByName(batchLeg(6L))
        .unionByName(inherited(4L, 7L)).unionByName(batchLeg(7L))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      baseSnaps.select($"snap_id", $"op", $"parent_id")
        .unionByName(Seq((6L, "branch_append", 2L), (7L, "cherry_pick", 4L))
          .toDF("snap_id", "op", "parent_id"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      // a branch commit reconciles its sidecar INDEX like any other
      // commit (branches are full tables — statistics and point-lookup
      // skipping must serve through a ref too): inherited files keep
      // their parent snapshot's index rows verbatim (the files are
      // referenced in place, paths unchanged), the appended batch files
      // get fresh bitsets — |batch| of index build, never a re-index
      val idxOf = baseSnaps.select($"snap_id", $"idx")
        .as[(Long, String)].collect().toMap
      val freshIdx = bloomIndexRows(s, graft.Tables.readCached(s, bfDir),
        batchFiles.length)
      Seq((2L, 6L), (4L, 7L)).foreach { case (from, as) =>
        graft.Tables.readCached(s, idxOf(from))
          .withColumn("file", regexp_replace($"file", "^file:/+", "/"))
          .unionByName(freshIdx)
          .write.mode("overwrite").parquet(root.resolve(s"idx$as").toString)
      }
      Seq(
        (0L, "main", "branch", 4L),
        (0L, "v1_compacted", "tag", 1L),
        (0L, "audit", "branch", 2L),
        (1L, "audit", "branch", 6L),
        (2L, "main", "branch", 7L))
        .toDF("step", "ref", "ref_type", "snap_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("refs_log").toString)
      root.toString
    }

  /** Current (ref → ref_type, snap_id) heads: the latest refs_log row
    * per ref. Metadata-scale — a handful of rows.
    */
  private[operators] def currentRefs(
      s: SparkSession, d: String): Seq[(String, String, Long)] = {
    import s.implicits._
    graft.Tables.readCached(s, s"${branchMetaDir(s, d)}/refs_log")
      .as[(Long, String, String, Long)].collect()
      .groupBy(_._2).values.map(_.maxBy(_._1))
      .map(r => (r._2, r._3, r._4)).toSeq.sortBy(_._1)
  }

  /** Manifest-addressed read of one snapshot of the BRANCHED metadata:
    * files group by their per-file discovery base (a snapshot may span
    * the inherited tree and the branch's append root) and the legs
    * union. Planning is metadata-scale, same as [[readSnapshot]].
    */
  private[graft] def readBranchSnapshot(
      s: SparkSession, d: String, id: Long): DataFrame = {
    import s.implicits._
    val root = branchMetaDir(s, d)
    val man = graft.Tables.readCached(s, s"$root/manifests")
      .filter($"snap_id" === id)
      .select($"base", $"file").as[(String, String)].collect()
    require(man.nonEmpty, s"unknown branch snapshot $id — no manifest rows")
    man.groupBy(_._1).map { case (base, fs) =>
      readMatchedFiles(s, normPath(base), fs.map(_._2).toSeq)
        .select($"l_orderkey", $"l_partkey", $"qty", $"net_cents",
          $"ship_day", $"ship_month")
    }.reduce(_ unionByName _)
  }

  /** THE MERGE VERB at manifest grain: validate the branch's file
    * removals against what main removed since the branch forked (the
    * Iceberg OCC file-level check — a file the branch rewrote that main
    * has since removed means both sides changed the same rows), then
    * apply the branch's delta as pure manifest algebra. Disjoint deltas
    * merge with ZERO data I/O — the fast-forward analog when main has
    * also advanced (genuine fast-forward is the degenerate case: main
    * unmoved since fork ⇒ removed-set empty ⇒ result = branch head's
    * manifest). On overlap the merge REFUSES: the branch's operation
    * must re-execute against main's head ([[concurrentCommitDir]]'s
    * conflict-detect + rebase machinery), never silently union.
    * Maps are relpath → (physical file, discovery base).
    */
  private[operators] def mergeManifests(
      main: Map[String, (String, String)],
      mainRemovedSinceFork: Set[String],
      branchAdded: Map[String, (String, String)],
      branchRemoved: Set[String]): Map[String, (String, String)] = {
    val conflict = branchRemoved.intersect(mainRemovedSinceFork)
    require(conflict.isEmpty,
      s"merge conflict on ${conflict.size} files (e.g. ${conflict.take(3).mkString(", ")}) " +
        "— branch must rebase against main's head (see concurrentCommitDir)")
    // add-vs-add is a conflict too: both sides producing the SAME relpath
    // since the fork (e.g. both ran the same rewrite) must refuse, not
    // last-write-win — "never silently union" covers additions as well
    val addClash = branchAdded.keySet
      .intersect((main -- branchRemoved).keySet)
    require(addClash.isEmpty,
      s"merge add-conflict on ${addClash.size} relpaths " +
        s"(e.g. ${addClash.take(3).mkString(", ")}) — both sides wrote the " +
        "same path since the fork; branch must rebase")
    (main -- branchRemoved) ++ branchAdded
  }

  /** BRANCH MERGE-BACK — the missing multi-ref verb after branch/tag/
    * cherry-pick: two diverged branches fold back into main through
    * [[mergeManifests]], and the result is ORDER-INDEPENDENT:
    *
    *  - the AUDIT branch (fork 2, head 6): delta = +batch files, −∅ —
    *    an append, file-disjoint from everything 2→4 rewrote;
    *  - a new HOTFIX branch cut at main's head 4: a real copy-on-write
    *    DELETE of customers % 163 == 0 executed through snapshot 4's
    *    reconciled sidecars ([[applyMutation]]) → snapshot 8; delta =
    *    +rewritten files, −matched files;
    *  - ORDER 1: main merges audit (→ snapshot 9: m4 + batch, validated
    *    against main's 2→4 removals) then hotfix (→ 10: main's advance
    *    since 4 removed nothing, so the hotfix's removals validate);
    *  - ORDER 2 (the commutativity twin): hotfix first (→ 11) then audit
    *    (→ 12, validated against everything 2 lost on the way to 11).
    *
    * BranchMergeSpec pins manifest-set equality 10 ≡ 12 (A∘B ≡ B∘A), that
    * neither merge wrote a data file (every referenced file is one of the
    * sources' — in place, like the cherry-pick), that the conflict guard
    * actually refuses overlapping deltas, and `refs_log` records every
    * head movement. The readout (pipeline_branch_merge) is judged by an
    * oracle recomputing the merged state from raw.
    */
  private[operators] def branchMergeDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_brmerge", d) { root =>
      import s.implicits._
      val broot = branchMetaDir(s, d)
      val w2 = deleteExec2Dir(s, d)
      val hx = applyMutation(s, graft.Fixtures.tempDir("graft_hotfix"),
        s"$w2/data", s"$w2/index", s"$w2/mv", orderKeysOfCustomersMod(s, d, 163))
      val hxBase = normPath(s"$hx/data")
      val mans = graft.Tables.readCached(s, s"$broot/manifests")
        .select($"snap_id", $"file", $"base")
        .as[(Long, String, String)].collect()
      def manOf(id: Long): Map[String, (String, String)] =
        mans.filter(_._1 == id).map { case (_, f, b) =>
          val rel = java.nio.file.Paths.get(normPath(b))
            .relativize(java.nio.file.Paths.get(normPath(f))).toString
          rel -> ((normPath(f), normPath(b)))
        }.toMap
      val hxMan: Map[String, (String, String)] =
        graft.Tables.readCached(s, hxBase).inputFiles.map(normPath).map { f =>
          java.nio.file.Paths.get(hxBase)
            .relativize(java.nio.file.Paths.get(f)).toString -> ((f, hxBase))
        }.toMap
      val (m2, m4, m6) = (manOf(2L), manOf(4L), manOf(6L))
      val auditAdded = m6.filter(kv => !m2.contains(kv._1))
      val auditRemoved = m2.keySet.diff(m6.keySet)
      val hotfixAdded = hxMan.filter(kv => !m4.contains(kv._1))
      val hotfixRemoved = m4.keySet.diff(hxMan.keySet)
      // ORDER 1: audit then hotfix. Every removal set is COMPUTED as
      // (fork manifest) minus (main's manifest at merge time) — never
      // assumed empty — so a future change to either branch's shape
      // cannot silently skip the file-level OCC check.
      val s9 = mergeManifests(m4, m2.keySet.diff(m4.keySet),
        auditAdded, auditRemoved)
      val s10 = mergeManifests(s9, m4.keySet.diff(s9.keySet),
        hotfixAdded, hotfixRemoved)
      // ORDER 2: hotfix then audit
      val s11 = mergeManifests(m4, m4.keySet.diff(m4.keySet),
        hotfixAdded, hotfixRemoved)
      val s12 = mergeManifests(s11, m2.keySet.diff(s11.keySet),
        auditAdded, auditRemoved)
      def rows(id: Long, m: Map[String, (String, String)]) =
        m.values.toSeq.map { case (f, b) => (id, f, b) }
      (rows(9L, s9) ++ rows(10L, s10) ++ rows(11L, s11) ++ rows(12L, s12))
        .toDF("snap_id", "file", "base").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      Seq((8L, "branch_delete", 4L, -1L),
          (9L, "merge", 4L, 6L), (10L, "merge", 9L, 8L),
          (11L, "merge", 4L, 8L), (12L, "merge", 11L, 6L))
        .toDF("snap_id", "op", "parent_id", "merge_parent").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      // refs_log continuation of branchMetaDir's (steps 0-2 live there):
      // the hotfix cut + commit, then main's two merge movements
      Seq((3L, "hotfix", "branch", 4L), (4L, "hotfix", "branch", 8L),
          (5L, "main", "branch", 9L), (6L, "main", "branch", 10L))
        .toDF("step", "ref", "ref_type", "snap_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("refs_log").toString)
      root.toString
    }

  /** Manifest-addressed read of one snapshot of the MERGE world — the
    * [[readBranchSnapshot]] planning shape over [[branchMergeDir]]'s
    * metadata (a merged snapshot spans up to three physical roots: the
    * chain tree, the branch append root, the hotfix rewrite root).
    */
  private[graft] def readMergedSnapshot(
      s: SparkSession, d: String, id: Long): DataFrame = {
    import s.implicits._
    val root = branchMergeDir(s, d)
    val man = graft.Tables.readCached(s, s"$root/manifests")
      .filter($"snap_id" === id)
      .select($"base", $"file").as[(String, String)].collect()
    require(man.nonEmpty, s"unknown merged snapshot $id — no manifest rows")
    man.groupBy(_._1).map { case (base, fs) =>
      readMatchedFiles(s, normPath(base), fs.map(_._2).toSeq)
        .select($"l_orderkey", $"l_partkey", $"qty", $"net_cents",
          $"ship_day", $"ship_month")
    }.reduce(_ unionByName _)
  }

  /** CHANGELOG EMISSION between two persisted snapshots (the Delta CDF /
    * Iceberg changelog-scan shape, SURVEY §7.7's streaming-CDC north
    * star): typed insert/update/delete rows computed from the engine's
    * OWN metadata, never from the raw tables.
    *
    * Planning is metadata-scale: the two manifests diff on RELATIVE path
    * (retained files carry their relpath through the chain unrenamed,
    * rewritten/appended files get globally unique part names), so common
    * relpaths are provably byte-identical and are never read. Only the
    * REMOVED files (in A, not B) and ADDED files (in B, not A) scan —
    * at 100 TB that is |changed files|, not table size. Row grain: the
    * payload multiset per (l_orderkey, ship_month, ship_day, qty,
    * net_cents) group; identical collateral rows a rewrite copied
    * verbatim cancel in the full-outer count diff, exactly like
    * unchanged rows in an Iceberg changelog scan. A key with both
    * positive and negative surviving groups is an UPDATE
    * (update_pre/update_post — the Delta CDF typing); positive-only is
    * an insert, negative-only a delete. `n` carries the multiset
    * multiplicity delta. ChangelogSpec pins changelog ∘ apply ≡ target
    * snapshot.
    */
  private[graft] def snapshotChangelog(
      s: SparkSession, d: String, a: Long, b: Long): DataFrame = {
    import s.implicits._
    val meta = snapshotMetaDir(s, d)
    val baseOf = graft.Tables.readCached(s, s"$meta/snapshots")
      .select($"snap_id", $"base").as[(Long, String)].collect().toMap
    def files(id: Long): Map[String, String] = {
      val base = java.nio.file.Paths.get(normPath(baseOf(id)))
      graft.Tables.readCached(s, s"$meta/manifests").filter($"snap_id" === id)
        .select($"file").as[String].collect()
        .map(f => base.relativize(java.nio.file.Paths.get(f)).toString -> f)
        .toMap
    }
    val (fa, fb) = (files(a), files(b))
    val removed = fa.collect { case (rel, f) if !fb.contains(rel) => f }.toSeq
    val added = fb.collect { case (rel, f) if !fa.contains(rel) => f }.toSeq
    val payload = Seq("l_orderkey", "ship_month", "ship_day", "qty", "net_cents")
    def grouped(base: String, fs: Seq[String], n: String) =
      readMatchedFiles(s, normPath(base), fs)
        .groupBy(payload.map(col): _*).agg(count(lit(1)).as(n))
    val j = grouped(baseOf(a), removed, "n_pre")
      .join(grouped(baseOf(b), added, "n_post"), payload, "full_outer")
      .withColumn("diff",
        coalesce($"n_post", lit(0L)) - coalesce($"n_pre", lit(0L)))
      .filter($"diff" =!= 0L)
    val wk = Window.partitionBy($"l_orderkey")
    j.withColumn("has_pos", max(when($"diff" > 0, 1).otherwise(0)).over(wk))
      .withColumn("has_neg", max(when($"diff" < 0, 1).otherwise(0)).over(wk))
      .select(
        when($"diff" > 0, when($"has_neg" === 1, "update_post").otherwise("insert"))
          .otherwise(when($"has_pos" === 1, "update_pre").otherwise("delete"))
          .as("change_type"),
        $"l_orderkey", $"ship_month", $"ship_day", $"qty", $"net_cents",
        abs($"diff").as("n"))
  }

  /** Once-per-JVM PERSISTED 2→4 changelog — the wide-plan-diet pattern
    * ([[graft.operators.Clustering]]'s verdict-table precedent) applied
    * to [[snapshotChangelog]]: the changed-file scan + full-outer
    * multiset diff runs ONCE and lands as parquet, and every consumer
    * (the changelog readout, the MV apply, the streaming CDF replay's
    * wave builder) serves from the fixture instead of re-running the
    * diff per call. The diff is scale-linear in CHANGED bytes by
    * contract — this makes it scale-linear ONCE per table epoch, the
    * way a real CDF topic is materialized once and consumed many times.
    */
  private[graft] def changelogDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_cdflog", d) { root =>
      snapshotChangelog(s, d, 2L, 4L)
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(root.resolve("changelog").toString)
      root.resolve("changelog").toString
    }

  /** Manifest-addressed read of one LIVE snapshot of the post-GC clone —
    * same planning shape as [[readSnapshot]] but resolving through the
    * EXPIRED metadata (`gcExpireDir`'s `snapshots`/`manifests`).
    */
  private[operators] def readLiveSnapshot(
      s: SparkSession, d: String, id: Long): DataFrame = {
    import s.implicits._
    val root = gcExpireDir(s, d)
    val files = graft.Tables.readCached(s, s"$root/manifests")
      .filter($"snap_id" === id).select($"file").as[String].collect()
    readMatchedFiles(s, s"$root/files", files.toSeq)
  }

  /** Once-per-JVM REF-AWARE SNAPSHOT EXPIRATION + ORPHAN GC over the
    * BRANCHED metadata world — [[gcExpireDir]]'s lifecycle generalized
    * from one linear chain to the multi-ref DAG (what Iceberg's
    * `expireSnapshots` does once refs exist): retention is what the refs
    * can still REACH, never chain membership. Runs against a dedicated
    * clone so the physical deletes cannot touch the shared fixtures:
    *
    *  1. CLONE — hard-link every branch-manifest-referenced file under
    *     `files/<relpath vs its own discovery base>`. Retained files keep
    *     their relpath through the mutation chain AND into branch commits
    *     (branch manifests reference them in place), so a file shared by
    *     N snapshots becomes ONE physical clone with N manifest rows —
    *     the refcount structure GC is about. Plus two planted orphan
    *     debris files (referenced by no manifest).
    *  2. EXPIRE — retention = {every current ref head} ∪ {main head's
    *     parent} (the minimal history window): main → 7 plus parent 4,
    *     the audit branch → 6, the tag → 1. Snapshots 0, 2, 3 expire.
    *  3. GC — delete every clone file no LIVE manifest references. The
    *     tag alone keeps the compaction files; the audit head alone keeps
    *     EXPIRED snapshot 2's inherited files — exactly the files the
    *     single-chain tip+parent policy ([[gcExpireDir]]) would have
    *     destroyed, which is why pipeline_refs_expire is judged by the
    *     pre-GC per-ref oracle verbatim.
    *
    * Live metadata lands in `snapshots`/`manifests` (clone paths, shared
    * `files/` base), current heads in `refs`, deletions in `gc_deleted`,
    * the pre-GC picture in `manifests_all`. Metadata-scale throughout:
    * one link/stat per file, one row per (snapshot, file). RefsGcSpec
    * pins sharing, survival and deletion file-by-file.
    */
  private[operators] def refsGcDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_refsgc", d) { root =>
      import s.implicits._
      val broot = branchMetaDir(s, d)
      val refs = currentRefs(s, d)
      val snaps = graft.Tables.readCached(s, s"$broot/snapshots")
        .select($"snap_id", $"op", $"parent_id")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      val mans = graft.Tables.readCached(s, s"$broot/manifests")
        .select($"snap_id", $"file", $"base")
        .as[(Long, String, String)].collect()
      val filesDir = root.resolve("files")
      def linkInto(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
        graft.Fixtures.linkOrCopy(src, dst)
      val cloneRows = mans.map { case (sid, f, b) =>
        val rel = java.nio.file.Paths.get(normPath(b))
          .relativize(java.nio.file.Paths.get(normPath(f))).toString
        val dst = filesDir.resolve(rel)
        linkInto(java.nio.file.Paths.get(normPath(f)), dst)
        (sid, dst.toString)
      }.toSeq
      Seq("orphan_a.parquet", "orphan_b.parquet").foreach { n =>
        linkInto(java.nio.file.Paths.get(normPath(mans.head._2)),
          filesDir.resolve(n))
      }
      cloneRows.toDF("snap_id", "file").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests_all").toString)
      val mainHead = refs.collectFirst { case ("main", _, id) => id }.get
      val parentOf = snaps.map(t => t._1 -> t._3).toMap
      val live = refs.map(_._3).toSet + parentOf(mainHead)
      val liveFiles = cloneRows.collect {
        case (sid, f) if live(sid) => f
      }.toSet
      // collect first with the walk stream CLOSED, then delete — never
      // mutate the tree under an open directory stream
      val onDisk = scala.collection.mutable.ArrayBuffer[String]()
      val walk = java.nio.file.Files.walk(filesDir)
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) onDisk += p.toString
      } finally walk.close()
      val deleted = onDisk.filterNot(liveFiles.contains)
      deleted.foreach(f =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
      deleted.toSeq.toDF("file").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("gc_deleted").toString)
      cloneRows.filter(r => live(r._1)).toDF("snap_id", "file").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      snaps.filter(t => live(t._1)).toSeq.toDF("snap_id", "op", "parent_id")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      refs.toDF("ref", "ref_type", "snap_id").coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("refs").toString)
      root.toString
    }

  /** Manifest-addressed read of one LIVE snapshot of the post-GC branched
    * clone — [[readBranchSnapshot]]'s planning shape resolving through the
    * EXPIRED multi-ref metadata. All clone files share the `files/`
    * discovery base (every source layout is ship_month-partitioned, so
    * relpaths carry the partition column uniformly).
    */
  private[graft] def readRefsGcSnapshot(
      s: SparkSession, d: String, id: Long): DataFrame = {
    import s.implicits._
    val root = refsGcDir(s, d)
    val files = graft.Tables.readCached(s, s"$root/manifests")
      .filter($"snap_id" === id).select($"file").as[String].collect()
    require(files.nonEmpty, s"snapshot $id expired or unknown post-GC")
    readMatchedFiles(s, s"$root/files", files.toSeq)
      .select($"l_orderkey", $"qty", $"net_cents", $"ship_month")
  }

  /** Manifest-addressed read of one snapshot of the mutation chain: the
    * file list comes from the persisted `manifests` table and the
    * partition-discovery base from the `snapshots` table — the scan never
    * receives a tree path directly. The two lookups are metadata-scale
    * collects (one snapshot row; one row per file of ONE snapshot), the
    * same planning I/O an Iceberg reader pays to pin a snapshot.
    */
  private[graft] def readSnapshot(
      s: SparkSession, d: String, id: Long): DataFrame =
    readSnapshotFrom(s, snapshotMetaDir(s, d), id)

  /** [[readSnapshot]]'s planning shape over an ARBITRARY metadata root
    * carrying the (snapshots, manifests) pair — what lets the catalog
    * layer resolve a table to ANY metadata world (the chain, a rollback,
    * a branch clone) with one read path.
    */
  private[graft] def readSnapshotFrom(
      s: SparkSession, metaRoot: String, id: Long): DataFrame = {
    import s.implicits._
    val base = graft.Tables.readCached(s, s"$metaRoot/snapshots")
      .filter($"snap_id" === id).select($"base").as[String].head()
    val files = graft.Tables.readCached(s, s"$metaRoot/manifests")
      .filter($"snap_id" === id).select($"file").as[String].collect()
    readMatchedFiles(s, base, files.toSeq)
  }

  /** THE CATALOG — the last indirection of the lakehouse stack (HMS /
    * Nessie / the Iceberg catalog's `current-metadata` pointer): an
    * append-only `catalog_log` of (version, table, metadata root,
    * snapshot id) rows, where a table's CURRENT state is its
    * highest-version row and every commit is one appended row guarded by
    * compare-and-swap ([[graft.sources.lake.LakeCommit.catalogCommit]] —
    * a writer that lost a race must re-resolve, never blind-append). Two
    * versions of `ship_fact`:
    * v0 pins the mutation chain's tip (the wave-2 state), v1 is the
    * ROLLBACK commit repointing at the wave-1 snapshot — a catalog swap
    * is how a rollback actually reaches readers. Readers resolve by
    * (table [, as-of version]) and then plan through the resolved
    * metadata world with the shared [[readSnapshotFrom]] path.
    * Metadata-scale throughout: the log is one row per commit.
    */
  private[graft] def catalogDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_catalog", d) { root =>
      import s.implicits._
      Seq(
        (0L, "ship_fact", snapshotMetaDir(s, d), 4L),
        (1L, "ship_fact", rollbackMetaDir(s, d), 5L))
        .toDF("version", "table_name", "meta_root", "snap_id").coalesce(1)
        .write.mode("overwrite")
        .parquet(root.resolve("catalog_log").toString)
      root.toString
    }

  /** Months per manifest group in the two-level layout: ~1 group per
    * year of this table. The grouping key, not a tuning constant — at
    * real scale a group is "a manifest file's worth of entries" (Iceberg
    * targets ~8 MB manifests) and the list stays thousands of times
    * smaller than the file count either way.
    */
  private[graft] val ManifestGroupMonths = 12

  /** TWO-LEVEL MANIFEST METADATA — Iceberg's manifest-list layer, the
    * piece that keeps PLAN time flat at real-100 TB file counts: the
    * chain tip's flat manifest (one row per file) regroups by partition
    * tuple (ship_month, parsed from the partition dir) into manifest
    * GROUPS of [[ManifestGroupMonths]] consecutive months — one parquet
    * manifest file per group under `manifest/group=<g>/` — and a
    * top-level `manifest_list` table carries ONE row per group with its
    * partition-range stats (min/max month, file count). Planning a
    * month-window query ([[planViaManifestList]]) reads the list
    * (|groups| rows), prunes to range-intersecting groups, and lists
    * files from ONLY those manifests: plan I/O = |list| + |matching
    * groups' entries|, independent of the table's total file count —
    * what [[matchedFilesInIndex]]'s honest linear pricing (1.2 s /
    * 100k files) said a single-level sidecar would eventually need.
    */
  private[operators] def manifestListDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_manlist", d) { root =>
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      val tip = graft.Tables.readCached(s, s"$meta/snapshots")
        .agg(max($"snap_id")).as[Long].head()
      val files = graft.Tables.readCached(s, s"$meta/manifests")
        .filter($"snap_id" === tip).select($"file").as[String].collect()
      val monthRe = "ship_month=([0-9]{4}-[0-9]{2})".r
      val rows = files.map { f =>
        val m = monthRe.findFirstMatchIn(f).map(_.group(1)).getOrElse(
          sys.error(s"manifest file carries no partition dir: $f"))
        (m, f)
      }
      val months = rows.map(_._1).distinct.sorted
      val groupOf = months.zipWithIndex.map { case (m, i) =>
        m -> (i / ManifestGroupMonths).toLong }.toMap
      val byGroup = rows.groupBy(t => groupOf(t._1))
      byGroup.foreach { case (g, rs) =>
        rs.toSeq.toDF("ship_month", "file").coalesce(1)
          .write.mode("overwrite")
          .parquet(root.resolve(s"manifest/group=$g").toString)
      }
      byGroup.map { case (g, rs) =>
        (g, rs.length.toLong, rs.map(_._1).min, rs.map(_._1).max)
      }.toSeq.toDF("group_id", "n_files", "min_month", "max_month")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifest_list").toString)
      // pin the snapshot this layout describes: id + its discovery base,
      // read back by the serve so it cannot drift from the grouping
      java.nio.file.Files.writeString(root.resolve("tip.txt"), tip.toString)
      java.nio.file.Files.writeString(root.resolve("base.txt"),
        graft.Tables.readCached(s, s"$meta/snapshots")
          .filter($"snap_id" === tip).select($"base").as[String].head())
      root.toString
    }

  /** Month-window scan planning through the manifest list: (files to
    * read, manifest groups opened, groups total). Only range-intersecting
    * groups' manifest files are ever opened — ManifestListSpec pins the
    * pruning and that the planned file set equals the flat manifest's.
    */
  private[graft] def planViaManifestList(
      s: SparkSession, d: String,
      lo: String, hi: String): (Seq[String], Long, Long) = {
    import s.implicits._
    val root = manifestListDir(s, d)
    val list = graft.Tables.readCached(s, s"$root/manifest_list")
      .select($"group_id", $"n_files", $"min_month", $"max_month")
      .as[(Long, Long, String, String)].collect()
    val hit = list.filter(g => g._4 >= lo && g._3 <= hi).map(_._1).sorted
    val files = hit.flatMap { g =>
      graft.Tables.readCached(s, s"$root/manifest/group=$g")
        .filter($"ship_month" >= lo && $"ship_month" <= hi)
        .select($"file").as[String].collect()
    }
    (files.toSeq, hit.length.toLong, list.length.toLong)
  }

  /** Once-per-JVM lang-partitioned parquet layout of the documents table
    * (hive-style lang=xx/ dirs) for pipeline_partitioned_prune. Setup, not
    * query work — the jsonIngestDir pattern.
    */
  private[operators] def partitionedCorpus(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_part", d) { dir =>
      val root = dir.resolve("docs").toString
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(root)
      root
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

  private def decontamSqlTail(cat: String => String): String =
    s"""WITH tr AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(0, len(toks) - ${DecontamN - 1}), i -> ${cat("toks")}))) AS g
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)),
       |ev AS (
       |  SELECT doc_id AS eval_id, unnest(list_distinct(list_transform(
       |    range(0, len(toks) - ${DecontamN - 1}), i -> ${cat("toks")}))) AS g
       |  FROM (SELECT doc_id, (${tokensSql("text")})[1:$DecontamPrefix] AS toks
       |        FROM documents WHERE doc_id % 50 = 0))
       |SELECT t.doc_id, e.eval_id, count(*) AS n_hits
       |FROM tr t JOIN ev e ON t.g = e.g
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Decontamination n-gram width (8 words — the common pre-training
    * overlap window) and the eval-item prefix length (12 tokens → 5
    * overlapping 8-grams per derived benchmark item).
    */
  private val DecontamN = 8
  private val DecontamPrefix = 12

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, f, _) => n -> f }.toMap

  val oracleSql: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
