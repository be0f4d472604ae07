package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.lake.LakeIndex.BloomK

/** Eval-set decontamination and entity resolution: the exact and
  * bloom-prefiltered n-gram overlap passes that keep benchmark items out
  * of training data, and record linkage over TPC-H customers (blocking,
  * sorted-neighbourhood matching, golden-record survivorship). Each query
  * keeps an exact DuckDB oracle.
  */
object DecontamQueries extends graft.QueryRegistry {
  import Portable._

  // Sorted-neighborhood width for pipeline_entity_resolution: within each
  // blocking key, records of both sides are ordered by (cents, name) and
  // each record pairs only with the W nearest positions — candidate count
  // AND join cost are <= 2W per record per pass, LINEAR in the corpus no
  // matter how degenerate a block key gets (TPC-H name prefixes are
  // near-constant; a plain per-block or per-record cap still paid the
  // quadratic block join before the cut — measured 17 s warm at 10x).
  private val ErNeighborWidth = 16

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

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
  )

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
}
