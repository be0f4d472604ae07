package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-space clustering for LLM training-data curation: deterministic
  * k-means over the embeddings table, and SemDeDup-style semantic
  * deduplication (Abbas et al. 2023: cluster the corpus, then drop documents
  * whose within-cluster cosine to an earlier document exceeds a threshold —
  * the pair scan is cluster-bounded, never corpus-quadratic).
  *
  * Why this k-means is oracle-checkable at all: distributed float averaging
  * has no deterministic order, so a textbook Lloyd centroid (mean of member
  * vectors) hashes differently run-to-run at the last ulp. Instead each unit
  * vector is quantized to integers (round(x·1024) — stored in DOUBLE columns,
  * but integer-valued), and centroids are kept as EXACT integer sum vectors
  * `s` plus a member count `n`, never divided into a float mean. Distances
  * compare `‖q − s/n‖² = (n²·q·q − 2n·q·s + s·s)/n²`: every dot product is a
  * sum of integer products, exact in IEEE doubles as long as the running
  * values stay under 2^53 (components ≤1024 = 2^10, so `s·s ≤ 64·(2^10·n)²`
  * stays exact through n ≈ 2^16 members per cluster — document-scale sf1;
  * beyond that, widen the quantization budget or shard clusters), and the
  * final division of two exactly-representable integers is a single IEEE
  * operation — bit-identical on any engine, in any partition order. Ties
  * break by lowest cluster id. Two Lloyd iterations from seeded medoids
  * (every `SeedStride`-th vector, the IVF seeding) are enough to move every
  * centroid once and re-assign — the fixed iteration count is part of the
  * query contract, not a convergence claim.
  *
  * Scale design (100 TB stance): the assignment step broadcasts only the K
  * centroids (schema-bounded: K is a literal), never the corpus; the centroid
  * update is a partial+final integer-sum aggregation (posexplode → sum —
  * map-side combinable, no collect); the SemDeDup pair scan shuffles on
  * cluster id, so one task's pair square is bounded by the largest cluster,
  * which K controls.
  */
object Clustering extends graft.QueryRegistry {
  import Portable._

  private val K = 8
  private val SeedStride = 50
  private val ClusterQuota = 16 // per-cluster quota for the balanced sample
  private val QScale = 1024
  private val Dims = 64
  private val CosThreshold = 0.85
  // Stage-2 pair-scan shard cap: clusters re-split into ceil(n_c / cap)
  // hash cells, bounding any one task's pair square at ~cap². 256 keeps
  // every sf0.01 cluster single-shard (bit-identical to the uncapped rule).
  private val SemDedupShardCap = 256

  private def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Integer-quantized unit vectors: (vec_id, qv: array<double> holding
    * exact integers in [-1024, 1024]). The rounding shim (Portable.round /
    * rndSql) keeps both engines rounding the same 8-digit decimal.
    */
  private def quantized(u: DataFrame): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    u.select($"vec_id", transform($"emb", x => round(x * QScale, 0)).as("qv"))
  }

  private def quantizedSql(src: String): String =
    s"""q AS (
       |  SELECT vec_id, list_transform(emb, x -> ${rndSql(s"x*$QScale", 0)}) AS qv
       |  FROM $src)""".stripMargin

  /** Two deterministic Lloyd iterations over a (vec_id, emb) unit-vector
    * table → (vec_id, cid). See the object Scaladoc for the exact-integer
    * distance argument.
    */
  private def kmeansAssign(u: DataFrame): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    kmeansModel(u)._1.select($"vec_id", $"cid")
  }

  /** Per-row argmin over a broadcast 1-row array of K centroid structs:
    * sorting the K (dist, cid) pairs and taking the first reproduces the
    * previous `row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
    * = 1` rule exactly (same dist doubles, same lowest-cid tie break) with
    * ZERO data movement — the old form exploded every vector ×K and paid a
    * full Exchange+Sort+Window per Lloyd pass (guide §2.4: remove shuffles
    * outright; measured r17-opt: sim_kmeans_clusters plan 15 Exchanges /
    * 6 Windows / 3 SMJ → 4 Exchanges / 0 Windows / 0 SMJ).
    *
    * Contract (ADVICE r17): the centroid array must be non-empty — the old
    * crossJoin+row_number form yielded ZERO rows when the seed filter
    * matched nothing, while element_at(empty, 1) yields null. The coalesce
    * below turns that null into a loud error instead of letting a null cid
    * flow into groupBy/cn (unreachable for the fixture corpora, where
    * vec_id 0 always exists; this pins the contract for ad-hoc inputs).
    * dist/cid are non-null by construction, so null ⇔ empty `cents`.
    */
  private def argminCid(cents: Column, dist: Column => Column): Column =
    coalesce(
      element_at(array_sort(transform(cents, c =>
        struct(dist(c).as("dist"), c("cid").as("cid")))), 1)("cid"),
      raise_error(lit("argminCid: empty centroid array (no seed vectors matched)")))

  /** [[kmeansAssign]] plus the model internals for quality reporting:
    * (asg, cn) where asg = (vec_id, emb, qv, cid1, cid) — the unit vector,
    * its quantized form, the iteration-1 assignment and the FINAL
    * assignment on one cached row (consumers needing vectors + assignment
    * no longer pay a vec_id join) — and cn = (cid, s, n), the exact
    * integer centroid table. `n` is the ITERATION-1 member count the
    * centroid `s/n` is defined over — inertia against that centroid must
    * divide by the same n even though final membership comes from asg.cid.
    *
    * Scale shape (guide §2/§3): both Lloyd passes are map-only projections
    * against a broadcast K-struct array (the corpus never shuffles); the
    * centroid update is one partial+final hash aggregation with Dims
    * integer-sum buffers keyed by cid (K groups) — the lone shuffle, K
    * rows wide after map-side combine. Integer sums are order-invariant,
    * so values are bit-identical to the old posexplode/window form.
    */
  private def kmeansModel(u: DataFrame): (DataFrame, DataFrame) = {
    val s = u.sparkSession
    import s.implicits._
    val q = u.select($"vec_id", $"emb",
      transform($"emb", x => round(x * QScale, 0)).as("qv"))
    val seeds = q.filter($"vec_id" % SeedStride === 0 && $"vec_id" < SeedStride * K)
      .select(($"vec_id" / SeedStride).cast("long").as("cid"), $"qv".as("m"))
    val seedArr = seeds.agg(array_sort(collect_list(struct($"cid", $"m"))).as("cents"))
    val asg1 = q.crossJoin(broadcast(seedArr))
      .select($"vec_id", $"emb", $"qv",
        argminCid($"cents", c =>
          vecDot($"qv", $"qv") - lit(2) * vecDot($"qv", c("m")) + vecDot(c("m"), c("m")))
          .as("cid1"))
      .cache() // read by the centroid update AND the final pass (Bench clears)
    // Exact integer centroid state: Dims per-dimension integer sums as
    // parallel aggregate buffers (map-side combinable; every partial stays
    // an exact integer ≪ 2^53, so any partitioning yields the same array).
    val sumCols = (0 until Dims).map(i => sum(element_at($"qv", i + 1)).as(s"s_$i"))
    val cn = asg1.groupBy($"cid1".as("cid"))
      .agg(count(lit(1)).as("n"), sumCols: _*)
      .select($"cid", array((0 until Dims).map(i => col(s"s_$i")): _*).as("s"), $"n")
    val cnArr = cn.agg(array_sort(collect_list(struct($"cid", $"s", $"n"))).as("cents"))
    val asg = asg1.crossJoin(broadcast(cnArr))
      .select($"vec_id", $"emb", $"qv", $"cid1",
        argminCid($"cents", c =>
          (c("n") * c("n") * vecDot($"qv", $"qv") - lit(2) * c("n") * vecDot($"qv", c("s"))
            + vecDot(c("s"), c("s"))) / (c("n") * c("n")))
          .as("cid"))
    (asg, cn)
  }

  /** Oracle twin of [[kmeansAssign]]: CTE chain `q → seeds → a1 → cent →
    * a2` over a unit-vector CTE named `src`(vec_id, emb).
    */
  private[operators] def kmeansSql(src: String): String =
    s"""${quantizedSql(src)},
       |seeds AS (
       |  SELECT CAST(vec_id // $SeedStride AS BIGINT) AS cid, qv AS m FROM q
       |  WHERE vec_id % $SeedStride = 0 AND vec_id < ${SeedStride * K}),
       |d1 AS (
       |  SELECT vec_id, cid,
       |    list_dot_product(qv, qv) - 2*list_dot_product(qv, m) + list_dot_product(m, m) AS dist
       |  FROM q CROSS JOIN seeds),
       |a1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
       |  WHERE rn = 1),
       |n1 AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid),
       |sums AS (
       |  SELECT cid, i, sum(qv[i]) AS sm
       |  FROM a1 JOIN q USING (vec_id) CROSS JOIN generate_series(1, $Dims) t(i)
       |  GROUP BY cid, i),
       |cent AS (SELECT cid, list(sm ORDER BY i) AS s FROM sums GROUP BY cid),
       |cn AS (SELECT c.cid, c.s, n1.n FROM cent c JOIN n1 USING (cid)),
       |d2 AS (
       |  SELECT vec_id, cid,
       |    (n*n*list_dot_product(qv, qv) - 2*n*list_dot_product(qv, s) + list_dot_product(s, s)) / (n*n) AS dist
       |  FROM q CROSS JOIN cn),
       |a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2)
       |  WHERE rn = 1)""".stripMargin

  /** Planted near-duplicate embedding corpus (the embeddings table is
    * near-orthogonal random — max pairwise cosine ≈0.55 — so, mirroring
    * Dedup's text corpus, duplicates are derived in-query on BOTH engines):
    * originals, plus exact copies of every vec_id % 5 == 0 (ids +100000),
    * plus near-duplicates of every vec_id % 7 == 0 (ids +200000) made by
    * adding 0.5 to the first unit-vector component and renormalizing —
    * cosine to the source lands in [0.87, 0.93], cleanly above random pairs
    * and below exact copies.
    */
  private[operators] def plantedUnit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u0 = Similarity.vectors(s, d)
    val pert = u0.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 200000).as("vec_id"),
        concat(array(element_at($"emb", 1) + 0.5), slice($"emb", 2, Dims - 1)).as("p"))
      .withColumn("nrm", sqrt(vecDot($"p", $"p")))
      .select($"vec_id", transform($"p", x => x / $"nrm").as("emb"))
    u0.unionByName(
        u0.filter($"vec_id" % 5 === 0).select(($"vec_id" + 100000).as("vec_id"), $"emb"))
      .unionByName(pert)
  }

  private[operators] val plantedSql: String =
    """u0 AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
      |  FROM embeddings),
      |pert AS (
      |  SELECT vec_id + 200000 AS vec_id, list_concat([emb[1] + 0.5], emb[2:]) AS p
      |  FROM u0 WHERE vec_id % 7 = 0),
      |u AS (
      |  SELECT vec_id, emb FROM u0
      |  UNION ALL SELECT vec_id + 100000, emb FROM u0 WHERE vec_id % 5 = 0
      |  UNION ALL SELECT vec_id, list_transform(p, x -> x / sqrt(list_dot_product(p, p))) FROM pert)""".stripMargin

  /** Replay inputs for the `stream_semantic_replay` contract: the planted
    * corpus lifted into an AUGMENTED space in which the streaming
    * operator's stateless `-dot` argmin reproduces the batch quantized
    * k-means assignment exactly, while the kept-set dup check still reads
    * cosine.
    *
    * Construction (the Shrivastava–Li augmentation, same trick as
    * sim_mips_topk): vector `v' = [u (64) | qv/C (64) | -0.5/C]`, centroid
    * `c' = [0 (64) | m (64) | m·m]` with `m = s/n` the final Lloyd
    * centroid. Then `dot(v', c') = (qv·m - 0.5·m·m)/C`, whose rank over
    * centroids equals the batch `||qv - m||²` rank (the `qv·qv` term is
    * per-vector constant), with the same low-cid tie rule. Between vectors,
    * `dot(v'a, v'b) = ua·ub + (qva·qvb + 0.25)/C²`; with `C = 2²⁶` the
    * tail term is ≤ 1.5e-8 — far inside the planted corpus's cosine margins
    * (near-dups ≥ 0.87, random pairs ≤ ~0.65, threshold 0.85) — so the
    * unmodified streaming threshold still separates exactly.
    *
    * Returns (vectors frame (vecId, emb'), augmented centroids, threshold).
    */
  private[graft] def semanticReplayInputs(
      s: SparkSession, d: String): (DataFrame, Array[(Long, Array[Double])], Double) = {
    import s.implicits._
    val (asg, cn) = kmeansModel(plantedUnit(s, d))
    val C = (1L << 26).toDouble
    val vecs = asg.select(
      $"vec_id".as("vecId"),
      concat($"emb", transform($"qv", x => x / lit(C)), array(lit(-0.5 / C))).as("emb"))
    val cents = cn.collect().map { r =>
      val n = r.getAs[Long]("n").toDouble
      val m = r.getAs[scala.collection.Seq[Double]]("s").map(_ / n).toArray
      (r.getAs[Long]("cid"), Array.fill(Dims)(0.0) ++ m ++ Array(m.map(x => x * x).sum))
    }
    (vecs, cents, CosThreshold)
  }

  /** Magnitude-outlier corpus for sim_ood_report: the unit vectors plus a
    * ×2-scaled copy of every vec_id % 11 == 0 (ids +400000) — the corrupted
    * -embedding shape (bad normalization upstream, truncated writes) that
    * OOD screens catch before training. Deliberately NOT renormalized: on a
    * near-orthogonal corpus a renormalized perturbation is indistinguishable
    * from any other direction; magnitude is the honest planted signal.
    */
  private def oodUnit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u0 = Similarity.vectors(s, d)
    u0.unionByName(u0.filter($"vec_id" % 11 === 0)
      .select(($"vec_id" + 400000).as("vec_id"),
        transform($"emb", x => x * 2).as("emb")))
  }

  private val oodSql: String =
    """u0 AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, emb FROM u0
      |  UNION ALL SELECT vec_id + 400000, list_transform(emb, x -> x * 2)
      |  FROM u0 WHERE vec_id % 11 = 0)""".stripMargin

  /** Flag cut for sim_ood_report, in quantized-squared-distance units
    * (qv = round(1000·x), so a unit vector's ||qv−m||² sits near 1e6 and a
    * ×2 outlier near 4e6). Measured: naturals ≤ ~1.1e6 at every SF, planted
    * ≥ ~3.9e6 — 2.5e6 splits with wide margins (OodSpec pins both sides).
    */
  private val OodCut = 2500000L

  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- out-of-distribution screen (the data-curation pass before
    // training): every vector's exact quantized squared distance to its
    // OWN final k-means centroid — the same integer-state model the
    // cluster family shares — flagging rows above the cut. The planted
    // magnitude outliers (×2 copies) land at ~4× the natural distance on
    // a unit corpus; centroids stay the exact-integer (s, n) pairs, so the
    // only float is the final n²-normalized division, identical IEEE on
    // both engines and floor-quantized before the cut. Scale shape: the
    // k-means chain's two broadcast-K passes + one broadcast-K join here;
    // no all-pairs anything.
    ("sim_ood_report", (s, d) => {
      import s.implicits._
      val (asg, cn) = kmeansModel(oodUnit(s, d))
      asg.join(broadcast(cn), "cid")
        .withColumn("dist",
          ($"n" * $"n" * vecDot($"qv", $"qv") - lit(2) * $"n" * vecDot($"qv", $"s")
            + vecDot($"s", $"s")) / ($"n" * $"n"))
        .withColumn("dist_q", floor($"dist").cast("long"))
        .filter($"dist_q" >= OodCut)
        .select($"vec_id", $"cid", $"dist_q")
        .orderBy($"dist_q".desc, $"vec_id")
    }, Some(
      s"""WITH $oodSql,
         |${kmeansSql("u")}
         |SELECT vec_id, cid, dist_q FROM (
         |  SELECT a2.vec_id, a2.cid, CAST(floor(d2.dist) AS BIGINT) AS dist_q
         |  FROM a2 JOIN d2 USING (vec_id, cid))
         |WHERE dist_q >= $OodCut ORDER BY dist_q DESC, vec_id""".stripMargin)),

    // ---- deterministic k-means over the raw embeddings: cluster id +
    // cluster size per vector after two Lloyd iterations.
    ("sim_kmeans_clusters", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      import s.implicits._
      val a2 = kmeansAssign(Similarity.vectors(s, d))
      val n2 = a2.groupBy($"cid").agg(count(lit(1)).as("cluster_size"))
      // n2 is K rows — broadcast beats the planner's size-estimate SMJ
      a2.join(broadcast(n2), "cid")
        .select($"vec_id", $"cid", $"cluster_size").orderBy($"vec_id")
    }, Some(
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
         |  FROM embeddings),
         |${kmeansSql("v")},
         |n2 AS (SELECT cid, count(*) AS cluster_size FROM a2 GROUP BY cid)
         |SELECT vec_id, cid, cluster_size FROM a2 JOIN n2 USING (cid) ORDER BY vec_id""".stripMargin)),

    // ---- k-means quality report: per-cluster size and inertia (total
    // squared distance to the centroid, in unit-vector units). The inertia
    // stays hash-checkable by the same exact-integer route as assignment:
    // each member's squared-distance NUMERATOR A = n²·q·q − 2n·q·s + s·s is
    // an exact integer cast to LONG (per-member bound ~dim·Q²·n² — exact to
    // n ≈ 3·10⁵ members), the per-cluster sum runs as DECIMAL(38,0) because
    // its bound is ~dim·Q²·n³, which wraps a 64-bit sum near n ≈ 13k while
    // DuckDB's BIGINT sum promotes to HUGEINT (ADVICE r6) — decimal keeps
    // both engines exact-integer and order-invariant to n ≈ 10⁹. Only the
    // final division by n²·Q² touches floating point — one deterministic
    // IEEE op per cluster (exact-integer → nearest-double on both sides).
    ("sim_kmeans_report", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      import s.implicits._
      val (asg, cn) = kmeansModel(Similarity.vectors(s, d))
      asg.join(broadcast(cn), "cid")
        .withColumn("num",
          ($"n" * $"n" * vecDot($"qv", $"qv") - lit(2) * $"n" * vecDot($"qv", $"s")
            + vecDot($"s", $"s")).cast("long"))
        .groupBy($"cid", $"n")
        .agg(count(lit(1)).as("n_members"),
          sum($"num".cast("decimal(38,0)")).as("sum_num"))
        .select($"cid", $"n_members",
          round($"sum_num".cast("double") / ($"n" * $"n" * lit(QScale.toLong * QScale)).cast("double"), 4)
            .as("inertia"))
        .orderBy($"cid")
    }, Some(
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
         |  FROM embeddings),
         |${kmeansSql("v")},
         |nums AS (
         |  SELECT a2.cid, n,
         |    CAST(n*n*list_dot_product(qv, qv) - 2*n*list_dot_product(qv, s) + list_dot_product(s, s) AS BIGINT) AS num
         |  FROM a2 JOIN q USING (vec_id) JOIN cn USING (cid))
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |  ${rndSql(s"sum(num) / (CAST(n*n AS DOUBLE) * ${QScale.toLong * QScale})", 4)} AS inertia
         |FROM nums GROUP BY cid, n ORDER BY cid""".stripMargin)),

    // ---- SemDeDup: k-means the planted corpus, then inside each cluster
    // drop every vector whose cosine to a LOWER-id cluster-mate reaches the
    // threshold (dominated-by-earlier rule — transitive-blind, so the rule
    // is a pure pair predicate both engines evaluate identically). Exact
    // copies always share their source's cluster (identical input ⇒
    // identical argmin) and are always dropped; near-duplicates are dropped
    // only when clustering co-locates them — authentic SemDeDup recall.
    //
    // Skew guard (the 100 TB stance): a pathological mega-cluster must not
    // turn the pair scan quadratic, so it runs in two stages. Stage 1
    // resolves EXACT duplicates (identical quantized vector within a
    // cluster — cosine 1 ≥ any threshold) by a linear min-id-per-group
    // pass; mass-duplicated content, the most common skew source, never
    // reaches the pair join. Stage 2 pair-scans only the distinct-embedding
    // survivors, sharded by a portable id-hash into ceil(n_c / cap) cells,
    // so one task's pair square is bounded by ~cap² regardless of cluster
    // size (survivors are distinct ids, so the hash spreads them
    // uniformly). Sub-threshold clusters get shards = 1 — at sf0.01 every
    // cluster is under the cap and the output is bit-identical to the
    // uncapped rule; above it, a near-dup pair split across shard cells is
    // the documented recall trade (exact copies are NEVER missed — stage 1
    // is shard-blind). Both engines implement the identical rule, so the
    // oracle hash-match is exact at every scale.
    ("dedup_semantic", (s, d) => {
      import s.implicits._
      // Served from the per-JVM PERSISTED verdict table
      // ([[semanticVerdictDir]]): the kmeans + two-stage sharded pair
      // scan (see [[semanticVerdictFrame]]) runs once, and every
      // consumer — this query, pipeline_dedup_stack's semantic leg —
      // pays a 3-column scan (VERDICT r13 #7). Booleans/longs
      // round-trip parquet exactly, so the oracle is unchanged and the
      // output byte-identical to the inline form.
      graft.Tables.readCached(s, semanticVerdictDir(s, d)).orderBy($"vec_id")
    }, Some(
      s"""WITH $plantedSql,
         |${kmeansSql("u")},
         |$semanticDropChainSql
         |SELECT a2.vec_id, cid, (d.vec_id IS NOT NULL) AS dropped
         |FROM a2 LEFT JOIN sem_drp d USING (vec_id)
         |ORDER BY a2.vec_id""".stripMargin)),

    // ---- cluster-balanced data selection: equal per-cluster quotas drawn
    // by deterministic hash order — the diversity-sampling recipe (pick
    // evenly across embedding clusters so dominant modes can't crowd out
    // rare ones). The per-cluster draw is BottomKAgg, O(quota) mergeable
    // state per cluster — no global sort, no per-cluster full sort, and
    // partition-order invariance by the total (md5, id) key; at 100 TB this
    // is one hash-shuffle by cid over (cid, 16-byte key, id) triples.
    ("sim_cluster_balanced_sample", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      import s.implicits._
      val bottomK = udaf(new graft.functions.BottomKAgg(ClusterQuota))
        .withName(s"bottom_k_$ClusterQuota")
      val a2 = kmeansAssign(Similarity.vectors(s, d))
      val n2 = a2.groupBy($"cid").agg(count(lit(1)).as("cluster_size"))
      a2.select($"cid", md5($"vec_id".cast("string")).as("k"), $"vec_id")
        .groupBy($"cid").agg(bottomK($"k", $"vec_id").as("ids"))
        .select($"cid", posexplode($"ids").as(Seq("pos", "vec_id")))
        .select($"cid", ($"pos" + 1).cast("long").as("rank"), $"vec_id")
        .join(broadcast(n2), "cid") // K rows — skip the size-estimate SMJ
        .select($"cid", $"rank", $"vec_id", $"cluster_size")
        .orderBy($"cid", $"rank")
    }, Some(
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
         |  FROM embeddings),
         |${kmeansSql("v")},
         |n2 AS (SELECT cid, count(*) AS cluster_size FROM a2 GROUP BY cid)
         |SELECT cid, CAST(rn AS BIGINT) AS rank, vec_id, cluster_size FROM (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM a2) r JOIN n2 USING (cid)
         |WHERE rn <= $ClusterQuota ORDER BY cid, rank""".stripMargin)),

    // ---- Lloyd-iteration assignment churn: per final cluster, how many
    // members joined (came from another seed cluster) and left between
    // iteration 1 and 2 — the convergence diagnostic that tells an operator
    // whether the fixed 2-iteration contract sits near a fixpoint (low
    // churn) or mid-flight (high churn). Pure join+agg over the two
    // assignment tables the model already produces; no extra passes over
    // the vectors.
    ("sim_centroid_drift", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      import s.implicits._
      // asg carries both iterations' assignments on one row — the old
      // a1 ⋈ a2 vec_id join (and its cache) is gone outright.
      val (asg, _) = kmeansModel(Similarity.vectors(s, d))
      val both = asg.select($"vec_id", $"cid1", $"cid".as("cid2"))
      val j = both.groupBy($"cid2".as("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(when($"cid1" =!= $"cid2", 1L).otherwise(0L)).as("n_joined"))
      val l = both.filter($"cid1" =!= $"cid2")
        .groupBy($"cid1".as("cid")).agg(count(lit(1)).as("n_left"))
      j.join(broadcast(l), Seq("cid"), "left") // two K-row aggs — skip the SMJ
        .select($"cid", $"n_members", $"n_joined",
          coalesce($"n_left", lit(0L)).as("n_left"),
          round(($"n_members" - $"n_joined") / $"n_members".cast("double"), 4)
            .as("stability"))
        .orderBy($"cid")
    }, Some(
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
         |  FROM embeddings),
         |${kmeansSql("v")},
         |both_a AS (
         |  SELECT a1.vec_id, a1.cid AS cid1, a2.cid AS cid2
         |  FROM a1 JOIN a2 USING (vec_id)),
         |j AS (
         |  SELECT cid2 AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(CASE WHEN cid1 <> cid2 THEN 1 ELSE 0 END) AS BIGINT) AS n_joined
         |  FROM both_a GROUP BY 1),
         |l AS (
         |  SELECT cid1 AS cid, CAST(count(*) AS BIGINT) AS n_left
         |  FROM both_a WHERE cid1 <> cid2 GROUP BY 1)
         |SELECT cid, n_members, n_joined, coalesce(n_left, 0) AS n_left,
         |  ${rndSql("(n_members - n_joined) / CAST(n_members AS DOUBLE)", 4)} AS stability
         |FROM j LEFT JOIN l USING (cid) ORDER BY cid""".stripMargin)),

    // ---- deterministic k-means++-style seeding via farthest-point
    // traversal (Gonzalez 1985 — the argmax variant of k-means++'s D²
    // sampling; deterministic, so oracle-checkable): start from the lowest
    // vec_id, then K−1 times pick the vector farthest (max over corpus of
    // min squared distance to the chosen set; ties → lowest id). The
    // traversal is a 2-approximation of the optimal k-center radius, i.e.
    // provably spread seeds — the quality knob the stride-seeded IVF/Lloyd
    // pipeline leaves on the table (ClusteringSpec pins that these seeds
    // cover the corpus with a radius ≤ the stride seeds'). Exact-integer
    // distances on the quantized vectors (dist = q·q − 2q·m + m·m, every
    // term an integer sum ≪ 2⁵³), so dmin hashes bit-identically. Scale
    // shape per round: the ≤K-row chosen set broadcasts, the corpus never
    // shuffles (map-side min over ≤K centroids), and the argmax is a
    // TakeOrdered(1) — K−1 linear scans total, the textbook distributed
    // farthest-point schedule.
    // Driver-side state here is EXACTLY the ≤K chosen centers — the same
    // bounded-setup allowance as the streaming replay contracts' head()
    // calls: any distributed farthest-point keeps the center list on the
    // coordinator (it is the algorithm's output), and each round is ONE
    // distributed scan + a 1-row argmax collect. A fully-lazy unioned-plan
    // formulation re-computes every prior round inside every later one
    // (measured 17 s at sf0.1 vs ~1 s for this schedule).
    // NOTE (queries-map contract): k-means++ seeding is inherently
    // sequential (center r depends on the argmax under centers 0..r−1), so
    // CONSTRUCTING this query runs the K−1 distributed argmax rounds
    // eagerly — callers that only want the plan/schema should skip this
    // entry. The scan cache is released before returning; the result is a
    // K-row LocalRelation.
    ("sim_kmeanspp_init", (s, d) => {
      graft.plans.GraftExtensions.register(s)
      import s.implicits._
      val q = quantized(Similarity.vectors(s, d)).cache() // K-1 scan rounds
      try {
        val first = q.orderBy($"vec_id").limit(1).select($"vec_id", $"qv")
          .as[(Long, Array[Double])].head()
        var chosen = Vector((0L, first._1, first._2, 0.0))
        for (r <- 1 until K) {
          // dmin as a map-side array_min over the ≤K chosen centers (a
          // plan literal — they are driver state by construction), then
          // TakeOrdered(1): the old crossJoin → groupBy-min → re-join form
          // paid two exchanges per round for the same doubles (guide §2.4).
          val cents = typedlit(chosen.map(_._3.toSeq).toSeq)
          val next = q.select($"vec_id", $"qv",
              array_min(transform(cents, m =>
                vecDot($"qv", $"qv") - lit(2) * vecDot($"qv", m) + vecDot(m, m)))
                .as("dmin"))
            .orderBy($"dmin".desc, $"vec_id").limit(1)
            .select($"vec_id", $"qv", $"dmin").as[(Long, Array[Double], Double)].head()
          chosen = chosen :+ ((r.toLong, next._1, next._2, next._3))
        }
        chosen.map { case (cid, id, _, dm) => (cid, id, dm) }
          .toDF("step", "vec_id", "dmin").orderBy($"step")
      } finally q.unpersist() // rounds are done; don't leak a cached relation per call
    }, Some(kmeansppSql))
  )

  /** Oracle fragment: the CAPPED SemDeDup drop set (`sem_ex` exact-dup
    * resolution → `sem_surv` survivors → `sem_sz`/`sem_sh` shard cells →
    * `sem_near` pair scan → `sem_drp`), over CTEs `u` (unit vectors) and
    * `a2`/`q` from [[kmeansSql]]. Shared VERBATIM by dedup_semantic and
    * pipeline_dedup_stack's semantic leg, so the stack's verdict column
    * cannot drift from the semantic query (an unshared stack oracle once
    * omitted the shard cap and diverged at sf0.1, where clusters exceed
    * it).
    */
  private[operators] lazy val semanticDropChainSql: String =
    s"""sem_ex AS (
       |  SELECT vec_id, cid, min(vec_id) OVER (PARTITION BY cid, qv) AS keeper
       |  FROM a2 JOIN q USING (vec_id)),
       |sem_surv AS (SELECT vec_id, cid FROM sem_ex WHERE vec_id = keeper),
       |sem_sz AS (SELECT cid, count(*) AS n_c FROM sem_surv GROUP BY cid),
       |sem_sh AS (
       |  SELECT s.vec_id, s.cid,
       |    ${h60Sql("'sc' || s.vec_id")} % CAST(ceil(n_c / $SemDedupShardCap.0) AS BIGINT) AS scell
       |  FROM sem_surv s JOIN sem_sz USING (cid)),
       |sem_near AS (
       |  SELECT b.vec_id AS id2
       |  FROM sem_sh a JOIN sem_sh b
       |    ON a.cid = b.cid AND a.scell = b.scell AND a.vec_id < b.vec_id
       |  JOIN u ua ON ua.vec_id = a.vec_id JOIN u ub ON ub.vec_id = b.vec_id
       |  WHERE list_dot_product(ua.emb, ub.emb) >= $CosThreshold),
       |sem_drp AS (
       |  SELECT vec_id FROM sem_ex WHERE vec_id > keeper
       |  UNION SELECT id2 FROM sem_near)""".stripMargin

  /** Uncapped variant of [[semanticDropChainSql]] (pair scan over ALL
    * survivors of a cluster, no shard cells): the judge for
    * stream_semantic_replay, whose kept-set check is shard-blind — at
    * sf0.1, where survivor clusters exceed SemDedupShardCap, the stream
    * finds exactly the cross-cell pairs the capped batch scan trades away,
    * so parity against the CAPPED oracle breaks while parity against this
    * one holds (the stream's own state cap of 4096/cluster is far above
    * any cluster here). At sf0.01 the two chains are identical (every
    * cluster single-shard).
    */
  private[graft] lazy val semanticDropUncappedOracleSql: String =
    s"""WITH $plantedSql,
       |${kmeansSql("u")},
       |sem_ex AS (
       |  SELECT vec_id, cid, min(vec_id) OVER (PARTITION BY cid, qv) AS keeper
       |  FROM a2 JOIN q USING (vec_id)),
       |sem_surv AS (SELECT vec_id, cid FROM sem_ex WHERE vec_id = keeper),
       |sem_near AS (
       |  SELECT b.vec_id AS id2
       |  FROM sem_surv a JOIN sem_surv b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN u ua ON ua.vec_id = a.vec_id JOIN u ub ON ub.vec_id = b.vec_id
       |  WHERE list_dot_product(ua.emb, ub.emb) >= $CosThreshold),
       |sem_drp AS (
       |  SELECT vec_id FROM sem_ex WHERE vec_id > keeper
       |  UNION SELECT id2 FROM sem_near)
       |SELECT a2.vec_id, cid, (d.vec_id IS NOT NULL) AS dropped
       |FROM a2 LEFT JOIN sem_drp d USING (vec_id)
       |ORDER BY a2.vec_id""".stripMargin

  /** Oracle twin of sim_kmeanspp_init: unrolled farthest-point CTE chain
    * ch0 → d1/p1/ch1 → … over the quantized unit vectors.
    */
  private def kmeansppSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS emb
         |  FROM embeddings),
         |${quantizedSql("v")},
         |ch0 AS (
         |  SELECT 0 AS cid, vec_id, qv AS m, CAST(0 AS DOUBLE) AS dmin
         |  FROM q WHERE vec_id = (SELECT min(vec_id) FROM q))""".stripMargin)
    for (r <- 1 until K) {
      sb.append(
        s""",
           |d$r AS (
           |  SELECT q.vec_id,
           |    min(list_dot_product(qv, qv) - 2*list_dot_product(qv, m) + list_dot_product(m, m)) AS dmin
           |  FROM q CROSS JOIN ch${r - 1} GROUP BY q.vec_id),
           |p$r AS (
           |  SELECT $r AS cid, d$r.vec_id, qv AS m, dmin
           |  FROM d$r JOIN q ON d$r.vec_id = q.vec_id
           |  ORDER BY dmin DESC, d$r.vec_id LIMIT 1),
           |ch$r AS (SELECT * FROM ch${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin)
    }
    sb.append(s"\nSELECT CAST(cid AS BIGINT) AS step, vec_id, dmin FROM ch${K - 1} ORDER BY step")
    sb.toString
  }

  /** The full SemDeDup verdict computation — kmeans over the planted
    * corpus, then [[semanticDropFlags]] at the production shard cap.
    * Package-private (private[graft]) so PlanQualitySpec pins the
    * BUILDER's plan shape (sharded pair scan, broadcast centroids) now
    * that the query itself serves from the persisted verdict.
    */
  private[graft] def semanticVerdictFrame(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    import s.implicits._
    // kmeansModel's cached asg row carries (emb, qv, cid) together, so the
    // pair scan needs no separate u cache and no vec_id re-joins.
    val (asg, _) = kmeansModel(plantedUnit(s, d))
    semanticDropFlags(asg.select($"vec_id", $"emb", $"qv", $"cid"), SemDedupShardCap)
  }

  /** Once-per-JVM persisted SemDeDup verdict (vec_id, cid, dropped) —
    * the fixture pattern of Dedup's verified edge list and the ER member
    * table, applied to the semantic chain that dedup_semantic and
    * pipeline_dedup_stack previously each recomputed (the two widest
    * plans in the manifest, 49/53 shuffles). At 100 TB the verdict table
    * is an owned curation artifact rebuilt when the corpus or the
    * clustering changes, and every report reads it.
    */
  private[operators] def semanticVerdictDir(s: SparkSession, d: String): String =
    graft.Fixtures.memo("graft_semverdict", d) { dir =>
      val root = dir.resolve("verdict").toString
      semanticVerdictFrame(s, d).write.mode("overwrite").parquet(root)
      root
    }

  /** Capped SemDeDup drop flags (see the dedup_semantic comment): stage-1
    * exact-duplicate resolution on the quantized vectors, stage-2 sharded
    * near-dup pair scan among survivors. Package-private so the skew spec
    * can drive it with a small cap.
    *
    * Takes ONE (vec_id, emb, qv, cid) frame (kmeansModel's asg shape):
    * carrying emb/qv alongside the assignment removes the two vec_id
    * re-joins the old (u, a2, q) form paid — the payload rides the one
    * (cid, qv) exact-dup shuffle instead of shuffling u twice more
    * (guide §2.3/§2.4; the exact-dup rule and pair scan are unchanged).
    *
    * @param asg (vec_id, emb, qv, cid) — unit vector, quantized vector,
    *            cluster assignment on one row
    */
  private[operators] def semanticDropFlags(asg: DataFrame, cap: Int): DataFrame = {
    val s = asg.sparkSession
    import s.implicits._
    val wExact = Window.partitionBy($"cid", $"qv")
    val ex = asg.select($"vec_id", $"cid", $"qv", $"emb")
      .withColumn("keeper", min($"vec_id").over(wExact))
    val survivors = ex.filter($"vec_id" === $"keeper")
      .select($"vec_id", $"cid", $"emb")
    val sz = survivors.groupBy($"cid").agg(count(lit(1)).as("n_c"))
    val sharded = survivors.join(broadcast(sz), "cid") // K rows of counts
      .withColumn("scell",
        pmod(h60(concat(lit("sc"), $"vec_id".cast("string"))),
          ceil($"n_c" / lit(cap.toDouble)).cast("long")))
    val near = sharded.as("a").join(sharded.as("b"),
        $"a.cid" === $"b.cid" && $"a.scell" === $"b.scell" &&
          $"a.vec_id" < $"b.vec_id") // shuffle on (cid, scell): ~cap² pair squares
      .filter(vecDot($"a.emb", $"b.emb") >= CosThreshold)
      .select($"b.vec_id".as("vec_id"))
    val dropped = ex.filter($"vec_id" > $"keeper").select($"vec_id")
      .unionByName(near).distinct().withColumn("dropped", lit(true))
    asg.select($"vec_id", $"cid").join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"cid", coalesce($"dropped", lit(false)).as("dropped"))
  }
}
