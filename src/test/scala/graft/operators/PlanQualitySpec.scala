package graft.operators

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression guards: the scale story is carried by plan shape
  * (what pushes down, what broadcasts, how many exchanges), so pin it —
  * a refactor that silently turns a broadcast join into a sort-merge join or
  * detaches a filter from the scan should fail CI, not a 100 TB run.
  */
class PlanQualitySpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q02: range + equality filters reach the parquet scan") {
    val plan = executedPlan("q02_selective_revenue")
    // (toString truncates the filter list — assert on its stable prefix +
    // the pruned read schema, which proves pushdown reached the scan)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), "filters not pushed to scan")
    assert(plan.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      "scan not pruned to the 4 referenced columns")
  }

  test("q05: all five dimensions broadcast; the fact table is never pre-shuffled for a join") {
    val plan = executedPlan("q05_nation_revenue")
    assert(count(plan, "BroadcastHashJoin") == 5, s"expected 5 broadcast joins:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0, "no sort-merge join should appear")
  }

  test("q01: aggregation is partial+final with a single hash exchange") {
    val plan = executedPlan("q01_pricing_summary")
    assert(count(plan, "Exchange hashpartitioning") == 1,
      "exactly one shuffle (partial -> final agg) expected")
  }

  test("chunk table: no shuffle at all — scan to chunk rows is one narrow stage") {
    val plan = Chunking.chunkTable(
      graft.Tables.documents(spark, sfDir), "doc_id", "text", "fastcdc", 64, 42L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must stay narrow:\n$plan")
    // One codepath: the DataFrame lift must plan the native cdc_chunks
    // Generator (a Generate node), not a UDF + posexplode pair.
    assert(plan.contains("Generate") && plan.contains("cdcchunks"),
      s"chunkTable must run through the CdcChunks generator:\n$plan")
  }

  test("segmented chunking family: native expressions only — no ScalaUDF anywhere (VERDICT r9 #3)") {
    // Expression-class traversal, not string matching: a ScalaUDF prints as
    // "UDF(...)" or its withName label, never as "ScalaUDF".
    for (q <- Seq("cdc_segmented_ae", "cdc_segmented_rabin", "cdc_edge_rechunk_metrics")) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      assert(!PlanStats.hasScalaUdf(df),
        s"$q must plan the cdc_segmented_chunks/cdc_slice_chunks native path, not a UDF")
    }
    // and the two native entry points actually appear where expected
    assert(executedPlan("cdc_segmented_ae").contains("cdc_segmented_chunks"),
      "cdc_segmented_ae must chunk through the CdcSegmentedChunks generator")
    assert(executedPlan("cdc_edge_rechunk_metrics").contains("cdc_slice_chunks"),
      "cdc_edge_rechunk_metrics must slice through the CdcSliceChunks generator")
  }

  test("q43: the partkey range filter reaches the parquet scan") {
    val plan = executedPlan("q43_regexp_extract")
    assert(plan.contains("PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey,500)"),
      s"range filter not pushed:\n$plan")
  }

  test("sim queries: dot products run through the codegen'd vec_dot, not interpreted HOFs") {
    val plan = executedPlan("sim_brute_topk")
    assert(plan.contains("vec_dot("), s"vec_dot missing from plan:\n$plan")
    assert(!plan.contains("aggregate(zip_with"), "interpreted HOF dot product crept back in")
  }

  test("partitioned sink round-trip: the partition-key filter prunes at the file index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      graft.Tables.orders(spark, sfDir)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      val df = spark.read.parquet(dir).filter($"o_orderstatus" === "F")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
        s"partition filter not pushed to the file index:\n$plan")
      assert(df.count() ==
        graft.Tables.orders(spark, sfDir).filter($"o_orderstatus" === "F").count())
    } finally {
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("pipeline_partitioned_prune: the lang predicate prunes at the file index") {
    val df = graft.SparkEntry.queries("pipeline_partitioned_prune")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang.*"),
      s"lang partition filter not pushed to the file index:\n$plan")
  }

  test("pipeline_mv_rewrite: the naive fact aggregate is rewritten to read the MV") {
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "rewrite rule did not fire")
    assert(plan.contains("graft_mv"), s"plan does not scan the MV:\n$plan")
    assert(!plan.contains("lineitem"),
      s"naive aggregate still scans the fact table:\n$plan")
    assert(!plan.contains("ship_day"), "MV scan not pruned to the used measures")
    // the rule is conservative: the same session's OTHER lineitem
    // aggregates must be untouched (different grouping shape)
    val q1 = graft.SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    assert(q1.queryExecution.executedPlan.toString.contains("lineitem"),
      "rewrite overfired onto an unrelated aggregate")
  }

  test("pipeline_mv_rewrite_range: the group-key filter becomes MV partition pruning; non-key filters disqualify") {
    import spark.implicits._
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_range")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv") && !plan.contains("lineitem"),
      s"filtered naive aggregate not rewritten to the MV:\n$plan")
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*ship_month.*"),
      s"translated key filter did not prune the MV's file index:\n$plan")
    // negative case: a predicate on a NON-key column selects part of a
    // group's rows — the rollup cannot reproduce it, the rewrite must bail
    val monthKey = F.date_format($"l_shipdate", "yyyy-MM")
    val nonKey = graft.Tables.lineitem(spark, sfDir)
      .filter($"l_discount" > 0.05)
      .groupBy(monthKey.as("ship_month"))
      .agg(F.count(F.lit(1)).as("n_items"),
        F.sum($"l_quantity".cast("bigint")).as("sum_qty"),
        F.sum(F.expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
    assert(nonKey.queryExecution.executedPlan.toString.contains("lineitem"),
      "rewrite must NOT fire for a non-group-key predicate")
  }

  test("pipeline_mv_rewrite_quarter: grain navigation — the quarterly aggregate reads the monthly MV") {
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_quarter")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "grain rewrite did not fire")
    assert(plan.contains("graft_mv") && !plan.contains("lineitem"),
      s"quarterly aggregate not served from the monthly MV:\n$plan")
  }

  test("pipeline_mv_rewrite_multi: the two-key naive aggregate reads the wide MV") {
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_multi")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "multi-key rewrite did not fire")
    assert(plan.contains("graft_mvflag") && !plan.contains("lineitem"),
      s"two-key aggregate not served from the wide MV:\n$plan")
  }

  test("pipeline_mv_rewrite_avg: avg navigates as sum-pair division; decimal/double avg must not") {
    import spark.implicits._
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_avg")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "avg rewrite did not fire")
    assert(plan.contains("graft_mv") && !plan.contains("lineitem"),
      s"avg aggregate not served from the monthly MV:\n$plan")
    // negative: a non-integral avg cannot be reproduced bit-for-bit from
    // integer partials — the rule must leave it on the fact table
    val nonIntegral = graft.Tables.lineitem(spark, sfDir)
      .groupBy(F.date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      .agg(F.count(F.lit(1)).as("n_items"),
        F.avg($"l_quantity").as("avg_qty"))
    assert(nonIntegral.queryExecution.executedPlan.toString.contains("lineitem"),
      "avg navigation must not fire for a non-integral column")
  }

  test("pipeline_mv_rewrite_join: the naive star-schema aggregate reads the denormalized MV, not fact nor dim") {
    import spark.implicits._
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "join rewrite did not fire")
    assert(plan.contains("graft_mvjoin"), s"plan does not scan the join MV:\n$plan")
    assert(!plan.contains("lineitem") && !plan.contains("orders.parquet"),
      s"naive join aggregate still scans fact or dim:\n$plan")
    // filtered twin: fact-key AND dim-key filters both translate; the
    // month predicate prunes the MV's file index
    val df2 = graft.SparkEntry.queries("pipeline_mv_rewrite_join_range")(spark, sfDir)
    val plan2 = df2.queryExecution.executedPlan.toString
    assert(plan2.contains("graft_mvjoin") && !plan2.contains("lineitem") &&
      !plan2.contains("orders.parquet"),
      s"filtered join aggregate not rewritten:\n$plan2")
    assert(plan2.matches("(?s).*PartitionFilters: \\[[^\\]]*ship_month.*"),
      s"translated month filter did not prune the join MV's file index:\n$plan2")
    // key-subset over the join MV: the dim-attribute-only rollup must
    // also serve from the summary — and join nothing
    val df3 = graft.SparkEntry.queries("pipeline_mv_rewrite_join_subset")(spark, sfDir)
    val plan3 = df3.queryExecution.executedPlan.toString
    assert(plan3.contains("graft_mvjoin") && !plan3.contains("lineitem") &&
      !plan3.contains("orders.parquet"),
      s"dim-only join aggregate not served from the join MV:\n$plan3")
    // negative 1 (the name-erasure boundary): grouping by a DIFFERENT dim
    // attribute of the same string type — identical canonical shape, so
    // only the source-column-name signature keeps it off the MV
    val otherKey = graft.Tables.lineitem(spark, sfDir)
      .join(graft.Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy(F.date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        $"o_orderstatus")
      .agg(F.count(F.lit(1)).as("n_items"),
        F.sum($"l_quantity".cast("bigint")).as("sum_qty"),
        F.sum(F.expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
    assert(otherKey.queryExecution.executedPlan.toString.contains("lineitem"),
      "join rewrite must NOT fire for a different dim attribute")
    // negative 2: a non-key predicate selects part of a group's rows —
    // the denormalized rollup cannot reproduce it
    val nonKey = graft.Tables.lineitem(spark, sfDir)
      .join(graft.Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .filter($"o_totalprice" > 1000.0)
      .groupBy(F.date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        $"o_orderpriority")
      .agg(F.count(F.lit(1)).as("n_items"),
        F.sum($"l_quantity".cast("bigint")).as("sum_qty"))
    assert(nonKey.queryExecution.executedPlan.toString.contains("lineitem"),
      "join rewrite must NOT fire for a non-key predicate")
    // negative 3: same shape over a DIFFERENT measure column — sum of a
    // plain bigint cast of l_tax has the same canonical shape as sum_qty's
    // source; only the name signature may decide, and it must say no
    val otherMeasure = graft.Tables.lineitem(spark, sfDir)
      .join(graft.Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy(F.date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        $"o_orderpriority")
      .agg(F.count(F.lit(1)).as("n_items"),
        F.sum($"l_suppkey".cast("bigint")).as("sum_qty"))
    assert(otherMeasure.queryExecution.executedPlan.toString.contains("lineitem"),
      "join rewrite must NOT serve a same-shaped sum over a different column")
  }

  test("pipeline_mv_rewrite_minmax: both key filters translate; month prunes the wide MV's file index") {
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_minmax")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "min/max rewrite did not fire")
    assert(plan.contains("graft_mvflag") && !plan.contains("lineitem"),
      s"filtered min/max aggregate not served from the wide MV:\n$plan")
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*ship_month.*"),
      s"translated month filter did not prune the wide MV's file index:\n$plan")
    assert(plan.matches("(?s).*l_returnflag.*IN.*") ||
      plan.matches("(?s).*l_returnflag.* IN .*"),
      s"flag IN-list filter not translated onto the MV:\n$plan")
  }

  test("pipeline_mv_rewrite_subset: month-only query rolls up across the wide MV's dropped key; monthly rewrite stays intact") {
    val before = graft.plans.MvRewrite.fired.get()
    val df = graft.SparkEntry.queries("pipeline_mv_rewrite_subset")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.plans.MvRewrite.fired.get() > before, "key-subset rewrite did not fire")
    // the monthly MV matches the grain but lacks min/max — the rule must
    // fall through to the wide MV and re-aggregate across returnflag
    assert(plan.contains("graft_mvflag") && !plan.contains("lineitem"),
      s"subset aggregate not served from the wide MV:\n$plan")
    // REGRESSION (measured): with the wide target live, a later template
    // registration must not be self-rewritten before extraction — the
    // rewritten Sum-over-MV measures canonicalize to ONE shape (names
    // erased) and the monthly target silently mapped every measure onto
    // revenue_cents. The monthly rewrite must still produce three
    // distinct measure sums.
    val monthly = graft.SparkEntry.queries("pipeline_mv_rewrite")(spark, sfDir)
    val mPlan = monthly.queryExecution.optimizedPlan.toString
    assert(mPlan.contains("sum(n_items") && mPlan.contains("sum(sum_qty") &&
      mPlan.contains("sum(revenue_cents"),
      s"monthly target's measure map collapsed:\n$mPlan")
  }

  test("pipeline_mv_serve: month predicate prunes the rollup's file index; neither MV query scans the fact table") {
    val serve = graft.SparkEntry.queries("pipeline_mv_serve")(spark, sfDir)
    val servePlan = serve.queryExecution.executedPlan.toString
    assert(servePlan.matches("(?s).*PartitionFilters: \\[[^\\]]*ship_month.*"),
      s"ship_month partition filter not pushed to the rollup file index:\n$servePlan")
    val refreshPlan = graft.SparkEntry.queries("pipeline_mv_refresh")(spark, sfDir)
      .queryExecution.executedPlan.toString
    for (plan <- Seq(servePlan, refreshPlan))
      assert(!plan.contains("lineitem"),
        s"MV serving must read the materialized rollup, not the fact table:\n$plan")
  }

  test("q04: correlated EXISTS plans as a semi join with the date bound as residual, no nested loop") {
    val plan = executedPlan("q04_late_ship_priority")
    assert(plan.contains("LeftSemi"), s"semi join missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), "correlated EXISTS must not plan a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "date bound must ride the equi-join as residual")
  }

  test("q47: the generated day spine joins without a cartesian product") {
    val plan = executedPlan("q47_daily_resample")
    assert(!plan.contains("CartesianProduct"), s"spine join degenerated:\n$plan")
    assert(plan.contains("Join LeftOuter") || plan.contains("BroadcastHashJoin"),
      s"expected an outer hash join on the day spine:\n$plan")
  }

  test("profile columns: no Expand — the multi-distinct rewrite stays out of the plan") {
    val plan = executedPlan("pipeline_profile_columns")
    assert(!plan.contains("Expand"), s"multi-distinct Expand crept back in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the one-row min/max side should broadcast:\n$plan")
  }

  test("pack contexts: scan prunes to the 3 referenced columns; one window shuffle") {
    val plan = executedPlan("pipeline_pack_contexts")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string"),
      s"scan must read only doc_id/text/source:\n$plan")
    assert(count(plan, "Exchange hashpartitioning") == 1,
      s"exactly the per-source window shuffle expected:\n$plan")
  }

  test("stratified sample: scan prunes to doc_id+lang before the stratum window") {
    val plan = executedPlan("pipeline_stratified_sample")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"scan must read only doc_id/lang:\n$plan")
  }

  test("ngram jaccard: the document-frequency cut gates pair emission") {
    // The df-cut (stop-shingle removal) is the 100 TB guard against a hot
    // shingle emitting k²/2 pairs in one task — assert the bounded collector
    // (cap inside the aggregate, O(cap) buffer) and its overflow-drop filter
    // are in the plan, not just in a comment. (Analyzed plan: the physical
    // side hides it inside the InMemoryRelation cache.)
    val analyzed = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir)
      .queryExecution.analyzed.toString
    assert(analyzed.contains("bounded_collect_512"),
      s"bounded df-cap collector missing from plan:\n$analyzed")
    assert(analyzed.toLowerCase.contains("isnotnull(ids"),
      s"overflow-drop filter missing from plan:\n$analyzed")
  }

  test("sim lsh scoring joins: the PLANNER picks broadcast at test scale (no forced hint)") {
    // The vector re-joins carry no broadcast() hint — a hint would force the
    // broadcast past autoBroadcastJoinThreshold and OOM at 100× vectors.
    // Guard that removing the hint didn't silently degrade the small-scale
    // plan: the threshold still selects BroadcastHashJoin here.
    for (q <- Seq("sim_lsh_topk", "sim_lsh_pairs")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: planner should still broadcast the vector re-join at test scale:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: candidate scoring must stay an equi-join:\n$plan")
    }
    // sim_knn_graph serves from the persisted graph fixture: the plan is a
    // bare parquet scan with the rn <= 3 degree cut PUSHED to the reader —
    // no joins at all (the build's joins run once per JVM in knnGraphDir)
    val knn = executedPlan("sim_knn_graph")
    assert(!knn.contains("Join"), s"sim_knn_graph must be a fixture read:\n$knn")
    assert(knn.contains("PushedFilters: [IsNotNull(rn), LessThanOrEqual(rn,3)]"),
      s"degree cut must reach the parquet reader:\n$knn")
  }

  test("decontaminate: eval grams broadcast; the corpus side is one narrow scan") {
    val plan = executedPlan("pipeline_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny eval side must broadcast:\n$plan")
    assert(count(plan, "Exchange hashpartitioning") == 1,
      s"only the (doc,eval) count aggregate may shuffle:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to doc_id/text:\n$plan")
  }

  test("repetition stats: map-only per-doc pass — no shuffle before the output sort") {
    val plan = executedPlan("text_repetition_stats")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the fused counting pass must not shuffle:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to doc_id/text:\n$plan")
  }

  // dedup_semantic now SERVES from the persisted verdict fixture, so the
  // builder's plan shape is pinned directly (the query's own plan is a
  // 3-column parquet scan — also asserted).
  test("semantic dedup pair scan is sharded: the pair join keys on the shard cell") {
    val plan = Clustering.semanticVerdictFrame(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("scell"),
      s"pair join must key on (cid, scell) so a mega-cluster stays cap-bounded:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the K-row centroid side of the verdict build must broadcast:\n$plan")
    val serve = executedPlan("dedup_semantic")
    assert(!serve.contains("scell") && serve.contains("Scan parquet"),
      s"the serve must be a verdict-table scan, not a recompute:\n$serve")
  }

  test("kmeans/PQ: centroid and codebook joins broadcast; corpus never cartesian-joins itself") {
    for (q <- Seq("sim_kmeans_clusters", "sim_pq_topk", "sim_ivfpq_topk",
        "sim_sq8_topk", "sim_ivfpq_rerank", "sim_filtered_topk",
        "sim_hard_negatives", "sim_mips_topk")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
        s"$q: the K-row centroid/codebook side must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: no corpus-side cartesian product allowed:\n$plan")
    }
  }

  test("cluster-balanced sample: bottom-k aggregates partial+final; no per-cluster full sort") {
    val plan = executedPlan("sim_cluster_balanced_sample")
    // the O(quota)-state draw must run as a mergeable two-phase aggregate,
    // not a window/sort over each cluster's full membership
    assert(count(plan, s"partial_bottom_k") >= 1,
      s"bottom-k draw should aggregate map-side first:\n$plan")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  test("pagerank: every iteration is an equi-join + hash agg — no cartesian/nested-loop") {
    val plan = executedPlan("dedup_graph_pagerank")
    assert(!plan.contains("CartesianProduct"),
      s"pagerank iterations must join on node id, never cross:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rank/degree joins are equi-joins; a nested loop means a lost key:\n$plan")
  }

  test("repeated spans / novelty / mixture: scans prune to the referenced columns") {
    val spans = executedPlan("dedup_repeated_spans")
    assert(spans.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"span scan must prune to doc_id/text:\n$spans")
    val mix = executedPlan("pipeline_domain_mixture")
    assert(mix.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"mixture scan must prune to doc_id/source:\n$mix")
    assert(mix.contains("BroadcastHashJoin") || mix.contains("BroadcastNestedLoopJoin"),
      s"the 20-row domain stats must broadcast back over the corpus:\n$mix")
  }

  test("span localization: no cartesian products, span emission stays map-side before the hash joins") {
    for (q <- Seq("dedup_matched_spans", "dedup_span_islands", "dedup_graph_triangles")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q: pair/span assembly must stay equi-joins:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q: no nested-loop fallback:\n$plan")
    }
  }

  test("dedup metrics: two-level aggregation, shuffle keyed by 64-bit hash only") {
    val plan = Chunking.dedupMetrics(Chunking.chunkTable(
      graft.Tables.documents(spark, sfDir), "doc_id", "text", "fastcdc", 64, 42L))
      .queryExecution.executedPlan.toString
    assert(count(plan, "Exchange hashpartitioning") == 1, "one hash exchange on the chunk hash")
    assert(count(plan, "Exchange SinglePartition") == 1, "one final single-row gather")
  }

  test("bigram LM / threshold sweep: model and candidate joins stay equi-joins, scans prune") {
    val lm = executedPlan("text_bigram_lm_score")
    assert(!lm.contains("CartesianProduct") && !lm.contains("BroadcastNestedLoopJoin"),
      s"bigram LM: model joins must be equi-joins:\n$lm")
    assert(lm.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "bigram LM: scan must prune to doc_id+text")
    val sweep = executedPlan("sim_threshold_sweep")
    assert(!sweep.contains("CartesianProduct") && !sweep.contains("BroadcastNestedLoopJoin"),
      s"threshold sweep: candidate generation must stay a bucket equi-join:\n$sweep")
  }

  test("BPE learning: only 1-row argmax broadcasts nested-loop, nothing corpus-sized") {
    val plan = executedPlan("text_bpe_learn")
    // Each unrolled merge round crossJoins ONE broadcast row (LIMIT 1
    // argmax). The plan STRING repeats each argmax subtree in both its
    // consumers (next round's rewrite + the merge-table output — the
    // cache() dedupes execution, not the printed tree), so the count is
    // bounded by the quadratic tree growth of 4 rounds, not equal to 4.
    val bnlj = count(plan, "BroadcastNestedLoopJoin")
    assert(bnlj >= 4 && bnlj <= 12, s"unexpected nested-loop count $bnlj:\n$plan")
    // every nested-loop input is a LIMIT-1 argmax (planned as a top-1
    // TakeOrderedAndProject), never a corpus-sized side
    assert(count(plan, "TakeOrderedAndProject(limit=1") >= 4, "argmax rows must be top-1")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  test("rate anomaly: the trailing window partitions by type — never a global single partition") {
    val plan = executedPlan("q56_rate_anomaly")
    assert(count(plan, "Exchange SinglePartition") == 0,
      s"per-type window must not gather to one partition:\n$plan")
  }

  test("shard manifest: scan prunes to the 3 referenced columns, one agg shuffle") {
    val plan = executedPlan("pipeline_shard_manifest")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"),
      s"manifest scan must prune:\n$plan")
    assert(count(plan, "Exchange hashpartitioning") == 1,
      "one partial->final agg shuffle on the shard key")
  }

  test("dataset diff / frame dedup / quality tiers: equi-joins only, bounded broadcasts") {
    val diff = executedPlan("pipeline_dataset_diff")
    assert(!diff.contains("CartesianProduct") && !diff.contains("BroadcastNestedLoopJoin"),
      s"dataset diff: the version join must stay an equi-join:\n$diff")
    val fd = executedPlan("mm_frame_dedup")
    assert(!fd.contains("CartesianProduct") && !fd.contains("BroadcastNestedLoopJoin"),
      s"frame dedup: hash joins only:\n$fd")
    // quality tiers: the ONLY nested-loop is the intended 1-row quartile
    // broadcast; everything corpus-sized stays narrow
    val qt = executedPlan("pipeline_quality_tiers")
    assert(count(qt, "BroadcastNestedLoopJoin") == 1,
      s"quality tiers: exactly the 1-row quartile broadcast:\n$qt")
    assert(!qt.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  // Match the specific physical join operators, not the substring "Join":
  // an AQE/codegen label that merely contains "Join" (or a column named so)
  // must not fail these guards spuriously.
  private val joinOp =
    "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct".r

  test("asof join: encoded as union + window — ZERO join operators in the plan") {
    val plan = executedPlan("q58_asof_join")
    assert(joinOp.findFirstIn(plan).isEmpty,
      s"the as-of must stay a union+window encoding (no range/hash join):\n$plan")
    assert(plan.contains("Window"), "the running last-click window is the operator")
  }

  test("audio VAD: window emission is map-only; segment windows partition by doc_id") {
    val plan = executedPlan("mm_audio_vad")
    assert(joinOp.findFirstIn(plan).isEmpty,
      s"VAD is explode + windows, never a join:\n$plan")
    // physical Window prints as: Window [row_number() ...], [doc_id#N], [win_idx#M ASC ...]
    assert("Window \\[row_number\\(\\)[^\\n]*\\], \\[doc_id#".r
      .findFirstIn(plan).isDefined,
      s"islands windows must partition by doc_id, not run globally:\n$plan")
  }

  test("C4 filters: single map-only pass — no shuffle before the output sort") {
    val plan = executedPlan("pipeline_c4_filters")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the rule battery must not shuffle:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to doc_id/text:\n$plan")
  }

  test("DSIR weights: bucket-ratio table broadcasts; corpus side equi-joins only") {
    val plan = executedPlan("pipeline_dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=4096-row ratio table must broadcast onto the token stream:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"nothing corpus-sized may sort-merge or cross:\n$plan")
  }

  test("epoch plan: only the 1-row weight-total broadcast is nested-loop") {
    val plan = executedPlan("pipeline_epoch_plan")
    assert(count(plan, "BroadcastNestedLoopJoin") == 1,
      s"exactly the 1-row tot_w broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  test("RAKE: word-score joins stay equi-joins; the top-50 is a TakeOrdered, not a global sort") {
    val plan = executedPlan("text_keywords_rake")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"word-stat joins must stay equi-joins:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the limit must plan as TakeOrdered (no full-corpus sort materialization):\n$plan")
  }

  /** Count Spark jobs started while `build` runs. Listener events post
    * async, but the bus is ordered: run one sentinel job afterwards and wait
    * for ITS start event — anything `build` ran was counted before it. The
    * sentinel itself is then subtracted.
    */
  private def jobsDuring(build: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      jobs.get() - 1
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q59: the sweep windows partition by (type, bucket); no type-wide timeline window") {
    val plan = executedPlan("q59_peak_concurrency_sharded")
    // stage 1 window must shard the timeline: partition spec [event_type, bucket]
    assert("Window \\[sum\\([^\\n]*\\], \\[event_type#\\d+, bucket#".r.findFirstIn(plan).isDefined,
      s"the running-sum window must partition by (event_type, bucket):\n$plan")
    // the only per-type-alone window runs over the bucket AGGREGATES (its
    // input comes from a HashAggregate, not the raw bounds union)
    val typeOnlyWindows = "Window \\[[^\\n]*\\], \\[event_type#\\d+\\], \\[bucket#".r
      .findAllIn(plan).size
    assert(typeOnlyWindows == 1,
      s"exactly one tiny per-type offset window over bucket aggregates:\n$plan")
  }

  test("sketch queries are single-action: BUILDING them runs no extra Spark jobs") {
    // The r7 shape ran .head()/.count() while constructing the DataFrame
    // (two extra actions per invocation, sketch riding back as a driver
    // literal). The sketch is now a 1-row aggregate that broadcast-joins
    // into the exact side, so constructing the query may run only what a
    // bare parquet read runs (schema-inference footer job) — nothing more.
    val baseline = jobsDuring { graft.Tables.documents(spark, sfDir) }
    val hhJobs = jobsDuring { graft.SparkEntry.queries("text_heavy_hitters")(spark, sfDir) }
    val cmJobs = jobsDuring { graft.SparkEntry.queries("text_countmin_est")(spark, sfDir) }
    assert(hhJobs <= baseline,
      s"heavy hitters: construction ran ${hhJobs - baseline} extra jobs vs a bare read")
    assert(cmJobs <= baseline,
      s"count-min: construction ran ${cmJobs - baseline} extra jobs vs a bare read")
    // The one nested-loop in each plan is the intended 1-row sketch broadcast.
    val hhPlan = executedPlan("text_heavy_hitters")
    val cmPlan = executedPlan("text_countmin_est")
    assert(count(hhPlan, "BroadcastNestedLoopJoin") == 1,
      s"heavy hitters: exactly the 1-row sketch broadcast:\n$hhPlan")
    assert(count(cmPlan, "BroadcastNestedLoopJoin") == 1,
      s"count-min: exactly the 1-row sketch broadcast:\n$cmPlan")
  }

  test("persisted IVF index: the serve scan carries a dynamic-partition-pruning filter on cid") {
    val plan = executedPlan("sim_ivf_persisted")
    assert(plan.contains("dynamicpruning"),
      s"index scan must be dynamically pruned to the probed cid partitions:\n$plan")
  }

  test("lake connector: EVERY world scans COLUMNAR — ColumnarToRow over " +
      "the BatchScan, including the schema-ID mapped worlds whose " +
      "rename/widen/default logic rides the requested schema (VERDICT r16 #3)") {
    // finalize AQE so the columnar transition is visible in the plan
    def finalPlan(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    for (q <- Seq("lake_dv_serve", "lake_multi_delete", "lake_schema_promote",
        "lake_schema_rename")) {
      val plan = finalPlan(q)
      assert(plan.contains("ColumnarToRow"),
        s"$q must serve ColumnarBatches through the vectorized lake reader:\n$plan")
      assert(plan.contains("BatchScan lake"),
        s"$q must scan through the graft-lake connector:\n$plan")
    }
  }
}
