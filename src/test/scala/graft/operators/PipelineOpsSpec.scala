package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the corpus-preparation operators that the bit-exact DuckDB
  * oracles can't express: split stability and coverage, window coverage
  * arithmetic, redaction completeness, and the bloom filter's no-false-
  * negative guarantee (checked against the exact semi-join).
  */
class PipelineOpsSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  test("train/test split covers every doc exactly once, fractions near design") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_train_test_split")(spark, sfDir)
      .as[(Long, String)].collect()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs)
    assert(rows.map(_._1).distinct.length == nDocs)
    val frac = rows.groupBy(_._2).view.mapValues(_.length.toDouble / nDocs).toMap
    // design: ~10.2% test, ~9.8% val; sf0.01 has 500 docs so allow wide noise
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.102) < 0.06)
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.098) < 0.06)
    assert(frac.getOrElse("train", 0.0) > 0.65)
  }

  test("split assignment is stable: a subset of docs keeps its assignments") {
    import spark.implicits._
    val full = PipelineOps.queries("pipeline_train_test_split")(spark, sfDir)
      .as[(Long, String)].collect().toMap
    // the same query over a filtered corpus must agree on shared docs —
    // the incremental-ingestion property hash-threshold splitting buys
    val half = graft.Tables.documents(spark, sfDir).filter($"doc_id" % 2 === 0)
    val h = org.apache.spark.sql.functions.md5($"doc_id".cast("string"))
    import org.apache.spark.sql.functions.when
    val sub = half.select($"doc_id",
      when(h < "1a", "test").when(h < "33", "val").otherwise("train").as("split"))
      .as[(Long, String)].collect()
    sub.foreach { case (id, sp) => assert(full(id) == sp) }
  }

  test("every emitted window starts within the doc and covers it end-to-end") {
    import spark.implicits._
    val wins = PipelineOps.queries("pipeline_token_windows")(spark, sfDir)
      .select($"doc_id", $"win_id", $"start_tok", $"n_tok")
      .as[(Long, Long, Long, Long)].collect()
    val nToks = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", org.apache.spark.sql.functions.size(
        Portable.tokens($"text")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    wins.groupBy(_._1).foreach { case (doc, ws) =>
      val n = nToks(doc)
      val sorted = ws.sortBy(_._2)
      assert(sorted.head._3 == 0L) // first window starts at token 0
      sorted.foreach { case (_, wid, s, nt) =>
        assert(s == wid * 48 && s < n && nt > 0 && s + nt <= n)
      }
      // windows reach the end of the doc: last window touches the last token
      val (_, _, ls, lnt) = sorted.last
      assert(ls + lnt == math.min(ls + 64, n) && ls + 48 >= n)
    }
  }

  test("redaction removes every synthesized email and phone") {
    import spark.implicits._
    val out = PipelineOps.queries("pipeline_pii_redact")(spark, sfDir)
    val bad = out.filter(
      $"redacted".rlike("[A-Za-z0-9.#_%+-]+@") || $"redacted".rlike("\\+[0-9][0-9-]+[0-9]"))
    assert(bad.count() == 0)
    // each synthesized line carried exactly one email and one phone
    assert(out.filter($"n_emails" =!= 1 || $"n_phones" =!= 1).count() == 0)
    assert(out.filter(!$"redacted".contains("<EMAIL>") ||
      !$"redacted".contains("<PHONE>")).count() == 0)
  }

  test("bloom prefilter never misses a member and passes the fp bound") {
    import spark.implicits._
    val row = DecontamQueries.queries("pipeline_bloom_prefilter")(spark, sfDir)
      .as[(Long, Long, Long, Boolean)].head()
    assert(row._3 == 0L, "bloom filter reported a false negative")
    assert(row._4, "false-positive rate above bound")
    assert(row._2 > 0 && row._2 < row._1)
  }

  test("profiler stats match hand aggregates for one column") {
    import spark.implicits._
    val prof = PipelineOps.queries("pipeline_profile_columns")(spark, sfDir)
      .filter($"col_name" === "l_returnflag")
      .select($"n_rows", $"n_nulls", $"n_distinct", $"min_s", $"max_s")
      .as[(Long, Long, Long, String, String)].head()
    val li = graft.Tables.lineitem(spark, sfDir)
    assert(prof._1 == li.count())
    assert(prof._2 == li.filter($"l_returnflag".isNull).count())
    assert(prof._3 == li.select($"l_returnflag").distinct().count())
    assert(prof._4 == "A" && prof._5 == "R")
  }

  test("domain mixture: rates track target shares, sampling bounded by domain size") {
    import spark.implicits._
    val rows = SamplingQueries.queries("pipeline_domain_mixture")(spark, sfDir)
      .select($"source", $"n_docs", $"weight", $"target_share", $"n_sampled", $"achieved_share")
      .as[(String, Long, Long, Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, w, tgt, nSamp, _) =>
      assert(w >= 1 && w <= 4, s"$src weight $w")
      assert(nSamp <= nDocs, s"$src sampled $nSamp > $nDocs")
      assert(math.abs(tgt - w.toDouble / rows.map(_._3).sum) < 1e-4)
    }
    assert(math.abs(rows.map(_._6).sum - 1.0) < 0.01) // achieved shares sum to ~1
    // heavier domains sample more: mean sampled count rises with weight
    val byW = rows.groupBy(_._3).view.mapValues(rs => rs.map(_._5).sum.toDouble / rs.size)
    assert(byW(4L) > byW(1L))
  }

  test("dedup stack flags agree with the component queries") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val stack = PipelineOps.queries("pipeline_dedup_stack")(spark, sf)
      .select($"doc_id", $"exact_dup", $"near_dup", $"semantic_dup", $"kept")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    val nearWant = Dedup.queries("dedup_minhash_lsh")(spark, sf)
      .select($"id2").as[Long].collect().toSet
    val semWant = Clustering.queries("dedup_semantic")(spark, sf)
      .select($"vec_id", $"dropped").as[(Long, Boolean)].collect().toMap
    stack.foreach { case (id, exact, near, sem, kept) =>
      assert(near == nearWant.contains(id), s"near_dup mismatch for $id")
      assert(sem == semWant(id), s"semantic_dup mismatch for $id")
      assert(kept == !(exact || near || sem), s"kept not the all-clear conjunction for $id")
    }
  }

  // The DuckDB oracle proves the MONTHLY report matches a direct fact scan;
  // this pins the refresh machinery one level deeper: after the base build +
  // dynamic-partition-overwrite delta merge, the stored DAILY rows are
  // bit-identical to a single full-scan rebuild — no clobbered untouched
  // month, no double-counted delta, no day lost at the cutoff seam.
  test("mv incremental refresh equals a full rebuild at day granularity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mv = spark.read.parquet(LakeFixture.mvRollupDir(spark, sfDir))
      .select($"ship_month", $"ship_day", $"n_items", $"sum_qty", $"revenue_cents")
    val rebuild = graft.Tables.lineitem(spark, sfDir)
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
        to_date($"l_shipdate").as("ship_day"))
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("bigint")).as("sum_qty"),
        sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
    assert(mv.count() == rebuild.count())
    assert(mv.except(rebuild).isEmpty && rebuild.except(mv).isEmpty,
      "refreshed MV diverges from the full rebuild")
  }

  // The entity-match oracle pins the output bit-for-bit; this pins what the
  // output MEANS against the planted truth: perfect recall on the perturbed
  // twins, zero false matches (in particular every same-balance GHOST was
  // blocked into a candidate pair and rejected by the verifier — the
  // blocking/verification division of labor), and the multi-pass split is
  // the planted arithmetic (a twin misses the name-suffix block exactly
  // when its perturbed slot (custkey div 3) % 9 falls in the suffix
  // region, i.e. >= 5 — the balance pass alone catches those).
  test("entity match: planted recall 100%, ghosts rejected, pass split exact") {
    import spark.implicits._
    val got = DecontamQueries.queries("pipeline_entity_match")(spark, sfDir)
      .select($"c_custkey", $"registry_id", $"via_name")
      .as[(Long, Long, Long)].collect()
    val nCust = graft.Tables.customer(spark, sfDir).count()
    val twins = (0L until nCust).filter(_ % 3 == 0)
    assert(got.map(r => r._1 -> r._2).toSet ==
      twins.map(k => k -> (k + 500000)).toSet,
      "matched pairs are not exactly the planted twins")
    val balOnly = got.filter(_._3 == 0).map(_._1).toSet
    val wantBalOnly = twins.filter(k => (k / 3) % 9 >= 5).toSet
    assert(balOnly == wantBalOnly, "pass split diverged from the planted positions")
    assert(balOnly.nonEmpty && balOnly.size < got.length,
      "both blocking passes must contribute")
  }

  // Fuzzy decontamination catches the planted edited-benchmark leaks: every
  // eval item is a 3-tokens-dropped twin of its source doc, and the LSH
  // band-catch probability at the planted Jaccard range is ≥ ~0.92 per
  // item — pin ≥ 90% planted recall (measured 10/10 at sf0.01) and that
  // every flagged pair clears the verify threshold for a REAL reason
  // (jaccard ≥ 0.5 recomputable from the arrays).
  test("fuzzy decontamination: planted edited leaks are flagged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val flagged = graft.SparkEntry.queries("pipeline_decontaminate_fuzzy")(spark, sfDir)
    val planted = graft.Tables.documents(spark, sfDir)
      .filter($"doc_id" % 50 === 0).count()
    val caught = flagged.filter($"doc_id" === $"eval_src").count()
    assert(caught >= math.ceil(planted * 0.9).toLong,
      s"planted leak recall collapsed: $caught of $planted")
    val below = flagged.filter($"jaccard" < 0.5).count()
    assert(below == 0L, s"$below flagged pairs below the verify threshold")
  }

  // Golden-record survivorship heals every planted noise class: for each
  // master-plus-registry cluster, the surviving name/nation/segment/cents
  // equal the MASTER customer's true attributes — the %5 transposition and
  // X-substitution names, the %13 wrong nation and the %7 one-cent drift
  // all lose to the cascade (majority → master priority → min id). Each
  // noise modulus must actually be represented among the healed clusters,
  // so the pin can't pass vacuously.
  test("golden record: every planted noise class resolves to the master's true attributes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val golden = DecontamQueries.queries("pipeline_golden_record")(spark, sfDir)
    val cust = DecontamQueries.erCustomers(spark, sfDir)
    val paired = golden.filter($"n_members" === 2 && $"n_registry" === 1)
      .join(cust, $"entity_id" === $"c_custkey")
    val n = paired.count()
    assert(n > 0, "no master+registry clusters to judge")
    val bad = paired.filter($"golden_name" =!= $"c_name" ||
        $"golden_nation" =!= $"c_nationkey".cast("long") ||
        $"golden_segment" =!= $"c_mktsegment" ||
        $"golden_cents" =!= $"cents")
      .select($"entity_id").limit(5).as[Long].collect()
    assert(bad.isEmpty,
      s"golden record drifted from master truth for entities ${bad.mkString(",")}")
    for (m <- Seq(5L, 7L, 13L)) {
      val repr = paired.filter($"c_custkey" % m === 0).count()
      assert(repr > 0, s"noise class c%%$m==0 unrepresented among healed clusters")
    }
  }
}
