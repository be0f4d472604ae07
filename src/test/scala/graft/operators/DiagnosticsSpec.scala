package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Semantic contracts for the corpus/CDC diagnostic queries — the DuckDB
  * oracles pin their outputs bit-for-bit; these specs pin that the outputs
  * MEAN what they claim, via independent recomputation with a different
  * plan shape (min_by/max_by instead of windows) and closed-form
  * invariants of the integer diagnostics.
  */
class DiagnosticsSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  test("changelog compaction agrees with an independent min_by/max_by recomputation") {
    import spark.implicits._
    val got = Relational.queries("q64_changelog_compact")(spark, sfDir)
      .select($"user_id", $"net_op", $"n_ops").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

    // independent plan: no windows — order the log by a composite sort key
    // via min_by/max_by aggregates and re-derive the net op from scratch
    val log = graft.Tables.events(spark, sfDir)
      .select($"user_id",
        struct(unix_micros($"ts").as("t"), $"event_id".as("e")).as("k"),
        when($"event_type" === "signup", "I")
          .when($"event_type" === "error", "D")
          .otherwise("U").as("op"))
    val expected = log.groupBy($"user_id")
      .agg(min_by($"op", $"k").as("first_op"),
        max_by($"op", $"k").as("last_op"),
        count(lit(1)).as("n_ops"))
      .as[(Long, String, String, Long)].collect().map { case (u, f, l, n) =>
        val net =
          if (l == "D" && f == "I") "none"
          else if (l == "D") "delete"
          else if (f == "I") "insert"
          else "update"
        u -> (net, n)
      }.toMap

    assert(got == expected,
      s"divergent keys: ${(got.toSet diff expected.toSet).take(3)}")
    // the compacted feed must cover every key exactly once
    assert(got.size == expected.size)
  }

  test("changelog compaction: net_value is null exactly for delete/none rows") {
    import spark.implicits._
    val rows = Relational.queries("q64_changelog_compact")(spark, sfDir)
      .select($"net_op", $"net_value".isNull.as("v_null"))
      .as[(String, Boolean)].collect()
    rows.foreach { case (op, vNull) =>
      assert(vNull == (op == "delete" || op == "none"), s"$op null=$vNull")
    }
  }

  test("zipf check: rank-1 diagnostic is exactly 10000 and counts are non-increasing") {
    import spark.implicits._
    val rows = TextOps.queries("text_zipf_check")(spark, sfDir)
      .select($"lang", $"rank", $"n", $"zipf_e4").as[(String, Long, Long, Long)]
      .collect().groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._2 == 1L && sorted.head._4 == 10000L,
        s"$lang rank-1 diagnostic: ${sorted.head}")
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"$lang ranks not dense")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 >= b._3, s"$lang counts increase at rank ${b._2}")
      }
      // zipf_e4 = n·rank·10⁴ ÷ n₁ recomputed from the row's own fields
      val n1 = sorted.head._3
      sorted.foreach { case (_, rank, n, z) =>
        assert(z == n * rank * 10000L / n1, s"$lang rank $rank diagnostic drift")
      }
    }
  }

  test("cluster density: edge counts bounded by tree/complete graphs, flags consistent") {
    import spark.implicits._
    val rows = Dedup.queries("dedup_cluster_density")(spark, sfDir)
      .select($"cluster_size", $"n_edges", $"density_e4", $"chain_risk")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, e, d, risk) =>
      assert(n >= 2, "clusters come from the edge list — no singletons")
      // connected ⇒ at least a spanning tree; verified pairs are distinct
      // ⇒ at most the complete graph
      assert(e >= n - 1 && e <= n * (n - 1) / 2, s"n=$n e=$e")
      assert(d == 2 * e * 10000L / (n * (n - 1)))
      assert(d <= 10000L)
      assert(risk == (n >= 3 && d < 5000L))
    }
    // the planted corpus builds clusters from exact/tailed copies of one
    // source doc — every pair verifies, so every cluster is complete
    assert(rows.forall(_._3 == 10000L))
  }

  test("IVF balance: lists partition the corpus, factors consistent with counts") {
    import spark.implicits._
    val rows = Similarity.queries("sim_ivf_balance")(spark, sfDir)
      .select($"cid", $"n_assigned", $"share_ppm", $"balance_x_e4", $"oversized")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    val total = rows.map(_._2).sum
    val corpus = graft.Tables.embeddings(spark, sfDir).count()
    assert(total == corpus, s"lists hold $total of $corpus vectors — assignment must partition")
    rows.foreach { case (_, n, ppm, bal, over) =>
      assert(ppm == n * 1000000L / total)
      assert(bal == n * rows.length * 10000L / total)
      assert(over == (bal > 20000L))
    }
  }

  test("DSIR ESS: effective sample size bounded by n and consistent with its sums") {
    import spark.implicits._
    val rows = SamplingQueries.queries("pipeline_dsir_ess")(spark, sfDir)
      .select($"n_docs", $"sum_w", $"ess_docs", $"ess_ratio_e4")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, sw, ess, ratio) =>
      ess.foreach { e =>
        // Cauchy–Schwarz: (Σw)² ≤ n·Σw² ⇒ ESS ≤ n; and ESS ≥ 1 when any w > 0
        assert(e >= 1 && e <= n, s"ESS $e outside [1, $n]")
        assert(ratio.contains(e * 10000L / n))
      }
      assert(sw >= 0)
    }
  }

  test("nearest as-of: direction picks the strictly closer signup, ties backward") {
    import spark.implicits._
    val rows = Relational.queries("q65_asof_nearest")(spark, sfDir)
      .select($"ts_us", $"before_us", $"after_us", $"nearest_us", $"direction")
      .as[(Long, Option[Long], Option[Long], Option[Long], String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (ts, before, after, nearest, dir) =>
      (before, after) match {
        case (None, None) => assert(dir == "none" && nearest.isEmpty)
        case (Some(b), None) => assert(dir == "backward" && nearest.contains(b))
        case (None, Some(a)) => assert(dir == "forward" && nearest.contains(a))
        case (Some(b), Some(a)) =>
          assert(b <= ts && a >= ts, "window sides must bracket the probe")
          if (ts - b <= a - ts) assert(dir == "backward" && nearest.contains(b))
          else assert(dir == "forward" && nearest.contains(a))
      }
    }
  }

  test("profile merge: base+delta merge is bit-identical to the full scan, KMV in band") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_profile_merge")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 4)
    assert(rows.forall(_._7), "bottom-k closure must make every merged profile EXACT")
    val n = graft.Tables.lineitem(spark, sfDir).count()
    assert(rows.forall(_._2 == n), "every column profiles the full row count")
    rows.foreach { r =>
      if (r._5 < 64) assert(r._6 == r._5, s"${r._1}: sketch must be exact below k")
      // K=64 KMV: ~1/sqrt(K) relative error once the sketch is well past
      // capacity; just past capacity (NDV < 4K) the kth-value estimator is
      // known-biased low, so the band is generous there
      else if (r._5 < 256) assert(math.abs(r._6 - r._5).toDouble / r._5 <= 0.5,
        s"${r._1}: near-capacity KMV estimate ${r._6} off exact ${r._5} by > 50%")
      else assert(math.abs(r._6 - r._5).toDouble / r._5 <= 0.25,
        s"${r._1}: KMV estimate ${r._6} off exact ${r._5} by > 25%")
    }
  }

  test("DP histogram: noise is Laplace-plausible, reconstruction exact, mechanism deterministic") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_dp_histogram")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 25, "one bucket per nation")
    assert(rows.forall(r => r._4 == r._2 * 1000 + r._3), "noisy = 1000*n + noise exactly")
    assert(rows.forall(_._5 == 500L), "epsilon accounting column fixed at 0.5")
    // Laplace(b=2) has E|noise| = 2 counts = 2000 milli; the 25-bucket mean
    // must land in a generous band around it (seeded, so this is exact-stable)
    val meanAbs = rows.map(r => math.abs(r._3)).sum / rows.length
    assert(meanAbs >= 500 && meanAbs <= 8000, s"mean |noise| $meanAbs m3 implausible for b=2")
    // determinism: the mechanism is a pure function of the bucket key
    val again = PipelineOps.queries("pipeline_dp_histogram")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("k-anonymity: generalization monotonically raises k_min and shrinks at-risk mass") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_k_anonymity")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 3)
    assert(rows.map(_._2).distinct.length == 1, "every level audits the same row count")
    // each coarser level's classes are unions of finer ones, so k_min can
    // only rise, class count only fall, and the below-k mass only shrink
    assert(rows.map(_._4).sameElements(rows.map(_._4).sorted), "k_min non-decreasing")
    assert(rows.map(_._3).sameElements(rows.map(_._3).sorted.reverse), "classes non-increasing")
    assert(rows.map(_._5).sameElements(rows.map(_._5).sorted.reverse), "at-risk rows non-increasing")
    val l0 = rows.head
    assert(l0._6 == l0._5 * 1000000 / l0._2, "risk_ppm is exactly the integer ratio")
  }

  test("l-diversity: coarsening raises l_min and lowers the worst concentration") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_l_diversity")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 2)
    val Array(l0, l1) = rows
    assert(l0._2 == l1._2, "both levels audit the same row count")
    // b5 buckets are exact unions of b1 buckets (b5 = b1 div 5), so classes
    // merge: distinct sensitive values per class can only grow, and the
    // worst single-value share (a weighted mean of the merged classes'
    // shares) can only fall
    assert(l1._4 >= l0._4, "l_min non-decreasing under generalization")
    assert(l1._3 <= l0._3, "class count non-increasing")
    assert(l1._7 <= l0._7, "max_share_ppm non-increasing")
    assert(l1._5 <= l0._5, "below-l3 mass non-increasing")
    // the sensitive attribute has 5 segments, so l is bounded by 5
    assert(l0._4 >= 1 && l1._4 <= 5)
    assert(l0._6 == l0._5 * 1000000 / l0._2, "risk_ppm is exactly the integer ratio")
  }

  test("PSI drift: contributions non-negative, totals consistent, planted drift detected") {
    import spark.implicits._
    val rows = PipelineOps.queries("pipeline_psi_drift")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val (total, buckets) = rows.partition(_._1 == -1L)
    assert(total.length == 1 && buckets.nonEmpty)
    // (q-p)·ln(q/p) >= 0 for every bucket, so each floored term is >= 0
    assert(buckets.forall(_._4 >= 0L), "PSI contributions are non-negative")
    assert(total.head._2 == buckets.map(_._2).sum &&
      total.head._3 == buckets.map(_._3).sum &&
      total.head._4 == buckets.map(_._4).sum, "total row sums the buckets")
    // the planted copies/tails are a biased subset of lengths — the
    // candidate histogram must actually drift
    assert(total.head._4 > 0L, "planted release drifts (psi_total > 0)")
    // candidate adds exactly the doc_id%5 copies and doc_id%7 tails
    val doc = spark.read.parquet(s"$sfDir/documents.parquet")
    val planted = doc.filter(col("doc_id") % 5 === 0).count() +
      doc.filter(col("doc_id") % 7 === 0).count()
    assert(total.head._3 - total.head._2 == planted)
  }

  test("quality kappa: confusion counts partition the corpus, kappa identity holds") {
    import spark.implicits._
    val r = TextOps.queries("text_quality_kappa")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (n, n11, n10, n01, n00, poE4, peE4, kappaE4) = r
    assert(n == n11 + n10 + n01 + n00, "cells partition the corpus")
    assert(n == spark.read.parquet(s"$sfDir/documents.parquet").count())
    assert(poE4 == (n11 + n00) * 10000 / n)
    val peNum = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    assert(peE4 == peNum * 10000 / (n * n))
    assert(kappaE4 == (n * (n11 + n00) - peNum) * 10000 / (n * n - peNum))
    assert(kappaE4 >= -10000 && kappaE4 <= 10000)
    // the two raters share features, so they must agree beyond chance here
    assert(kappaE4 > 0, "correlated raters agree beyond chance")
  }

  test("zorder stats: interleaved layout tightens envelopes and prunes the 2-D probe") {
    import spark.implicits._
    val rows = LayoutQueries.queries("pipeline_zorder_stats")(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val z = rows("zorder"); val l = rows("linear")
    assert(z._2 > 0 && z._2 <= 64 && l._2 > 0 && l._2 <= 64, "64 buckets max per layout")
    assert(z._3 < l._3 && z._4 < l._4,
      s"z-order must tighten BOTH key envelopes: part ${z._3} vs ${l._3}, supp ${z._4} vs ${l._4}")
    assert(z._5 < l._5,
      s"z-order must scan fewer buckets for the 2-D probe: ${z._5} vs ${l._5}")
    assert(z._5 <= z._2 && l._5 <= l._2, "hits bounded by bucket count")
  }

  test("skew report: shares and skew factors are consistent with the full key histogram") {
    import spark.implicits._
    val got = PipelineOps.queries("pipeline_skew_report")(spark, sfDir)
      .select($"user_id", $"cnt", $"share_ppm", $"skew_x_e4")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == 10)
    // independent histogram
    val hist = graft.Tables.events(spark, sfDir)
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().toMap
    val total = hist.values.sum
    val nKeys = hist.size.toLong
    // the report's rows are the true top-10 (ties broken by user_id asc)
    val expectedTop = hist.toSeq.sortBy { case (u, c) => (-c, u) }.take(10)
    assert(got.map(r => (r._1, r._2)).toSeq == expectedTop)
    got.foreach { case (u, c, ppm, skew) =>
      assert(c == hist(u))
      assert(ppm == c * 1000000L / total)
      assert(skew == c * nKeys * 10000L / total)
    }
  }

  // The DuckDB oracle proves the bloom-index lookup returns exactly the
  // probe keys' rows; this pins the SKIPPING: (a) no false negative — every
  // file that truly holds a probe row is in the matched set (a miss would
  // silently drop rows at some future layout), and (b) the index actually
  // skips — the matched set stays well under the file total, which is the
  // entire point of paying for the sidecars.
  test("bloom index: matched files superset the true files and skip most of the layout") {
    import spark.implicits._
    val (matched, total) = LakeFixture.bloomIdxMatchedFiles(spark, sfDir)
    val probes = Seq(7L, 212L, 388L, 701L, 994L, 1207L, 1403L)
    val truth = spark.read
      .option("basePath", LakeFixture.bloomIdxDataDir(spark, sfDir))
      .parquet(LakeFixture.bloomIdxDataDir(spark, sfDir))
      .filter($"l_orderkey".isin(probes: _*))
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(truth.subsetOf(matched.toSet),
      s"bloom index missed files truly containing probe rows: ${truth -- matched.toSet}")
    assert(matched.length < 0.6 * total,
      s"bloom index stopped skipping: ${matched.length} of $total files matched")
    assert(matched.nonEmpty && total > 50)
  }

  // Deletion-plan completeness: the bloom-matched file set must cover
  // every file that truly holds a purge row (a miss would leave erased
  // users' rows behind — the one failure a right-to-be-forgotten pass
  // cannot have), and the probe stays metadata-scale. The per-month purge
  // counts themselves are oracle-checked; skip RATIO is data-determined
  // here (a customer's order history scatters across most months), so it
  // is reported, not pinned.
  test("delete plan: matched files cover every file holding a purge row") {
    import spark.implicits._
    val erased = graft.Tables.customer(spark, sfDir)
      .filter($"c_custkey" % 271 === 0).select($"c_custkey")
    val keys = graft.Tables.orders(spark, sfDir)
      .join(erased, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey".as("k"))
    val (matched, total) = LakeFixture.bloomIdxMatchedFilesFor(spark, sfDir, keys)
    val dataDir = LakeFixture.bloomIdxDataDir(spark, sfDir)
    val truth = spark.read.option("basePath", dataDir).parquet(dataDir)
      .select($"l_orderkey", input_file_name().as("f")) // before the join:
      // input_file_name is per-source and a join has two
      .join(keys.withColumnRenamed("k", "l_orderkey"), Seq("l_orderkey"))
      .select($"f").distinct().as[String].collect().toSet
    assert(truth.nonEmpty && truth.subsetOf(matched.toSet),
      s"deletion plan missed files holding purge rows: ${truth -- matched.toSet}")
    assert(matched.length <= total)
  }

  // Compaction execution's structural claim (the oracle pins the data):
  // after the rewrite every month directory holds exactly ONE parquet
  // file and the total never grows. "Strictly fewer" is data-dependent —
  // at this spec's small SF the source layout may already be one file
  // per month (few input splits), in which case compaction is a verified
  // no-op; the multi-file shrink shows at larger inputs.
  test("compaction exec: one file per month partition, total files down") {
    def parquetFilesByDir(root: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.toString).view.mapValues(_.size).toMap
    }
    val before = parquetFilesByDir(LakeFixture.bloomIdxDataDir(spark, sfDir))
    LakeServeQueries.queries("pipeline_compaction_exec")(spark, sfDir).count()
    val after = parquetFilesByDir(LakeFixture.compactedDir(spark, sfDir))
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"months with >1 file after compaction: ${after.filter(_._2 > 1)}")
    assert(after.size == before.size, "partition count changed by compaction")
    assert(after.values.sum <= before.values.sum,
      s"file count grew: ${before.values.sum} -> ${after.values.sum}")
  }

  // Compaction's index maintenance: the re-built sidecars must describe
  // exactly the compacted tree (1:1 file sets, true n_rows) and still
  // SKIP — the whole point of carrying the index through the rewrite.
  test("compaction lookup: re-built sidecars describe the compacted tree and still skip") {
    import spark.implicits._
    val idx = spark.read.parquet(LakeFixture.compactedIdxDir(spark, sfDir))
      .select($"file", $"n_rows").as[(String, Long)].collect().toMap
    val actual = spark.read.parquet(LakeFixture.compactedDir(spark, sfDir))
      .select(input_file_name().as("f"))
      .groupBy($"f").count().as[(String, Long)].collect()
      .map { case (f, n) => LakeIndex.normPath(f) -> n }.toMap
    assert(idx.keySet == actual.keySet,
      s"compacted index/tree drift: onlyIdx=${idx.keySet -- actual.keySet} " +
        s"onlyTree=${actual.keySet -- idx.keySet}")
    assert(idx.forall { case (f, n) => actual(f) == n },
      "stale n_rows in the compacted index")
    val (matched, total) = LakeProtocol.matchedFilesInIndex(spark,
      LakeFixture.compactedIdxDir(spark, sfDir),
      Seq(7L, 212L, 388L, 701L, 994L, 1207L, 1403L).toDF("k"))
    assert(matched.nonEmpty && matched.length < total,
      s"compacted index stopped skipping: ${matched.length} of $total files")
  }

  // Delete EXECUTION metadata story (the oracles pin the data; these pin
  // the mutation's bookkeeping): (a) the reconciled sidecar index describes
  // exactly the post-delete tree — file sets equal 1:1 and every n_rows
  // matches a physical recount, so the index survived the mutation in sync;
  // (b) retained (bloom-unmatched) files carried over by REFERENCE — same
  // file name, same byte size, i.e. the rewrite touched only matched files;
  // (c) erased orders are unfindable THROUGH the new index: scanning only
  // its matched files yields zero purge rows.
  test("delete exec: reconciled index describes the post-delete tree exactly") {
    import spark.implicits._
    val root = LakeFixture.deleteExecDir(spark, sfDir)
    val idx = spark.read.parquet(s"$root/index")
      .select($"file", $"n_rows").as[(String, Long)].collect().toMap
    val actual = spark.read.parquet(s"$root/data")
      .select(input_file_name().as("f"))
      .groupBy($"f").count().as[(String, Long)].collect()
      .map { case (f, n) => LakeIndex.normPath(f) -> n }.toMap
    assert(idx.keySet == actual.keySet,
      s"index/tree drift: onlyIdx=${idx.keySet -- actual.keySet} " +
        s"onlyTree=${actual.keySet -- idx.keySet}")
    val badCounts = idx.filter { case (f, n) => actual(f) != n }
    assert(badCounts.isEmpty, s"stale n_rows after reconcile: $badCounts")
  }

  test("delete exec: unmatched files are retained by reference, not rewritten") {
    import spark.implicits._
    val root = LakeFixture.deleteExecDir(spark, sfDir)
    val keys = LakeFixture.eraseOrderKeys(spark, sfDir)
    val (matched, total) = LakeFixture.bloomIdxMatchedFilesFor(spark, sfDir, keys)
    val matchedSet = matched.map(LakeIndex.normPath).toSet
    val oldData = LakeIndex.normPath(LakeFixture.bloomIdxDataDir(spark, sfDir))
    val newData = s"$root/data"
    val retained = spark.read.parquet(oldData).inputFiles
      .map(LakeIndex.normPath).filterNot(matchedSet.contains)
    assert(retained.nonEmpty && matched.nonEmpty && matched.length < total)
    retained.foreach { f =>
      val dst = java.nio.file.Paths.get(newData + f.stripPrefix(oldData))
      assert(java.nio.file.Files.isRegularFile(dst),
        s"retained file missing from post-delete tree: $dst")
      assert(java.nio.file.Files.size(dst) ==
        java.nio.file.Files.size(java.nio.file.Paths.get(f)),
        s"retained file was rewritten: $dst")
    }
  }

  test("delete exec: erased orders are unfindable via the reconciled index") {
    import spark.implicits._
    val root = LakeFixture.deleteExecDir(spark, sfDir)
    val keys = LakeFixture.eraseOrderKeys(spark, sfDir)
    val (files, _) = LakeProtocol.matchedFilesInIndex(spark, s"$root/index", keys)
    val survivors = LakeProtocol.readMatchedFiles(spark, s"$root/data", files.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_semi").count()
    assert(survivors == 0L, s"$survivors purge rows survive the delete")
  }

  // MERGE (upsert) execution metadata story — the oracles pin the data;
  // these pin the mutation's bookkeeping: (a) the reconciled sidecar index
  // describes exactly the post-merge tree (1:1 files, true n_rows);
  // (b) every batch key — updated orders AND synthetic inserts — is
  // findable THROUGH the new index with exactly its batch rows: updates
  // carry qty+1 (replacement happened once, not zero or twice), inserts
  // exist with their single line; (c) wave-1-erased orders NOT re-inserted
  // by the batch stay gone.
  test("merge exec: reconciled index describes the post-merge tree exactly") {
    import spark.implicits._
    val root = LakeFixture.mergeExecDir(spark, sfDir)
    val idx = spark.read.parquet(s"$root/index")
      .select($"file", $"n_rows").as[(String, Long)].collect().toMap
    val actual = spark.read.parquet(s"$root/data")
      .select(input_file_name().as("f"))
      .groupBy($"f").count().as[(String, Long)].collect()
      .map { case (f, n) => LakeIndex.normPath(f) -> n }.toMap
    assert(idx.keySet == actual.keySet,
      s"post-merge index/tree drift: onlyIdx=${idx.keySet -- actual.keySet} " +
        s"onlyTree=${actual.keySet -- idx.keySet}")
    val badCounts = idx.filter { case (f, n) => actual(f) != n }
    assert(badCounts.isEmpty, s"stale n_rows after merge reconcile: $badCounts")
  }

  test("merge exec: batch keys served exactly once with replaced values; non-batch erased keys stay gone") {
    import spark.implicits._
    val root = LakeFixture.mergeExecDir(spark, sfDir)
    val batch = LakeFixture.mergeUpsertRows(spark, sfDir)
      .select($"l_orderkey".as("k"), $"qty", $"net_cents")
    val (files, _) = LakeProtocol.matchedFilesInIndex(
      spark, s"$root/index", batch.select($"k").distinct())
    val served = LakeProtocol.readMatchedFiles(spark, s"$root/data", files.toSeq)
      .join(batch.select($"k").distinct(), $"l_orderkey" === $"k", "left_semi")
      .select($"l_orderkey", $"qty", $"net_cents")
    // served batch rows ≡ the batch, row-for-row (replacement exactly once)
    val extra = served.exceptAll(
      batch.select($"k".as("l_orderkey"), $"qty", $"net_cents")).count()
    val missing = batch.select($"k".as("l_orderkey"), $"qty", $"net_cents")
      .exceptAll(served).count()
    assert(extra == 0L && missing == 0L,
      s"merge batch drift through the index: extra=$extra missing=$missing")
    // wave-1 erased orders whose customers are NOT %293 targets stay gone
    val goneKeys = graft.Tables.orders(spark, sfDir)
      .filter($"o_custkey" % 271 === 0 && $"o_custkey" % 293 =!= 0)
      .select($"o_orderkey".as("k"))
    val (gFiles, _) = LakeProtocol.matchedFilesInIndex(
      spark, s"$root/index", goneKeys)
    val survivors = LakeProtocol.readMatchedFiles(spark, s"$root/data", gFiles.toSeq)
      .join(goneKeys, $"l_orderkey" === $"k", "left_semi").count()
    assert(survivors == 0L,
      s"$survivors wave-1-erased rows resurfaced through the merge")
  }

  // Streaming sidecar APPEND: after the last micro-batch, the
  // incrementally-appended bloom index describes the streamed tree exactly
  // — file sets 1:1 and every n_rows a true physical recount (a batch
  // whose files never got sidecar rows, or one indexed twice, fails
  // here), and the streamed serve still skips most of the layout.
  test("stream bloom ingest: appended sidecars describe the streamed tree 1:1 and still skip") {
    import spark.implicits._
    val root = graft.streaming.Streaming.bloomStreamDir(spark, sfDir)
    val idx = spark.read.parquet(s"$root/index")
      .select($"file", $"n_rows").as[(String, Long)].collect()
    assert(idx.map(_._1).distinct.length == idx.length,
      "a data file carries more than one sidecar row — double-indexed batch")
    val actual = spark.read.parquet(s"$root/data")
      .select(input_file_name().as("f"))
      .groupBy($"f").count().as[(String, Long)].collect()
      .map { case (f, n) => LakeIndex.normPath(f) -> n }.toMap
    val idxMap = idx.toMap
    assert(idxMap.keySet == actual.keySet,
      s"streamed index/tree drift: onlyIdx=${idxMap.keySet -- actual.keySet} " +
        s"onlyTree=${actual.keySet -- idxMap.keySet}")
    val badCounts = idxMap.filter { case (f, n) => actual(f) != n }
    assert(badCounts.isEmpty, s"stale n_rows in streamed sidecars: $badCounts")
    val (matched, total) = LakeProtocol.matchedFilesInIndex(
      spark, s"$root/index", LakeFixture.BloomIdxKeys.toDF("k"))
    assert(matched.length < total,
      s"streamed index stopped skipping: ${matched.length} of $total files")
  }

  // MV maintenance through the MERGE: months that neither lost rows to the
  // replacement nor gained batch rows carry over from wave 1's MV by
  // reference (same file names/sizes), and the whole refreshed view equals
  // a from-scratch daily rollup of the post-merge tree — incremental
  // refresh ≡ rebuild under an upsert, including the months the insert
  // slice CREATED.
  test("merge exec: MV untouched months carried over, refreshed view ≡ rebuild") {
    import spark.implicits._
    val w1 = LakeFixture.deleteExecDir(spark, sfDir)
    val root = LakeFixture.mergeExecDir(spark, sfDir)
    val batch = LakeFixture.mergeUpsertRows(spark, sfDir)
    val keys = batch.select($"l_orderkey".as("k")).distinct()
    val (matched, _) = LakeProtocol.matchedFilesInIndex(
      spark, s"$w1/index", keys)
    val touched = LakeProtocol.readMatchedFiles(spark, s"$w1/data", matched.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_semi")
      .select($"ship_month")
      .unionByName(batch.select($"ship_month"))
      .distinct().as[String].collect().toSet
    val oldMv = java.nio.file.Paths.get(s"$w1/mv")
    val newMv = java.nio.file.Paths.get(s"$root/mv")
    import scala.jdk.CollectionConverters._
    val untouched = java.nio.file.Files.list(oldMv).iterator().asScala
      .filter(_.getFileName.toString.startsWith("ship_month="))
      .filterNot(p => touched(p.getFileName.toString.stripPrefix("ship_month=")))
      .toSeq
    assert(untouched.nonEmpty && touched.nonEmpty)
    untouched.foreach { md =>
      java.nio.file.Files.list(md).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).foreach { f =>
          val dst = newMv.resolve(md.getFileName.toString)
            .resolve(f.getFileName.toString)
          assert(java.nio.file.Files.isRegularFile(dst) &&
            java.nio.file.Files.size(dst) == java.nio.file.Files.size(f),
            s"untouched MV month not carried over by reference: $dst")
        }
    }
    val rebuilt = spark.read.parquet(s"$root/data")
      .groupBy($"ship_month", $"ship_day")
      .agg(count(lit(1)).as("n_items"), sum($"qty").as("sum_qty"),
        sum($"net_cents").as("revenue_cents"))
    val served = spark.read.parquet(s"$root/mv")
      .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
        $"revenue_cents")
    assert(served.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(served).isEmpty,
      "merge-refreshed MV diverges from a from-scratch rebuild")
  }

  // Time travel isolation: the manifest-addressed read of snapshot k scans
  // exactly manifest(k)'s files — no file of any LATER snapshot ever opens
  // (the Iceberg snapshot-pinning contract), and the manifests partition
  // the chain (every snapshot's list is non-empty and base-consistent).
  test("time travel: snapshot reads open exactly their manifest's files, never a later snapshot's") {
    import spark.implicits._
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    val manifest = spark.read.parquet(s"$meta/manifests")
      .select($"snap_id", $"file").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(manifest.keySet == Set(0L, 1L, 2L, 3L, 4L))
    manifest.foreach { case (id, fs) => assert(fs.nonEmpty, s"empty manifest $id") }
    Seq(0L, 2L, 3L).foreach { k =>
      val opened = LakeFixture.readSnapshot(spark, sfDir, k)
        .inputFiles.map(LakeIndex.normPath).toSet
      assert(opened == manifest(k),
        s"snapshot $k scan drifted from its manifest: " +
          s"extra=${opened -- manifest(k)} missing=${manifest(k) -- opened}")
      val later = (k + 1 to 4L).flatMap(manifest(_)).toSet
      assert((opened & later).isEmpty,
        s"snapshot $k read opened files of a later snapshot: ${opened & later}")
    }
  }

  // Mutation composability: after the SECOND erase wave — planned through
  // the MERGE's reconciled sidecars — the wave-2 index still describes its
  // tree exactly, and BOTH erase sets are unfindable through it.
  test("delete exec wave 2: index consistent after sequential mutations; both erase sets gone") {
    import spark.implicits._
    val root = LakeFixture.deleteExec2Dir(spark, sfDir)
    val idx = spark.read.parquet(s"$root/index")
      .select($"file", $"n_rows").as[(String, Long)].collect().toMap
    val actual = spark.read.parquet(s"$root/data")
      .select(input_file_name().as("f"))
      .groupBy($"f").count().as[(String, Long)].collect()
      .map { case (f, n) => LakeIndex.normPath(f) -> n }.toMap
    assert(idx == actual,
      s"wave-2 index/tree drift: onlyIdx=${idx.keySet -- actual.keySet} " +
        s"onlyTree=${actual.keySet -- idx.keySet} " +
        s"badCounts=${idx.filter { case (f, n) => actual.get(f).exists(_ != n) }}")
    val bothKeys = graft.Tables.orders(spark, sfDir)
      .join(graft.Tables.customer(spark, sfDir)
        .filter($"c_custkey" % 271 === 0 || $"c_custkey" % 337 === 0)
        .select($"c_custkey"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey".as("k"))
    val (files, _) = LakeProtocol.matchedFilesInIndex(spark, s"$root/index", bothKeys)
    val survivors = LakeProtocol.readMatchedFiles(spark, s"$root/data", files.toSeq)
      .join(bothKeys, $"l_orderkey" === $"k", "left_semi").count()
    assert(survivors == 0L,
      s"$survivors purge rows survive after two sequential deletes")
  }

  // MV maintenance through the mutation: untouched month partitions carry
  // over by reference (same file names and sizes as the pre-delete MV),
  // and the refreshed view as a whole equals a from-scratch daily rollup
  // of the post-delete tree — incremental refresh ≡ rebuild.
  test("delete exec: MV untouched months carried over, refreshed view ≡ rebuild") {
    import spark.implicits._
    val root = LakeFixture.deleteExecDir(spark, sfDir)
    val keys = LakeFixture.eraseOrderKeys(spark, sfDir)
    val (matched, _) = LakeFixture.bloomIdxMatchedFilesFor(spark, sfDir, keys)
    val touched = LakeFixture.readBloomMatched(spark, sfDir, matched.toSeq)
      .join(keys, $"l_orderkey" === $"k", "left_semi")
      .select($"ship_month").distinct().as[String].collect().toSet
    val oldMv = java.nio.file.Paths.get(
      LakeIndex.normPath(LakeFixture.mvRollupDir(spark, sfDir)))
    val newMv = java.nio.file.Paths.get(s"$root/mv")
    import scala.jdk.CollectionConverters._
    val untouched = java.nio.file.Files.list(oldMv).iterator().asScala
      .filter(_.getFileName.toString.startsWith("ship_month="))
      .filterNot(p => touched(p.getFileName.toString.stripPrefix("ship_month=")))
      .toSeq
    assert(untouched.nonEmpty && touched.nonEmpty)
    untouched.foreach { md =>
      val files = java.nio.file.Files.list(md).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      files.foreach { f =>
        val dst = newMv.resolve(md.getFileName.toString)
          .resolve(f.getFileName.toString)
        assert(java.nio.file.Files.isRegularFile(dst) &&
          java.nio.file.Files.size(dst) == java.nio.file.Files.size(f),
          s"untouched MV month not carried over by reference: $dst")
      }
    }
    val rebuilt = spark.read.parquet(s"$root/data")
      .groupBy($"ship_month", $"ship_day")
      .agg(count(lit(1)).as("n_items"), sum($"qty").as("sum_qty"),
        sum($"net_cents").as("revenue_cents"))
    val served = spark.read.parquet(s"$root/mv")
      .select($"ship_month", $"ship_day", $"n_items", $"sum_qty",
        $"revenue_cents")
    assert(served.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(served).isEmpty,
      "incremental-refreshed MV diverges from a from-scratch rebuild")
  }
}
