package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Invariant contracts for the deterministic k-means and SemDeDup operators
  * (the DuckDB oracle pins outputs bit-for-bit at sf0.01; these pin the
  * semantics at spec scale and the properties the oracle can't express).
  */
class ClusteringSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("kmeans assigns every vector to exactly one cluster in [0, 8)") {
    import spark.implicits._
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val out = Clustering.queries("sim_kmeans_clusters")(spark, sfDir)
    val rows = out.select($"vec_id", $"cid", $"cluster_size").as[(Long, Long, Long)].collect()
    assert(rows.length == n)
    assert(rows.map(_._1).distinct.length == n)
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8))
    // cluster_size is consistent: the sizes column sums to n over distinct cids
    val bySize = rows.groupBy(_._2).map { case (cid, rs) =>
      assert(rs.map(_._3).distinct.length == 1, s"inconsistent size for cid $cid")
      rs.head._3
    }
    assert(bySize.sum == n)
  }

  test("kmeans is deterministic across runs and partitionings") {
    val a = Clustering.queries("sim_kmeans_clusters")(spark, sfDir).collect().toSeq
    val b = Clustering.queries("sim_kmeans_clusters")(spark, sfDir).collect().toSeq
    assert(a == b)
  }

  test("semantic dedup drops every planted exact copy, never an original's first occurrence") {
    import spark.implicits._
    val out = Clustering.queries("dedup_semantic")(spark, sfDir)
      .select($"vec_id", $"dropped").as[(Long, Boolean)].collect().toMap
    val exactCopies = out.keys.filter(id => id >= 100000 && id < 200000)
    assert(exactCopies.nonEmpty)
    // an exact copy has an identical quantized vector -> identical argmin ->
    // same cluster as its source, and cosine 1.0 to it -> always dropped
    exactCopies.foreach(id => assert(out(id), s"exact copy $id not dropped"))
    // an original doc with no smaller near-duplicate partner is never dropped:
    // originals are near-orthogonal (max pairwise cos ~0.55 < 0.85 threshold)
    out.keys.filter(_ < 100000).foreach(id => assert(!out(id), s"original $id dropped"))
  }

  test("semantic dedup drops a co-clustered near-duplicate (recall is clustering-bounded)") {
    import spark.implicits._
    val out = Clustering.queries("dedup_semantic")(spark, sfDir)
      .select($"vec_id", $"dropped").as[(Long, Boolean)].collect().toMap
    val near = out.keys.filter(_ >= 200000)
    assert(near.nonEmpty)
    // not all near-dups co-cluster with their source, but a majority should
    val droppedFrac = near.count(out(_)).toDouble / near.size
    assert(droppedFrac >= 0.5, s"near-dup drop fraction $droppedFrac")
  }

  test("skewed mega-cluster: cap bounds the pair scan, exact dups still always dropped") {
    graft.plans.GraftExtensions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A deliberately pathological single cluster: 400 exact copies of one
    // vector (ids 0-399) plus 50 DISTINCT near-duplicates (ids 1000+k,
    // v_k = normalize((1, 0.01k, 0, 0)) — all pairwise cosines >= 0.89, all
    // above the 0.85 threshold). Uncapped this is a 450² pair square; with
    // cap=16 stage 1 must absorb all 399 exact copies linearly and stage 2
    // must scan only ceil(51/16)=4 hash cells of survivors.
    val cap = 16
    val dups = (0L until 400L).map(id => (id, Array(1.0, 0.0, 0.0, 0.0)))
    val nears = (1 to 50).map { k =>
      val e = 0.01 * k
      val n = math.sqrt(1 + e * e)
      (1000L + k, Array(1.0 / n, e / n, 0.0, 0.0))
    }
    val u = (dups ++ nears).toDF("vec_id", "emb").repartition(4)
    def asgOf(uf: org.apache.spark.sql.DataFrame) = uf.select($"vec_id", $"emb",
      transform($"emb", x => round(x * 1024, 0)).as("qv"), lit(0L).as("cid"))
    val out = Clustering.semanticDropFlags(asgOf(u), cap)
      .select($"vec_id", $"dropped").as[(Long, Boolean)].collect().toMap
    assert(out.size == 450)
    // stage 1: every exact copy dropped, shard-blind (the cap cannot cost
    // exact-dedup recall); the group keeper survives
    (1L until 400L).foreach(id => assert(out(id), s"exact copy $id not dropped"))
    assert(!out(0L), "keeper of the duplicate group must survive")
    // stage 2: survivors are {0} ++ nears (51 ids); recompute their shard
    // cells with the same portable hash and assert (a) the re-split really
    // happened with a bounded max cell, (b) drops are exactly "dominated by
    // a lower-id co-sharded survivor" — all survivor pairs here are above
    // threshold, so each cell keeps only its min id
    val survivors = 0L +: (1 to 50).map(1000L + _)
    val shards = math.ceil(survivors.size / cap.toDouble).toLong
    assert(shards == 4)
    val cells = survivors.groupBy(id => Portable.h60Jvm("sc" + id) % shards)
    assert(cells.size > 1, "mega-cluster must actually re-split")
    assert(cells.values.map(_.size).max <= 2 * cap,
      s"hash cells must stay near the cap: ${cells.values.map(_.size)}")
    val expectedSurvivorDrops = cells.values.flatMap(ids => ids.sorted.drop(1)).toSet
    survivors.foreach { id =>
      assert(out(id) == expectedSurvivorDrops.contains(id),
        s"survivor $id: got ${out(id)}, expected ${expectedSurvivorDrops.contains(id)}")
    }
    // determinism across partitionings
    val out2 = Clustering.semanticDropFlags(asgOf(u.repartition(7)), cap)
      .select($"vec_id", $"dropped").as[(Long, Boolean)].collect().toMap
    assert(out2 == out)
  }

  test("OOD screen: exactly the planted magnitude outliers, with margin above the cut") {
    import spark.implicits._
    val flagged = Clustering.queries("sim_ood_report")(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val nVec = graft.Tables.embeddings(spark, sfDir).count()
    val expected = (0L until nVec).count(_ % 11 == 0)
    assert(flagged.length == expected, s"${flagged.length} flagged vs $expected planted")
    assert(flagged.forall(_._1 >= 400000L), "no natural vector may be flagged")
    assert(flagged.map(_._3).min >= 2500000L + 500000L,
      "planted outliers must clear the cut with >= 5e5 margin")
  }

  test("farthest-point init: dmin non-increasing, and coverage radius beats the stride seeds") {
    import spark.implicits._
    val picked = Clustering.queries("sim_kmeanspp_init")(spark, sfDir)
      .select($"step", $"vec_id", $"dmin").as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(picked.length == 8)
    assert(picked.map(_._2).distinct.length == 8, "a vector was picked twice")
    // the farthest-point dmin sequence is non-increasing by construction
    val ds = picked.drop(1).map(_._3)
    assert(ds.zip(ds.drop(1)).forall { case (x, y) => x >= y }, ds.mkString(","))

    // independent coverage check in plain Scala on the quantized vectors:
    // max-min distance to the chosen set must be <= dmin of a hypothetical
    // 9th pick, and <= the coverage radius of the stride seeds Lloyd uses
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, e) =>
        val n = math.sqrt(e.map(x => x.toDouble * x).sum)
        id -> e.map(x => math.rint(x / n * 1024))
      }.toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val df = a(i) - b(i); s += df * df; i += 1 }
      s
    }
    def radius(centers: Seq[Long]): Double =
      vecs.valuesIterator.map(v => centers.map(c => d2(v, vecs(c))).min).max
    val kppR = radius(picked.map(_._2).toIndexedSeq)
    val strideSeeds = vecs.keys.filter(id => id % 50 == 0 && id < 400).toSeq
    assert(strideSeeds.size == 8)
    assert(kppR <= radius(strideSeeds),
      s"farthest-point radius $kppR worse than stride seeds ${radius(strideSeeds)}")
  }
}
