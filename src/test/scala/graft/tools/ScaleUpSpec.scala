package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The scale-rehearsal dataset builder must preserve the invariants the
  * bench interpretation rests on: row counts ×reps for scaling tables (dims
  * fixed), disjoint keys across replicas (no accidental join fan-out),
  * referential integrity within each replica, constant dup density (replica
  * texts never collide), and norm-preserving embedding perturbation.
  */
class ScaleUpSpec extends AnyFunSuite with graft.SharedSpark {

  test("2x scale-up of sf0.001 preserves the bench invariants") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("scaleup_spec").toString
    ScaleUp.run(spark, src, out, reps = 2)

    def n(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    // dims fixed, scaling tables exactly doubled
    assert(n(out, "region") == n(src, "region") && n(out, "nation") == n(src, "nation"))
    Seq("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { t =>
      assert(n(out, t) == 2 * n(src, t), s"$t not doubled")
    }
    // keys stay unique (replica offset cannot collide with base ids)
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, k) =>
      val df = spark.read.parquet(s"$out/$t.parquet")
      assert(df.select(k).distinct().count() == df.count(), s"$t.$k collided")
    }
    // referential integrity: every scaled lineitem still finds its order
    val li = spark.read.parquet(s"$out/lineitem.parquet").select($"l_orderkey")
    val ok = spark.read.parquet(s"$out/orders.parquet").select($"o_orderkey")
    assert(li.join(ok, li("l_orderkey") === ok("o_orderkey"), "left_anti").count() == 0)
    // constant dup density: replica texts never equal base texts
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.select($"text").distinct().count() ==
      2 * spark.read.parquet(s"$src/documents.parquet").select($"text").distinct().count(),
      "replica texts collided with base texts — dup density inflated")
    // n_chars stays consistent with the perturbed text
    assert(docs.filter(length($"text").cast("long") =!= $"n_chars").count() == 0)
    // rotation is a pure permutation: sorted element multisets are identical
    // (implies exactly preserved norms; avoids float-sum order sensitivity)
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
      .select($"vec_id", array_sort($"embedding").as("se"))
    val base = emb.filter($"vec_id" < 10000000L)
    val rep = emb.filter($"vec_id" >= 10000000L)
      .select(($"vec_id" - 10000000L).as("vec_id"), $"se".as("ser"))
    assert(base.join(rep, "vec_id").filter($"se" =!= $"ser").count() == 0,
      "embedding rotation is not a permutation of the base vector")
  }

  test("embedding perturbations stay pairwise-distinct past 64 replicas (100x rehearsal)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // One generic 64-dim vector through every replica slot a 100x run uses:
    // plain rotation wraps at 64 (rotation 64 = identity) — the reversal leg
    // must keep replicas 64..99 distinct from 0..63 and from each other.
    val v = Array.tabulate(64)(i => math.sin(i * 1.37) + 0.01 * i)
    val one = Seq(Tuple1(v)).toDF("embedding")
    val perturbed = one.select(
      (0 until 100).map(r => ScaleUp.perturbEmbedding($"embedding", r).as(s"p$r")): _*)
      .head()
    val vecs = (0 until 100).map(r => perturbed.getSeq[Double](r).toVector)
    assert(vecs.distinct.size == 100, "replica perturbations collided — dup density inflated")
    // every perturbation is a permutation: same sorted multiset of elements
    vecs.foreach(p => assert(p.sorted == v.toVector.sorted))
  }
}
