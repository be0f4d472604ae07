package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data builder (VERDICT r7 #3): derive an sf1-equivalent
  * dataset from sf0.1 by unioning `reps` key-remapped replicas of every
  * scaling table (region/nation stay fixed, as in TPC-H). Replicas are made
  * textually/vectorially DISTINCT — each replica's doc text gets a
  * per-replica token suffix and its embeddings are rotated — so duplicate
  * and near-dup DENSITY stays constant with scale (the realistic model)
  * instead of planting degenerate `reps`-way duplicate clusters that would
  * make every pair-counting query superlinear by construction.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [reps]
  * Defaults: /root/testdata/sf0.1 → /tmp/graft_sf1 × 10.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.builder("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, srcDir, outDir, reps)
    graft.Tables.names.foreach { t =>
      println(s"SCALED $t rows=" + spark.read.parquet(s"$outDir/$t.parquet").count())
    }
    spark.stop()
  }

  def run(spark: SparkSession, srcDir: String, outDir: String, reps: Int): Unit = {
    // events.ts layout varies by generator version (TESTDATA schema drift);
    // the nanosAsLong flag makes the legacy TIMESTAMP(NANOS) layout readable
    // and is a no-op on the timestamp[us] layout. ts passes through verbatim
    // either way — Tables.events normalizes whichever layout lands here.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val Off = 10000000L // per-replica key offset; >> any sf0.1 key range
    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def fan(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => f(df, r)).reduce(_ unionByName _)

    // dimension tables don't scale (TPC-H convention)
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    def shift(c: String, r: Int) = col(c) + lit(r * Off)

    wr(fan(rd("customer")) { (d, r) => d.withColumn("c_custkey", shift("c_custkey", r)) }, "customer")
    wr(fan(rd("supplier")) { (d, r) => d.withColumn("s_suppkey", shift("s_suppkey", r)) }, "supplier")
    wr(fan(rd("part")) { (d, r) => d.withColumn("p_partkey", shift("p_partkey", r)) }, "part")
    wr(fan(rd("orders")) { (d, r) =>
      d.withColumn("o_orderkey", shift("o_orderkey", r))
        .withColumn("o_custkey", shift("o_custkey", r))
    }, "orders")
    wr(fan(rd("lineitem")) { (d, r) =>
      d.withColumn("l_orderkey", shift("l_orderkey", r))
        .withColumn("l_partkey", shift("l_partkey", r))
        .withColumn("l_suppkey", shift("l_suppkey", r))
    }, "lineitem")
    wr(fan(rd("events")) { (d, r) =>
      d.withColumn("event_id", shift("event_id", r))
        .withColumn("user_id", shift("user_id", r))
    }, "events")
    // per-replica token suffix keeps cross-replica shingle overlap ~0 while
    // preserving per-replica dup structure; n_chars re-derived from the text
    wr(fan(rd("documents")) { (d, r) =>
      val txt =
        if (r == 0) col("text")
        else array_join(
          transform(split(trim(col("text")), "\\s+"), t => concat(t, lit(s"~$r"))), " ")
      d.withColumn("doc_id", shift("doc_id", r))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    // norm-preserving embedding perturbation per replica (see perturbEmbedding)
    wr(fan(rd("embeddings")) { (d, r) =>
      d.withColumn("vec_id", shift("vec_id", r))
        .withColumn("embedding", perturbEmbedding(col("embedding"), r))
    }, "embeddings")
  }

  /** 64-dim embedding vectors (TESTDATA.md); bounds the distinct perturbations. */
  private val EmbDims = 64

  /** Replica-r perturbation of an embedding: a pure permutation (rotation by
    * r mod 64, composed with a reversal every 64 replicas), so norms and
    * within-replica geometry are exactly preserved while replicas
    * decorrelate — no cross-replica exact-dup clusters. The reversal leg
    * matters above 64 replicas: a plain rotation by r would wrap (rotation
    * 64 = identity ⇒ replica 64 an exact copy of base, doubling dup density
    * precisely where a 100× rehearsal is looking for superlinear pair
    * growth). 128 distinct permutations ⇒ reps ≤ 128.
    */
  private[tools] def perturbEmbedding(c: Column, r: Int): Column = {
    require(r < 2 * EmbDims, s"only ${2 * EmbDims} distinct perturbations (got replica $r)")
    val rot = r % EmbDims
    val rotated = if (rot == 0) c else concat(slice(c, rot + 1, 100000), slice(c, 1, rot))
    if ((r / EmbDims) % 2 == 1) reverse(rotated) else rotated
  }
}
