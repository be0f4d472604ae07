package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.{LakeIndex, LakeProtocol}

/** Model-based randomized tests for the copy-on-write mutation engine
  * ([[LakeProtocol.applyMutation]]): for seeded random (base tree, delete
  * key set, upsert batch) triples — including keys matching nothing, a
  * month losing ALL its rows, inserts creating brand-new month
  * partitions, and replace-and-reinsert overlaps — the mutated snapshot
  * must equal a plain in-memory reference model:
  *
  *   result rows  ≡ base rows with keyed rows removed, plus the batch;
  *   sidecar index ≡ the physical tree, 1:1 files with true row counts;
  *   refreshed MV  ≡ a from-scratch daily rollup of the result.
  *
  * The driver-facing queries pin one specific fixture chain; this spec
  * pins the ENGINE across the input space the fixtures don't reach.
  */
private[operators] case class MutR(k: Long, qty: Long, cents: Long, day: String) {
  def month: String = day.substring(0, 7)
}

class MutationModelSpec extends AnyFunSuite with graft.SharedSpark {

  private type R = MutR
  private def R(k: Long, qty: Long, cents: Long, day: String): MutR =
    MutR(k, qty, cents, day)

  private def toDf(rows: Seq[R]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "qty", "cents", "day")
      .select($"k".as("l_orderkey"), $"qty", $"cents".as("net_cents"),
        to_date($"day").as("ship_day"),
        substring($"day", 1, 7).as("ship_month"))
  }

  private def daily(df: DataFrame): DataFrame =
    df.groupBy(col("ship_month"), col("ship_day"))
      .agg(count(lit(1)).as("n_items"), count(col("qty")).as("n_qty"),
        sum(col("qty")).as("sum_qty"),
        sum(col("net_cents")).as("revenue_cents"))

  /** Write a (data, index, mv) snapshot triple for `rows` and return its
    * three paths — the same layout the production fixtures use.
    */
  private def writeSnapshot(rows: Seq[R]): (String, String, String) = {
    val root = graft.Fixtures.tempDir("graft_mutmodel")
    val dataDir = root.resolve("data").toString
    val idxDir = root.resolve("index").toString
    val mvDir = root.resolve("mv").toString
    // several files per month: repartition by key so bloom skipping has
    // real per-file selectivity to plan with
    toDf(rows).repartition(3, col("l_orderkey"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(dataDir)
    val data = spark.read.parquet(dataDir)
    LakeProtocol.bloomIndexRows(spark, data, data.inputFiles.length)
      .write.mode("overwrite").parquet(idxDir)
    daily(data).write.mode("overwrite").partitionBy("ship_month").parquet(mvDir)
    (dataDir, idxDir, mvDir)
  }

  private def readRows(dir: String): Seq[R] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select(col("l_orderkey"), col("qty"), col("net_cents"),
        date_format(col("ship_day"), "yyyy-MM-dd"))
      .as[(Long, Long, Long, String)].collect()
      .map { case (k, q, c, d) => MutR(k, q, c, d) }.toSeq
  }

  private def multiset(rows: Seq[R]): Map[R, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  for (seed <- Seq(1, 2, 3, 42, 99, 271)) {
    test(s"applyMutation matches the reference model (seed $seed)") {
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val months = Seq("1995-01", "1995-02", "1995-03", "1995-04")
      val base = Seq.tabulate(30 + rnd.nextInt(30)) { i =>
        val m = months(rnd.nextInt(months.length))
        R(rnd.nextInt(15).toLong, 1L + rnd.nextInt(10),
          100L + rnd.nextInt(900), s"$m-${"%02d".format(1 + rnd.nextInt(28))}")
      }
      // delete keys: a random subset of the key space, including keys with
      // no rows at all (probes that match nothing)
      val delKeys = (0L to 16L).filter(_ => rnd.nextBoolean()).toSet
      // upsert batch (sometimes absent — pure delete): replacement rows
      // under existing keys plus inserts under fresh keys, some landing in
      // a month the base tree has no partition for
      val batch: Seq[R] =
        if (rnd.nextBoolean()) Seq.empty
        else {
          val replaced = (0L to 14L).filter(_ => rnd.nextInt(4) == 0).flatMap { k =>
            Seq.fill(1 + rnd.nextInt(2))(R(k, 50L + rnd.nextInt(10),
              1000L + rnd.nextInt(100),
              s"${months(rnd.nextInt(months.length))}-15"))
          }
          val inserted = Seq.tabulate(rnd.nextInt(4)) { i =>
            R(100L + i, 1L, 7L, if (rnd.nextBoolean()) "1995-05-01"
              else s"${months.head}-03")
          }
          replaced ++ inserted
        }
      val mutKeys = delKeys ++ batch.map(_.k)
      val (dataDir, idxDir, mvDir) = writeSnapshot(base)
      val out = LakeProtocol.applyMutation(spark, graft.Fixtures.tempDir("graft_mutout"),
        dataDir, idxDir, mvDir, mutKeys.toSeq.toDF("k"),
        if (batch.isEmpty) None else Some(toDf(batch)))

      // 1. data ≡ model
      val expected = base.filterNot(r => mutKeys(r.k)) ++ batch
      assert(multiset(readRows(s"$out/data")) == multiset(expected),
        s"seed $seed: mutated tree diverged from the reference model " +
          s"(del=$delKeys batch=${batch.size})")

      // 2. index ≡ tree, true counts
      val idx = spark.read.parquet(s"$out/index")
        .select($"file", $"n_rows").as[(String, Long)].collect().toMap
      val actual = spark.read.parquet(s"$out/data")
        .select(input_file_name().as("f")).groupBy($"f").count()
        .as[(String, Long)].collect()
        .map { case (f, n) => LakeIndex.normPath(f) -> n }.toMap
      assert(idx == actual, s"seed $seed: index/tree drift")

      // 3. MV ≡ from-scratch rollup of the model
      val served = spark.read.parquet(s"$out/mv")
        .select($"ship_month", $"ship_day", $"n_items", $"n_qty",
          $"sum_qty", $"revenue_cents")
      val rebuilt = daily(toDf(expected))
        .select($"ship_month", $"ship_day", $"n_items", $"n_qty",
          $"sum_qty", $"revenue_cents")
      assert(served.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(served).isEmpty,
        s"seed $seed: refreshed MV diverged from the model rollup")
    }
  }
}
