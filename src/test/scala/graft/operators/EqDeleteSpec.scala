package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeIndex

/** Structural contracts of the EQUALITY-delete strategy (Iceberg v2
  * equality delete files) that the DuckDB oracles cannot see:
  *
  *  - the delete write opens ZERO data files — structurally provable
  *    because the delete file's schema carries no file/position column
  *    at all, and the snapshot root holds nothing but keys + pointer;
  *  - the key sets are exact (wave 1 ≡ the erase keys, merge ≡ the
  *    batch keys);
  *  - scan-time apply equals the copy-on-write delete row-for-row, and
  *    the composed merge serve equals the copy-on-write MERGE — i.e.
  *    all three delete strategies (CoW, position, equality) converge;
  *  - the SEQUENCE rule is load-bearing: a sequence-ignorant reader
  *    wrongly kills the batch rows that re-insert wave-1-erased keys
  *    (customer 0 sits in both waves), and the rows it loses are
  *    EXACTLY that re-inserted set.
  */
class EqDeleteSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def dataCols = Seq("l_orderkey", "l_partkey", "qty", "net_cents",
    "ship_day", "ship_month")

  test("equality delete is keys + sequence only — zero data files touched") {
    import spark.implicits._
    val root = PipelineOps.eqDeleteDir(spark, sfDir)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/data_base.txt"))
    assert(base == LakeIndex.normPath(PipelineOps.bloomIdxDataDir(spark, sfDir)))
    // the snapshot root holds the delete file and the pointer, nothing else
    val entries = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(entries == Set("eq_deletes", "data_base.txt"), entries.toString)
    // the schema CANNOT address a file or a position — the structural
    // proof the write never resolved keys against the tree
    val del = spark.read.parquet(s"$root/eq_deletes")
    assert(del.columns.toSet == Set("k", "seq_del"), del.columns.mkString(","))
    // key set exactness, wave 1
    val got = del.select($"k").as[Long].collect().sorted
    val want = PipelineOps.eraseOrderKeys(spark, sfDir)
      .as[Long].collect().sorted
    assert(got.sameElements(want))
    assert(del.filter($"seq_del" =!= 1L).count() == 0L)
    // merge wave: keys ≡ the batch's distinct keys, all at sequence 2
    val mg = spark.read.parquet(s"${PipelineOps.eqMergeDir(spark, sfDir)}/eq_deletes")
    val gotM = mg.select($"k").as[Long].collect().sorted
    val wantM = PipelineOps.mergeUpsertRows(spark, sfDir)
      .select($"l_orderkey").distinct().as[Long].collect().sorted
    assert(gotM.sameElements(wantM))
    assert(mg.filter($"seq_del" =!= 2L).count() == 0L)
  }

  test("equality serve equals the copy-on-write delete row-for-row") {
    val eq = PipelineOps.eqServeRead(spark, sfDir).select(dataCols.map(col): _*)
    val cow = spark.read
      .parquet(s"${PipelineOps.deleteExecDir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
    assert(eq.exceptAll(cow).isEmpty && cow.exceptAll(eq).isEmpty,
      "equality-delete state diverges from the copy-on-write delete")
  }

  test("composed equality merge equals the copy-on-write merge row-for-row") {
    val eq = PipelineOps.eqMergeServe(spark, sfDir).select(dataCols.map(col): _*)
    val cow = spark.read
      .parquet(s"${PipelineOps.mergeExecDir(spark, sfDir)}/data")
      .select(dataCols.map(col): _*)
    assert(eq.exceptAll(cow).isEmpty && cow.exceptAll(eq).isEmpty,
      "equality-delete merge state diverges from the copy-on-write merge")
  }

  test("the sequence rule is load-bearing: seq-ignorant apply loses re-inserts") {
    import spark.implicits._
    val w1 = PipelineOps.eqDeleteDir(spark, sfDir)
    val mg = PipelineOps.eqMergeDir(spark, sfDir)
    val base = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$w1/data_base.txt"))
    val dels = spark.read.parquet(s"$w1/eq_deletes")
      .unionByName(spark.read.parquet(s"$mg/eq_deletes"))
    val legs = spark.read.parquet(base)
      .unionByName(spark.read.parquet(s"$mg/batch"))
    // the counterfactual: apply every delete to every leg, no sequence
    val naive = legs.join(broadcast(dels.select($"k").distinct()),
      legs("l_orderkey") === col("k"), "left_anti")
    val seqAware = PipelineOps.eqMergeServe(spark, sfDir)
      .select(dataCols.map(col): _*)
    val lost = seqAware.exceptAll(naive.select(dataCols.map(col): _*))
    // what the naive reader loses is EXACTLY the batch rows whose keys a
    // delete file names — the re-inserted/replaced rows (customer 0's
    // wave-1 keys AND every merge-replaced key: the batch re-adds them,
    // the merge's own seq-2 delete must not kill its own batch)
    val expected = spark.read.parquet(s"$mg/batch")
      .join(broadcast(dels.select($"k").distinct()),
        col("l_orderkey") === col("k"), "left_semi")
      .select(dataCols.map(col): _*)
    assert(expected.count() > 0L, "fixture lost its observable: no overlap")
    assert(lost.exceptAll(expected).isEmpty && expected.exceptAll(lost).isEmpty,
      "sequence-rule delta is not the re-inserted row set")
    // and nothing else differs
    assert(naive.select(dataCols.map(col): _*).exceptAll(seqAware).isEmpty)
    // the double-wave observable specifically: customer 0's keys sit in
    // BOTH delete files, and the batch rows re-inserting them are among
    // what the naive reader loses
    val doubleWave = spark.read.parquet(s"$w1/eq_deletes").select($"k")
      .join(spark.read.parquet(s"$mg/eq_deletes").select($"k"), Seq("k"),
        "left_semi")
    assert(doubleWave.count() > 0L, "no key is in both waves")
    assert(lost.join(broadcast(doubleWave),
      lost("l_orderkey") === doubleWave("k"), "left_semi").count() > 0L)
  }

  test("eqApply matches an in-memory reference model across random inputs") {
    import spark.implicits._
    // seeded randoms over the full input space: keys hit/miss, sequence
    // equal/older/newer, duplicate keys across delete files, rows sharing
    // a key at different data sequences — the same model-testing approach
    // MutationModelSpec uses for the CoW engine
    for (seed <- Seq(7L, 41L, 1999L)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 400).map { i =>
        (rnd.nextInt(40).toLong, i.toLong, rnd.nextInt(3).toLong) }
      val dels = (0 until 60).map { _ =>
        (rnd.nextInt(50).toLong, (rnd.nextInt(3) + 1).toLong) }
      val data = rows.toDF("l_orderkey", "payload", "seq_data")
      val delDf = dels.toDF("k", "seq_del")
      val got = PipelineOps.eqApply(data, delDf)
        .select($"l_orderkey", $"payload", $"seq_data")
        .as[(Long, Long, Long)].collect().sorted
      val want = rows.filterNot { case (key, _, sd) =>
        dels.exists { case (k, s) => k == key && s > sd } }
        .sorted
      assert(got.toSeq == want.toSeq, s"seed $seed diverged from the model")
      assert(want.nonEmpty && want.size < rows.size, s"seed $seed degenerate")
    }
  }
}
