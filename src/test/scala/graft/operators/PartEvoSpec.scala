package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural contracts of partition evolution
  * ([[LakeFixture.partEvoDir]]): the evolved table loses nothing at the
  * cutover seam, each layout leg actually PRUNES under its own partition
  * scheme, and the seam is exact (no row lives in both legs).
  */
class PartEvoSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  private def root = LakeFixture.partEvoDir(spark, sfDir)

  test("old ∪ new equals the fact exactly; the seam is clean") {
    import spark.implicits._
    val cols = Seq("l_orderkey", "qty", "net_cents", "ship_day").map(col)
    val old = spark.read.parquet(s"$root/old").select(cols: _*)
    val neu = spark.read.parquet(s"$root/new").select(cols: _*)
    val src = graft.Tables.lineitem(spark, sfDir).select(
      $"l_orderkey", $"l_quantity".cast("long").as("qty"),
      expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
        .as("net_cents"),
      to_date($"l_shipdate").as("ship_day"))
    val both = old.unionByName(neu)
    assert(both.exceptAll(src).isEmpty && src.exceptAll(both).isEmpty,
      "evolution lost or duplicated rows")
    // seam exactness: strictly before/after the cutover date
    assert(old.agg(max($"ship_day")).head().getDate(0).toString < "1998-01-01")
    assert(neu.agg(min($"ship_day")).head().getDate(0).toString >= "1998-01-01")
  }

  test("both legs prune under their own partition scheme") {
    import spark.implicits._
    def opened(df: org.apache.spark.sql.DataFrame): Long = df
      .select(col("_metadata.file_path")).distinct().count()
    val oldAll = spark.read.parquet(s"$root/old")
    val neuAll = spark.read.parquet(s"$root/new")
    val wLo = java.time.LocalDate.parse("1998-01-01").toEpochDay / 7
    val wHi = java.time.LocalDate.parse("1998-03-15").toEpochDay / 7
    val oldPruned = opened(
      oldAll.filter($"ship_month".isin("1997-11", "1997-12")))
    val neuPruned = opened(neuAll.filter($"ship_week".between(wLo, wHi)))
    assert(oldPruned > 0 && neuPruned > 0)
    assert(oldPruned < opened(oldAll) / 4,
      s"month leg barely pruned: $oldPruned of ${opened(oldAll)}")
    assert(neuPruned < opened(neuAll) / 2,
      s"week leg barely pruned: $neuPruned of ${opened(neuAll)}")
    // the week transform is FINER than the month one past the cutover:
    // more partitions over the same span
    val nWeeks = neuAll.select($"ship_week").distinct().count()
    val nMonthsNew = neuAll
      .select(date_format($"ship_day", "yyyy-MM")).distinct().count()
    assert(nWeeks > nMonthsNew * 3,
      s"week grain not finer: $nWeeks weeks vs $nMonthsNew months")
  }
}
