package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeProtocol

/** Structural contracts of the executed Z-order layout
  * ([[LayoutQueries.zorderExecDir]]) and its stats-skipping serve that the
  * value oracles can't see: the rewrite loses nothing, the sidecar
  * matches the physical files, skipping is SOUND (truth ⊆ opened files)
  * and actually SKIPS (strictly fewer files than both the full scan and
  * the arrival-order layout's envelope match set).
  */
class ZorderExecSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  private def root = LayoutQueries.zorderExecDir(spark, sfDir)

  private def probeBounds: (Long, Long, Long, Long) = {
    import spark.implicits._
    val r = graft.Tables.lineitem(spark, sfDir)
      .agg(max($"l_partkey".cast("long")), max($"l_suppkey".cast("long")))
      .head()
    (r.getLong(0) / 4, r.getLong(0) / 2, r.getLong(1) / 4, r.getLong(1) / 2)
  }

  private def envMatched(statsDir: String): Set[String] = {
    import spark.implicits._
    val (pLo, pHi, sLo, sHi) = probeBounds
    spark.read.parquet(s"$root/$statsDir")
      .filter($"minp" <= pHi && $"maxp" >= pLo &&
        $"mins" <= sHi && $"maxs" >= sLo)
      .select($"file").as[String].collect().toSet
  }

  test("the rewrite preserves the fact rows exactly (payload multiset)") {
    import spark.implicits._
    val cols = Seq("o", "p", "sk", "qty", "net_cents").map(col)
    val z = spark.read.parquet(s"$root/zdata").select(cols: _*)
    val src = graft.Tables.lineitem(spark, sfDir).select(
      $"l_orderkey".cast("long").as("o"),
      $"l_partkey".cast("long").as("p"),
      $"l_suppkey".cast("long").as("sk"),
      $"l_quantity".cast("long").as("qty"),
      expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)")
        .as("net_cents"))
    assert(z.exceptAll(src).isEmpty && src.exceptAll(z).isEmpty)
  }

  test("sidecar rows describe the physical files 1:1 (one file per bucket)") {
    import spark.implicits._
    val stats = spark.read.parquet(s"$root/zdata_stats")
    assert(stats.count() == 64L)
    assert(stats.select($"zbkt").distinct().count() == 64L)
    val actual = spark.read.parquet(s"$root/zdata")
      .select(LakeProtocol.metaFilePath
        .as("file"), $"p", $"sk")
      .groupBy($"file")
      .agg(count(lit(1)).as("n_rows"), min($"p").as("minp"),
        max($"p").as("maxp"), min($"sk").as("mins"), max($"sk").as("maxs"))
    val side = stats.select($"file", $"n_rows", $"minp", $"maxp",
      $"mins", $"maxs")
    assert(side.exceptAll(actual).isEmpty && actual.exceptAll(side).isEmpty)
  }

  test("skipping is sound: every probe-matching row lives in an opened file") {
    import spark.implicits._
    val (pLo, pHi, sLo, sHi) = probeBounds
    val opened = envMatched("zdata_stats")
    val truthFiles = spark.read.parquet(s"$root/zdata")
      .filter($"p".between(pLo, pHi) && $"sk".between(sLo, sHi))
      .select(LakeProtocol.metaFilePath
        .as("file"))
      .distinct().as[String].collect().toSet
    assert(truthFiles.subsetOf(opened),
      s"rows outside the opened set: ${truthFiles.diff(opened).take(3)}")
  }

  test("z-order opens strictly fewer files than full scan and the linear twin") {
    val zOpen = envMatched("zdata_stats").size
    val lOpen = envMatched("ldata_stats").size
    assert(zOpen < 64, s"z-layout degenerated to a full scan ($zOpen)")
    assert(zOpen < lOpen,
      s"z-layout ($zOpen files) does not beat arrival order ($lOpen files)")
  }
}
