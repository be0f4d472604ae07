package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Chunker

/** Exact numeric backing for the cdc_shift_resilience contract: the driver
  * query carries threshold booleans (DuckDB cannot re-derive CDC cut
  * points); this spec recomputes the reuse fractions with the PURE core
  * chunkers on the driver — fully independent of the Spark Generator path —
  * and pins the measured bands, plus the per-document resync property the
  * corpus-level numbers summarize.
  */
class ShiftResilienceSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"
  private val Prefix = "SHIFTED::"

  private def texts(): Array[String] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select($"text").as[String].collect()
  }

  private def reuse(algo: String, expected: Int): (Double, Int) = {
    val c = Chunker(algo, expected, 42L)
    def hashes(ts: Array[String], prefix: String): Set[Seq[Byte]] =
      ts.iterator.flatMap { t =>
        val data = (prefix + t).getBytes("UTF-8")
        c.chunks(data).iterator.map { case (off, len) =>
          data.slice(off, off + len).toSeq
        }
      }.toSet
    val ts = texts()
    val orig = hashes(ts, "")
    val shif = hashes(ts, Prefix)
    ((orig intersect shif).size.toDouble / orig.size, orig.size)
  }

  test("core-chunker reuse fractions sit in the pinned bands (AE/Rabin high, FastCDC mid, fixed ~0)") {
    val (ae, _) = reuse("ae", 37 + 256)
    val (fc, _) = reuse("fastcdc", 64)
    val (rb, _) = reuse("rabin", 64)
    val (fx, _) = reuse("fixed", 64)
    assert(ae >= 0.75, s"ae reuse $ae")      // measured 0.82-0.83 at all SFs
    assert(rb >= 0.70, s"rabin reuse $rb")   // measured 0.77-0.78
    assert(fc >= 0.25 && fc <= 0.60, s"fastcdc reuse $fc") // measured 0.37-0.41
    assert(fx <= 0.05, s"fixed reuse $fx")   // measured < 0.01
    // the contract's 20%/60% thresholds hold with margin
    assert(ae >= 0.60 && rb >= 0.60 && fc >= 0.20)
  }

  test("per-document resync: AE boundaries beyond the first chunk realign at +prefix offset") {
    val c = Chunker("ae", 37 + 256, 42L)
    val sample = texts().filter(_.length > 200).take(50)
    assert(sample.nonEmpty)
    var resynced = 0
    sample.foreach { t =>
      val a = c.boundaries(t.getBytes("UTF-8")).toSet
      val b = c.boundaries((Prefix + t).getBytes("UTF-8")).map(_ - Prefix.length).toSet
      // once the rolling window clears the injected prefix the extremum
      // positions coincide, so SOME original boundary reappears shifted
      if ((a intersect b).nonEmpty) resynced += 1
    }
    assert(resynced * 10 >= sample.length * 8,
      s"only $resynced/${sample.length} docs resynced")
  }

  test("driver contract row agrees with the core recomputation's verdicts") {
    import spark.implicits._
    val rows = CdcQueries.queries("cdc_shift_resilience")(spark, sfDir)
      .select($"algo", $"tiles_orig", $"tiles_shift", $"resyncs_20pct", $"resyncs_60pct")
      .as[(String, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(rows.keySet == Set("ae", "fastcdc", "fixed", "rabin"))
    rows.values.foreach { case (to, ts, _, _) => assert(to && ts, "tiling broken") }
    assert(rows("ae") == ((true, true, true, true)))
    assert(rows("rabin") == ((true, true, true, true)))
    assert(rows("fastcdc") == ((true, true, true, false)))
    assert(rows("fixed") == ((true, true, false, false)))
  }
}
