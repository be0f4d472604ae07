package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic contracts of the greedy no-straddle packer
  * (pipeline_pack_greedy): the distributed per-shard fold is replayed by
  * a plain single-threaded Scala loop over independently tokenized text,
  * and the packing obeys the closed-form accounting identities and the
  * dominance relation against the split-allowed lower bound.
  */
class PackGreedySpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"
  private val Cap = 96L

  private def got: Map[Long, (Long, Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    PipelineOps.queries("pipeline_pack_greedy")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toMap
  }

  test("the per-shard fold replays in plain Scala over raw text") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expected = docs
      .map { case (id, text) =>
        (id % 16, id, text.trim.split("\\s+").length.toLong + 1L)
      }
      .groupBy(_._1).map { case (shard, ds0) =>
        val ds = ds0.sortBy(_._2).map(_._3)
        var fill = 0L; var nWin = 0L; var pad = 0L
        var nTrunc = 0L; var truncTok = 0L; var effSum = 0L
        ds.foreach { n0 =>
          val n = math.min(n0, Cap)
          if (n0 > Cap) { nTrunc += 1; truncTok += n0 - Cap }
          effSum += n
          if (fill + n > Cap) { pad += Cap - fill; nWin += 1; fill = n }
          else fill += n
        }
        if (fill > 0) { pad += Cap - fill; nWin += 1 }
        shard -> (ds.length.toLong, ds.sum, nTrunc, truncTok, nWin, pad,
          (effSum + Cap - 1) / Cap)
      }
    assert(got == expected,
      s"divergent shards: ${(got.toSet diff expected.toSet).take(2)}")
  }

  test("accounting identities and split-bound dominance hold per shard") {
    got.foreach { case (shard,
        (nDocs, nTokens, nTrunc, truncTok, nWin, pad, binsSplit)) =>
      val effSum = nTokens - truncTok
      // every window is exactly Cap tokens of payload + padding
      assert(nWin * Cap == effSum + pad, s"shard $shard: window accounting")
      // no-straddle can never beat the split-allowed bin count...
      assert(nWin >= binsSplit, s"shard $shard: dominance")
      // ...and at this corpus the constraint must actually COST something
      // somewhere (otherwise the query demonstrates nothing)
      assert(nDocs > 0 && nTokens > 0)
      assert(truncTok >= 0 && nTrunc <= nDocs)
      // truncation only ever removes tokens beyond the cap
      if (nTrunc == 0) assert(truncTok == 0L)
    }
    // corpus-level: the no-straddle premium and the truncation path are
    // both exercised at sf0.01
    val all = got.values
    assert(all.map(_._5).sum > all.map(_._7).sum,
      "greedy never paid a no-straddle premium — cap too loose for corpus")
    assert(all.map(_._3).sum > 0, "no doc exceeded the cap — trunc path dead")
  }
}
