package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.lake.LakeProtocol

import graft.sources.lake.LakeCommit

/** Contracts of the catalog pointer layer ([[LakeFixture.catalogDir]] /
  * [[LakeCommit.catalogCommit]]) the time-travel oracle cannot see: the
  * compare-and-swap commit protocol, append-only history, and that the
  * current pointer resolves to the rollback world.
  */
class CatalogSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def log = {
    import spark.implicits._
    spark.read.parquet(s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
  }

  test("history is append-only with dense versions; current = rollback") {
    val l = log
    assert(l.map(_._1).toSeq == Seq(0L, 1L))
    assert(l.forall(_._2 == "ship_fact"))
    assert(l.last._4 == 5L, "current pointer is not the rollback snapshot")
    // and the two versions resolve to DIFFERENT metadata worlds
    assert(l.map(_._3).distinct.length == 2)
  }

  test("CAS: a stale swap refuses; a current one appends exactly one row") {
    import spark.implicits._
    // scratch catalog so the commit cannot disturb the shared fixture
    val scratch = graft.Fixtures.tempDir("graft_cat_scratch")
      .resolve("catalog_log").toString
    spark.read.parquet(
        s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val ex = intercept[IllegalArgumentException] {
      LakeCommit.catalogCommit(spark, scratch, "ship_fact",
        expectedVersion = 0L, metaRoot = "/nowhere", snapId = 9L)
    }
    assert(ex.getMessage.contains("re-resolve"),
      "stale CAS should direct the loser to re-resolve")
    val before = spark.read.parquet(scratch).count()
    val v = LakeCommit.catalogCommit(spark, scratch, "ship_fact",
      expectedVersion = 1L,
      metaRoot = LakeFixture.snapshotMetaDir(spark, sfDir), snapId = 4L)
    assert(v == 2L)
    assert(spark.read.parquet(scratch).count() == before + 1L)
    // the failed CAS appended NOTHING
    assert(before == 2L)
    // and the new head serves the repointed world (back to the w2 tip)
    val head = spark.read.parquet(scratch)
      .orderBy($"version".desc).limit(1)
      .select($"meta_root", $"snap_id").as[(String, Long)].head()
    val viaCatalog = LakeProtocol.readSnapshotFrom(spark, head._1, head._2)
    val direct = LakeFixture.readSnapshot(spark, sfDir, 4L)
    assert(viaCatalog.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaCatalog).isEmpty)
  }

  test("multi-table commit is all-or-nothing") {
    import spark.implicits._
    val scratch = graft.Fixtures.tempDir("graft_cat_scratch3")
      .resolve("catalog_log").toString
    spark.read.parquet(
        s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    // one stale expectation poisons the WHOLE transaction — neither
    // table's pointer moves
    val before = spark.read.parquet(scratch).count()
    intercept[IllegalArgumentException] {
      LakeCommit.catalogCommitAll(spark, scratch, Seq(
        ("ship_fact", 1L, meta, 4L),
        ("rollup", 5L, meta, 4L))) // rollup doesn't exist: current is -1
    }
    assert(spark.read.parquet(scratch).count() == before,
      "a failed multi-table commit leaked rows")
    // a valid transaction advances BOTH tables in one appended file
    val vs = LakeCommit.catalogCommitAll(spark, scratch, Seq(
      ("ship_fact", 1L, meta, 4L),
      ("rollup", -1L, meta, 0L)))
    assert(vs == Seq(2L, 0L))
    val heads = spark.read.parquet(scratch)
      .groupBy($"table_name").agg(max($"version").as("v"))
      .as[(String, Long)].collect().toMap
    assert(heads == Map("ship_fact" -> 2L, "rollup" -> 0L))
  }

  test("two same-process racers cannot both win the CAS") {
    import spark.implicits._
    val scratch = graft.Fixtures.tempDir("graft_cat_race")
      .resolve("catalog_log").toString
    spark.read.parquet(
        s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    // both commit against expected v1; the per-log monitor serializes
    // them, so exactly ONE appends v2 and the other refuses
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 2).map(_ => Future {
      try Right(LakeCommit.catalogCommit(spark, scratch, "ship_fact",
        expectedVersion = 1L, metaRoot = meta, snapId = 4L))
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    })), 120.seconds).toList
    assert(results.count(_.isRight) == 1 && results.count(_.isLeft) == 1,
      s"CAS race produced $results")
    val v2rows = spark.read.parquet(scratch)
      .filter($"table_name" === "ship_fact" && $"version" === 2L).count()
    assert(v2rows == 1L, "duplicate version rows after the race")
  }

  // VERDICT r15 #8: the two-racer test serializes one round; this is the
  // MutationModelSpec treatment for the catalog — N seeded writer threads
  // each trying to land K commits, every CAS loser re-resolving the
  // current version and retrying with seeded jitter. Pins: every writer
  // eventually lands all its commits (no lost commit), versions come out
  // DENSE with exactly one winner per version (no duplicate, no gap), and
  // the total equals N·K — the linearizability contract a real catalog's
  // conditional-PUT provides, exercised through the same code path the
  // queries use.
  test("N randomized writers under CAS: exactly one winner per version, " +
      "no lost commits (seeded stress)") {
    import spark.implicits._
    val scratch = graft.Fixtures.tempDir("graft_cat_stress")
      .resolve("catalog_log").toString
    spark.read.parquet(
        s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val meta = LakeFixture.snapshotMetaDir(spark, sfDir)
    val writers = 6
    val commitsEach = 3
    val startVersion = 1L // ship_fact's current in the seeded log
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def currentVersion(): Long = spark.read.parquet(scratch)
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    val landed = Await.result(Future.sequence((0 until writers).map { w =>
      Future {
        val rnd = new scala.util.Random(1000L + w) // seeded per writer
        var done = 0
        val won = scala.collection.mutable.ArrayBuffer[Long]()
        var attempts = 0
        while (done < commitsEach) {
          attempts += 1
          assert(attempts < 500, s"writer $w livelocked")
          val expect = currentVersion() // loser re-resolves, never blind
          try {
            won += LakeCommit.catalogCommit(spark, scratch, "ship_fact",
              expectedVersion = expect, metaRoot = meta, snapId = 4L)
            done += 1
          } catch {
            case _: IllegalArgumentException =>
              Thread.sleep(rnd.nextInt(20).toLong) // seeded backoff
          }
        }
        won.toList
      }
    }), 600.seconds).toList
    val allWon = landed.flatten.sorted
    // no lost commits: every writer landed exactly its K
    assert(landed.forall(_.size == commitsEach))
    // exactly one winner per version, versions dense from the start point
    assert(allWon == (startVersion + 1 to
      startVersion + writers * commitsEach).toList,
      s"won versions not dense/unique: $allWon")
    // and the LOG agrees: one row per version, no duplicates
    val logRows = spark.read.parquet(scratch)
      .filter($"table_name" === "ship_fact" && $"version" > startVersion)
      .groupBy($"version").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(logRows.map(_._1).toList == allWon)
    assert(logRows.forall(_._2 == 1L), "duplicate version row in the log")
  }

  test("a brand-new table CASes from version -1") {
    import spark.implicits._
    val scratch = graft.Fixtures.tempDir("graft_cat_scratch2")
      .resolve("catalog_log").toString
    spark.read.parquet(
        s"${LakeFixture.catalogDir(spark, sfDir)}/catalog_log")
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val v = LakeCommit.catalogCommit(spark, scratch, "docs",
      expectedVersion = -1L,
      metaRoot = LakeFixture.snapshotMetaDir(spark, sfDir), snapId = 0L)
    assert(v == 0L)
    // table namespaces are independent: ship_fact's current is untouched
    val cur = spark.read.parquet(scratch)
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    assert(cur == 1L)
  }
}
