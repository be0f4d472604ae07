package graft.operators

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Plan-snapshot regression guard over EVERY driver query (VERDICT r9 #5):
  * PlanQualitySpec pins ~a dozen hand-picked plans; this spec records the
  * load-bearing plan-shape counters — shuffle exchanges, broadcast
  * exchanges, Generate nodes, cartesian products, sort-merge joins, and
  * ScalaUDF expressions — for ALL SparkEntry queries and diffs them against
  * a committed manifest, so a planner regression in ANY query (a broadcast
  * silently degrading to sort-merge, a new shuffle, a UDF sneaking into a
  * native path) fails `sbt test` instead of waiting for a bench anomaly.
  *
  * Counts are taken from the INITIAL physical plan with AQE unwrapped
  * (static-plan facts; AQE's runtime coalescing doesn't change what was
  * planned) at sf0.001, and are deterministic: the cache manager is cleared
  * before each query so one query's .cache() cannot rewrite another's plan
  * into an InMemoryRelation scan.
  *
  * On an INTENTIONAL plan change, regenerate and commit:
  * {{{ GRAFT_REGEN_PLAN_MANIFEST=1 sbt "testOnly graft.operators.PlanManifestSpec" }}}
  *
  * Building a stream_*_replay query's frame runs its (cached-per-JVM)
  * replay once — their manifest rows cover the downstream judging query.
  */
class PlanManifestSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val manifestPath = Paths.get("src/test/resources/plan_manifest.tsv")

  test("every query's plan-shape counters match the committed manifest") {
    val current: Seq[(String, String)] =
      graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        spark.sharedState.cacheManager.clearCache()
        name -> PlanStats.of(fn(spark, sfDir)).render
      }
    spark.sharedState.cacheManager.clearCache()
    val rendered = current.map { case (n, c) => s"$n\t$c" }.mkString("", "\n", "\n")

    if (sys.env.contains("GRAFT_REGEN_PLAN_MANIFEST")) {
      Files.createDirectories(manifestPath.getParent)
      Files.writeString(manifestPath, rendered)
      info(s"manifest regenerated with ${current.size} queries — commit $manifestPath")
    } else {
      assert(Files.exists(manifestPath),
        s"no committed manifest at $manifestPath — regenerate with GRAFT_REGEN_PLAN_MANIFEST=1")
      val committed = Files.readString(manifestPath)
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(n, c) = l.split("\t", 2); n -> c
        }.toMap
      val missing = current.collect { case (n, _) if !committed.contains(n) => n }
      val stale = committed.keySet -- current.map(_._1).toSet
      val changed = current.collect {
        case (n, c) if committed.get(n).exists(_ != c) =>
          s"$n\n  manifest: ${committed(n)}\n  current:  $c"
      }
      assert(missing.isEmpty && stale.isEmpty && changed.isEmpty,
        s"""plan manifest drift (regenerate with GRAFT_REGEN_PLAN_MANIFEST=1 if intentional):
           |missing from manifest: ${missing.mkString(", ")}
           |no longer existing:    ${stale.mkString(", ")}
           |changed plans:
           |${changed.mkString("\n")}""".stripMargin)
    }
  }
}
