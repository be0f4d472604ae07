package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Each `Profile` mode runs end to end on one query and prints its result
  * line, so the CLI cannot rot unnoticed. No timing is asserted.
  */
class ProfileSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val query = "q01_pricing_summary"

  private def profile(mode: String): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Profile.run(spark, Array(mode, sfDir, query)))
    out.toString("UTF-8").linesIterator.toSeq
  }

  private def assertLine(lines: Seq[String], pattern: String): Unit =
    assert(lines.exists(_.matches(pattern)), s"no line matching $pattern in:\n${lines.mkString("\n")}")

  test("time prints the warm count and noop medians") {
    assertLine(profile("time"), s"TIME $query rows=\\d+ count_s=[0-9.]+ noop_s=[0-9.]+")
  }

  test("jobs prints the median pass's job and stage table") {
    val lines = profile("jobs")
    assertLine(lines, s"JOBS $query rows=\\d+ sec=[0-9.]+ master=local\\[4\\] jobs=[1-9]\\d* stages=\\d+ tasks=\\d+")
    assertLine(lines, "  job +\\d+ +[0-9.]+s")
  }

  test("explain prints the formatted and the executed plan") {
    val lines = profile("explain")
    assertLine(lines, s"EXPLAIN $query rows=\\d+ executed plan:")
    assert(lines.exists(_.contains("AdaptiveSparkPlan isFinalPlan=true")))
  }

  test("smoke counts the query and reports no failure") {
    val lines = profile("smoke")
    assertLine(lines, s"OK   $query rows=\\d+")
    assert(lines.last == "SMOKE failed=0 of 1")
  }
}
