package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Text guard over EVERY DuckDB oracle: one `name<TAB>sha256(sql)` line per
  * `SparkEntry.oracleSql` entry, diffed against a committed manifest. The
  * oracle is the independent reference each query is judged by, so a
  * refactor of the strings that build it (shared CTE helpers, hoisted
  * literals) must leave every emitted text byte-identical; this spec makes
  * that a tier-1 failure instead of a hand check. Spark-free: building the
  * oracle map starts no session.
  *
  * On an INTENTIONAL oracle change, regenerate and commit (the same switch
  * as the plan manifest):
  * {{{ GRAFT_REGEN_PLAN_MANIFEST=1 sbt "testOnly graft.OracleManifestSpec" }}}
  */
class OracleManifestSpec extends AnyFunSuite {

  private val manifestPath = Paths.get("src/test/resources/oracle_manifest.tsv")

  private def sha256(text: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  test("every oracle's SQL text matches the committed manifest") {
    val current: Seq[(String, String)] =
      SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (n, sql) => n -> sha256(sql) }
    val rendered = current.map { case (n, h) => s"$n\t$h" }.mkString("", "\n", "\n")

    if (sys.env.contains("GRAFT_REGEN_PLAN_MANIFEST")) {
      Files.createDirectories(manifestPath.getParent)
      Files.writeString(manifestPath, rendered)
      info(s"manifest regenerated with ${current.size} oracles — commit $manifestPath")
    } else {
      assert(Files.exists(manifestPath),
        s"no committed manifest at $manifestPath — regenerate with GRAFT_REGEN_PLAN_MANIFEST=1")
      val committed = Files.readString(manifestPath)
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(n, h) = l.split("\t", 2); n -> h
        }.toMap
      val missing = current.collect { case (n, _) if !committed.contains(n) => n }
      val stale = committed.keySet -- current.map(_._1).toSet
      val changed = current.collect { case (n, h) if committed.get(n).exists(_ != h) => n }
      assert(missing.isEmpty && stale.isEmpty && changed.isEmpty,
        s"""oracle text drift (regenerate with GRAFT_REGEN_PLAN_MANIFEST=1 if intentional):
           |missing from manifest: ${missing.mkString(", ")}
           |no longer existing:    ${stale.mkString(", ")}
           |changed oracle text:   ${changed.mkString(", ")}""".stripMargin)
    }
  }
}
