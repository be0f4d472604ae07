package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-layout guards over `src/main/scala`: the lake connector and
  * protocol layer (`graft.sources`) never reaches up into the query
  * layer (`graft.operators`), no source file grows past 2,500 lines,
  * with no per-file exemption, and DataFrame code reaches the native
  * expressions through `graft.plans.Native`, not by SQL name.
  */
class LayeringSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private val MaxLines = 2500

  test("nothing under graft/sources names graft.operators") {
    val offenders = scalaFiles(root.resolve("graft/sources")).filter(p =>
      Files.readString(p).contains("graft.operators"))
    assert(offenders.isEmpty, s"graft.sources imports the query layer: ${offenders.mkString(", ")}")
  }

  test("no call_function: DataFrame code builds native expressions through Native") {
    val offenders = scalaFiles(root).filter(p => Files.readString(p).contains("call_function"))
    assert(offenders.isEmpty, s"by-name calls: ${offenders.mkString(", ")}")
  }

  test("GraftExtensions.register runs only in GraftSession and the three SQL-text entry points") {
    val Entry = """.*"(\w+_sql)".*""".r
    val sites = scalaFiles(root).flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains("GraftExtensions.register(")).map { i =>
        if (p.endsWith("graft/GraftSession.scala")) "GraftSession"
        else lines.lift(i - 1).collect { case Entry(name) => name }
          .getOrElse(s"${root.relativize(p)}:${i + 1}")
      }
    }
    assert(sites.sorted == Seq("GraftSession", "cdc_chunks_generator_sql",
      "dedup_minhash_pairs_sql", "sim_lsh_topk_sql"), sites.mkString(", "))
  }

  test("no source file exceeds 2,500 lines, and the older long ones do not grow") {
    val files = scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val tooLong = files.flatMap { p =>
      val rel = root.relativize(p).toString
      val n = Files.readAllLines(p).size
      if (n > MaxLines) Some(s"$rel: $n lines > $MaxLines") else None
    }
    assert(tooLong.isEmpty, tooLong.mkString("; "))
  }
}
