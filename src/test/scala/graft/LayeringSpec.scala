package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-layout guards over `src/main/scala`: the lake connector and
  * protocol layer (`graft.sources`) never reaches up into the query
  * layer (`graft.operators`), and no source file grows past 2,500 lines.
  * Files that were already longer when the limit came in are listed with
  * their line count at that time; they may shrink, never grow.
  */
class LayeringSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private val MaxLines = 2500
  private val overLimitCeilings = Map(
    "graft/operators/Similarity.scala" -> 2703)

  test("nothing under graft/sources names graft.operators") {
    val offenders = scalaFiles(root.resolve("graft/sources")).filter(p =>
      Files.readString(p).contains("graft.operators"))
    assert(offenders.isEmpty, s"graft.sources imports the query layer: ${offenders.mkString(", ")}")
  }

  test("no source file exceeds 2,500 lines, and the older long ones do not grow") {
    val files = scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val tooLong = files.flatMap { p =>
      val rel = root.relativize(p).toString
      val n = Files.readAllLines(p).size
      val limit = overLimitCeilings.getOrElse(rel, MaxLines)
      if (n > limit) Some(s"$rel: $n lines > $limit") else None
    }
    assert(tooLong.isEmpty, tooLong.mkString("; "))
  }
}
