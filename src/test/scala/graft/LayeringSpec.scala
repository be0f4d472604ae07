package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-layout guards over `src/main/scala`: the lake connector and
  * protocol layer (`graft.sources`) never reaches up into the query
  * layer (`graft.operators`), no source file grows past 2,500 lines,
  * with no per-file exemption, DataFrame code reaches the native
  * expressions through `graft.plans.Native`, not by SQL name, and only
  * `graft/sources/lake` writes a lake metadata table.
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

  private val MetaTable =
    """["/](manifests|snapshots|refs_log|refs|manifests_all|gc_deleted|catalog_log|commit_log|publish_log|manifest_list|tableschema)["/]|["/]manifest/group=""".r

  /** The `.parquet(…)` calls in `src` that WRITE (the nearest preceding
    * `.write` comes after the nearest `.read`) to a path naming a lake
    * metadata table, as their argument text.
    */
  private def metaTableWrites(src: String): Seq[String] =
    """\.parquet\(""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      val before = src.substring(0, m.start)
      val isWrite = """\.write\b""".r.findAllMatchIn(before).map(_.start).maxOption
        .exists(w => """\.read\w*\b""".r.findAllMatchIn(before).forall(_.start < w))
      var depth = 1
      var i = m.end
      while (i < src.length && depth > 0) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      val arg = src.substring(m.end, i - 1)
      if (isWrite && MetaTable.findFirstIn(arg).nonEmpty) Some(arg) else None
    }

  test("the metadata-table write detector flags writes and passes reads") {
    assert(metaTableWrites("""rows.coalesce(1)
      |  .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      |rows.write.parquet(s"$root/catalog_log")
      |rows.write.parquet(root.resolve(s"manifest/group=$g").toString)""".stripMargin).size == 3)
    assert(metaTableWrites("""x.write.parquet(dir)
      |s.read.parquet(s"$meta/manifests")
      |Tables.readCached(s, b).parquet(s"$meta/snapshots")
      |rows.write.parquet(root.resolve("pos").toString)""".stripMargin).isEmpty)
  }

  test("no file outside graft/sources/lake writes a lake metadata table") {
    val lake = root.resolve("graft/sources/lake")
    val offenders = scalaFiles(root).filterNot(_.startsWith(lake)).flatMap(p =>
      metaTableWrites(Files.readString(p)).map(a => s"${root.relativize(p)}: .parquet($a)"))
    assert(offenders.isEmpty, offenders.mkString("; "))
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
