package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Chunker
import graft.operators.Chunking

class BinaryFilesSpec extends AnyFunSuite with graft.SharedSpark {

  private def writeCorpus(): Path = {
    val dir = Files.createTempDirectory("graft_corpus")
    val r = new scala.util.Random(11)
    val shared = new Array[Byte](4096); r.nextBytes(shared)
    val uniqueA = new Array[Byte](2048); r.nextBytes(uniqueA)
    val uniqueB = new Array[Byte](2048); r.nextBytes(uniqueB)
    Files.write(dir.resolve("a.bin"), shared ++ uniqueA)
    Files.write(dir.resolve("b.bin"), shared ++ uniqueB) // duplicated prefix
    Files.write(dir.resolve("skip.txt"), "not binary corpus".getBytes)
    dir
  }

  test("binaryFile corpus chunking matches the core chunker per file; dedup finds the shared prefix") {
    import spark.implicits._
    val dir = writeCorpus()
    try {
      val chunks = Chunking.chunkFiles(spark, dir.toString, "fastcdc", 512, 42L,
        glob = Some("*.bin"))
      val perFile = chunks.select($"id", $"chunk_idx", $"offset", $"length")
        .as[(String, Int, Int, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
      assert(perFile.size == 2, "glob filtered the non-.bin file")

      val core = Chunker("fastcdc", 512, 42L)
      for ((p, got) <- perFile) {
        val bytes = Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(p)))
        assert(got == core.chunks(bytes).toSeq, s"file $p")
      }

      // shared 4 KiB prefix ⇒ cross-file duplicate chunks ⇒ coeff < 1
      val m = Chunking.dedupMetrics(spark, dir.toString, "fastcdc", 512, 42L)
        .select($"dedup_coeff").as[Double].head()
      assert(m < 0.9, s"expected cross-file dedup, coeff=$m")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }
}
