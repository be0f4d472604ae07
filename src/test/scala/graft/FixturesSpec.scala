package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** `Fixtures.memo` and `Fixtures.dirKey` on plain temp directories — no
  * Spark: the memo's keying, build-once, nesting and failure cleanup are
  * properties of the helper, not of any fixture built through it.
  */
class FixturesSpec extends AnyFunSuite {

  /** A source directory with one file, mtime pinned. */
  private def sourceDir(): Path = {
    val d = Fixtures.tempDir("graft_spec_src")
    write(d.resolve("a.parquet"), "alpha", 1700000000000L)
    d
  }

  private def write(p: Path, body: String, mtime: Long): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, body)
    p.toFile.setLastModified(mtime)
  }

  private def keysOf(name: String): Int =
    Fixtures.memos.keySet.toArray.count(_.toString.startsWith(name + "|"))

  test("memo builds once under 8 concurrent callers of one key") {
    val d = sourceDir().toString
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val results = (0 until 8).map { _ =>
        Future {
          start.await()
          Fixtures.memo("graft_spec_once", d) { dir =>
            builds.incrementAndGet()
            Thread.sleep(50L) // keep the build open while the others arrive
            dir.toString
          }
        }
      }
      start.countDown()
      val dirs = Await.result(Future.sequence(results), 60.seconds).toSet
      assert(builds.get == 1)
      assert(dirs.size == 1)
      assert(Files.isDirectory(java.nio.file.Paths.get(dirs.head)))
    } finally pool.shutdownNow()
  }

  // 256 nested entries force the map to resize (and bins to collide)
  // while the outer build is in flight: a build run inside
  // computeIfAbsent would throw "Recursive update" here.
  test("a build may memo other fixtures (no Recursive update)") {
    val d = sourceDir().toString
    val outer = Fixtures.memo("graft_spec_outer", d) { dir =>
      val inner = (0 until 256).map(i =>
        Fixtures.memo(s"graft_spec_inner$i", d)(_.toString))
      (dir.toString, inner)
    }
    val again = (0 until 256).map(i =>
      Fixtures.memo[String](s"graft_spec_inner$i", d)(_ => fail("rebuilt")))
    assert(outer._2 == again && again.distinct.size == 256)
    assert(keysOf("graft_spec_outer") == 1 && keysOf("graft_spec_inner7") == 1)
  }

  test("a throwing build leaves no entry and no directory; the next call rebuilds") {
    val d = sourceDir().toString
    var failedDir: Path = null
    val e = intercept[IllegalStateException] {
      Fixtures.memo[String]("graft_spec_throws", d) { dir =>
        failedDir = dir
        Files.writeString(dir.resolve("half-built"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(failedDir != null && !Files.exists(failedDir))
    assert(keysOf("graft_spec_throws") == 0)
    val rebuilt = Fixtures.memo("graft_spec_throws", d)(_.toString)
    assert(rebuilt != failedDir.toString && Files.isDirectory(
      java.nio.file.Paths.get(rebuilt)))
    assert(keysOf("graft_spec_throws") == 1)
  }

  test("touching or adding a file under d rebuilds into a new directory") {
    val src = sourceDir()
    val d = src.toString
    val builds = new AtomicInteger()
    def get(): String = Fixtures.memo("graft_spec_fresh", d) { dir =>
      builds.incrementAndGet(); dir.toString
    }
    val first = get()
    assert(get() == first && builds.get == 1)
    src.resolve("a.parquet").toFile.setLastModified(1700000060000L)
    val touched = get()
    assert(touched != first && builds.get == 2)
    write(src.resolve("part=1/b.parquet"), "beta", 1700000000000L)
    val added = get()
    assert(added != touched && added != first && builds.get == 3)
    assert(get() == added && builds.get == 3)
  }

  test("dirKey is independent of walk order and changes on size, mtime and file count") {
    def fingerprint(p: Path): String = Fixtures.dirKey(p.toString).split('#')(1)
    val files = Seq("x.parquet" -> "one", "sub/y.parquet" -> "two!",
      "sub/z.parquet" -> "three")
    val fwd = Fixtures.tempDir("graft_spec_fwd")
    val rev = Fixtures.tempDir("graft_spec_rev")
    files.foreach { case (f, b) => write(fwd.resolve(f), b, 1700000000000L) }
    files.reverse.foreach { case (f, b) => write(rev.resolve(f), b, 1700000000000L) }
    val base = fingerprint(fwd)
    assert(fingerprint(rev) == base)
    // the file system walks both trees in one (name-hash) order, so every
    // other order is checked on the fold itself
    val entries = files.map { case (f, b) => (f, b.length.toLong, 1700000000000L) }
    entries.permutations.foreach(p => assert(Fixtures.fingerprint(p) == base))

    write(rev.resolve("x.parquet"), "ONE!", 1700000000000L) // size only
    val sized = fingerprint(rev)
    assert(sized != base)
    rev.resolve("x.parquet").toFile.setLastModified(1700000001000L) // mtime only
    val timed = fingerprint(rev)
    assert(timed != sized)
    write(rev.resolve("w.parquet"), "", 1700000000000L) // count only (0 bytes)
    assert(fingerprint(rev) != timed)
  }
}
