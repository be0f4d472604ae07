package graft.sources.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[LakeCommit.author]] deletes the metadata root of a commit the catalog
  * refuses: each kind of root the connector authors — a snapshot commit,
  * a CREATE TABLE world and an ALTER TABLE world — is driven with a stale
  * expected version, the CAS must refuse it, and no root of that kind
  * created during the attempt may survive.
  */
class LakeCommitSpec extends AnyFunSuite with graft.SharedSpark {

  private def roots(prefix: String): Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  /** A fresh catalog whose table `t` is one CREATE TABLE world at v0. */
  private def catalog(): (String, CatalogPointer) = {
    val cat = graft.Fixtures.tempDir("graft_commitspec")
    LakeCommit.emptyCatalog(spark, cat)
    LakeCommit.schemaWorld(spark, cat.toString, "t", -1L, None, Seq(("k", "BIGINT", false)))
    (cat.toString, LakeCommit.catalogPointer(spark, cat.toString, "t", None).get)
  }

  private def refusedLeavingNoRoot(prefix: String)(attempt: => Unit): Unit = {
    val before = roots(prefix)
    val e = intercept[IllegalArgumentException](attempt)
    assert(e.getMessage.contains("CAS failed"), s"expected a CAS refusal, got: ${e.getMessage}")
    val leaked = roots(prefix) -- before
    assert(leaked.isEmpty, s"a refused commit left its metadata root: $leaked")
  }

  test("a snapshot commit with a stale expected version deletes its root") {
    val (cat, p) = catalog()
    val stale = LakeMutationCtx(cat, "t", p.version - 1, p.metaRoot, p.snapId)
    refusedLeavingNoRoot("graft_lakecommit") {
      LakeCommit.commitSnapshot(spark, stale, graft.Fixtures.tempDir("graft_lakecommit"),
        "append", keep = Some(_ => true), add = _ => Seq.empty)
    }
  }

  test("a CREATE TABLE world with a stale expected version deletes its root") {
    val (cat, p) = catalog()
    refusedLeavingNoRoot("graft_lakecreate") {
      LakeCommit.schemaWorld(spark, cat, "t", p.version - 1, None, Seq(("k", "BIGINT", false)))
    }
  }

  test("an ALTER TABLE world with a stale expected version deletes its root") {
    val (cat, p) = catalog()
    refusedLeavingNoRoot("graft_lakealter") {
      LakeCommit.schemaWorld(spark, cat, "t", p.version - 1, Some(p),
        Seq(("k", "BIGINT", false), ("v", "STRING", false)))
    }
  }
}
