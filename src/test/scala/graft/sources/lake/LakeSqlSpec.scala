package graft.sources.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LakeFixture

/** The SQL surface over the lake catalog plugin ([[GraftLakeCatalog]]):
  * multi-part table names resolve through the CAS pointer log,
  * `VERSION AS OF` time-travels, `INSERT INTO` appends a snapshot,
  * key-equality `DELETE FROM` commits an equality-delete metadata world
  * (zero data files), and MERGE INTO / UPDATE / non-key DELETE rewrite
  * copy-on-write through the row-level-operation API — every mutation
  * one CAS pointer advance, history immutable.
  */
class LakeSqlSpec extends AnyFunSuite with BeforeAndAfterAll with graft.SharedSpark {

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.graft_lake",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_lake.catalogDir", scratchCatalog(spark))
  }

  private val sfDir = "/root/testdata/sf0.001"

  /** A scratch CLONE of the per-JVM catalog fixture: DELETE commits
    * append to the pointer log, which must never mutate the shared
    * fixture other queries resolve through.
    */
  private def scratchCatalog(s: SparkSession): String = {
    val root = graft.Fixtures.tempDir("graft_cat_sql")
    s.read.parquet(s"${LakeFixture.catalogDir(s, sfDir)}/catalog_log")
      .coalesce(1).write.mode("overwrite")
      .parquet(root.resolve("catalog_log").toString)
    root.toString
  }

  test("SELECT through the catalog serves the current pointer (rollback)") {
    import spark.implicits._
    val viaSql = spark.sql(
      "SELECT count(*) AS n FROM graft_lake.ship_fact").as[Long].head()
    val direct = LakeFixture.readSnapshot(spark, sfDir, 2L).count() // wave-1
    assert(viaSql == direct,
      s"catalog current ($viaSql) != the rollback state ($direct)")
  }

  test("VERSION AS OF 0 serves the pre-rollback chain tip") {
    import spark.implicits._
    val v0 = spark.sql(
      "SELECT count(*) AS n FROM graft_lake.ship_fact VERSION AS OF 0")
      .as[Long].head()
    val direct = LakeFixture.readSnapshot(spark, sfDir, 4L).count()
    assert(v0 == direct)
  }

  test("DELETE FROM with key predicates commits an equality-delete world " +
      "under CAS; time travel still serves the pre-delete state") {
    import spark.implicits._
    def count(q: String): Long = spark.sql(q).as[Long].head()
    val before = count("SELECT count(*) AS n FROM graft_lake.ship_fact")
    // two dashboard keys known to exist in the wave-1 state
    val probeRows = count("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey IN (7, 212)")
    assert(probeRows > 0, "probe keys missing — the delete would test nothing")
    spark.sql("DELETE FROM graft_lake.ship_fact WHERE l_orderkey IN (7, 212)")
    val after = count("SELECT count(*) AS n FROM graft_lake.ship_fact")
    assert(after == before - probeRows,
      s"delete removed ${before - after}, expected $probeRows")
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey IN (7, 212)") == 0L)
    // the commit is pure metadata: time travel to the pre-delete version
    // still serves every row (version 2 = the delete's commit)
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "VERSION AS OF 1") == before)
    // and the pointer log gained exactly one version
    val maxV = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    assert(maxV == 2L)
  }

  test("a stale handle's delete loses the CAS instead of clobbering") {
    // load a handle pinned at version 1, land a competing commit, then
    // try to delete through the stale handle: the CAS must refuse
    val cat = new GraftLakeCatalog()
    cat.initialize("stale_test", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("catalogDir",
        spark.conf.get("spark.sql.catalog.graft_lake.catalogDir"))))
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty, "ship_fact")
    spark.sql("SELECT count(*) FROM graft_lake.ship_fact").collect() // warm
    val stale = cat.loadTable(ident, "1")
      .asInstanceOf[GraftLakeTable]
    def commitRoots(): Set[String] = {
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_lakecommit")).toSet
      finally ls.close()
    }
    val rootsBefore = commitRoots()
    val e = intercept[IllegalArgumentException] {
      stale.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("l_orderkey", Array(388L))))
    }
    assert(e.getMessage.contains("CAS failed"),
      s"expected a CAS refusal, got: ${e.getMessage}")
    // the losing commit removes the metadata root it authored
    val leaked = commitRoots() -- rootsBefore
    assert(leaked.isEmpty, s"a lost CAS left its metadata root: $leaked")
  }

  test("INSERT INTO appends a new snapshot under CAS; time travel keeps " +
      "serving the pre-insert state") {
    import spark.implicits._
    def count(q: String): Long = spark.sql(q).as[Long].head()
    val before = count("SELECT count(*) AS n FROM graft_lake.ship_fact")
    val vBefore = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    spark.sql("""INSERT INTO graft_lake.ship_fact VALUES
      (9000000001, 11, 2, 350, DATE'1999-01-05', '1999-01'),
      (9000000002, 12, 3, 475, DATE'1999-02-07', '1999-02')""")
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact") ==
      before + 2)
    // the new rows are queryable by content AND land in their own
    // partition dirs (the reader parses ship_month back from the path)
    val got = spark.sql("SELECT l_orderkey, qty, net_cents, ship_month " +
      "FROM graft_lake.ship_fact WHERE l_orderkey >= 9000000000")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((9000000001L, 2L, 350L, "1999-01"),
      (9000000002L, 3L, 475L, "1999-02")))
    // pre-insert version unchanged; pointer advanced exactly one
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      s"VERSION AS OF $vBefore") == before)
    val vAfter = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    assert(vAfter == vBefore + 1)
  }

  test("re-inserting an equality-deleted key resurrects it (the " +
      "strictly-older sequence rule through the SQL surface)") {
    import spark.implicits._
    def count(q: String): Long = spark.sql(q).as[Long].head()
    spark.sql("DELETE FROM graft_lake.ship_fact WHERE l_orderkey = 388")
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 388") == 0L)
    // the append commits at a sequence strictly newer than the delete, so
    // the delete must NOT apply to the re-inserted row
    spark.sql("INSERT INTO graft_lake.ship_fact VALUES " +
      "(388, 13, 5, 999, DATE'1999-03-09', '1999-03')")
    val back = spark.sql("SELECT qty, net_cents FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 388").as[(Long, Long)].collect()
    assert(back.toSeq == Seq((5L, 999L)),
      "re-inserted row was wrongly killed by the older equality delete")
  }

  /** The snapshots-table op of the CURRENT pointer world — pins which
    * route a mutation took (eq_delete metadata commit vs cow_* rewrite).
    */
  private def currentOp(): String = {
    import spark.implicits._
    val metaRoot = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .orderBy($"version".desc).select($"meta_root").as[String].head()
    spark.read.parquet(s"$metaRoot/snapshots")
      .orderBy($"snap_id".desc).select($"op").as[String].head()
  }

  test("key-equality DELETE takes the zero-data-file metadata route") {
    spark.sql("DELETE FROM graft_lake.ship_fact WHERE l_orderkey = 701")
    assert(currentOp() == "eq_delete",
      s"key delete took the ${currentOp()} route, not the metadata commit")
  }

  test("non-key DELETE rewrites copy-on-write instead of refusing") {
    import spark.implicits._
    def count(q: String): Long = spark.sql(q).as[Long].head()
    val before = count("SELECT count(*) AS n FROM graft_lake.ship_fact")
    val doomed = count(
      "SELECT count(*) AS n FROM graft_lake.ship_fact WHERE qty >= 45")
    assert(doomed > 0 && doomed < before)
    spark.sql("DELETE FROM graft_lake.ship_fact WHERE qty >= 45")
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact") ==
      before - doomed)
    assert(count("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE qty >= 45") == 0L)
    assert(currentOp() == "cow_delete")
  }

  test("UPDATE rewrites copy-on-write") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    val before = one("SELECT sum(qty) AS s FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994")
    val rows = one("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994")
    assert(rows > 0)
    spark.sql("UPDATE graft_lake.ship_fact SET qty = qty + 100 " +
      "WHERE l_orderkey = 994")
    assert(one("SELECT sum(qty) AS s FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994") == before + 100 * rows)
    assert(currentOp() == "cow_update")
  }

  /** Data-file entries (path set) of the CURRENT pointer world's tip. */
  private def currentDataFiles(): Set[String] = {
    import spark.implicits._
    val metaRoot = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .orderBy($"version".desc).select($"meta_root").as[String].head()
    val snap = spark.read.parquet(s"$metaRoot/snapshots")
      .agg(max($"snap_id")).as[Long].head()
    spark.read.parquet(s"$metaRoot/manifests")
      .filter($"snap_id" === snap && $"content" === "data")
      .select($"file").as[String].collect().toSet
  }

  test("copy-on-write rewrites only the files the source touches " +
      "(runtime group pruning via the _file metadata column)") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    val before = currentDataFiles()
    assert(before.size > 10, "too few files for the pruning pin to mean anything")
    val sumBefore = one("SELECT coalesce(sum(net_cents), 0) AS s FROM " +
      "graft_lake.ship_fact WHERE l_orderkey = 994")
    val nRows = one("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994")
    assert(nRows > 0)
    spark.sql("UPDATE graft_lake.ship_fact SET net_cents = net_cents + 1 " +
      "WHERE l_orderkey = 994")
    assert(one("SELECT sum(net_cents) AS s FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994") == sumBefore + nRows)
    val after = currentDataFiles()
    val fresh = after -- before
    val carried = after.intersect(before)
    // one order's line items span a handful of ship months: without group
    // pruning EVERY live file rewrites (fresh == after.size); with it only
    // the touched months' files do
    assert(fresh.size <= 8,
      s"CoW rewrote ${fresh.size} of ${after.size} files — group pruning dead")
    assert(carried.size >= before.size - 8,
      s"only ${carried.size}/${before.size} files carried over unrewritten")
  }

  test("MERGE INTO: matched rows update, unmatched insert, one CAS commit") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    // key 388 was re-inserted by the resurrection test above; 994
    // survives (earlier tests never erase it outright) — coalesce the
    // sums anyway so a dropped key fails the n>0 assert, not the decode
    Seq((388L, 7L), (994L, 3L), (9000000777L, 4L)).toDF("k", "dq")
      .createOrReplaceTempView("merge_src")
    val before = one("SELECT count(*) AS n FROM graft_lake.ship_fact")
    val q212 = one("SELECT coalesce(sum(qty), 0) AS s FROM " +
      "graft_lake.ship_fact WHERE l_orderkey = 388")
    val n212 = one("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 388")
    val q994 = one("SELECT coalesce(sum(qty), 0) AS s FROM " +
      "graft_lake.ship_fact WHERE l_orderkey = 994")
    val n994 = one("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994")
    assert(n212 > 0 && n994 > 0, "matched keys missing — merge tests nothing")
    val vBefore = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    spark.sql("""MERGE INTO graft_lake.ship_fact t USING merge_src s
      ON t.l_orderkey = s.k
      WHEN MATCHED THEN UPDATE SET qty = t.qty + s.dq
      WHEN NOT MATCHED THEN INSERT
        (l_orderkey, l_partkey, qty, net_cents, ship_day, ship_month)
        VALUES (s.k, 1, s.dq, 555, DATE'1999-05-01', '1999-05')""")
    assert(one("SELECT sum(qty) AS s FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 388") == q212 + 7 * n212)
    assert(one("SELECT sum(qty) AS s FROM graft_lake.ship_fact " +
      "WHERE l_orderkey = 994") == q994 + 3 * n994)
    val inserted = spark.sql("SELECT qty, net_cents, ship_month " +
      "FROM graft_lake.ship_fact WHERE l_orderkey = 9000000777")
      .as[(Long, Long, String)].collect()
    assert(inserted.toSeq == Seq((4L, 555L, "1999-05")))
    assert(one("SELECT count(*) AS n FROM graft_lake.ship_fact") ==
      before + 1)
    assert(currentOp() == "cow_merge")
    // exactly one pointer advance, and the pre-merge version still serves
    val vAfter = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact")
      .agg(max($"version")).as[Long].head()
    assert(vAfter == vBefore + 1)
    assert(one("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      s"VERSION AS OF $vBefore") == before)
  }

  test("CTAS bootstraps a brand-new table purely in SQL, immediately " +
      "insertable, mutable, and time-travelable (VERDICT r16 #4)") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    spark.sql("""CREATE TABLE graft_lake.ctas_fact
      PARTITIONED BY (bucket)
      AS SELECT l_orderkey AS k, qty, ship_month AS bucket
      FROM graft_lake.ship_fact VERSION AS OF 0 WHERE l_orderkey <= 50""")
    val src = one("SELECT count(*) AS n FROM graft_lake.ship_fact " +
      "VERSION AS OF 0 WHERE l_orderkey <= 50")
    assert(src > 0)
    val n0 = one("SELECT count(*) AS n FROM graft_lake.ctas_fact")
    assert(n0 == src, s"CTAS row count $n0 != source $src")
    // content check against the source, via both partition and key filters
    val wantQty = one("SELECT sum(qty) AS s FROM graft_lake.ship_fact " +
      "VERSION AS OF 0 WHERE l_orderkey <= 50")
    assert(one("SELECT sum(qty) AS s FROM graft_lake.ctas_fact") == wantQty)
    // versions: 0 = CREATE (empty), 1 = the CTAS append
    assert(one("SELECT count(*) AS n FROM graft_lake.ctas_fact " +
      "VERSION AS OF 0") == 0L)
    // INSERT INTO the new table
    spark.sql("INSERT INTO graft_lake.ctas_fact VALUES " +
      "(8000000001, 42, '1999-09')")
    assert(one("SELECT count(*) AS n FROM graft_lake.ctas_fact") == n0 + 1)
    assert(spark.sql("SELECT qty, bucket FROM graft_lake.ctas_fact " +
      "WHERE k = 8000000001").as[(Long, String)].head() == ((42L, "1999-09")))
    // UPDATE (copy-on-write) on the new table
    spark.sql("UPDATE graft_lake.ctas_fact SET qty = qty + 100 " +
      "WHERE k = 8000000001")
    assert(spark.sql("SELECT qty FROM graft_lake.ctas_fact " +
      "WHERE k = 8000000001").as[Long].head() == 142L)
    // time travel back through the new table's own history
    assert(one("SELECT count(*) AS n FROM graft_lake.ctas_fact " +
      "VERSION AS OF 1") == n0)
    // a second CREATE of the same name refuses
    intercept[org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException] {
      spark.sql("CREATE TABLE graft_lake.ctas_fact (x BIGINT)")
    }
  }

  /** Physical column types of a parquet footer, by name. */
  private def footerTypes(file: String): Map[String, String] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName ->
          f.asPrimitiveType().getPrimitiveTypeName.toString).toMap
    } finally r.close()
  }

  test("schema evolution × DML (VERDICT r16 #7): a CoW rewrite re-stamps " +
      "legacy narrow files at the CURRENT schema; untouched legacy files " +
      "keep their footers; the mixed-schema snapshot serves throughout") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    // declared schema: wide types + a column the legacy files don't have
    spark.sql("CREATE TABLE graft_lake.evo_t (a BIGINT, w DOUBLE, c BIGINT, " +
      "b STRING) PARTITIONED BY (b)")
    spark.sql("INSERT INTO graft_lake.evo_t VALUES (100, 10.5, 7, 'fresh')")
    // two LEGACY files written under the v1 physical schema: a INT32,
    // w FLOAT, no 'c' column — spliced into the table as a metadata
    // commit, exactly how an evolved table carries pre-evolution files
    val v1root = graft.Fixtures.tempDir("graft_evo_v1").toString
    Seq((1, 1.25f), (2, 2.5f)).toDF("a", "w").coalesce(1)
      .write.parquet(s"$v1root/b=legacy1")
    Seq((3, 3.75f)).toDF("a", "w").coalesce(1)
      .write.parquet(s"$v1root/b=legacy2")
    val catRoot = spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")
    val (ver, metaRoot, snap) = spark.read.parquet(s"$catRoot/catalog_log")
      .filter($"table_name" === "evo_t").orderBy($"version".desc)
      .select($"version", $"meta_root", $"snap_id")
      .as[(Long, String, Long)].head()
    val newRoot = graft.Fixtures.tempDir("graft_evo_splice")
    val man = LakeFilters.normalizedManifests(spark, metaRoot)
    val tip = man.filter($"snap_id" === snap)
    val v1files = spark.read.parquet(v1root).inputFiles
      .map(LakeIndex.normPath).toSeq
    assert(v1files.size == 2)
    import org.apache.spark.sql.functions.lit
    man.unionByName(tip.withColumn("snap_id", lit(snap + 1)))
      .unionByName(v1files.toDF("file").select(lit(snap + 1).as("snap_id"),
        lit("data").as("content"), $"file", lit(v1root).as("base"),
        lit(0L).as("seq"), lit("").as("key_col")))
      .coalesce(1)
      .write.parquet(newRoot.resolve("manifests").toString)
    spark.read.parquet(s"$metaRoot/snapshots")
      .select($"snap_id", $"op", $"parent_id")
      .unionByName(Seq((snap + 1, "splice_legacy", snap))
        .toDF("snap_id", "op", "parent_id"))
      .coalesce(1)
      .write.parquet(newRoot.resolve("snapshots").toString)
    LakeFilters.carryTableSchema(spark, metaRoot, newRoot)
    LakeCommit.catalogCommit(spark, s"$catRoot/catalog_log", "evo_t",
      expectedVersion = ver, metaRoot = newRoot.toString, snapId = snap + 1)

    // the MIXED snapshot serves: ints widened to bigint, floats to
    // double (exact), the missing column as null
    assert(one("SELECT count(*) AS n FROM graft_lake.evo_t") == 4L)
    assert(one("SELECT sum(a) AS s FROM graft_lake.evo_t") == 106L)
    assert(spark.sql("SELECT sum(w) AS s FROM graft_lake.evo_t")
      .as[Double].head() == 18.0d)
    assert(one("SELECT count(c) AS n FROM graft_lake.evo_t") == 1L)
    val legacy2File = v1files.find(_.contains("legacy2")).get
    val legacy2Before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(legacy2File))
    assert(footerTypes(legacy2File) == Map("a" -> "INT32", "w" -> "FLOAT"))

    // CoW UPDATE touching ONLY the legacy1 group
    spark.sql("UPDATE graft_lake.evo_t SET c = 99 WHERE a = 1")
    // values: the whole legacy1 group rewrote; legacy2 and fresh served on
    assert(one("SELECT count(*) AS n FROM graft_lake.evo_t") == 4L)
    assert(spark.sql("SELECT c FROM graft_lake.evo_t WHERE a = 1")
      .as[Option[Long]].head().contains(99L))
    assert(spark.sql("SELECT c FROM graft_lake.evo_t WHERE a = 2")
      .as[Option[Long]].head().isEmpty)
    assert(spark.sql("SELECT sum(w) AS s FROM graft_lake.evo_t")
      .as[Double].head() == 18.0d)
    // the rewritten group is RE-STAMPED at the current schema: wide
    // physical types, the evolved column materialized in the footer
    val (_, metaRoot2, snap2) = spark.read.parquet(s"$catRoot/catalog_log")
      .filter($"table_name" === "evo_t").orderBy($"version".desc)
      .select($"version", $"meta_root", $"snap_id")
      .as[(Long, String, Long)].head()
    val tipFiles = spark.read.parquet(s"$metaRoot2/manifests")
      .filter($"snap_id" === snap2 && $"content" === "data")
      .select($"file").as[String].collect().toSet
    val rewritten = tipFiles.filter(f => !v1files.contains(f) &&
      footerTypes(f).contains("c") && f.contains("b=legacy1"))
    assert(rewritten.size == 1,
      s"expected exactly the rewritten legacy1 group, got $rewritten")
    assert(footerTypes(rewritten.head) ==
      Map("a" -> "INT64", "w" -> "DOUBLE", "c" -> "INT64"),
      s"rewrite not re-stamped wide: ${footerTypes(rewritten.head)}")
    // the UNTOUCHED legacy file carried over byte-identical, v1 footer
    assert(tipFiles.contains(legacy2File), "untouched legacy file dropped")
    assert(java.util.Arrays.equals(legacy2Before,
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(legacy2File))),
      "untouched legacy footer rewritten")
  }

  test("INSERT OVERWRITE: full truncate-overwrite, static partition " +
      "overwrite, and dynamic partition overwrite — each one CAS commit " +
      "with history time-travelable") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    spark.sql("CREATE TABLE graft_lake.ow_t (a BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft_lake.ow_t VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    def vNow(): Long = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ow_t").agg(max($"version")).as[Long].head()
    // STATIC partition overwrite: only p='x' replaced
    val v1 = vNow()
    spark.sql("INSERT OVERWRITE graft_lake.ow_t PARTITION (p = 'x') " +
      "SELECT 10 AS a")
    assert(spark.sql("SELECT a FROM graft_lake.ow_t ORDER BY a")
      .as[Long].collect().toSeq == Seq(2L, 3L, 10L))
    assert(one(s"SELECT count(*) AS n FROM graft_lake.ow_t " +
      s"VERSION AS OF $v1") == 3L)
    // DYNAMIC partition overwrite: rows land in p='y' → only 'y' replaced
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql("INSERT OVERWRITE graft_lake.ow_t VALUES (20, 'y'), (21, 'y')")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(spark.sql("SELECT a FROM graft_lake.ow_t ORDER BY a")
      .as[Long].collect().toSeq == Seq(3L, 10L, 20L, 21L),
      "dynamic overwrite must replace only the written partitions")
    // FULL overwrite (static mode, no partition spec) = truncate + insert
    val v2 = vNow()
    spark.sql("INSERT OVERWRITE graft_lake.ow_t VALUES (100, 'w')")
    assert(spark.sql("SELECT a, p FROM graft_lake.ow_t")
      .as[(Long, String)].collect().toSeq == Seq((100L, "w")))
    // every epoch still serves
    assert(one(s"SELECT count(*) AS n FROM graft_lake.ow_t " +
      s"VERSION AS OF $v2") == 4L)
    assert(one(s"SELECT count(*) AS n FROM graft_lake.ow_t " +
      s"VERSION AS OF $v1") == 3L)
  }

  test("TRUNCATE TABLE: one zero-entry metadata commit — history " +
      "time-travels, the schema survives, the table refills") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    spark.sql("CREATE TABLE graft_lake.trunc_t (a BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft_lake.trunc_t VALUES (1, 'x'), (2, 'y')")
    val vFull = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "trunc_t").agg(max($"version")).as[Long].head()
    spark.sql("TRUNCATE TABLE graft_lake.trunc_t")
    assert(one("SELECT count(*) AS n FROM graft_lake.trunc_t") == 0L)
    assert(one(s"SELECT count(*) AS n FROM graft_lake.trunc_t " +
      s"VERSION AS OF $vFull") == 2L)
    spark.sql("INSERT INTO graft_lake.trunc_t VALUES (9, 'z')")
    assert(spark.sql("SELECT a, p FROM graft_lake.trunc_t")
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
  }

  test("commit metadata is O(live files): a commit's own manifests carry " +
      "ONLY the new snapshot's rows plus a parent_root pointer — history " +
      "resolves through the chain, not a per-commit rewrite") {
    import spark.implicits._
    // ship_fact has had many DML commits by this point in the suite
    val (metaRoot, snap) = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "ship_fact").orderBy($"version".desc)
      .select($"meta_root", $"snap_id").as[(String, Long)].head()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(metaRoot, "parent_root")),
      "a DML commit must write the parent_root pointer")
    val own = spark.read.parquet(s"$metaRoot/manifests")
    assert(own.filter($"snap_id" =!= snap).count() == 0L,
      "a commit's own manifests must carry only its new snapshot's rows")
    // and the chain still serves every snapshot: the chained view holds
    // strictly more snapshots than the tip root alone
    val chained = LakeFilters.normalizedManifests(spark, metaRoot)
    assert(chained.select($"snap_id").distinct().count() >
      own.select($"snap_id").distinct().count())
  }

  test("metadata tables: <cat>.<table>.snapshots / .manifests serve the " +
      "table's own metadata through the connector") {
    import spark.implicits._
    val snaps = spark.sql(
      "SELECT snap_id, op FROM graft_lake.ship_fact.snapshots")
      .as[(Long, String)].collect()
    assert(snaps.nonEmpty && snaps.exists(_._2.nonEmpty))
    val mans = spark.sql("SELECT count(*) AS n FROM " +
      "graft_lake.ship_fact.manifests").as[Long].head()
    assert(mans > 0)
    // an unknown metadata table name still resolves as absent
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake.ship_fact.nonsense").collect()
    }
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only schema evolution — old " +
      "files serve NULL, new INSERTs write the column, a CoW UPDATE " +
      "re-stamps old rows, and pre-alter versions keep the narrow schema") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    spark.sql("CREATE TABLE graft_lake.alter_t (a BIGINT, b STRING) " +
      "PARTITIONED BY (b)")
    spark.sql("INSERT INTO graft_lake.alter_t VALUES (1, 'x'), (2, 'y')")
    val vBefore = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "alter_t").agg(max($"version")).as[Long].head()
    val filesBefore = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "alter_t").orderBy($"version".desc)
      .select($"meta_root").as[String].head()
    spark.sql("ALTER TABLE graft_lake.alter_t ADD COLUMNS (extra BIGINT)")
    // metadata-only: the new version's manifests are row-identical
    val metaAfter = spark.read.parquet(
        s"${spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")}/catalog_log")
      .filter($"table_name" === "alter_t").orderBy($"version".desc)
      .select($"meta_root").as[String].head()
    assert(spark.read.parquet(s"$metaAfter/manifests")
      .exceptAll(spark.read.parquet(s"$filesBefore/manifests")).isEmpty,
      "ALTER touched the manifests — must be metadata-only")
    // old rows serve NULL for the new column
    assert(spark.table("graft_lake.alter_t").columns.toSeq ==
      Seq("a", "b", "extra"))
    assert(one("SELECT count(extra) AS n FROM graft_lake.alter_t") == 0L)
    // new INSERT carries the column physically
    spark.sql("INSERT INTO graft_lake.alter_t VALUES (3, 'x', 42)")
    assert(one("SELECT count(extra) AS n FROM graft_lake.alter_t") == 1L)
    // a CoW UPDATE re-stamps the touched group at the widened schema
    spark.sql("UPDATE graft_lake.alter_t SET extra = 5 WHERE a = 1")
    val got = spark.sql("SELECT a, extra FROM graft_lake.alter_t ORDER BY a")
      .as[(Long, Option[Long])].collect().toSeq
    assert(got == Seq((1L, Some(5L)), (2L, None), (3L, Some(42L))), s"$got")
    // time travel below the ALTER serves the NARROW schema
    assert(spark.sql(
        s"SELECT * FROM graft_lake.alter_t VERSION AS OF $vBefore")
      .columns.toSeq == Seq("a", "b"))
    // rename / non-add changes refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.alter_t RENAME COLUMN a TO a2")
    }
  }

  test("CREATE TABLE (empty) + INSERT; partition values with path-special " +
      "characters round-trip escaped; DROP tombstones but keeps history") {
    import spark.implicits._
    def one(q: String): Long = spark.sql(q).as[Long].head()
    spark.sql("CREATE TABLE graft_lake.fresh_t (a BIGINT, b STRING) " +
      "PARTITIONED BY (b)")
    assert(one("SELECT count(*) AS n FROM graft_lake.fresh_t") == 0L)
    // a partition value carrying '/', '=' and '%' must not splinter the
    // Hive dir layout (writer escapes, reader unescapes)
    spark.sql("INSERT INTO graft_lake.fresh_t VALUES " +
      "(1, 'we/ird=x%y'), (2, 'plain')")
    val got = spark.sql("SELECT a, b FROM graft_lake.fresh_t ORDER BY a")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "we/ird=x%y"), (2L, "plain")),
      s"partition round-trip broke: $got")
    // and the escaped value is still FILTERABLE as a partition predicate
    assert(one("SELECT count(*) AS n FROM graft_lake.fresh_t " +
      "WHERE b = 'we/ird=x%y'") == 1L)
    // DROP = tombstone: the tip name disappears, history stays served
    assert(spark.sql("SHOW TABLES IN graft_lake").collect()
      .map(_.getString(1)).contains("fresh_t"))
    spark.sql("DROP TABLE graft_lake.fresh_t")
    assert(!spark.sql("SHOW TABLES IN graft_lake").collect()
      .map(_.getString(1)).contains("fresh_t"))
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft_lake.fresh_t").collect()
    }
    // pre-drop version still time-travels
    assert(one("SELECT count(*) AS n FROM graft_lake.fresh_t " +
      "VERSION AS OF 1") == 2L)
    // and the name is re-creatable (CAS from the tombstone)
    spark.sql("CREATE TABLE graft_lake.fresh_t (a BIGINT, b STRING) " +
      "PARTITIONED BY (b)")
    assert(one("SELECT count(*) AS n FROM graft_lake.fresh_t") == 0L)
  }

  test("every commit kind authors one snapshot: op, parent, id and " +
      "sequence step by one; equality deletes carry until a full overwrite") {
    import spark.implicits._
    val catDir = spark.conf.get("spark.sql.catalog.graft_lake.catalogDir")
    spark.sql("CREATE TABLE graft_lake.shape_t (l_orderkey BIGINT, a BIGINT, " +
      "p STRING) PARTITIONED BY (p)")
    def world(): (String, Long) = spark.read.parquet(s"$catDir/catalog_log")
      .filter($"table_name" === "shape_t").orderBy($"version".desc)
      .select($"meta_root", $"snap_id").as[(String, Long)].head()
    // (statement, dynamic partition overwrite, op, eq_del entry carried)
    val steps = Seq(
      ("INSERT INTO graft_lake.shape_t VALUES (1, 10, 'x'), (2, 20, 'y'), " +
        "(3, 30, 'z')", false, "append", false),
      ("DELETE FROM graft_lake.shape_t WHERE l_orderkey = 1",
        false, "eq_delete", true),
      ("INSERT OVERWRITE graft_lake.shape_t PARTITION (p = 'x') " +
        "SELECT 4 AS l_orderkey, 40 AS a", false, "overwrite", true),
      ("INSERT OVERWRITE graft_lake.shape_t VALUES (5, 50, 'y')",
        true, "dynamic_overwrite", true),
      ("UPDATE graft_lake.shape_t SET a = a + 1 WHERE l_orderkey = 3",
        false, "cow_update", true),
      ("INSERT OVERWRITE graft_lake.shape_t VALUES (6, 60, 'w')",
        false, "truncate_overwrite", false),
      ("TRUNCATE TABLE graft_lake.shape_t", false, "truncate", false))
    var prevSnap = world()._2
    var prevSeq = 0L
    var eqFiles = Seq.empty[String]
    steps.foreach { case (stmt, dynamic, wantOp, carriesEq) =>
      if (dynamic)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql(stmt)
      finally if (dynamic)
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      val (root, snap) = world()
      val (op, parent) = spark.read.parquet(s"$root/snapshots")
        .filter($"snap_id" === snap).select($"op", $"parent_id")
        .as[(String, Long)].head()
      assert(op == wantOp, s"$stmt: op $op")
      assert(snap == prevSnap + 1 && parent == prevSnap,
        s"$stmt: snapshot $snap with parent $parent after $prevSnap")
      val entries = LakeFilters.normalizedManifests(spark, root)
        .filter($"snap_id" === snap).select($"content", $"file", $"seq")
        .as[(String, String, Long)].collect().toSeq
      if (wantOp == "truncate") assert(entries.isEmpty, s"$stmt: $entries")
      else {
        assert(entries.map(_._3).max == prevSeq + 1,
          s"$stmt: sequences ${entries.map(_._3)} after $prevSeq")
        prevSeq += 1
      }
      val eqDel = entries.filter(_._1 == "eq_del").map(_._2)
      if (wantOp == "eq_delete") {
        assert(eqDel.size == 1, s"$stmt: eq_del entries $eqDel")
        eqFiles = eqDel
      }
      assert(eqDel == (if (carriesEq) eqFiles else Nil),
        s"$stmt: eq_del entries $eqDel, expected carried=$carriesEq")
      prevSnap = snap
    }
  }
}
