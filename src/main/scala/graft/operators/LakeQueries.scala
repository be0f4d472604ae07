package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `graft-lake` CONNECTOR surface (graft.sources.lake.GraftLakeSource)
  * exercised end-to-end: every query here re-serves a lakehouse readout
  * whose library-path twin already exists, THROUGH
  * `spark.read.format("graft-lake")` — catalog/ref/snapshot resolution,
  * manifest pruning, delete-form application and column-ID schema mapping
  * all happen inside the data source, and the results are judged by the
  * SAME verbatim DuckDB oracles as the twins (VERDICT r15 #1: "done =
  * re-served through spark.read.format and judged by the existing
  * oracles"). lake_multi_delete is the one NEW semantic: a single snapshot
  * whose metadata carries deletion vectors, a position sidecar AND an
  * equality-delete file simultaneously, applied under the sequence rules
  * by one reader (VERDICT r15 #2).
  */
object LakeQueries extends graft.QueryRegistry {
  import LakeServeQueries.{doubleDeleteServeOracleSql, mergeStateCtes, monthRollup}
  import LakeFixture.{snapshotMetaDir, branchMetaDir, catalogDir, schemaIdDir,
    BloomIdxKeys}

  /** `spark.read.format("graft-lake")` — resolved via the META-INF
    * services registration; the spec pins the short name resolves.
    */
  private def lake(s: SparkSession) = s.read.format("graft-lake")

  /** Once per JVM: bootstrap an EMPTY catalog (zero-row pointer log),
    * register it as `graft_ctas`, and run the full SQL lifecycle —
    * CREATE TABLE … AS SELECT (partitioned) over documents, a
    * copy-on-write DELETE, an INSERT INTO append. Every later
    * invocation of lake_ctas_roundtrip just reads the table back.
    */
  private def ctasFixture(s: SparkSession, d: String): Unit =
    graft.Fixtures.memo("graft_ctascat", d) { dir =>
      import s.implicits._
      val root = dir.toString
      Seq.empty[(Long, String, String, Long)]
        .toDF("version", "table_name", "meta_root", "snap_id")
        .coalesce(1).write.parquet(s"$root/catalog_log")
      s.conf.set("spark.sql.catalog.graft_ctas",
        classOf[graft.sources.lake.GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ctas.catalogDir", root)
      graft.Tables.readCached(s, s"$d/documents.parquet")
        .createOrReplaceTempView("graft_ctas_docs_src")
      s.sql("""CREATE TABLE graft_ctas.doc_rollup PARTITIONED BY (bucket) AS
        |SELECT doc_id, n_chars AS chars, CAST(doc_id % 8 AS STRING) AS bucket
        |FROM graft_ctas_docs_src""".stripMargin)
      s.sql("DELETE FROM graft_ctas.doc_rollup WHERE doc_id = 7")
      s.sql("INSERT INTO graft_ctas.doc_rollup VALUES (9000001, 12345, '9')")
      // a second table for the OVERWRITE lifecycle: CTAS the same rollup,
      // then DYNAMIC partition overwrite recomputes bucket '3' only
      // (chars + 1000) — other buckets' files must carry untouched
      s.sql("""CREATE TABLE graft_ctas.doc_ow PARTITIONED BY (bucket) AS
        |SELECT doc_id, n_chars AS chars, CAST(doc_id % 8 AS STRING) AS bucket
        |FROM graft_ctas_docs_src""".stripMargin)
      val prevMode = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        s.sql("""INSERT OVERWRITE graft_ctas.doc_ow
          |SELECT doc_id, n_chars + 1000 AS chars,
          |  CAST(doc_id % 8 AS STRING) AS bucket
          |FROM graft_ctas_docs_src WHERE doc_id % 8 = 3""".stripMargin)
      finally prevMode match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      root
    }

  protected val defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- TIME TRAVEL through the connector: the pipeline_time_travel
    // readout (delete_w1 vs delete_w2 epochs, monthly deltas) with both
    // epochs resolved by `option("snapshot", n)` instead of the library
    // readSnapshot — manifest-addressed file lists, same verbatim oracle.
    ("lake_time_travel", (s, d) => {
      import s.implicits._
      val meta = snapshotMetaDir(s, d)
      def at(id: Long) = lake(s)
        .option("metaRoot", meta).option("snapshot", id).load()
      val w1 = at(2L).groupBy($"ship_month")
        .agg(count(lit(1)).as("n1"), sum($"net_cents").as("c1"))
      val w2 = at(4L).groupBy($"ship_month")
        .agg(count(lit(1)).as("n2"), sum($"net_cents").as("c2"))
      w1.join(w2, Seq("ship_month"), "full_outer")
        .select($"ship_month",
          coalesce($"n1", lit(0L)).as("n_rows_w1"),
          coalesce($"n2", lit(0L)).as("n_rows_w2"),
          (coalesce($"n2", lit(0L)) - coalesce($"n1", lit(0L))).as("rows_delta"),
          (coalesce($"c2", lit(0L)) - coalesce($"c1", lit(0L))).as("cents_delta"))
        .orderBy($"ship_month")
    }, Some(LakeServeQueries.oracleSql("pipeline_time_travel"))),

    // ---- BRANCH POINT LOOKUPS through the connector:
    // `option("ref", "audit")` resolves the refs_log head, and the
    // `l_orderkey IN (...)` probe is PUSHED — the ScanBuilder prunes the
    // file list through the snapshot's own bloom sidecar (idx6), spanning
    // both physical roots, then Spark re-applies the residual filter
    // (bloom false positives). Verbatim pipeline_branch_lookup oracle;
    // LakeConnectorSpec pins the pruned file set = the index-matched set.
    ("lake_branch_lookup", (s, d) => {
      import s.implicits._
      val root = branchMetaDir(s, d)
      val twins = graft.Tables.readCached(s, s"$root/branch_files")
        .select($"l_orderkey").orderBy($"l_orderkey")
        .limit(2).as[Long].collect()
      val probes = BloomIdxKeys ++ twins
      lake(s).option("metaRoot", root).option("ref", "audit").load()
        .filter($"l_orderkey".isin(probes: _*))
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"l_orderkey")
    }, Some(LakeServeQueries.oracleSql("pipeline_branch_lookup"))),

    // ---- DELETION VECTORS through the connector: the `stable` TAG of the
    // lake world pins the DV-only snapshot; its manifest's content=dv
    // entries resolve to per-file bitmaps applied inside the partition
    // readers. Judged by pipeline_dv_serve's VERBATIM oracle — the
    // connector read must equal the library dvApply serve row-for-row.
    ("lake_dv_serve", (s, d) => {
      lake(s).option("metaRoot", LakeFixture.lakeMetaDir(s, d))
        .option("ref", "stable").load()
        .transform(monthRollup)
    }, Some(LakeServeQueries.oracleSql("pipeline_dv_serve"))),

    // ---- The COMPOSED MULTI-DELETE-FORM read (VERDICT r15 #2): the lake
    // world's tip snapshot carries a DV (wave 271, seq 1), a position
    // sidecar (wave 337, seq 2) AND an equality-delete file (wave 293,
    // seq 3) — one reader applies all three under the strictly-older
    // sequence rule. Customer 0 is in ALL THREE erase sets, so its rows
    // are triple-marked and must disappear exactly once; the oracle
    // recomputes the converged state from raw, and LakeConnectorSpec pins
    // per-form exactness plus the seq counterfactual.
    ("lake_multi_delete", (s, d) => {
      lake(s).option("metaRoot", LakeFixture.lakeMetaDir(s, d)).load()
        .transform(monthRollup)
    }, Some(doubleDeleteServeOracleSql("\n  AND o_custkey % 293 <> 0"))),

    // ---- CTAS + DML ROUNDTRIP through the SQL catalog (VERDICT r16 #4
    // gated): a brand-new table is bootstrapped PURELY in SQL — CREATE
    // TABLE … AS SELECT over the documents parquet (partitioned), then a
    // copy-on-write DELETE and an INSERT INTO append — and the judged
    // readout re-aggregates it through the connector. Built once per JVM
    // ([[ctasFixture]]); the oracle recomputes the post-DML state from
    // raw documents.
    ("lake_ctas_roundtrip", (s, d) => {
      ctasFixture(s, d)
      s.sql("""SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM graft_ctas.doc_rollup GROUP BY bucket ORDER BY bucket""".stripMargin)
    }, Some(
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT doc_id, n_chars AS chars, CAST(doc_id % 8 AS VARCHAR) AS bucket
        |  FROM documents WHERE doc_id <> 7
        |  UNION ALL SELECT 9000001, 12345, '9')
        |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- DYNAMIC PARTITION OVERWRITE through the SQL catalog: the
    // doc_ow table's bucket '3' was rewritten (chars + 1000) by an
    // `INSERT OVERWRITE` in dynamic mode while every other bucket's
    // files carried untouched; the readout proves exactly one
    // partition's content moved. Oracle recomputes both populations
    // from raw documents.
    ("lake_overwrite_roundtrip", (s, d) => {
      ctasFixture(s, d)
      s.sql("""SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM graft_ctas.doc_ow GROUP BY bucket ORDER BY bucket""".stripMargin)
    }, Some(
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT n_chars AS chars, CAST(doc_id % 8 AS VARCHAR) AS bucket
        |  FROM documents WHERE doc_id % 8 <> 3
        |  UNION ALL
        |  SELECT n_chars + 1000, '3' FROM documents WHERE doc_id % 8 = 3)
        |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- PARTITION PRUNING through the connector: a month-window report
    // over the chain tip where the `ship_month BETWEEN` predicate is
    // pushed into the ScanBuilder and prunes the manifest file list
    // BEFORE any partition is planned (LakeConnectorSpec pins opened ⊂
    // total and every opened file inside the window). The oracle
    // recomputes the window from raw under the tip's cumulative state.
    ("lake_partition_prune", (s, d) => {
      import s.implicits._
      lake(s).option("metaRoot", snapshotMetaDir(s, d)).load()
        .filter($"ship_month" >= "1995-01" && $"ship_month" <= "1995-06")
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_rows"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .orderBy($"ship_month")
    }, Some(
      s"""$mergeStateCtes
         |SELECT ship_month,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(net_cents) AS BIGINT) AS revenue_cents
         |FROM merged WHERE o_custkey % 337 <> 0
         |  AND ship_month BETWEEN '1995-01' AND '1995-06'
         |GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // ---- CATALOG TIME TRAVEL through the connector: `option("catalog")`
    // + `option("table")` + `option("asOfVersion", v)` resolve the CAS
    // pointer log to (metadata world, snapshot) — v0 the mutation chain's
    // tip, v1 the rollback commit — and both states serve through the one
    // read path. Verbatim pipeline_catalog_time_travel oracle.
    ("lake_catalog_time_travel", (s, d) => {
      import s.implicits._
      val cat = catalogDir(s, d)
      def at(v: Long) = lake(s)
        .option("catalog", cat).option("table", "ship_fact")
        .option("asOfVersion", v).load()
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"qty").as("sum_qty"),
          sum($"net_cents").as("revenue_cents"))
        .select(lit(v).as("version"), $"n_rows", $"n_orders",
          $"sum_qty", $"revenue_cents")
      at(0L).unionByName(at(1L)).orderBy($"version")
    }, Some(LakeServeQueries.oracleSql("pipeline_catalog_time_travel"))),

    // ---- COLUMN-ID SCHEMA EVOLUTION through the connector: both
    // releases served at schema v2 — rename (n_chars→char_count), widen
    // (score int→bigint, applied in the reader), drop (lang never
    // requested) — with r1's footers untouched. Verbatim
    // pipeline_schema_rename oracle.
    ("lake_schema_rename", (s, d) => {
      import s.implicits._
      lake(s).option("schemaRoot", schemaIdDir(s, d))
        .option("schemaVersion", 2L).load()
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum($"char_count").as("sum_chars"),
          sum($"score").as("sum_score"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L)).as("n_null_tier"),
          countDistinct($"quality_tier").as("n_tiers"))
        .orderBy($"release")
    }, Some(LakeServeQueries.oracleSql("pipeline_schema_rename"))),

    // ---- INITIAL DEFAULTS through the connector (schema v3): rows
    // written before region_code existed serve 99 from the reader's
    // constant column, while quality_tier keeps serving typed NULL from
    // r1 — both absent-field treatments in one scan. Verbatim
    // pipeline_schema_default oracle.
    ("lake_schema_default", (s, d) => {
      import s.implicits._
      lake(s).option("schemaRoot", schemaIdDir(s, d))
        .option("schemaVersion", 3L).load()
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          sum($"region_code".cast("long")).as("sum_region"),
          sum(when($"region_code".isNull, 1L).otherwise(0L))
            .as("n_null_region"),
          sum(when($"quality_tier".isNull, 1L).otherwise(0L))
            .as("n_null_tier"))
        .orderBy($"release")
    }, Some(LakeServeQueries.oracleSql("pipeline_schema_default"))),

    // ---- the TYPE-PROMOTION matrix through the connector: the partition
    // readers widen float→double, decimal(9,2)→decimal(18,4) (unscaled
    // power-of-ten rescale — exact) and int→bigint per the field-id
    // mapping, serve the initial-default (7) for p1's pre-field rows, and
    // read p2's physically-stamped write-default (5) like any column.
    // Verbatim pipeline_schema_promote oracle.
    ("lake_schema_promote", (s, d) => {
      import s.implicits._
      lake(s).option("schemaRoot", LakeFixture.schemaPromoDir(s, d)).load()
        .groupBy($"release")
        .agg(count(lit(1)).as("n_docs"),
          round(sum($"weight"), 4).as("sum_weight"),
          // DOUBLE output (exact here), per the surface's no-DECIMAL
          // output convention — see pipeline_schema_promote.
          sum($"price").cast("double").as("sum_price"),
          sum($"score").as("sum_score"),
          sum($"flag".cast("long")).as("sum_flag"))
        .orderBy($"release")
    }, Some(LakeServeQueries.oracleSql("pipeline_schema_promote")))
  )
}
