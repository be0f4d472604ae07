package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CdcQueries, Clustering, DecontamQueries, Dedup,
  LakeQueries, LakeServeQueries, LayoutQueries, Multimodal, PipelineOps,
  Relational, SamplingQueries, Similarity, TextOps}

/** A module of named queries and the DuckDB oracles that judge them. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** A [[QueryModule]] written as one `defs` list of (name, query, oracle).
  * The maps are lazy, so a module's own vals are initialized before its
  * `defs` (and the oracle strings built from them) are first read.
  */
trait QueryRegistry extends QueryModule {
  protected def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])]

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, f, _) => n -> f }.toMap

  lazy val oracleSql: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's named queries; each name has a
  * DuckDB-runnable `oracleSql` mirror where the semantics are ANSI-SQL
  * expressible (the driver records rows-only checks for the rest).
  */
object SparkEntry {

  /** Flagship: the reference experiment (chunk + dedup metrics per algorithm,
    * `main.rs:16-24`) over the sf0.001 documents corpus.
    */
  def entry(spark: SparkSession): DataFrame =
    CdcQueries.queries("cdc_dedup_metrics")(spark, "/root/testdata/sf0.001")

  /** Every operator module, listed once; [[queries]] and [[oracleSql]] are
    * derived from it, and SparkEntrySpec's collision check reads it.
    */
  def modules: Seq[QueryModule] = Seq(
    CdcQueries, Relational, TextOps, Dedup, Similarity, Multimodal,
    PipelineOps, SamplingQueries, DecontamQueries, LayoutQueries,
    LakeServeQueries, Clustering, LakeQueries, graft.streaming.Streaming)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  def oracleSql: Map[String, String] =
    modules.map(_.oracleSql).reduce(_ ++ _)
}
