package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** Library entry point: a SparkSession wired for this engine, and the only
  * place a session is configured — `Bench`, `Verify`, the tools and every
  * spec build theirs here.
  *
  * Applies the recommended scale configuration — AQE with skew-join handling
  * on, shuffle parallelism matched to cores (the right default for local
  * mode; on a cluster pass the target partition count explicitly) — and
  * registers the SQL function names, which only SQL text needs (DataFrame
  * code uses [[graft.plans.Native]]). Everything is a plain SparkSession:
  * `GraftSession.get()` composes with existing code.
  */
object GraftSession {

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      master match {
        case GraftSession.LocalN(n) => n.toInt
        case _ => 200
      })
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE for CACHED plans too: default-false only for compatibility;
      // without it every .cache()/.persist() materializes at the full
      // pre-AQE shuffle width and every downstream read of the cache scans
      // that many partitions — measured at local[32] 375→30 tasks on
      // text_bpe_apply (1.81→1.31 s) and 426→234 on dedup_lsh_recall
      // (2.80→2.21 s). Partitioning-only: results are unaffected.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Manifest-addressed reads pass explicit LEAF-FILE paths (already
      // resolved from snapshot metadata, never a directory tree). The
      // default threshold (32) schedules a distributed listing job to stat
      // them — ~0.4 s of pure scheduling per read at any scale, since each
      // path is one getFileStatus. Driver-side stat of up to 512 such paths
      // is strictly cheaper on a cluster too (Iceberg/Delta readers never
      // run listing jobs for manifest-resolved files); real directory
      // discovery above 512 paths still parallelizes.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
  }

  /** Build (or reuse) the session and ensure the SQL function names are
    * registered even when an existing session is returned.
    */
  def get(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    GraftExtensions.register(s)
    s
  }

  private val LocalN = """local\[(\d+)\]""".r
}
