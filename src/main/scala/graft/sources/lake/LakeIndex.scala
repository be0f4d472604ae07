package graft.sources.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, xxhash64}

/** The per-file bloom-sidecar probe and the file-path normal form that
  * every file list of the lake (connector resolve, library planners,
  * fixtures) is compared in.
  */
object LakeIndex {

  /** Hash count of every per-file bloom sidecar (rows: file, bloom,
    * n_rows); builders and probes must agree on it.
    */
  private[graft] val BloomK = 4

  /** Files of the bloom-sidecar index at `idxPath` that might contain any
    * probe key (column `k` of `probes`), sorted. Metadata-scale — one
    * index row per data file crossed with the probe keys. Count-free: the
    * library's `matchedFilesInIndex` adds the index's total file count for
    * the diagnostics that read it; every query path discards that number,
    * and computing it cost one more index-scan job (~25 ms) per call.
    */
  private[graft] def matchedFilesOnly(
      s: SparkSession, idxPath: String,
      probes: DataFrame): Array[String] = {
    import s.implicits._
    val idx = graft.Tables.readCached(s, idxPath)
    val matched = idx.crossJoin(broadcast(probes)) // |files| × |keys|, metadata-scale
      .filter(graft.plans.Native.bloomContains($"bloom", xxhash64($"k"), BloomK))
      .select($"file").distinct().as[String].collect()
    matched.sorted
  }

  /** `input_file_name()` / `DataFrame.inputFiles` URI → plain local path
    * (`file:///tmp/x` and `file:/tmp/x` both → `/tmp/x`); identity for a
    * path that carries no scheme. Lets file sets from different listing
    * APIs compare and feed `spark.read.parquet` uniformly.
    */
  private[graft] def normPath(f: String): String =
    if (f.startsWith("file:")) "/" + f.stripPrefix("file:").dropWhile(_ == '/')
    else f
}
