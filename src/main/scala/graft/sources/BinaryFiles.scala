package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-corpus source: the reference's whole-file scan (`chunker.rs:31-37`,
  * `Chunker::read_file`) as Spark's `binaryFile` format — one row per file
  * with `(path, modificationTime, length, content)`, files never collected to
  * the driver, tasks spread across the corpus.
  *
  * Scale notes: `binaryFile` caps a single blob at 2 GB (whole-blob rows);
  * for larger objects use `Chunking.segmentedChunkTable` over ranged reads
  * (SURVEY.md §7.4). `pathGlobFilter` pushes file pruning into listing.
  * `Chunking.chunkFiles` chunks a corpus loaded here.
  */
object BinaryFiles {

  def load(spark: SparkSession, path: String, glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }
}
