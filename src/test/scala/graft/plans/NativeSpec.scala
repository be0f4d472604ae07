package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Chunking

/** DataFrame code reaches the engine's native expressions through
  * [[Native]], not through their SQL names: the chunking, ANN, k-means and
  * bloom paths give the same rows on a session whose registry lacks those
  * names, and leave it lacking them. A typed column analyzes to the same
  * plan as the by-name call.
  */
class NativeSpec extends AnyFunSuite with graft.SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private val Names = Seq(
    "cdc_chunks", "cdc_segmented_chunks", "cdc_slice_chunks", "vec_dot", "bloom_contains")

  private def registered(s: SparkSession): Seq[String] =
    Names.filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  /** Every path, built on `s`, as sorted rows per path. */
  private def paths(s: SparkSession): Seq[(String, Seq[String])] = {
    val docs = graft.Tables.documents(s, sfDir).select(col("doc_id"), col("text"))
    val frames: Seq[(String, DataFrame)] = Seq(
      "chunkTable" -> Chunking.chunkTable(docs, "doc_id", "text", "fastcdc", 256, 42L)
        .drop("chunk"),
      "segmentedChunkTable" -> Chunking.segmentedChunkTable(docs, "doc_id", "text", "ae", 512, 0L)
        .drop("chunk"),
      "edgeRechunkMetricsPerBlob" ->
        Chunking.edgeRechunkMetricsPerBlob(docs, "doc_id", "text", "rabin", 256, 7L)) ++
      Seq("sim_lsh_topk", "sim_kmeans_clusters", "pipeline_bloom_prefilter")
        .map(q => q -> graft.SparkEntry.queries(q)(s, sfDir))
    frames.map { case (name, df) => name -> df.collect().map(_.toString).sorted.toSeq }
  }

  test("DataFrame paths run on a session without the SQL names, and do not register them") {
    val bare = spark.newSession()
    Names.foreach(n => bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(registered(bare).isEmpty)
    val want = paths(spark)
    val got = paths(bare)
    for (((name, w), (_, g)) <- want.zip(got)) {
      assert(w.nonEmpty, s"$name: no rows")
      assert(g == w, s"$name: rows differ on the bare session")
    }
    assert(registered(bare).isEmpty, "a DataFrame path registered the SQL names")
  }

  test("a typed column analyzes to the same plan as its SQL name") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq((Array[Byte](1, 2, 3), Array(1.0, 2.0), 5L, 1)).toDF("b", "v", "h", "p")
      .withColumn("bloom", lit(Array[Byte](0, 0)))
    def plan(c: org.apache.spark.sql.Column): String =
      df.select(c).queryExecution.analyzed.toString.replaceAll("#\\d+", "#")
    val pairs = Seq(
      Native.cdcChunks($"b", "fastcdc", 64, 42L) ->
        call_function("cdc_chunks", $"b", lit("fastcdc"), lit(64), lit(42L)),
      Native.cdcSegmentedChunks($"b", "ae", 512, 0L, 4) ->
        call_function("cdc_segmented_chunks", $"b", lit("ae"), lit(512), lit(0L), lit(4)),
      Native.cdcSliceChunks($"b", "rabin", 64, 7L, $"p", 4) ->
        call_function("cdc_slice_chunks", $"b", lit("rabin"), lit(64), lit(7L), $"p", lit(4)),
      Native.vecDot($"v", $"v").as("d") -> call_function("vec_dot", $"v", $"v").as("d"),
      Native.bloomContains($"bloom", $"h", 4).as("m") ->
        call_function("bloom_contains", $"bloom", $"h", lit(4)).as("m"))
    for ((typed, byName) <- pairs) assert(plan(typed) == plan(byName))
  }
}
