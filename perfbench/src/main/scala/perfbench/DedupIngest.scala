package perfbench

import java.nio.ByteBuffer
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.core.{AeChunker, Chunker, ParallelChunking, RabinChunker}
import graft.operators.Chunking

/** dedup_ingest: the paper's experiment. Every blob of the corpus goes
  * through `Chunking.chunkTable → Chunking.dedupMetrics` with all four
  * algorithms, and the large blobs also through `segmentedChunkTable`
  * (ae, rabin). One pass runs all six; each collected metrics row is kept
  * and later compared with a single-thread content-equality oracle.
  */
final class DedupIngest(ctx: Ctx, dir: Path) extends Workload {
  import DedupIngest._
  private val spark = ctx.spark
  private var blobs: Array[Array[Byte]] = _
  private var large: Array[Array[Byte]] = _
  private val observed = mutable.ArrayBuffer.empty[(String, String, Seq[Long])]

  private def read(name: String): DataFrame = spark.read.parquet(dir.resolve(name).toString)
  private def bytesOf(name: String): Array[Array[Byte]] =
    read(name).orderBy("id").select("content").collect().map(_.getAs[Array[Byte]](0))

  /** Warm up JIT and codegen on the same plans over a small slice. */
  def setup(): Unit = {
    pass("warm_corpus.parquet", "warm_large.parquet")
    observed.clear()
  }

  private def load(): Unit = if (blobs == null) {
    blobs = bytesOf("corpus.parquet")
    large = bytesOf("large.parquet")
  }

  /** One chunk → dedup-metrics execution, timed to the collected row. */
  private def one(kind: String, algo: String, file: String): (String, Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try {
      val (r, _) = ctx.phased(s"dedup:$kind:$algo") {
        val chunks =
          if (kind == "full") ctx.spans("Chunking.chunkTable")(
            Chunking.chunkTable(read(file), "id", "content", algo, ExpectedSize))
          else ctx.spans("Chunking.segmentedChunkTable")(
            Chunking.segmentedChunkTable(read(file), "id", "content", algo,
              ExpectedSize, 0L, Segments, spreadSegments = true))
        ctx.spans("Chunking.dedupMetrics")(Chunking.dedupMetrics(chunks))
      }(_.head())
      observed += ((kind, algo, (0 until 4).map(r.getLong)))
      true
    } catch {
      case e: Exception => System.err.println(s"[perfbench] $kind $algo failed: $e"); false
    }
    (s"$kind:$algo", (System.nanoTime() - t0) / 1e9, ok)
  }

  private def pass(corpus: String, large: String): Seq[(String, Double, Boolean)] =
    ctx.spans("dedup_ingest.pass")(
      Algos.map(one("full", _, corpus)) ++ SegAlgos.map(one("seg", _, large)))

  def window(): Window =
    ctx.loop(ctx.seconds, MinPasses)(_ => pass("corpus.parquet", "large.parquet"))

  def tracedWindow(layers: mutable.Map[String, Double]): Window = window()

  override def afterTraced(layers: mutable.Map[String, Double]): Unit = coreAndPlans(layers)

  def probe(layers: mutable.Map[String, Double]): Unit = coreAndPlans(layers)

  /** Single-thread chunker cores and the `cdc_chunks` generator alone. */
  private def coreAndPlans(layers: mutable.Map[String, Double]): Unit = {
    load()
    val bytes = blobs.map(_.length.toLong).sum
    def best(body: => Unit): Double = {
      body // JIT warmup
      (1 to 3).map(_ => ctx.time(body)._2).min
    }
    Algos.foreach { a =>
      val c = Chunker(a, ExpectedSize)
      val s = best(ctx.spans("Chunker.boundaries")(blobs.foreach(c.boundaries)))
      layers(s"core.$a.mbps") = bytes / 1e6 / s
    }
    val ae = AeChunker(ExpectedSize)
    val s = best(ctx.spans("ParallelChunking.overlapMergedBoundaries")(large.foreach(b =>
      ParallelChunking.overlapMergedBoundaries(b, Segments, ae.boundsInRange, ae.window))))
    layers("core.overlap_merge.mbps") = large.map(_.length.toLong).sum / 1e6 / s
    def gen = ctx.spans("Chunking.chunkTable")(
      Chunking.chunkTable(read("corpus.parquet"), "id", "content", "fastcdc", ExpectedSize))
    val g = best(gen.write.format("noop").mode("overwrite").save())
    layers("plans.cdc_chunks.mbps") = bytes / 1e6 / g
    layers("plans.cdc_chunks.rows") = gen.count().toDouble
  }

  def report(res: mutable.Map[String, String]): Unit = {
    load()
    def row(kind: String, algo: String, r: Seq[Long]) =
      Json.arr(Seq(Json.str(kind), Json.str(algo), Json.arr(r.map(_.toString))))
    res("observed") = Json.arr(observed.map { case (k, a, r) => row(k, a, r) })
    val expected =
      Algos.map(a => row("full", a, oracle(blobs, Chunker(a, ExpectedSize).boundaries))) ++
        SegAlgos.map { a =>
          val (window, bounds): (Int, (Array[Byte], Int, Int) => Array[Int]) = a match {
            case "ae" => val c = AeChunker(ExpectedSize); (c.window, c.boundsInRange)
            case "rabin" => val c = RabinChunker(ExpectedSize, 0); (c.windowSize, c.boundsInRange)
          }
          row("seg", a, oracle(large,
            b => ParallelChunking.overlapMergedBoundaries(b, Segments, bounds, window)))
        }
    res("expected") = Json.arr(expected)
    res("corpus_bytes") = blobs.map(_.length.toLong).sum.toString
    res("large_bytes") = large.map(_.length.toLong).sum.toString
  }
}

object DedupIngest {
  val Algos = Seq("fixed", "ae", "fastcdc", "rabin")
  val SegAlgos = Seq("ae", "rabin")
  val ExpectedSize = 4096
  val Segments = 4
  val MinPasses = 4

  /** (unique bytes, total bytes, distinct chunks, chunk count) with chunk
    * identity by full content equality, over chunk end offsets `ends`.
    */
  def oracle(blobs: Array[Array[Byte]], ends: Array[Byte] => Array[Int]): Seq[Long] = {
    val seen = new java.util.HashSet[ByteBuffer]()
    var unique, total, count = 0L
    blobs.foreach { b =>
      var last = 0
      ends(b).foreach { e =>
        val len = e - last
        if (seen.add(ByteBuffer.wrap(b, last, len).slice())) unique += len
        total += len
        count += 1
        last = e
      }
    }
    Seq(unique, total, seen.size.toLong, count)
  }
}
