package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** query_mix: registry queries, each fully materialized through the
  * `noop` sink with the cache cleared before every execution. Setup runs
  * each query once in list order (first touch, fixtures included) and
  * writes that result as parquet for the DuckDB oracle check; each
  * measured pass runs the list in a seed-shuffled order.
  */
final class QueryMix(ctx: Ctx, dir: Path, names: Seq[String]) extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val tables = dir.toString
  private val first = mutable.LinkedHashMap.empty[String, Double]
  private val warm = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def frame(q: String): DataFrame = SparkEntry.queries(q)(spark, tables)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def firstTouch(check: Boolean): Unit = names.foreach { q =>
    spark.sharedState.cacheManager.clearCache()
    val t0 = System.nanoTime()
    try {
      val df = frame(q)
      if (check) df.write.mode("overwrite").parquet(ctx.out.resolve("mix").resolve(q).toString)
      else noop(df)
    } catch {
      // a query that fails here leaves no output, which the check reports
      case e: Exception => System.err.println(s"[perfbench] $q failed: $e")
    }
    first(q) = (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = firstTouch(check = true)

  private def run(q: String): (String, Double, Boolean) = {
    spark.sharedState.cacheManager.clearCache()
    val t0 = System.nanoTime()
    val ok = try {
      val (_, ph) = ctx.phased(s"query:$q")(ctx.spans("SparkEntry.queries")(frame(q)))(noop)
      if (ph.nonEmpty) {
        val acc = family.getOrElseUpdate(familyOf(q), new Array[Double](4))
        ph.indices.foreach(i => acc(i) += ph(i))
      }
      true
    } catch {
      case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); false
    }
    val s = (System.nanoTime() - t0) / 1e9
    warm.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
    (q, s, ok)
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 7919L + pass).shuffle(names)

  def window(): Window = ctx.loop(ctx.seconds, MinPasses)(i => order(i).map(run))

  /** Per family, summed over the traced window: build s, eager jobs, plan s, exec s. */
  private val family = mutable.LinkedHashMap.empty[String, Array[Double]]
  private var tracedPasses = 0

  /** Micro-batch progress events received while `body` runs. */
  private def streaming(layers: mutable.Map[String, Double])(body: => Unit): Unit = {
    val l = ctx.stream
    val (t0, a0) = l.synchronized((l.triggerMs.size, l.addBatchMs.size))
    body
    ctx.drain()
    l.synchronized {
      val trig = l.triggerMs.drop(t0)
      layers("streaming.batches") = trig.size.toDouble
      layers("streaming.trigger_ms.mean") = if (trig.isEmpty) 0.0 else trig.sum.toDouble / trig.size
      layers("streaming.add_batch_ms.sum") = l.addBatchMs.drop(a0).sum.toDouble
    }
  }

  def tracedWindow(layers: mutable.Map[String, Double]): Window = {
    layers("fixtures.first_touch_s") = firstTouchCost
    val tw = window()
    tracedPasses = tw.passes.size
    tw
  }

  /** Sum over queries of first execution minus the warm median. */
  private def firstTouchCost: Double =
    first.keys.filter(warm.contains).map(q => first(q) - Main.median(warm(q).toSeq)).sum

  /** First touch and one warm run of `names` on probe inputs: the
    * streaming layer of every traced run (the mix's own stream query
    * replays only on first touch) and the fixture layer of other workloads.
    */
  def probe(layers: mutable.Map[String, Double]): Unit = {
    streaming(layers) {
      firstTouch(check = false)
      names.foreach(run)
    }
    layers.getOrElseUpdate("fixtures.first_touch_s", firstTouchCost)
  }

  def report(res: mutable.Map[String, String]): Unit = {
    res("first_s") = Json.obj(first.map { case (q, s) => q -> Json.num(s) })
    res("families") = Json.obj(family.map { case (f, a) =>
      f -> Json.nums(a.map(_ / math.max(1, tracedPasses)))
    })
    res("oracle_sql") = Json.obj(names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_))))
  }
}

object QueryMix {
  /** The measured list: one cell of `graft.Bench`'s headline list per
    * operator family.
    * `stream_intake_replay` is left to the streaming probe: it replays only
    * on first touch, so its passes would time a memo lookup.
    */
  val Mix: Seq[String] = Seq(
    "q01_pricing_summary", "cdc_fastcdc_chunks", "dedup_exact", "sim_lsh_topk",
    "text_token_stats", "pipeline_decontaminate", "mm_frame_sample")

  /** Passes per window at least: the later passes still speed up (JIT),
    * and each query's median over six is what the pass time is built from.
    */
  val MinPasses = 6

  /** The streaming probe of other workloads' traced runs. */
  val StreamProbe: Seq[String] = Seq("stream_intake_replay")

  def familyOf(q: String): String = q.takeWhile(_ != '_') match {
    case p if p.matches("q\\d+") => "rel"
    case "lake" => "pipeline"
    case p => p
  }
}
