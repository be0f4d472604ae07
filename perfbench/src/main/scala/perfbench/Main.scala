package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs: the session, its directories, and the
  * tracing hooks (inert until a traced window turns them on).
  */
final class Ctx(
    val spark: SparkSession,
    val inputs: Path,
    val out: Path,
    val seconds: Double,
    val seed: Long,
    val spans: Spans) {
  val exec = new ExecListener
  val stream = new StreamListener
  private var listening = false

  def drain(): Unit = ExecListener.drain(spark.sparkContext)

  /** Register the listeners and start recording spans. */
  def traceOn(): Unit = {
    if (!listening) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
      listening = true
    }
    spans.on()
  }

  /** Deliver pending events, then unregister the listeners and stop spans. */
  def traceOff(): Unit = {
    if (listening) {
      drain()
      spark.sparkContext.removeSparkListener(exec)
      spark.streams.removeListener(stream)
      listening = false
    }
    spans.off()
  }

  /** When set, [[loop]] alternates untraced (even) and traced (odd)
    * passes, so JIT warming over the window affects both alike.
    */
  var interleave = false

  /** Closed loop: run `pass` until `seconds` have passed and at least
    * `minPasses` passes ran. Interleaved, the window holds the traced
    * passes and `untraced` the others.
    */
  def loop(seconds: Double, minPasses: Int)(pass: Int => Seq[(String, Double, Boolean)]): Window = {
    val passes, cpu, untraced = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    var failed = 0
    val t0 = System.nanoTime()
    var i = 0
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds ||
        passes.size + untraced.size < minPasses) {
      val counted = !interleave || i % 2 == 1
      if (interleave) { if (counted) traceOn() else traceOff() }
      val p0 = System.nanoTime()
      val c0 = Main.cpuSeconds()
      val results = pass(i)
      val s = (System.nanoTime() - p0) / 1e9
      val c = Main.cpuSeconds() - c0
      results.foreach { case (_, _, ok) => if (!ok) failed += 1 }
      if (counted) { passes += s; cpu += c; ops ++= results.map { case (k, t, _) => k -> t } }
      else untraced += s
      i += 1
    }
    if (interleave) traceOn()
    Window(passes.toSeq, ops.toSeq, failed, cpu.toSeq, untraced.toSeq)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-operation phases of the traced window (see [[phased]]). */
  val opPhases = mutable.ArrayBuffer.empty[Array[Double]]
  var recording = false

  /** Build a frame with a library call and run it. While tracing, time
    * the phases — build (eager jobs included), planning
    * (`queryExecution.executedPlan`), execution — and count the jobs the
    * build ran; they are returned as (build s, eager jobs, plan s, exec s)
    * and, inside the traced window, kept for the operator-layer metrics.
    */
  def phased[T](name: String)(build: => DataFrame)(run: DataFrame => T): (T, Array[Double]) =
    if (!spans.enabled) (run(build), Array.empty)
    else spans(name) {
      drain()
      val j0 = exec.jobs.get
      val (df, b) = time(spans("build")(build))
      drain()
      val eager = (exec.jobs.get - j0).toDouble
      val (_, p) = time(spans("QueryExecution.executedPlan")(df.queryExecution.executedPlan))
      val (r, e) = time(spans("execute")(run(df)))
      val ph = Array(b, eager, p, e)
      if (recording) opPhases += ph
      (r, ph)
    }
}

/** One workload's measured window: pass times and per-operation samples. */
final case class Window(
    passes: Seq[Double], ops: Seq[(String, Double)], failed: Int,
    cpu: Seq[Double], untraced: Seq[Double])

/** The JVM half of the benchmark. It receives only generated inputs, runs
  * one workload, and writes `result.json` (raw samples, outputs to check,
  * and in a traced run the per-layer metrics) plus `spans.jsonl`.
  *
  * {{{
  *   perfbench.Main --workload <name> --inputs <dir> --out <dir>
  *                  --seconds <s> --seed <n> --trace <0|1> --cpus <n>
  * }}}
  */
object Main {
  val Workloads = Seq("dedup_ingest", "query_mix", "lake_read_write")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session started")
    val ctx = new Ctx(spark, Paths.get(opt("inputs")), out, opt("seconds").toDouble,
      opt("seed").toLong, new Spans(s"$workload-${opt("seed")}"))
    val res = mutable.LinkedHashMap.empty[String, String]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    val bench: Workload = workload match {
      case "dedup_ingest" => new DedupIngest(ctx, ctx.inputs)
      case "query_mix" => new QueryMix(ctx, ctx.inputs, QueryMix.Mix)
      case "lake_read_write" => new LakeReadWrite(ctx, ctx.inputs, "bench")
    }
    bench.setup()
    phase("setup done")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res("jvm_setup_s") = Json.num((System.currentTimeMillis() - jvmStartMs) / 1e3)
    res("jvm_setup_cpu_s") = Json.num(processCpuSeconds())
    val w = bench.window()
    res("passes") = Json.nums(w.passes)
    res("pass_cpu") = Json.nums(w.cpu)
    res("ops") = Json.arr(w.ops.map { case (k, s) => Json.arr(Seq(Json.str(k), Json.num(s))) })
    res("failed_ops") = w.failed.toString
    phase("window done")

    if (traced) {
      // The window again, its passes alternating untraced and traced (one
      // traced op stream on a fresh table for the lake); the traced
      // passes' slowdown against the untraced ones is the overhead.
      bench.beforeTraced()
      ctx.traceOn()
      ctx.drain()
      val before = ctx.exec.snapshot
      ctx.recording = true
      ctx.interleave = bench.interleaved
      val tw = bench.tracedWindow(layers)
      ctx.interleave = false
      ctx.recording = false
      ctx.drain()
      val d = ExecListener.delta(ctx.exec.snapshot, before)
      val n = tw.passes.size.toDouble
      val untraced = if (tw.untraced.nonEmpty) tw.untraced else w.passes
      layers("trace.overhead_frac") = mean(tw.passes) / mean(untraced) - 1.0
      layers("exec.jobs") = d("jobs") / n
      layers("exec.tasks") = d("tasks") / n
      layers("exec.stage_sum_over_wall") = d("stage_ns") / 1e9 / tw.passes.sum
      layers("exec.shuffle_write_bytes") = d("shuffle_write_bytes") / n
      layers("exec.shuffle_read_bytes") = d("shuffle_read_bytes") / n
      layers("exec.spill_bytes") = d("spill_bytes") / n
      layers("exec.gc_s") = d("gc_ms") / 1e3 / n
      layers("exec.input_bytes") = d("input_bytes") / n
      Seq("build_s", "eager_jobs", "plan_s", "exec_s").zipWithIndex.foreach { case (k, i) =>
        layers(s"operators.$k") = mean(ctx.opPhases.map(_(i)).toSeq)
      }
      res("traced_failed_ops") = tw.failed.toString
      bench.afterTraced(layers)
      phase("traced window done")
      // Layers this workload does not exercise are measured by a small
      // probe of the workload that does, on probe-sized inputs.
      val probes = ctx.inputs.resolve("probe")
      if (workload != "dedup_ingest") new DedupIngest(ctx, probes).probe(layers)
      new QueryMix(ctx, probes, QueryMix.StreamProbe).probe(layers)
      if (workload != "lake_read_write") new LakeReadWrite(ctx, probes, "probe").probe(layers)
      ctx.spans.write(out.resolve("spans.jsonl"))
      phase("probes done")
    }
    bench.report(res)
    phase("report done")
    res("peak_rss_mb") = Json.num(peakRssMb())
    res("layers") = Json.obj(layers.map { case (k, v) => k -> Json.num(v) })
    Files.write(out.resolve("result.json"), Json.obj(res).getBytes("UTF-8"))
    spark.stop()
  }

  private val t0 = System.nanoTime()

  /** Progress lines on stderr, which the runner keeps in the run's log. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val process = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the JVM's live Java threads (the driver, the task threads
    * and their helpers; not the JIT compiler or GC threads), in seconds.
    * Unlike wall time it does not grow when other processes take the CPUs.
    */
  def cpuSeconds(): Double =
    threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum / 1e9

  /** CPU time of the whole JVM since it started, all threads, in seconds. */
  def processCpuSeconds(): Double = process.getProcessCpuTime / 1e9

  /** VmHWM (peak resident set) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

}

/** A workload: set up (untimed by the window), one measured window, the
  * same window traced (filling its own layers' metrics), a probe-sized
  * traced run for other workloads' traced runs, and its outputs to check.
  */
trait Workload {
  def setup(): Unit
  def window(): Window
  def tracedWindow(layers: mutable.Map[String, Double]): Window
  /** Whether the traced window alternates untraced and traced passes. */
  def interleaved: Boolean = true
  /** Untimed preparation before the traced window. */
  def beforeTraced(): Unit = ()
  /** Layer measurements that run their own jobs, after the traced window. */
  def afterTraced(layers: mutable.Map[String, Double]): Unit = ()
  def probe(layers: mutable.Map[String, Double]): Unit
  def report(res: mutable.Map[String, String]): Unit
}
