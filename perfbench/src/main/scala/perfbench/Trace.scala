package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans around the benchmark's calls into the library's public
  * functions: name, start, end, parent span and run id. Recording is off
  * until [[Spans.on]]; the spans are written as JSON lines when the run
  * ends. Spans nest per thread.
  */
final class Spans(runId: String) {
  import Spans.Span

  @volatile private var live = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def on(): Unit = live = true
  def off(): Unit = live = false
  def enabled: Boolean = live

  /** Run `body`, recording a span when enabled; returns its result. */
  def apply[T](name: String)(body: => T): T =
    if (!live) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        done.synchronized(done += Span(id, parents.headOption.getOrElse(0), name, t0, t1))
      }
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.synchronized(done.sortBy(_.startNs).toList).map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Counts what Spark ran: jobs, tasks, stage time, shuffle, spill, GC and
  * input bytes. Read [[snapshot]] after [[ExecListener.drain]] so the
  * counters include every event of the actions that just finished.
  */
final class ExecListener extends SparkListener {
  val jobs, tasks, stageNs, shuffleWrite, shuffleRead, spill, gcMs, input =
    new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageNs.addAndGet((b - a) * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "stage_ns" -> stageNs.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "shuffle_read_bytes" -> shuffleRead.get,
    "spill_bytes" -> spill.get, "gc_ms" -> gcMs.get, "input_bytes" -> input.get)
}

object ExecListener {
  def drain(sc: SparkContext): Unit = PerfbenchBus.drain(sc)

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before(k)) }
}

/** Micro-batch progress as the engine reports it. */
final class StreamListener extends StreamingQueryListener {
  val triggerMs = mutable.ArrayBuffer.empty[Long]
  val addBatchMs = mutable.ArrayBuffer.empty[Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    synchronized {
      Option(d.get("triggerExecution")).foreach(v => triggerMs += v.longValue)
      Option(d.get("addBatch")).foreach(v => addBatchMs += v.longValue)
    }
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (java.lang.Double.isFinite(v)) java.lang.Double.toString(v) else "null"
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  def nums(vs: Iterable[Double]): String = arr(vs.map(num))
}
