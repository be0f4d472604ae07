package graft.tools

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Per-query profiler over [[graft.SparkEntry.queries]], on the session
  * `Bench` runs: [[graft.GraftSession]] at local[`SPARK_GRAFT_CPUS`]
  * (default 32), plus any `SPARK_EXTRA_CONFS="k=v;k=v"` for A/B runs.
  *
  * Usage: runMain graft.tools.Profile <time|jobs|explain|smoke> [sfDir] names…
  * (sfDir defaults to the sf0.1 bench data; no names means every query).
  *  - `time`: warm median of 3 cache-cleared passes of `.count()`, Bench's
  *    timed action, which lets Catalyst prune map-only work, and of a
  *    `noop` write, which materializes every output column.
  *  - `jobs`: wall time and task count of every job and stage of the
  *    median `.count()` pass, eager jobs run while the frame is built
  *    included — where the seconds go.
  *  - `explain`: the formatted plan, then the executed (post-AQE) plan
  *    after a collect.
  *  - `smoke`: one `.count()` per query, failures caught and counted — the
  *    fast check for schema drift across the whole surface.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val b = GraftSession.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    sys.env.get("SPARK_EXTRA_CONFS").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args) finally spark.stop()
  }

  /** Runs one mode over the named queries, printing one result line per
    * query (`TIME`, `JOBS`, `EXPLAIN`, `OK`/`FAIL`) and, for `smoke`, a
    * closing `SMOKE failed=N of M`.
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val usage = "usage: Profile <time|jobs|explain|smoke> [sfDir] names…"
    require(args.nonEmpty, usage)
    val (sfDir, given) = args.toSeq.tail match {
      case d +: ns if new java.io.File(d).isDirectory => (d, ns)
      case ns => ("/root/testdata/sf0.1", ns)
    }
    val names = if (given.nonEmpty) given else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    args.head match {
      case "time" => names.foreach(n => time(spark, n, () => frame(n)))
      case "jobs" => names.foreach(n => jobs(spark, n, () => frame(n)))
      case "explain" => names.foreach { n =>
        val df = frame(n)
        println(s"=== $n ===")
        df.explain("formatted")
        val rows = df.collect().length
        println(s"EXPLAIN $n rows=$rows executed plan:")
        println(df.queryExecution.executedPlan.toString)
      }
      case "smoke" =>
        val failed = names.count { n =>
          val ok = try { println(s"OK   $n rows=${frame(n).count()}"); true }
          catch { case NonFatal(e) =>
            println(s"FAIL $n : ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | "))
            false
          }
          spark.sharedState.cacheManager.clearCache()
          !ok
        }
        println(s"SMOKE failed=$failed of ${names.size}")
      case other => throw new IllegalArgumentException(s"unknown mode '$other'; $usage")
    }
  }

  /** Seconds of each of 3 passes, the cache manager cleared before each
    * (and after the last), so cached intermediates are rebuilt every pass.
    */
  private def passes[A](spark: SparkSession)(pass: => A): Seq[(Double, A)] = {
    val ps = (1 to 3).map { _ =>
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val a = pass
      ((System.nanoTime() - t0) / 1e9, a)
    }
    spark.sharedState.cacheManager.clearCache()
    ps
  }

  private def median[A](ps: Seq[(Double, A)]): (Double, A) = ps.sortBy(_._1).apply(1)

  private def time(spark: SparkSession, name: String, q: () => DataFrame): Unit = {
    def noop(): Unit = q().write.format("noop").mode("overwrite").save()
    val rows = q().count() // warmup, both actions
    noop()
    val countS = median(passes(spark)(q().count()))._1
    val noopS = median(passes(spark)(noop()))._1
    println(f"TIME $name rows=$rows count_s=$countS%.3f noop_s=$noopS%.3f")
  }

  /** Every job and completed stage, kept by id. A pass selects its jobs by
    * submission time, so events the listener bus delivers late still land
    * in the pass that ran them.
    */
  private final class JobLog extends SparkListener {
    val starts = TrieMap.empty[Int, SparkListenerJobStart]
    val ends = TrieMap.empty[Int, Long]
    val stages = TrieMap.empty[Int, StageInfo]
    override def onJobStart(e: SparkListenerJobStart): Unit = starts(e.jobId) = e
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ends(e.jobId) = e.time
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages(e.stageInfo.stageId) = e.stageInfo
  }

  private def jobs(spark: SparkSession, name: String, q: () => DataFrame): Unit = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      q().count() // warmup
      val (sec, (rows, t0, t1)) = median(passes(spark) {
        val t0 = System.currentTimeMillis()
        val rows = q().count()
        (rows, t0, System.currentTimeMillis())
      })
      // Fence: the listener bus delivers in order, so once a job started
      // after the passes has ended in the log, every earlier event is there.
      val tf = System.currentTimeMillis()
      sc.parallelize(Seq(0), 1).count()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!log.starts.values.exists(j => j.time >= tf && log.ends.contains(j.jobId)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val js = log.starts.values.filter(j => j.time >= t0 && j.time <= t1).toSeq.sortBy(_.jobId)
      val ss = js.flatMap(_.stageIds).distinct.flatMap(log.stages.get)
      println(f"JOBS $name rows=$rows sec=$sec%.3f master=${sc.master} jobs=${js.size} " +
        f"stages=${ss.size} tasks=${ss.map(_.numTasks).sum}")
      js.foreach { j =>
        println(f"  job ${j.jobId}%3d ${(log.ends.getOrElse(j.jobId, j.time) - j.time) / 1000.0}%7.3fs")
        j.stageIds.sorted.flatMap(log.stages.get).foreach { s =>
          val ms = s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)
          println(f"    stage ${s.stageId}%4d ${ms / 1000.0}%7.3fs tasks=${s.numTasks}%4d " +
            s.name.split("\n").head.take(90))
        }
      }
    } finally sc.removeSparkListener(log)
  }
}
