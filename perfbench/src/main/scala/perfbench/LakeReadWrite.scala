package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.sources.lake.GraftLakeCatalog

/** lake_read_write: a fresh `GraftLakeCatalog` table made by CTAS from
  * seeded rows (partitioned on `ship_month`, keyed on `l_orderkey`), then
  * a fixed, seeded stream of reads (point lookups, partition aggregates,
  * `VERSION AS OF` time travel) and commits (`INSERT INTO`, key-equality
  * `DELETE FROM`, `MERGE INTO`). Every read result is kept for the check
  * against an in-memory model of each table version.
  */
final class LakeReadWrite(ctx: Ctx, dir: Path, name: String) extends Workload {
  import LakeReadWrite._
  private val spark = ctx.spark
  private val ops: Seq[JValue] = parse(Files.readString(dir.resolve("lake_ops.json"))) match {
    case JArray(xs) => xs
    case other => sys.error(s"lake_ops.json is not a list: $other")
  }
  private var tables = 0
  private var table: String = _
  private var catalogDir: Path = _
  private val reads = mutable.ArrayBuffer.empty[(Int, Int, String)] // (table, op, result)

  private def fresh(): Unit = {
    import spark.implicits._
    tables += 1
    val cat = s"lake_$name$tables"
    catalogDir = ctx.out.resolve(cat)
    Seq.empty[(Long, String, String, Long)].toDF("version", "table_name", "meta_root", "snap_id")
      .coalesce(1).write.parquet(catalogDir.resolve("catalog_log").toString)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.catalogDir", catalogDir.toString)
    table = s"$cat.t"
    spark.read.parquet(dir.resolve("lake_rows.parquet").toString)
      .createOrReplaceTempView("pb_lake_rows")
    ctx.spans("CTAS")(spark.sql(s"CREATE TABLE $table PARTITIONED BY (ship_month) AS " +
      "SELECT l_orderkey, l_partkey, qty, net_cents, ship_month FROM pb_lake_rows"))
    // warm the read path (not recorded)
    spark.sql(pointSql(0)).collect()
    spark.sql(aggSql("1995-01", None)).collect()
    spark.sql(aggSql("1995-01", Some(1))).collect()
  }

  private def pointSql(k: Long) =
    s"SELECT l_orderkey, l_partkey, qty, net_cents, ship_month FROM $table WHERE l_orderkey = $k"

  private def aggSql(month: String, version: Option[Long]) =
    "SELECT count(*), coalesce(sum(qty), 0), coalesce(sum(net_cents), 0) FROM " +
      table + version.map(v => s" VERSION AS OF $v").getOrElse("") +
      s" WHERE ship_month = '$month'"

  def setup(): Unit = fresh()

  // per-op layer samples, filled only by traced runs
  private val resolveMs, resolveAfterCommitMs, planMs, scanMs = mutable.ArrayBuffer.empty[Double]
  private val commitMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var readJobs, commitJobs, readInput, rowsOut, userBytes = 0L
  private var traced = false

  private def sqlOf(op: JValue): (String, String) = {
    val JString(kind) = op \ "kind"
    def long(v: JValue): Long = v match { case JInt(i) => i.toLong; case JLong(l) => l; case x => sys.error(s"$x") }
    def str(v: JValue): String = v match { case JString(s) => s; case x => sys.error(s"$x") }
    kind -> (kind match {
      case "point" => pointSql(long(op \ "key"))
      case "part_agg" => aggSql(str(op \ "month"), None)
      case "travel" => aggSql(str(op \ "month"), Some(long(op \ "version")))
      case "insert" =>
        val JArray(rows) = op \ "rows"
        if (traced) userBytes += rows.map(r => 32L + str(r(4)).length).sum
        s"INSERT INTO $table VALUES " + rows.map { r =>
          s"(${long(r(0))}, ${long(r(1))}, ${long(r(2))}, ${long(r(3))}, '${str(r(4))}')"
        }.mkString(", ")
      case "eqdelete" =>
        val JArray(keys) = op \ "keys"
        if (traced) userBytes += 8L * keys.size
        s"DELETE FROM $table WHERE l_orderkey IN (${keys.map(long).mkString(", ")})"
      case "merge" =>
        import spark.implicits._
        val JArray(src) = op \ "src"
        if (traced) userBytes += src.map(r => 16L + str(r(2)).length).sum
        src.map(r => (long(r(0)), long(r(1)), str(r(2)))).toDF("k", "dq", "month")
          .createOrReplaceTempView("pb_merge_src")
        s"""MERGE INTO $table t USING pb_merge_src s ON t.l_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET qty = t.qty + s.dq
           |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_partkey, qty, net_cents, ship_month)
           |  VALUES (s.k, 1, s.dq, 555, s.month)""".stripMargin
      case other => sys.error(s"unknown lake op $other")
    })
  }

  private var afterCommit = false

  private def run(i: Int, op: JValue): (String, Double, Boolean) = {
    val (kind, sql) = sqlOf(op)
    val isRead = ReadKinds.contains(kind)
    if (traced) ctx.drain()
    val before = if (traced) ctx.exec.snapshot else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val ok = try {
      if (isRead) {
        val (rows, ph) = ctx.phased(s"read:$kind")(ctx.spans("SparkSession.sql")(spark.sql(sql)))(_.collect())
        val cells = rows.toSeq.map(r => Json.arr(r.toSeq.map {
          case s: String => Json.str(s)
          case v => v.toString
        }))
        reads += ((tables, i, Json.arr(cells.sorted)))
        if (traced) {
          (if (afterCommit) resolveAfterCommitMs else resolveMs) += ph(0) * 1e3
          planMs += ph(2) * 1e3
          scanMs += ph(3) * 1e3
          rowsOut += rows.length
        }
      } else ctx.phased(s"commit:$kind")(ctx.spans("SparkSession.sql")(spark.sql(sql)))(_ => ())
      true
    } catch {
      case e: Exception => System.err.println(s"[perfbench] lake op $i $kind failed: $e"); false
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (traced) {
      ctx.drain()
      val d = ExecListener.delta(ctx.exec.snapshot, before)
      if (isRead) { readJobs += d("jobs"); readInput += d("input_bytes") }
      else {
        commitJobs += d("jobs")
        commitMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s * 1e3
      }
    }
    afterCommit = !isRead
    (kind, s, ok)
  }

  def window(): Window = ctx.loop(0, 0)(_ => ops.zipWithIndex.map { case (op, i) => run(i, op) })

  override def beforeTraced(): Unit = fresh()

  /** One op stream is one pass: the traced stream runs on a fresh table. */
  override def interleaved: Boolean = false

  def tracedWindow(layers: mutable.Map[String, Double]): Window = {
    traced = true
    val (b0, _) = lakeBytesFiles()
    val w = window()
    val (b1, files) = lakeBytesFiles()
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val nReads = ops.count(o => ReadKinds.contains((o \ "kind").values.toString))
    val nCommits = ops.size - nReads
    layers("lake.resolve_ms.mean") = mean(resolveMs ++ resolveAfterCommitMs)
    layers("lake.resolve_ms.after_commit_mean") = mean(resolveAfterCommitMs)
    layers("lake.plan_ms.mean") = mean(planMs)
    layers("lake.scan_ms.mean") = mean(scanMs)
    Seq("insert", "eqdelete", "merge").foreach { k =>
      layers(s"lake.commit_ms.$k.mean") = mean(commitMs.getOrElse(k, Nil))
    }
    layers("lake.jobs_per_read") = readJobs.toDouble / math.max(1, nReads)
    layers("lake.jobs_per_commit") = commitJobs.toDouble / math.max(1, nCommits)
    layers("lake.write_amp") = (b1 - b0).toDouble / math.max(1L, userBytes)
    layers("lake.read_amp") = readInput.toDouble / math.max(1L, rowsOut)
    layers("lake.meta_files") = files.toDouble
    traced = false
    w
  }

  /** Bytes and files the lake holds: the catalog dir plus the metadata
    * worlds and data dirs its commits create under the temp dir.
    */
  private def lakeBytesFiles(): (Long, Long) = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val roots = catalogDir +: Files.list(tmp).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("graft_lake"))
    var bytes, files = 0L
    roots.foreach { r =>
      val it = Files.walk(r)
      try it.forEach(p => if (Files.isRegularFile(p)) { bytes += Files.size(p); files += 1 })
      finally it.close()
    }
    (bytes, files)
  }

  def probe(layers: mutable.Map[String, Double]): Unit = {
    fresh()
    tracedWindow(layers)
  }

  def report(res: mutable.Map[String, String]): Unit =
    res("reads") = Json.arr(reads.map { case (t, i, r) => Json.arr(Seq(t.toString, i.toString, r)) })
}

object LakeReadWrite {
  val ReadKinds = Set("point", "part_agg", "travel")
}
