package graft.sources.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

/** Stream offset = a snapshot id of the metadata world. */
private[lake] case class LakeOffset(snap: Long) extends Offset {
  override def json(): String = s"""{"snap":$snap}"""
}

/** `spark.readStream.format("graft-lake")` — the INCREMENTAL APPEND
  * stream over a lake metadata world (VERDICT r16 #5), the lakehouse CDC
  * tail every Iceberg/Delta user runs: offsets are SNAPSHOT IDS, and
  * each micro-batch serves exactly the data files ADDED between two
  * lineage-adjacent snapshots — a manifest relpath diff, metadata-scale,
  * never a row-level comparison (the same fast path as the batch
  * `pipeline_incremental_scan`). History is walked along `parent_id`
  * lineage from the head (option `ref`, else max snap_id) back to the
  * start (option `startSnapshot`, EXCLUSIVE; default the world's
  * genesis), so branched worlds replay the right chain, not numeric id
  * order. A step that is NOT append-only (removes data files or adds
  * delete files) REFUSES loudly — the Iceberg incremental-append-scan
  * contract; row-level-delta consumers belong on the changelog readout
  * instead. `maxSnapshotsPerTrigger` (admission control) bounds how many
  * lineage steps one micro-batch may cover (default: all available).
  *
  * Scale shape: per trigger the driver reads the snapshots/manifests
  * tables (linear in file COUNT, the same metadata every real table
  * format reads to plan) and ships one InputPartition per ADDED file;
  * executors read them through the same vectorized columnar path as the
  * batch scan. A consumer tailing a 100 TB table pays |new files| per
  * batch, never table size.
  */
private[lake] class GraftLakeMicroBatchStream(
    metaRoot: String,
    required: StructType,
    partitionCols: Seq[String],
    startExclusive: Option[Long],
    ref: Option[String],
    maxSnapshotsPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active

  private def snapshots(): Seq[(Long, Long)] = { // (snap_id, parent_id)
    val s = spark
    import s.implicits._
    s.read.parquet(s"$metaRoot/snapshots")
      .select($"snap_id", $"parent_id").as[(Long, Long)].collect().toIndexedSeq
  }

  private def head(): Long =
    ref.fold(snapshots().map(_._1).max)(LakeResolver.refHead(spark, metaRoot, _))

  private def genesis(): Long = snapshots().map(_._1).min

  /** Lineage steps (ascending) from `from` (exclusive) to `to`, walked
    * via parent pointers — errors if `from` is not an ancestor of `to`.
    */
  private def lineage(from: Long, to: Long): Seq[Long] = {
    if (from == to) return Seq.empty
    val parent = snapshots().toMap
    val path = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur = to
    while (cur != from) {
      path += cur
      require(parent.contains(cur) && parent(cur) >= 0,
        s"graft-lake stream: snapshot $from is not an ancestor of $to " +
          s"(lineage walk ended at $cur)")
      cur = parent(cur)
    }
    path.reverse.toSeq
  }

  private def startSnap: Long = startExclusive.getOrElse(genesis())

  override def initialOffset(): Offset = LakeOffset(startSnap)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LakeOffset].snap
    val path = lineage(from, head())
    if (path.isEmpty) start
    else LakeOffset(path.take(maxSnapshotsPerTrigger).last)
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = spark
    import s.implicits._
    val from = start.asInstanceOf[LakeOffset].snap
    val to = end.asInstanceOf[LakeOffset].snap
    val steps = lineage(from, to)
    if (steps.isEmpty) return Array.empty
    val man = LakeFilters.normalizedManifests(s, metaRoot)
      .filter($"snap_id".isin((from +: steps): _*))
      .select($"snap_id", $"content", $"file", $"base")
      .as[(Long, String, String, String)].collect()
    def rel(f: String, b: String): String =
      java.nio.file.Paths.get(LakeIndex.normPath(b))
        .relativize(java.nio.file.Paths.get(LakeIndex.normPath(f)))
        .toString
    val bySnap = man.groupBy(_._1)
    var prev = from
    val added = steps.flatMap { snap =>
      val pm = bySnap.getOrElse(prev, Array.empty)
      val cm = bySnap.getOrElse(snap, Array.empty)
      val prevData = pm.collect { case (_, "data", f, b) => rel(f, b) }.toSet
      val prevDel = pm.collect { case (_, c, f, b) if c != "data" => rel(f, b) }.toSet
      val removed = prevData --
        cm.collect { case (_, "data", f, b) => rel(f, b) }.toSet
      val newDeletes = cm.collect {
        case (_, c, f, b) if c != "data" && !prevDel(rel(f, b)) => f }
      require(removed.isEmpty && newDeletes.isEmpty,
        s"graft-lake stream: snapshot $snap is not append-only " +
          s"(${removed.size} data files removed, ${newDeletes.length} delete " +
          "files added) — the incremental append stream refuses; read the " +
          "changelog for row-level deltas")
      val out = cm.collect {
        case (_, "data", f, b) if !prevData(rel(f, b)) =>
          (LakeIndex.normPath(b), LakeIndex.normPath(f))
      }
      prev = snap
      out
    }
    added.map { case (base, f) =>
      val pv = LakeResolver.partValuesOf(base, f)
      val cols = required.fields.map { fld =>
        if (partitionCols.contains(fld.name))
          ConstCol(pv.getOrElse(fld.name, null), fld.dataType): LakeColSpec
        else if (fld.name == "_file") ConstCol(f, fld.dataType): LakeColSpec
        else PhysCol(fld.name, fld.dataType): LakeColSpec
      }
      LakeInputPartition(f, 0L, cols, "", null, null): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(Array.empty, Array.empty)

  override def deserializeOffset(json: String): Offset =
    LakeOffset("""-?\d+""".r.findFirstIn(json).get.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
