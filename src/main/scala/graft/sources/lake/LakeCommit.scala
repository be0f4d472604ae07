package graft.sources.lake

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.max

/** One manifest entry of a snapshot: a data or delete file, the base its
  * partition tuple parses against, its commit sequence and (equality
  * deletes only) its key column.
  */
private[lake] case class LakeEntry(
    content: String, file: String, base: String, seq: Long, keyCol: String)

/** One catalog_log row: the version, its metadata root and snapshot. An
  * EMPTY meta_root is a DROP tombstone — the name is absent from that
  * version on, while older versions stay time-travelable.
  */
private[lake] case class CatalogPointer(
    version: Long, metaRoot: String, snapId: Long) {
  def dropped: Boolean = metaRoot.isEmpty
}

/** The lake's one commit path and one metadata writer: the catalog
  * compare-and-swap over the append-only `catalog_log`, the metadata-table
  * write, and the function that authors a metadata root (a snapshot
  * commit, a CREATE or ALTER TABLE world) and swaps the catalog pointer to it.
  */
object LakeCommit {

  /** Write the metadata table `name` under `root` as ONE parquet file,
    * replacing any earlier content. The only writer of a metadata table.
    */
  private[graft] def writeTable(root: Path, name: String, rows: DataFrame): Unit =
    rows.coalesce(1).write.mode("overwrite").parquet(root.resolve(name).toString)

  /** An empty `catalog_log` under `catalogRoot`, for [[catalogCommit]]. */
  private[graft] def emptyCatalog(s: SparkSession, catalogRoot: Path): Unit = {
    import s.implicits._
    writeTable(catalogRoot, "catalog_log", Seq.empty[(Long, String, String, Long)]
      .toDF("version", "table_name", "meta_root", "snap_id"))
  }

  /** Author ONE metadata root: `write` fills `root` and returns the
    * snapshot id the root pins, then the catalog pointer of `table` is
    * CAS-ed from `expectedVersion` to it. Returns the new catalog version.
    * Any failure — a lost CAS included — deletes `root` before
    * rethrowing, so a refused commit leaves nothing behind.
    */
  private[lake] def author(
      s: SparkSession, root: Path, catalogRoot: String, table: String,
      expectedVersion: Long)(write: => Long): Long =
    try {
      val snapId = write
      catalogCommit(s, s"$catalogRoot/catalog_log", table,
        expectedVersion, root.toString, snapId)
    } catch {
      case NonFatal(e) =>
        graft.Fixtures.deleteRecursively(root)
        throw e
    }

  /** CREATE / ALTER TABLE's root: the declared `cols` as `tableschema`
    * and a zero-row manifest. CREATE (`parent` None) starts snapshot 0;
    * ALTER adds no snapshot — it carries `parent`'s snapshots verbatim
    * and pins `parent`'s snapshot. CAS-ed from `expectedVersion` (−1 for
    * a new name, the tombstone's version for a dropped one).
    */
  private[lake] def schemaWorld(
      s: SparkSession, catalogRoot: String, table: String, expectedVersion: Long,
      parent: Option[CatalogPointer], cols: Seq[(String, String, Boolean)]): Unit = {
    import s.implicits._
    val root = graft.Fixtures.tempDir(
      if (parent.isEmpty) "graft_lakecreate" else "graft_lakealter")
    author(s, root, catalogRoot, table, expectedVersion) {
      writeTable(root, "tableschema", cols.zipWithIndex
        .map { case ((n, t, part), i) => (n, t, part, i.toLong) }
        .toDF("name", "dtype", "is_part", "ord"))
      writeTable(root, "manifests", Seq.empty[(Long, String, String, String, Long, String)]
        .toDF("snap_id", "content", "file", "base", "seq", "key_col"))
      parent match {
        case None =>
          writeTable(root, "snapshots",
            Seq((0L, "create", -1L)).toDF("snap_id", "op", "parent_id"))
          0L
        case Some(p) =>
          // no new snapshot: a zero-row manifest + the parent marker — every
          // existing snapshot's rows resolve through the chain
          LakeFilters.writeParentMarker(root, p.metaRoot)
          writeTable(root, "snapshots", s.read.parquet(s"${p.metaRoot}/snapshots"))
          p.snapId
      }
    }
  }

  /** Per-log monitor serializing the read-validate-append sequence of
    * [[catalogCommitAll]] within this JVM — without it two same-process
    * writers can both pass the CAS check and append duplicate versions.
    * Across processes a real catalog gets this from the store
    * (conditional PUT / rename-if-absent); the monitor is the single-JVM
    * stand-in for that primitive, same as the rest of the fixture layer.
    */
  private val catalogLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Append one catalog commit under COMPARE-AND-SWAP: the commit names
    * the version it expects to be current; a stale expectation (another
    * writer won the race) REFUSES so the loser re-resolves and retries —
    * the atomic-swap contract every catalog implements. Returns the new
    * version. The one-table case of [[catalogCommitAll]].
    */
  private[graft] def catalogCommit(
      s: SparkSession, logDir: String, table: String,
      expectedVersion: Long, metaRoot: String, snapId: Long): Long =
    catalogCommitAll(s, logDir, Seq((table, expectedVersion, metaRoot, snapId))).head

  /** MULTI-TABLE ATOMIC COMMIT — the cross-table transaction a derived-
    * table refresh needs (fact + its rollup must move together):
    * validate EVERY table's CAS expectation first, then append all rows
    * as ONE parquet file (coalesce(1)), so log readers observe every
    * table's new version or none. Any stale expectation refuses the
    * whole transaction before a byte is written — CatalogSpec pins
    * both-or-neither. Metadata-scale: reads |log| rows, appends one per
    * table.
    */
  private[graft] def catalogCommitAll(
      s: SparkSession, logDir: String,
      commits: Seq[(String, Long, String, Long)]): Seq[Long] =
    catalogLocks.computeIfAbsent(logDir, _ => new Object).synchronized {
      import s.implicits._
      // a table may move only ONCE per transaction — duplicate names
      // would append two rows at the same new version
      val dup = commits.groupBy(_._1).collect { case (t, cs) if cs.size > 1 => t }
      require(dup.isEmpty,
        s"duplicate tables in one transaction: ${dup.mkString(", ")}")
      val cur = graft.Tables.readCached(s, logDir)
        .groupBy($"table_name").agg(max($"version").as("v"))
        .as[(String, Long)].collect().toMap
      commits.foreach { case (t, exp, _, _) =>
        val c = cur.getOrElse(t, -1L)
        require(c == exp,
          s"catalog CAS failed for $t: expected v$exp, current is v$c " +
            "— re-resolve and retry" +
            (if (commits.size > 1) " (no table committed)" else ""))
      }
      val rows = commits.map { case (t, exp, root, snap) =>
        (exp + 1L, t, root, snap) }
      rows.toDF("version", "table_name", "meta_root", "snap_id")
        .coalesce(1).write.mode("append").parquet(logDir)
      rows.map(_._1)
    }

  /** The pointer `table` resolves to at catalog version `asOf` (default
    * the tip): its highest-version row ≤ asOf, tombstones included (see
    * [[CatalogPointer.dropped]]). None when the log never named the table.
    */
  private[lake] def catalogPointer(s: SparkSession, catalogRoot: String,
      table: String, asOf: Option[Long]): Option[CatalogPointer] = {
    import s.implicits._
    val rows = s.read.parquet(s"$catalogRoot/catalog_log")
      .filter($"table_name" === table)
      .select($"version", $"meta_root", $"snap_id")
      .as[(Long, String, Long)].collect()
    if (rows.isEmpty) None
    else {
      val hit = rows.filter(r => asOf.forall(r._1 <= _))
      require(hit.nonEmpty,
        s"graft-lake: $table has no version ≤ ${asOf.get} " +
          s"(have ${rows.map(_._1).sorted.mkString(",")})")
      Some(CatalogPointer.tupled(hit.maxBy(_._1)))
    }
  }

  /** Author ONE snapshot on top of the tip `ctx` loaded and CAS the
    * catalog pointer to it — the commit of every DML path (INSERT,
    * INSERT OVERWRITE, copy-on-write MERGE/UPDATE/DELETE, key DELETE,
    * TRUNCATE). Under the fresh metadata root `root` it writes:
    *
    *  - `manifests`: ONLY the new snapshot's rows — the tip entries
    *    `keep` accepts (None keeps none), then `add`'s entries. History
    *    stays in the parent chain ([[LakeFilters.manifestRoots]]);
    *  - `parent_root`: the world committed against;
    *  - `snapshots`: every existing snapshot plus (new id, `op`,
    *    parent = the loaded snapshot);
    *  - `tableschema`, carried verbatim when the world declares one.
    *
    * The new snapshot id is the world's max + 1, not pin + 1: a
    * pointer-only rollback pins a snap_id below the world's max, and
    * pin + 1 would collide with an existing snapshot (duplicate id =
    * merged manifests). The new sequence is the tip's max + 1; `add`
    * receives it by name, so a commit that keeps and adds nothing
    * (TRUNCATE TABLE) never reads the tip. Committed through [[author]]:
    * any failure — a lost CAS included — deletes `root`.
    */
  private[lake] def commitSnapshot(
      s: SparkSession, ctx: LakeMutationCtx, root: Path, op: String,
      keep: Option[LakeEntry => Boolean],
      add: (=> Long) => Seq[LakeEntry]): Unit =
    author(s, root, ctx.catalogLogDir, ctx.table, ctx.version) {
      import s.implicits._
      lazy val tip = LakeFilters.normalizedManifests(s, ctx.metaRoot)
        .filter($"snap_id" === ctx.snapId)
        .select($"content", $"file", $"base", $"seq", $"key_col")
        .as[(String, String, String, Long, String)].collect()
        .map(LakeEntry.tupled).toSeq
      lazy val newSeq = tip.map(_.seq).maxOption.getOrElse(0L) + 1L
      val snaps = s.read.parquet(s"${ctx.metaRoot}/snapshots")
      val newSnap = snaps.agg(max($"snap_id")).as[Long].head() + 1L
      val entries = keep.fold(Seq.empty[LakeEntry])(k => tip.filter(k)) ++ add(newSeq)
      writeTable(root, "manifests",
        entries.map(e => (newSnap, e.content, e.file, e.base, e.seq, e.keyCol))
          .toDF("snap_id", "content", "file", "base", "seq", "key_col"))
      LakeFilters.writeParentMarker(root, ctx.metaRoot)
      writeTable(root, "snapshots", snaps.select($"snap_id", $"op", $"parent_id")
        .unionByName(Seq((newSnap, op, ctx.snapId))
          .toDF("snap_id", "op", "parent_id")))
      LakeFilters.carryTableSchema(s, ctx.metaRoot, root)
      newSnap
    }
}
