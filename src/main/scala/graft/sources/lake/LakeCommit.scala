package graft.sources.lake

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
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

/** The lake's one commit path: the catalog compare-and-swap over the
  * append-only `catalog_log`, and the one function that authors a new
  * snapshot on top of a loaded table and swaps the catalog pointer to it.
  */
object LakeCommit {

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
    * (TRUNCATE TABLE) never reads the tip. Any failure — a lost CAS
    * included — deletes `root` before rethrowing.
    */
  private[lake] def commitSnapshot(
      s: SparkSession, ctx: LakeMutationCtx, root: Path, op: String,
      keep: Option[LakeEntry => Boolean],
      add: (=> Long) => Seq[LakeEntry]): Unit =
    try {
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
      entries.map(e => (newSnap, e.content, e.file, e.base, e.seq, e.keyCol))
        .toDF("snap_id", "content", "file", "base", "seq", "key_col")
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("manifests").toString)
      LakeFilters.writeParentMarker(root, ctx.metaRoot)
      snaps.select($"snap_id", $"op", $"parent_id")
        .unionByName(Seq((newSnap, op, ctx.snapId))
          .toDF("snap_id", "op", "parent_id"))
        .coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("snapshots").toString)
      LakeFilters.carryTableSchema(s, ctx.metaRoot, root)
      catalogCommit(s, s"${ctx.catalogLogDir}/catalog_log", ctx.table,
        expectedVersion = ctx.version, metaRoot = root.toString,
        snapId = newSnap)
    } catch {
      case NonFatal(e) =>
        graft.Fixtures.deleteRecursively(root)
        throw e
    }
}
