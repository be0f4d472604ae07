package graft.sources.lake

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** `graft-lake` — the DataSourceV2 entry into the lakehouse metadata layer
  * (VERDICT r15 #1): `spark.read.format("graft-lake")` resolves
  * catalog version → ref/snapshot → manifest file list, prunes files by
  * partition predicate AND bloom sidecar, applies WHATEVER MIX of delete
  * forms the snapshot's metadata carries (deletion vectors, position
  * deletes, equality deletes — sequence-rule-aware), maps old files
  * through the column-ID schema (rename/widen/drop + initial defaults),
  * and serves it all through one Scan that composes with plain
  * DataFrame/SQL code. The metadata worlds it reads are the proven r14/r15
  * fixtures (snapshotMetaDir, branchMetaDir, LakeFixture, schemaIdDir,
  * catalogDir) — the connector is the missing USER SURFACE over them, not
  * new semantics, and every lake_* query is judged by the same verbatim
  * DuckDB oracles as the library-path twins.
  *
  * Options:
  *   - `metaRoot`   — dir carrying snapshots/ + manifests/ (+ refs_log/)
  *   - `catalog` + `table` [+ `asOfVersion`] — resolve metaRoot+snapshot
  *     through a catalog_log (the CAS pointer layer)
  *   - `snapshot`   — snapshot id (default: ref, catalog pin, or tip)
  *   - `ref`        — branch/tag name resolved through refs_log
  *   - `schemaRoot` [+ `schemaVersion`] — column-ID mapped world
  *     (schemas/ + releases/ + data/release=*)
  *   - `indexCol`   — bloom-sidecar key column (default l_orderkey)
  *
  * Scale shape: ALL resolution is metadata-scale driver work (manifest
  * rows, DV rows per touched file, eq keys — never data rows); the data
  * path is one InputPartition per pruned file, served COLUMNAR through
  * Spark's vectorized parquet reader ([[LakeColumnarPartitionReader]])
  * with row-level deletes applied as per-batch survival maps and the
  * column-ID rename/widen/default logic riding the requested schema.
  * PlanQualitySpec pins the ColumnarToRow transition on every world.
  */
class GraftLakeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeResolver.resolve(SparkSession.active, options.asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftLakeTable(LakeResolver.resolve(
      SparkSession.active, properties.asScala.toMap))

  override def supportsExternalMetadata(): Boolean = false
}

/** One data file of a resolved snapshot: its commit sequence, partition
  * tuple (parsed from the path, Hive-style), per-read-column physical
  * source name (column-ID mapping; a read column absent here serves its
  * default or typed null), and its row-level delete state.
  */
private[lake] case class LakeFileSpec(
    path: String,
    seq: Long,
    partValues: Map[String, String],
    physByRead: Map[String, String],
    dvWords: Array[Long],
    posDeletes: Array[Long]) extends Serializable

private[lake] case class ResolvedLakeTable(
    name: String,
    schema: StructType,
    partitionCols: Seq[String],
    defaults: Map[String, String], // read col -> initial-default literal
    files: Seq[LakeFileSpec],
    eqKeyCol: String, // "" when the snapshot carries no equality deletes
    eqKeys: Array[Long],
    eqSeqs: Array[Long],
    idxPath: Option[String],
    indexCol: String) extends Serializable

private[lake] object LakeResolver {
  import LakeIndex.{matchedFilesOnly, normPath}

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Map[String, String], ResolvedLakeTable]()

  /** Cache only IMMUTABLE resolutions. metaRoot/schemaRoot worlds are
    * write-once (commits author a FRESH root and swap the catalog
    * pointer), and a catalog lookup WITH asOfVersion is stable because
    * catalog_log is append-only with monotone versions. A catalog lookup
    * WITHOUT asOfVersion resolves the mutable tip pointer — caching it
    * would serve the pre-commit snapshot after an INSERT/DELETE/MERGE
    * (no read-your-writes), so it re-reads the pointer log every time.
    */
  private def cacheable(options: Map[String, String]): Boolean = {
    def has(k: String) = options.keys.exists(_.equalsIgnoreCase(k))
    !has("catalog") || has("asOfVersion")
  }

  def resolve(s: SparkSession, options: Map[String, String]): ResolvedLakeTable =
    if (cacheable(options)) cache.computeIfAbsent(options, _ => doResolve(s, options))
    else doResolve(s, options)

  private def doResolve(
      s: SparkSession, opts: Map[String, String]): ResolvedLakeTable = {
    import s.implicits._
    def opt(k: String): Option[String] =
      opts.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
    val indexCol = opt("indexCol").getOrElse("l_orderkey")

    if (opt("schemaRoot").nonEmpty) return resolveSchemaWorld(s, opts)

    // 1. catalog pointer → (metaRoot, snapshot): highest version ≤ asOf
    val (metaRoot, catalogSnap) = opt("catalog") match {
      case Some(cat) =>
        val table = opt("table").getOrElse(
          sys.error("graft-lake: option 'table' required with 'catalog'"))
        val r = LakeCommit.catalogPointer(s, cat, table,
            opt("asOfVersion").map(_.toLong))
          .getOrElse(sys.error(s"graft-lake: unknown table $table in $cat"))
        require(!r.dropped,
          s"graft-lake: $table is dropped at version ${r.version} " +
            "(empty meta_root tombstone) — time-travel below it to read history")
        (r.metaRoot, Some(r.snapId))
      case None =>
        (opt("metaRoot").getOrElse(sys.error(
          "graft-lake: one of 'metaRoot' or 'catalog' is required")), None)
    }

    // 2. ref → snapshot (latest refs_log step per ref), else option, else
    //    catalog pin, else the lineage tip
    val snaps = s.read.parquet(s"$metaRoot/snapshots")
    val snapId = opt("ref") match {
      case Some(ref) => refHead(s, metaRoot, ref)
      case None => opt("snapshot").map(_.toLong)
        .orElse(catalogSnap)
        .getOrElse(snaps.agg(org.apache.spark.sql.functions.max($"snap_id"))
          .as[Long].head())
    }

    // 3. manifests of that snapshot, normalized across the metadata
    //    layouts (content defaults to data, seq to 0, per-root base
    //    resolution) and unioned across the commit chain's parent roots
    //    — the snapshot's rows live in exactly one chain root
    val entries = LakeFilters.normalizedManifests(s, metaRoot)
      .filter($"snap_id" === snapId)
      .select($"content", $"file", $"base", $"seq", $"key_col")
      .as[(String, String, String, Long, String)].collect()
      .map { case (c, f, b, q, k) =>
        require(b.nonEmpty,
          s"graft-lake: snapshot $snapId has no base for $f")
        (c, normPath(f), normPath(b), q, k)
      }
    // entries MAY be empty: a table bootstrapped by CREATE TABLE has a
    // zero-row manifest at snapshot 0 (the require after `declared`
    // below still rejects a world with neither files nor a tableschema)

    // 4. delete-file contents — metadata-scale reads (one DV row per
    //    touched file; |keys| eq rows; |deleted rows| positions)
    val dvByFile: Map[String, Array[Long]] = {
      val fs = entries.filter(_._1 == "dv").map(_._2)
      if (fs.isEmpty) Map.empty
      else s.read.parquet(fs.toIndexedSeq: _*)
        .select($"file", $"bits").as[(String, Seq[Long])].collect()
        .map { case (f, w) => normPath(f) -> w.toArray }.toMap
    }
    val posByFile: Map[String, Array[Long]] = {
      val fs = entries.filter(_._1 == "pos_del").map(_._2)
      if (fs.isEmpty) Map.empty
      else s.read.parquet(fs.toIndexedSeq: _*)
        .select($"file", $"pos").as[(String, Long)].collect()
        .groupBy(t => normPath(t._1))
        .map { case (f, ps) => f -> ps.map(_._2).sorted }
    }
    val eqEntries = entries.filter(_._1 == "eq_del")
    val eqKeyCol = eqEntries.map(_._5).distinct.filter(_.nonEmpty) match {
      case Array() => ""
      case Array(k) => k
      case ks => sys.error(
        s"graft-lake: mixed equality-delete key columns ${ks.mkString(",")}")
    }
    val (eqKeys, eqSeqs) =
      if (eqEntries.isEmpty) (Array.empty[Long], Array.empty[Long])
      else {
        // keep the MAX delete sequence per key: under the strictly-older
        // rule the max is the only one that can matter per data file
        val m = eqEntries.groupBy(_._4).toSeq.flatMap { case (seq, es) =>
          s.read.parquet(es.map(_._2).toIndexedSeq: _*)
            .select($"k").as[Long].collect().map(_ -> seq)
        }.groupBy(_._1).map { case (k, ss) => k -> ss.map(_._2).max }
        (m.keys.toArray, m.keys.toArray.map(m))
      }

    // 5. data files + their partition tuples and delete state
    val dataEntries = entries.filter(_._1 == "data")
    // worlds bootstrapped through CREATE TABLE / CTAS carry a
    // `tableschema` table (name, dtype DDL, is_part, ord) — the schema
    // source that lets an EMPTY table resolve (no file footer to read)
    // and keeps column ORDER stable across commits
    val declared: Option[(StructType, Seq[String])] = {
      val tsDir = s"$metaRoot/tableschema"
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(tsDir))) None
      else {
        val rows = s.read.parquet(tsDir)
          .select($"name", $"dtype", $"is_part", $"ord")
          .as[(String, String, Boolean, Long)].collect().sortBy(_._4)
        Some((StructType(rows.map(r =>
            StructField(r._1, DataType.fromDDL(r._2), nullable = true))),
          rows.filter(_._3).map(_._1).toSeq))
      }
    }
    require(dataEntries.nonEmpty || declared.nonEmpty,
      s"graft-lake: snapshot $snapId has no data files and no tableschema " +
        s"in $metaRoot")
    val partCols = declared.map(_._2)
      .getOrElse(partColsOf(dataEntries.head._3, dataEntries.head._2))
    val files = dataEntries.map { case (_, f, base, seq, _) =>
      LakeFileSpec(f, seq, partValuesOf(base, f),
        Map.empty, dvByFile.getOrElse(f, null),
        posByFile.getOrElse(f, null))
    }

    // 6. read schema: the declared tableschema when present, else first
    //    file's footer (driver-side, one file) plus the path-derived
    //    partition columns
    val schema = declared.map(_._1).getOrElse {
      val dataSchema = s.read.parquet(dataEntries.head._2).schema
      StructType(dataSchema.fields ++
        partCols.map(p => StructField(p, StringType, nullable = true)))
    }

    // 7. per-snapshot bloom sidecar (snapshots.idx column, or idx<id>/)
    val idxPath =
      (if (snaps.columns.contains("idx"))
        snaps.filter($"snap_id" === snapId).select($"idx").as[String]
          .collect().headOption.filter(_.nonEmpty)
      else None)
        .orElse(Some(s"$metaRoot/idx$snapId")
          .filter(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))))

    ResolvedLakeTable(s"lake@$snapId", schema, partCols, Map.empty,
      files.toIndexedSeq, eqKeyCol, eqKeys, eqSeqs, idxPath, indexCol)
  }

  /** Head snapshot of `ref` in the world at `metaRoot`: its latest
    * refs_log step.
    */
  private[lake] def refHead(
      s: SparkSession, metaRoot: String, ref: String): Long = {
    import s.implicits._
    val heads = s.read.parquet(s"$metaRoot/refs_log")
      .filter($"ref" === ref).select($"step", $"snap_id")
      .as[(Long, Long)].collect()
    require(heads.nonEmpty, s"graft-lake: unknown ref $ref in $metaRoot")
    heads.maxBy(_._1)._2
  }

  /** The column-ID world (the layout of the library's `schemaIdDir`
    * fixture): resolve the CURRENT schema at `schemaVersion`, map each
    * release's files through their write-time schema by field id —
    * rename/widen are per-file physical-name indirections, drops are
    * never requested, absent fields serve the field's initial default or
    * typed null. Old footers stay byte-identical; zero rewrite.
    */
  private def resolveSchemaWorld(
      s: SparkSession, opts: Map[String, String]): ResolvedLakeTable = {
    import s.implicits._
    def opt(k: String): Option[String] =
      opts.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
    val root = opt("schemaRoot").get
    // explicit projection: the promotion fixture's schemas table carries a
    // write-default column too, which is a WRITE-path concern — the
    // read-side mapping needs only the initial default
    val schemas = s.read.parquet(s"$root/schemas")
      .select($"version", $"field_id", $"name", $"dtype", $"dflt")
      .as[(Long, Long, String, String, Option[String])].collect()
    val curVer = opt("schemaVersion").map(_.toLong)
      .getOrElse(schemas.map(_._1).max)
    val current = schemas.filter(_._1 == curVer).sortBy(_._2)
    require(current.nonEmpty, s"graft-lake: unknown schema version $curVer")
    val verOfRelease = s.read.parquet(s"$root/releases")
      .as[(String, Long)].collect().toMap
    val base = normPath(s"$root/data")
    val files = s.read.parquet(base).inputFiles.map(normPath).sorted.map { f =>
      val pv = partValuesOf(base, f)
      val rel = pv.getOrElse("release", sys.error(
        s"graft-lake: data file outside a release dir: $f"))
      val wver = verOfRelease.getOrElse(rel, sys.error(
        s"graft-lake: release $rel not in releases table"))
      val writeByFid = schemas.filter(_._1 == wver).map(t => t._2 -> t._3).toMap
      val phys = current.flatMap { case (_, fid, name, _, _) =>
        writeByFid.get(fid).map(name -> _) }.toMap
      LakeFileSpec(f, 0L, pv, phys, null, null)
    }
    val fields = current.map { case (_, _, name, dtype, _) =>
      StructField(name, DataType.fromDDL(dtype), nullable = true) }
    val defaults = current.collect {
      case (_, _, name, _, Some(d)) => name -> d }.toMap
    val schema = StructType(fields ++
      Seq(StructField("release", StringType, nullable = true)))
    ResolvedLakeTable(s"lake-schema@v$curVer", schema, Seq("release"),
      defaults, files.toIndexedSeq, "", Array.empty, Array.empty, None,
      opt("indexCol").getOrElse("l_orderkey"))
  }

  /** Hive-style `name=value` segments of `file` below `base`, in path
    * order. Values are percent-UNescaped (Spark/Hive convention — the
    * writer escapes path-special characters like `/` and `=`, so a raw
    * string partition value round-trips instead of corrupting the
    * layout); unescaping a plain segment is the identity.
    */
  private[lake] def partValuesOf(base: String, file: String): Map[String, String] =
    java.nio.file.Paths.get(base).relativize(java.nio.file.Paths.get(file))
      .iterator().asScala.map(_.toString).filter(_.contains("="))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(v)
      }.toMap

  private def partColsOf(base: String, file: String): Seq[String] =
    java.nio.file.Paths.get(base).relativize(java.nio.file.Paths.get(file))
      .iterator().asScala.map(_.toString).filter(_.contains("="))
      .map(_.split("=", 2)(0)).toSeq

  /** Bloom-sidecar file pruning for key equality probes — the same
    * metadata-scale planning as the library path's matchedFilesInIndex
    * (no false negatives, so pruning is safe; the residual filter stays
    * with Spark because false positives are possible).
    */
  private[lake] def bloomPrune(
      idxPath: String, keys: Seq[Long]): Set[String] = {
    val s = SparkSession.active
    import s.implicits._
    val matched = matchedFilesOnly(s, idxPath, keys.toDF("k"))
    matched.map(normPath).toSet
  }
}

/** What a catalog-resolved table needs to COMMIT: the CAS pointer log,
  * its name, the version this handle loaded (the CAS expectation — a
  * handle loaded via VERSION AS OF can never clobber a newer commit),
  * and the resolved metadata world.
  */
private[lake] case class LakeMutationCtx(
    catalogLogDir: String, table: String, version: Long,
    metaRoot: String, snapId: Long)

private[lake] class GraftLakeTable(
    resolved: ResolvedLakeTable,
    ctx: Option[LakeMutationCtx] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  override def name(): String = resolved.name
  override def schema(): StructType = resolved.schema

  /** `_file` — the data file a row came from, served as a per-partition
    * constant by the reader. What gives copy-on-write mutations per-FILE
    * group pruning: the row-level operation requires it, Spark's runtime
    * group-filtering rule collects the distinct `_file`s the source
    * actually matches, and the replace scan prunes to exactly those.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
    })
  override def partitioning(): Array[Transform] =
    resolved.partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(resolved, options.asScala.toMap)

  /** Write paths through the catalog: `INSERT INTO` appends (tip's
    * files + the new files at the next sequence number, one CAS
    * snapshot); `INSERT OVERWRITE` carries TRUNCATE (replace the whole
    * tip), static partition overwrite (replace exactly the files whose
    * partition tuple matches the PARTITION spec's filters), and DYNAMIC
    * partition overwrite (replace exactly the partitions the written
    * rows land in — `spark.sql.sources.partitionOverwriteMode=dynamic`).
    * Every mode is executors-write-parquet + ONE metadata commit; old
    * snapshots stay time-travelable.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val c = ctx.getOrElse(sys.error(
      "graft-lake: writes need a catalog-resolved table (use the " +
        "GraftLakeCatalog plugin, not read.format)"))
    require(info.schema().fieldNames.sameElements(resolved.schema.fieldNames),
      s"graft-lake: write schema ${info.schema().fieldNames.mkString(",")} " +
        s"!= table schema ${resolved.schema.fieldNames.mkString(",")}")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      import org.apache.spark.sql.connector.write.WriteBuilder
      private var mode: LakeWriteMode = LakeWriteMode.Append

      override def truncate(): WriteBuilder = {
        mode = LakeWriteMode.Truncate; this
      }

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
          return truncate()
        filters.foreach(f => require(
          LakeFilters.partitionOnlyFilter(f, resolved.partitionCols),
          s"graft-lake: INSERT OVERWRITE supports partition-column " +
            s"equality predicates only, got $f"))
        mode = LakeWriteMode.OverwriteWhere(filters); this
      }

      override def overwriteDynamicPartitions(): WriteBuilder = {
        require(resolved.partitionCols.nonEmpty,
          "graft-lake: dynamic partition overwrite needs a partitioned table")
        mode = LakeWriteMode.DynamicOverwrite; this
      }

      override def build(): org.apache.spark.sql.connector.write.Write =
        new LakeWrite(resolved, c, info.schema(), mode)
    }
  }

  /** GROUP-BASED (copy-on-write) row-level operations — what gives the
    * SQL surface MERGE INTO, UPDATE, and arbitrary-predicate DELETE:
    * Spark's rewrite rules read the affected groups through the
    * operation's scan (deletes applied, so the rewrite sees served
    * state), compute the replacement rows, and hand them to a write
    * whose commit REPLACES exactly the scanned data files with the newly
    * written ones in one CAS snapshot. Key-equality DELETEs still take
    * the zero-data-file metadata route below (Spark's
    * optimize-metadata-only rule prefers [[deleteWhere]] when
    * [[canDeleteWhere]] accepts — the same split Iceberg makes). Group
    * pruning is REAL: the operation requires the `_file` metadata
    * column, Spark's runtime group-filtering rule collects the files the
    * source actually matches, and the replace scan prunes to exactly
    * those — a one-key UPDATE rewrites one order's few month files, not
    * the table (LakeSqlSpec pins it).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val c = ctx.getOrElse(sys.error(
      "graft-lake: row-level operations need a catalog-resolved table"))
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        new LakeRowLevelOperation(resolved, c, info.command())
    }
  }

  /** `TRUNCATE TABLE` — one metadata commit whose snapshot carries ZERO
    * entries (data and delete files both: nothing remains for deletes to
    * apply to). History stays time-travelable; the name keeps its schema.
    */
  override def truncateTable(): Boolean = {
    val c = ctx.getOrElse(sys.error(
      "graft-lake: TRUNCATE needs a catalog-resolved table"))
    // an empty snapshot can only resolve through a DECLARED schema — a
    // footer-schema world would have no file left to infer from
    require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"${c.metaRoot}/tableschema")),
      "graft-lake: TRUNCATE needs a declared-schema table (CREATE TABLE " +
        "/ CTAS worlds); use INSERT OVERWRITE or DELETE on this table")
    LakeCommit.commitSnapshot(SparkSession.active, c,
      graft.Fixtures.tempDir("graft_laketruncate"), "truncate",
      keep = None, add = _ => Seq.empty)
    true
  }

  /** DELETE FROM fast path (VERDICT r15 #6): KEY-equality predicates —
    * exactly the delete class an equality-delete file expresses, so the
    * commit opens ZERO data files. Predicates this refuses fall through
    * to the copy-on-write row-level rewrite above. The filter array is a
    * CONJUNCTION, so exactly ONE key-equality conjunct is accepted here
    * (`k = v` or `k IN (…)`, plus Spark's implied IsNotNull): several
    * key conjuncts would need their key sets INTERSECTED, and the CoW
    * path already handles that correctly — a union here would
    * over-delete.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    ctx.nonEmpty &&
      filters.count(f => LakeFilters.keyKeys(f, resolved.indexCol).nonEmpty) == 1 &&
      filters.forall(f => LakeFilters.keyKeys(f, resolved.indexCol).nonEmpty ||
        f == IsNotNull(resolved.indexCol))

  /** Execute the delete as ONE metadata commit: write an equality-delete
    * file at (max sequence of the current snapshot) + 1, author a NEW
    * metadata world whose tip snapshot lists the current files plus the
    * delete file (historical snapshots copied verbatim — time travel
    * keeps working), and CAS the catalog pointer from the version this
    * handle loaded. A concurrent commit makes the CAS refuse, exactly
    * like any other lost race. No data file is read, written or moved.
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val c = ctx.getOrElse(sys.error(
      "graft-lake: DELETE needs a catalog-resolved table (use the " +
        "GraftLakeCatalog plugin, not read.format)"))
    val s = SparkSession.active
    import s.implicits._
    val keys = filters.toSeq
      .flatMap(f => LakeFilters.keyKeys(f, resolved.indexCol)).flatten.distinct
    require(keys.nonEmpty, "graft-lake: DELETE without key predicates")
    val root = graft.Fixtures.tempDir("graft_lakecommit")
    val eqDir = root.resolve("eq").toString
    LakeCommit.commitSnapshot(s, c, root, "eq_delete", keep = Some(_ => true),
      add = { seq =>
        keys.toDF("k")
          .select($"k", org.apache.spark.sql.functions.lit(seq).as("seq_del"))
          .coalesce(1).write.mode("overwrite").parquet(eqDir)
        s.read.parquet(eqDir).inputFiles.map(LakeIndex.normPath).toSeq
          .map(LakeEntry("eq_del", _, eqDir, seq, resolved.indexCol))
      })
  }
}

/** Filter helpers shared by the scan builder and the delete path. */
private[lake] object LakeFilters {
  /** Long keys of a key-equality filter on `keyCol` (`k = v`, `k IN …`). */
  def keyKeys(f: Filter, keyCol: String): Option[Seq[Long]] = f match {
    case EqualTo(a, v: Long) if a == keyCol => Some(Seq(v))
    case EqualTo(a, v: Int) if a == keyCol => Some(Seq(v.toLong))
    case In(a, vs) if a == keyCol &&
        vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
      Some(vs.toSeq.map {
        case l: Long => l
        case i: Int => i.toLong
      })
    case _ => None
  }

  /** Is `f` an overwrite-spec filter — equality/IN conjunctions over
    * partition columns only (what a static `PARTITION (p = v)` spec
    * translates to)?
    */
  def partitionOnlyFilter(f: Filter, partCols: Seq[String]): Boolean =
    f match {
      case EqualTo(a, _) => partCols.contains(a)
      case EqualNullSafe(a, _) => partCols.contains(a)
      case In(a, _) => partCols.contains(a)
      case IsNotNull(a) => partCols.contains(a)
      case And(l, r) =>
        partitionOnlyFilter(l, partCols) && partitionOnlyFilter(r, partCols)
      case _: AlwaysTrue => true
      case _ => false
    }

  /** Evaluate an overwrite-spec filter against a file's Hive partition
    * tuple (values are path strings; literals compare via toString, the
    * same convention the writer used to build the dirs).
    */
  def evalPartitionFilter(f: Filter, pv: Map[String, String]): Boolean =
    f match {
      case EqualTo(a, v) => pv.get(a).contains(String.valueOf(v))
      case EqualNullSafe(a, v) => pv.get(a).contains(String.valueOf(v))
      case In(a, vs) => pv.get(a).exists(x => vs.map(String.valueOf(_)).contains(x))
      case IsNotNull(a) => pv.contains(a)
      case And(l, r) => evalPartitionFilter(l, pv) && evalPartitionFilter(r, pv)
      case _: AlwaysTrue => true
      case _ => false
    }

  /** Copy the `tableschema` table (CREATE TABLE / CTAS worlds) into a
    * commit's fresh metadata root, so the declared schema and column
    * order survive every commit. No-op for worlds without one.
    */
  def carryTableSchema(
      s: SparkSession, fromRoot: String, toRoot: java.nio.file.Path): Unit = {
    val src = s"$fromRoot/tableschema"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(src)))
      s.read.parquet(src).coalesce(1)
        .write.parquet(toRoot.resolve("tableschema").toString)
  }

  /** The metadata-root PARENT CHAIN of a world: each connector commit
    * writes ONLY its new snapshot's manifest rows plus a `parent_root`
    * pointer to the world it committed against — O(live files) of
    * metadata per commit instead of O(files × history) (rewriting the
    * whole history per commit is quadratic over a commit chain; Iceberg
    * avoids it the same way, with per-snapshot manifest files). Reading
    * the TIP touches one root (the common case); time travel to an old
    * snapshot walks as deep as that snapshot's root. Fixture worlds have
    * no marker and are self-contained chain ends. A real catalog
    * compacts long chains during maintenance — here chain length =
    * commits per JVM session.
    */
  private[lake] def manifestRoots(metaRoot: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer(metaRoot)
    var cur = metaRoot
    var continue = true
    while (continue) {
      val m = java.nio.file.Paths.get(cur, "parent_root")
      if (java.nio.file.Files.exists(m)) {
        cur = new String(java.nio.file.Files.readAllBytes(m), "UTF-8").trim
        require(!out.contains(cur),
          s"graft-lake: parent_root cycle through $cur")
        out += cur
      } else continue = false
    }
    out.toSeq
  }

  /** One commit's parent pointer. */
  def writeParentMarker(root: java.nio.file.Path, parent: String): Unit =
    java.nio.file.Files.write(root.resolve("parent_root"),
      parent.getBytes("UTF-8"))

  /** A metadata world's manifests normalized to the full-width shape
    * (snap_id, content, file, base, seq, key_col), UNIONED across the
    * parent-root chain — per-snapshot base resolved through each root's
    * own snapshots table when its manifests carry none. Every snapshot's
    * rows live in exactly one chain root (commits write only their new
    * snapshot; fixture roots are self-contained), so the union never
    * duplicates an entry.
    */
  def normalizedManifests(
      s: SparkSession, metaRoot: String): org.apache.spark.sql.DataFrame =
    manifestRoots(metaRoot).map(normalizeOne(s, _)).reduce(_ unionByName _)

  private def normalizeOne(
      s: SparkSession, metaRoot: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val man = s.read.parquet(s"$metaRoot/manifests")
    val mc = man.columns.map(_.toLowerCase).toSet
    def colOr(n: String, d: org.apache.spark.sql.Column) =
      if (mc.contains(n)) man(n) else d
    val withBase =
      if (mc.contains("base"))
        man.select(man("snap_id"), colOr("content", lit("data")).as("content"),
          man("file"), man("base"), colOr("seq", lit(0L)).cast("long").as("seq"),
          colOr("key_col", lit("")).as("key_col"))
      else {
        val bases = s.read.parquet(s"$metaRoot/snapshots")
          .select(org.apache.spark.sql.functions.col("snap_id"),
            org.apache.spark.sql.functions.col("base"))
        man.join(bases, Seq("snap_id"))
          .select(man("snap_id"), colOr("content", lit("data")).as("content"),
            man("file"), bases("base"),
            colOr("seq", lit(0L)).cast("long").as("seq"),
            colOr("key_col", lit("")).as("key_col"))
      }
    withBase
  }
}

/** Which snapshot a write's commit authors — which tip data files the
  * written files replace:
  *
  *  - [[LakeWriteMode.Append]]: none — every tip entry carries;
  *  - [[LakeWriteMode.Truncate]]: all, and nothing carries (data AND
  *    delete entries — a truncated table has nothing left for deletes to
  *    apply to);
  *  - [[LakeWriteMode.OverwriteWhere]]: data files whose Hive partition
  *    tuple matches the static PARTITION spec;
  *  - [[LakeWriteMode.DynamicOverwrite]]: data files in exactly the
  *    partition tuples the WRITTEN files landed in;
  *  - [[LakeWriteMode.CopyOnWrite]]: exactly the data files the
  *    row-level operation's scan planned (MERGE / UPDATE / non-key
  *    DELETE swap the scanned groups for the rewritten ones).
  *
  * Outside Truncate, delete entries always carry: still live against the
  * carried data, inert against the new files by the strictly-older
  * sequence rule (Iceberg keeps them until maintenance the same way).
  */
private[lake] sealed trait LakeWriteMode
private[lake] object LakeWriteMode {
  case object Append extends LakeWriteMode
  case object Truncate extends LakeWriteMode
  case class OverwriteWhere(filters: Array[Filter]) extends LakeWriteMode
  case object DynamicOverwrite extends LakeWriteMode
  /** `scanned` is read at COMMIT time: runtime group filtering shrinks
    * the scan's file set after build. `command` names the op
    * (`cow_<command>`).
    */
  case class CopyOnWrite(scanned: () => Seq[String], command: String)
      extends LakeWriteMode
}

/** The one lake Write: clustered by the partition columns (so a task holds
  * one open file per partition it owns — the write shape a real table
  * format requests at 100 TB), executed by parquet writers on the
  * executors, committed on the driver as ONE CAS snapshot
  * ([[LakeCommit.commitSnapshot]]) shaped by `mode`. History stays
  * time-travelable.
  */
private[lake] class LakeWrite(
    resolved: ResolvedLakeTable, ctx: LakeMutationCtx, schema: StructType,
    mode: LakeWriteMode)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._
  import org.apache.spark.sql.connector.distributions.Distributions
  import org.apache.spark.sql.connector.expressions.Expressions

  private val op = mode match {
    case LakeWriteMode.Append => "append"
    case LakeWriteMode.Truncate => "truncate_overwrite"
    case _: LakeWriteMode.OverwriteWhere => "overwrite"
    case LakeWriteMode.DynamicOverwrite => "dynamic_overwrite"
    case LakeWriteMode.CopyOnWrite(_, command) => s"cow_$command"
  }

  override def description(): String =
    s"graft-lake $op on ${ctx.table}@v${ctx.version}"

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (resolved.partitionCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      resolved.partitionCols.map(c => Expressions.identity(c)).toArray)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    private val root = graft.Fixtures.tempDir("graft_lakewrite")
    private val dataDir = root.resolve("data").toString

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      new LakeWriterFactory(schema, resolved.partitionCols.toArray, dataDir)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // zero files is a legal commit (an empty INSERT/CTAS SELECT still
      // commits a snapshot, like Iceberg's empty-append commits)
      val files = messages.flatMap {
        case m: LakeCommitMessage => m.files
      }.toSeq
      // partition tuples parsed from the paths exactly as the reader does
      def partOf(e: LakeEntry) = LakeResolver.partValuesOf(e.base, e.file)
      // the tip DATA entries the written files replace (None: the whole
      // tip, delete entries included)
      val replaced: Option[LakeEntry => Boolean] = mode match {
        case LakeWriteMode.Append => Some(_ => false)
        case LakeWriteMode.Truncate => None
        case LakeWriteMode.OverwriteWhere(fs) =>
          Some(e => fs.forall(LakeFilters.evalPartitionFilter(_, partOf(e))))
        case LakeWriteMode.DynamicOverwrite =>
          val written = files.map(LakeResolver.partValuesOf(dataDir, _)).toSet
          Some(e => written.contains(partOf(e)))
        case LakeWriteMode.CopyOnWrite(scanned, _) =>
          val gone = scanned().toSet
          Some(e => gone.contains(e.file))
      }
      LakeCommit.commitSnapshot(SparkSession.active, ctx, root, op,
        keep = replaced.map(r => e => e.content != "data" || !r(e)),
        add = seq => files.map(LakeEntry("data", _, dataDir, seq, "")))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      graft.Fixtures.deleteRecursively(root)
  }
}

/** One copy-on-write row-level operation (MERGE / UPDATE / non-key
  * DELETE): the scan it hands Spark records which data files it planned,
  * and the write's commit replaces exactly those files with the rewritten
  * groups — tip manifest minus scanned data entries plus written entries,
  * one CAS snapshot. Delete-file entries carry over: they can only apply
  * to data strictly older than the new sequence, so they are inert
  * against the rewritten files (Iceberg keeps them until maintenance the
  * same way).
  */
private[lake] class LakeRowLevelOperation(
    resolved: ResolvedLakeTable, ctx: LakeMutationCtx,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  @volatile private var opScan: Option[GraftLakeScan] = None

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  /** `_file` rides the operation's rows so Spark's runtime group
    * filtering can collect the files the source actually touches and
    * push them back into [[GraftLakeScan.filter]] — per-file group
    * pruning for every copy-on-write mutation.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_file"))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(resolved) {
      override def build(): Scan = {
        val s = super.build().asInstanceOf[GraftLakeScan]
        opScan = Some(s)
        s
      }
    }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        // plannedFiles is read lazily at COMMIT time: runtime group
        // filtering mutates the scan's file set after build
        new LakeWrite(resolved, ctx, info.schema(),
          LakeWriteMode.CopyOnWrite(
            () => opScan.map(_.plannedFiles)
              .getOrElse(resolved.files.map(_.path)),
            cmd.toString.toLowerCase))
    }
}

private[lake] case class LakeCommitMessage(files: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[lake] class LakeWriterFactory(
    schema: StructType, partCols: Array[String], dataDir: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new LakeDataWriter(schema, partCols, dataDir, partitionId, taskId)
}

/** Executor-side parquet writer: routes each row to one open file per
  * partition tuple it owns (the clustered distribution keeps that a
  * handful), writes the DATA columns only — partition values live in the
  * Hive-style dir path, exactly the layout the reader parses back.
  */
private[lake] class LakeDataWriter(
    schema: StructType, partCols: Array[String], dataDir: String,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  private val dataFields = schema.fields.zipWithIndex
    .filterNot { case (f, _) => partCols.contains(f.name) }
  private val partIdx = partCols.map(c => schema.fieldIndex(c))

  private val messageType: MessageType = {
    val b = Types.buildMessage()
    dataFields.foreach { case (f, _) =>
      f.dataType match {
        case LongType => b.addField(Types.optional(INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case StringType => b.addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case DateType => b.addField(Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name))
        case DoubleType => b.addField(Types.optional(DOUBLE).named(f.name))
        case FloatType => b.addField(Types.optional(FLOAT).named(f.name))
        case BooleanType => b.addField(Types.optional(BOOLEAN).named(f.name))
        case t => sys.error(s"graft-lake: unsupported write type $t")
      }
    }
    b.named("spark_schema")
  }
  private val factory = new SimpleGroupFactory(messageType)
  private val writers = scala.collection.mutable.Map[
    String, (org.apache.parquet.hadoop.ParquetWriter[
      org.apache.parquet.example.data.Group], String)]()

  // group-based row-level writes prepend Spark's `__row_operation` marker
  // column; detect the shift from the first row's width (0 for appends,
  // 1 for copy-on-write rewrites) and offset every field read by it
  private var shift = -1

  override def write(row: InternalRow): Unit = {
    if (shift < 0) {
      shift = row.numFields - schema.fields.length
      require(shift == 0 || shift == 1,
        s"graft-lake: writer got ${row.numFields} fields for schema " +
          s"[${schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(",")}]")
    }
    val dir = partIdx.zip(partCols).map { case (i, c) =>
      require(!row.isNullAt(i + shift),
        s"graft-lake: null partition value for $c")
      // percent-escape path-special chars ('/', '=', …) so a raw string
      // value can't splinter the Hive layout; the reader unescapes
      s"$c=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(row.getUTF8String(i + shift).toString)}"
    }.mkString("/")
    val (w, _) = writers.getOrElseUpdate(dir, {
      val path = (if (dir.isEmpty) s"$dataDir" else s"$dataDir/$dir") +
        f"/part-$partitionId%05d-$taskId.parquet"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(path).getParent)
      (ExampleParquetWriter.builder(new Path(path))
        .withType(messageType).withConf(LakeHadoopConf.fresh()).build(), path)
    })
    val g = factory.newGroup()
    dataFields.foreach { case (f, i0) =>
      val i = i0 + shift
      if (!row.isNullAt(i)) f.dataType match {
        case LongType => g.append(f.name, row.getLong(i))
        case IntegerType | DateType => g.append(f.name, row.getInt(i))
        case StringType =>
          g.append(f.name, Binary.fromString(row.getUTF8String(i).toString))
        case DoubleType => g.append(f.name, row.getDouble(i))
        case FloatType => g.append(f.name, row.getFloat(i))
        case BooleanType => g.append(f.name, row.getBoolean(i))
        case t => sys.error(s"graft-lake: unsupported write type $t")
      }
    }
    w.write(g)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    LakeCommitMessage(writers.values.map(_._2).toSeq)
  }
  override def abort(): Unit = writers.values.foreach(_._1.close())
  override def close(): Unit = ()
}

/** The SQL catalog plugin over the CAS pointer layer: register with
  * {{{
  *   spark.sql.catalog.<name>         = graft.sources.lake.GraftLakeCatalog
  *   spark.sql.catalog.<name>.catalogDir = <dir containing catalog_log/>
  * }}}
  * and the lakehouse composes with plain SQL —
  * `SELECT … FROM <name>.<table>`, `… VERSION AS OF v` (time travel
  * through the pointer log), `INSERT INTO` (an append commit: executors
  * write partitioned parquet, the driver commits one new snapshot under
  * CAS), `DELETE FROM … WHERE key IN (…)` (an equality-delete metadata
  * commit — zero data files), MERGE INTO / UPDATE / arbitrary-
  * predicate DELETE (group-based copy-on-write rewrites through the
  * row-level-operation API), `CREATE TABLE` / `CREATE TABLE … AS
  * SELECT` (bootstraps a fresh metadata world + pointer-log version 0;
  * CTAS adds the append commit), and `DROP TABLE` (a pointer-log
  * TOMBSTONE — history stays, time travel to pre-drop versions keeps
  * working, and the name can be re-created), and `ALTER TABLE … ADD
  * COLUMNS` (metadata-only schema evolution: same snapshots, extended
  * tableschema; pre-existing files serve NULL for the new columns).
  * RENAME and DROP/RENAME COLUMN stay out of scope — they need the
  * field-ID mapped worlds.
  */
class GraftLakeCatalog
    extends org.apache.spark.sql.connector.catalog.TableCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
  import org.apache.spark.sql.catalyst.analysis.NoSuchTableException

  private var catName: String = _
  private var catalogRoot: String = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    catalogRoot = options.get("catalogDir")
    require(catalogRoot != null,
      s"spark.sql.catalog.$name.catalogDir must point at the catalog root")
  }
  override def name(): String = catName

  /** Tip pointer-log row for `name`, tombstones included. */
  private def latest(s: SparkSession, name: String): Option[CatalogPointer] =
    LakeCommit.catalogPointer(s, catalogRoot, name, None)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val s = SparkSession.active
    import s.implicits._
    s.read.parquet(s"$catalogRoot/catalog_log").select($"table_name")
      .as[String].collect().distinct.sorted
      .filter(t => latest(s, t).exists(!_.dropped))
      .map(t => Identifier.of(Array.empty, t))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF v` — the SQL form of the asOfVersion option. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** Iceberg-style METADATA TABLES: `SELECT * FROM <cat>.<table>.<meta>`
    * serves the table's own metadata parquet (all snapshots — filter by
    * snap_id for one) through the same columnar read path as data.
    */
  private val MetaTables = Set("snapshots", "manifests", "refs_log")

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val s = SparkSession.active
    if (ident.namespace().length == 1 && MetaTables.contains(ident.name)) {
      val parent = ident.namespace()(0)
      val metaRoot = latest(s, parent).filterNot(_.dropped)
        .getOrElse(throw new NoSuchTableException(ident)).metaRoot
      // `.manifests` spans the commit chain (each root carries only its
      // own snapshot's rows); snapshots/refs_log are complete at the tip
      val dirs = (if (ident.name == "manifests")
          LakeFilters.manifestRoots(metaRoot)
        else Seq(metaRoot))
        .map(r => s"$r/${ident.name}")
        .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
      if (dirs.isEmpty) throw new NoSuchTableException(ident)
      val files = dirs.flatMap(d => s.read.parquet(d).inputFiles)
        .map(LakeIndex.normPath).sorted.toIndexedSeq
      val schema = s.read.parquet(dirs.head).schema
      return new GraftLakeTable(ResolvedLakeTable(
        s"$parent.${ident.name}", schema, Seq.empty, Map.empty,
        files.map(f => LakeFileSpec(f, 0L, Map.empty, Map.empty, null, null)),
        "", Array.empty, Array.empty, None, "l_orderkey"))
    }
    val p = LakeCommit.catalogPointer(s, catalogRoot, ident.name, asOf)
      .filterNot(_.dropped)
      .getOrElse(throw new NoSuchTableException(ident))
    val resolved = LakeResolver.resolve(s,
      Map("metaRoot" -> p.metaRoot, "snapshot" -> p.snapId.toString))
    new GraftLakeTable(resolved, Some(LakeMutationCtx(
      catalogRoot, ident.name, p.version, p.metaRoot, p.snapId)))
  }

  /** CREATE TABLE / CTAS (VERDICT r16 #4): bootstrap a fresh metadata
    * world — a `tableschema` table (the declared schema + partition
    * columns, what lets the EMPTY table resolve and keeps column order
    * stable across commits), a zero-row full-width manifest, and
    * snapshot 0 — then CAS-register version 0 in the pointer log. CTAS
    * is this followed by Spark's append write to the returned table
    * (one more CAS commit), so `CREATE TABLE … AS SELECT` bootstraps,
    * populates, and is immediately mutable/time-travelable purely in
    * SQL. Identity partitioning on STRING columns only — the Hive-style
    * dir layout the reader parses back.
    */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val s = SparkSession.active
    import s.implicits._
    val prior = latest(s, ident.name)
    if (prior.exists(!_.dropped))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val partCols: Seq[String] = partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft-lake: only identity partitioning is supported, got $t")
    }
    val fields = columns.map(c => StructField(c.name, c.dataType, nullable = true))
    val byName = fields.map(f => f.name -> f).toMap
    partCols.foreach { p =>
      val f = byName.getOrElse(p, sys.error(
        s"graft-lake: partition column $p is not a table column"))
      require(f.dataType == StringType,
        s"graft-lake: partition column $p must be STRING (Hive-style " +
          s"dir layout), got ${f.dataType.simpleString}")
    }
    val root = graft.Fixtures.tempDir("graft_lakecreate")
    fields.zipWithIndex.toSeq
      .map { case (f, i) => (f.name, f.dataType.sql, partCols.contains(f.name), i.toLong) }
      .toDF("name", "dtype", "is_part", "ord")
      .coalesce(1).write.parquet(root.resolve("tableschema").toString)
    Seq.empty[(Long, String, String, String, Long, String)]
      .toDF("snap_id", "content", "file", "base", "seq", "key_col")
      .coalesce(1).write.parquet(root.resolve("manifests").toString)
    Seq((0L, "create", -1L)).toDF("snap_id", "op", "parent_id")
      .coalesce(1).write.parquet(root.resolve("snapshots").toString)
    LakeCommit.catalogCommit(
      s, s"$catalogRoot/catalog_log", ident.name,
      // CAS from the tombstone version when re-creating a dropped name
      expectedVersion = prior.map(_.version).getOrElse(-1L),
      metaRoot = root.toString, snapId = 0L)
    load(ident, None)
  }
  /** ALTER TABLE … ADD COLUMNS — schema evolution as a METADATA-ONLY
    * pointer advance (the Iceberg model: new table metadata, same
    * snapshot): the new world copies manifests and snapshots verbatim
    * and extends the `tableschema` table; not one data file is touched.
    * Existing files simply lack the new column and serve NULL through
    * the vectorized reader's missing-column path; later INSERTs write
    * it physically, and a CoW UPDATE re-stamps any group it touches at
    * the widened schema (LakeSqlSpec pins the full lifecycle). Only
    * trailing nullable ADDs on declared-schema tables are supported —
    * renames/drops/type changes need the field-ID worlds and stay out
    * of scope here.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val s = SparkSession.active
    import s.implicits._
    val CatalogPointer(ver, metaRoot, snap) = latest(s, ident.name)
      .filterNot(_.dropped)
      .getOrElse(throw new NoSuchTableException(ident))
    val tsDir = s"$metaRoot/tableschema"
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(tsDir)),
      s"graft-lake: ALTER needs a declared-schema table (CREATE TABLE / " +
        s"CTAS worlds); ${ident.name} predates the tableschema layout")
    val cur = s.read.parquet(tsDir)
      .select($"name", $"dtype", $"is_part", $"ord")
      .as[(String, String, Boolean, Long)].collect().sortBy(_._4)
    val supported: Set[DataType] = Set(LongType, IntegerType, StringType,
      DateType, DoubleType, FloatType, BooleanType)
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft-lake: nested column adds are not supported")
        require(a.position == null,
          "graft-lake: columns are appended at the end (no FIRST/AFTER)")
        require(a.defaultValue == null,
          "graft-lake: ADD COLUMN defaults are not supported — new " +
            "columns serve NULL for pre-existing rows")
        require(a.isNullable,
          "graft-lake: added columns must be nullable (existing rows " +
            "have no value for them)")
        val n = a.fieldNames()(0)
        require(!cur.exists(_._1 == n),
          s"graft-lake: column $n already exists")
        require(supported.contains(a.dataType),
          s"graft-lake: unsupported column type ${a.dataType.simpleString}")
        (n, a.dataType.sql)
      case c => throw new UnsupportedOperationException(
        s"graft-lake: only ADD COLUMNS is supported, got $c")
    }
    val newRoot = graft.Fixtures.tempDir("graft_lakealter")
    // no new snapshot: a zero-row manifest + the parent marker — every
    // existing snapshot's rows resolve through the chain
    Seq.empty[(Long, String, String, String, Long, String)]
      .toDF("snap_id", "content", "file", "base", "seq", "key_col")
      .coalesce(1).write.parquet(newRoot.resolve("manifests").toString)
    LakeFilters.writeParentMarker(newRoot, metaRoot)
    s.read.parquet(s"$metaRoot/snapshots").coalesce(1)
      .write.parquet(newRoot.resolve("snapshots").toString)
    (cur.toSeq ++ adds.zipWithIndex.map { case ((n, t), i) =>
      (n, t, false, cur.length.toLong + i) })
      .toDF("name", "dtype", "is_part", "ord").coalesce(1)
      .write.parquet(newRoot.resolve("tableschema").toString)
    LakeCommit.catalogCommit(
      s, s"$catalogRoot/catalog_log", ident.name,
      expectedVersion = ver, metaRoot = newRoot.toString, snapId = snap)
    load(ident, None)
  }

  /** DROP TABLE = one tombstone version in the pointer log (empty
    * meta_root). Nothing is deleted: `VERSION AS OF` a pre-drop version
    * still serves, and CREATE TABLE can reuse the name (CAS from the
    * tombstone). Also what Spark's non-atomic CTAS calls to clean up a
    * failed create-then-write.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val s = SparkSession.active
    latest(s, ident.name).filterNot(_.dropped) match {
      case None => false
      case Some(p) =>
        LakeCommit.catalogCommit(
          s, s"$catalogRoot/catalog_log", ident.name,
          expectedVersion = p.version, metaRoot = "", snapId = -1L)
        true
    }
  }
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME is out of scope")
}

private[lake] class GraftLakeScanBuilder(
    table: ResolvedLakeTable,
    options: Map[String, String] = Map.empty)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema
  private var pushed: Array[Filter] = Array.empty
  private var files: Seq[LakeFileSpec] = table.files

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (partF, rest) = filters.partition(evaluablePartitionFilter)
    if (partF.nonEmpty)
      files = files.filter(f => partF.forall(evalPart(_, f.partValues)))
    // key-equality probes prune files through the snapshot's bloom sidecar;
    // bloom admits false positives, so the filter STAYS residual (Spark
    // re-evaluates it) while the file list shrinks to the matched set
    def bloomKeys(f: Filter) = LakeFilters.keyKeys(f, table.indexCol)
    val probes = rest.flatMap(bloomKeys).flatten.distinct
    val bloomUsed = probes.nonEmpty && table.idxPath.nonEmpty
    if (bloomUsed) {
      val matched = LakeResolver.bloomPrune(table.idxPath.get, probes.toSeq)
      files = files.filter(f => matched.contains(f.path))
    }
    // report only what actually pruned: partition filters always, probe
    // filters only when a sidecar existed to prune with
    pushed = partF ++
      (if (bloomUsed) rest.filter(f => bloomKeys(f).nonEmpty) else Array.empty[Filter])
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftLakeScan(table, files, required, options)

  /** Conjunctions of comparisons on partition columns, evaluated exactly
    * against the path-derived string values (yyyy-MM months order
    * lexicographically = chronologically, same as the library planners).
    */
  private def evaluablePartitionFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => table.partitionCols.contains(a)
    case GreaterThan(a, _: String) => table.partitionCols.contains(a)
    case GreaterThanOrEqual(a, _: String) => table.partitionCols.contains(a)
    case LessThan(a, _: String) => table.partitionCols.contains(a)
    case LessThanOrEqual(a, _: String) => table.partitionCols.contains(a)
    case In(a, vs) =>
      table.partitionCols.contains(a) && vs.forall(_.isInstanceOf[String])
    case IsNotNull(a) => table.partitionCols.contains(a)
    case And(l, r) => evaluablePartitionFilter(l) && evaluablePartitionFilter(r)
    case _ => false
  }

  private def evalPart(f: Filter, pv: Map[String, String]): Boolean = f match {
    case EqualTo(a, v: String) => pv.get(a).contains(v)
    case GreaterThan(a, v: String) => pv.get(a).exists(_ > v)
    case GreaterThanOrEqual(a, v: String) => pv.get(a).exists(_ >= v)
    case LessThan(a, v: String) => pv.get(a).exists(_ < v)
    case LessThanOrEqual(a, v: String) => pv.get(a).exists(_ <= v)
    case In(a, vs) => pv.get(a).exists(x => vs.contains(x))
    case IsNotNull(a) => pv.contains(a)
    case And(l, r) => evalPart(l, pv) && evalPart(r, pv)
    case _ => true
  }
}

private[lake] case class LakeInputPartition(
    path: String,
    seq: Long,
    cols: Array[LakeColSpec],
    eqKeyPhys: String, // physical name of the eq key in THIS file ("" = n/a)
    dvWords: Array[Long],
    posDeletes: Array[Long]) extends InputPartition

/** Where one read column of one file comes from: a physical column (by
  * its write-time name), a partition value, or a constant (initial
  * default / typed null for fields postdating the file).
  */
private[lake] sealed trait LakeColSpec extends Serializable {
  def target: DataType
}
private[lake] case class PhysCol(writeName: String, target: DataType)
    extends LakeColSpec
private[lake] case class ConstCol(literal: String, target: DataType)
    extends LakeColSpec // literal == null → typed null

private[lake] class GraftLakeScan(
    table: ResolvedLakeTable,
    files0: Seq[LakeFileSpec],
    required: StructType,
    options: Map[String, String] = Map.empty) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Planner statistics = total bytes of the PRUNED file list (post
    * partition/bloom pushdown — the same number Spark's own file scans
    * report). Without this a DSv2 relation defaults to Long.MaxValue
    * size and a small lake dimension NEVER auto-broadcasts — every join
    * against the lakehouse would sort-merge unless hand-hinted.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val bytes = files.map { f =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(f.path))
      catch { case _: java.io.IOException => 0L }
    }.sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  // runtime group filtering (`_file IN (…)` from the row-level rewrite,
  // or any DPP probe on a partition column) shrinks this AFTER build
  @volatile private var files: Seq[LakeFileSpec] = files0

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-lake ${table.name} files=${files.size}/${table.files.size} " +
      s"cols=${required.fieldNames.mkString(",")}"

  // Declared runtime-filter attributes must (a) be IN this scan's output —
  // Spark's DPP rule resolves them against it and throws otherwise — and
  // (b) stay a SINGLE attribute: declaring several makes the group-filter
  // rule emit one struct-typed IN over all of them, which cannot
  // translate to a v1 In filter. Row-level-operation scans carry `_file`
  // (their requiredMetadataAttributes) and get per-file group pruning;
  // ordinary scans expose their partition column for regular DPP.
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val out = required.fieldNames.toSet
    val pick =
      if (out.contains("_file")) Seq("_file")
      else table.partitionCols.filter(out.contains).take(1)
    pick.map(c => org.apache.spark.sql.connector.expressions.Expressions
      .column(c)).toArray
  }

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("_file", vs) =>
      val keep = vs.map(String.valueOf(_)).toSet
      files = files.filter(f => keep.contains(f.path))
    case EqualTo("_file", v: String) =>
      files = files.filter(_.path == v)
    case In(c, vs) if table.partitionCols.contains(c) =>
      val keep = vs.map(String.valueOf(_)).toSet
      files = files.filter(f => f.partValues.get(c).exists(keep.contains))
    case EqualTo(c, v: String) if table.partitionCols.contains(c) =>
      files = files.filter(_.partValues.get(c).contains(v))
    case _ => () // unhandled runtime filters are advisory — rows re-filter
  }

  /** The planned (pruned) file set — what LakeConnectorSpec pins, and
    * what the copy-on-write replace commit swaps out (read AFTER runtime
    * filtering, so a group-pruned rewrite replaces only matched files).
    */
  def plannedFiles: Seq[String] = files.map(_.path)

  override def planInputPartitions(): Array[InputPartition] =
    files.map { f =>
      val cols = required.fields.map { fld =>
        if (fld.name == "_file")
          ConstCol(f.path, StringType): LakeColSpec
        else if (table.partitionCols.contains(fld.name))
          ConstCol(f.partValues.getOrElse(fld.name, null), fld.dataType)
            : LakeColSpec
        else {
          val phys =
            if (f.physByRead.nonEmpty) f.physByRead.get(fld.name)
            else Some(fld.name)
          phys match {
            case Some(p) => PhysCol(p, fld.dataType)
            case None => ConstCol(
              table.defaults.getOrElse(fld.name, null), fld.dataType)
          }
        }
      }
      // the eq-delete key must be read even when pruned out of the
      // projection — deletes apply to rows, not to projections
      val eqPhys =
        if (table.eqKeyCol.isEmpty || table.eqKeys.isEmpty) ""
        else if (f.physByRead.nonEmpty)
          f.physByRead.getOrElse(table.eqKeyCol, "")
        else table.eqKeyCol
      LakeInputPartition(f.path, f.seq, cols, eqPhys, f.dvWords,
        f.posDeletes): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(table.eqKeys, table.eqSeqs)

  /** `spark.readStream.format("graft-lake")` — the incremental append
    * stream over this world's snapshot lineage ([[GraftLakeMicroBatchStream]]).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream = {
    def opt(k: String): Option[String] =
      options.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
    val metaRoot = opt("metaRoot").getOrElse(sys.error(
      "graft-lake streaming needs an explicit metaRoot option"))
    new GraftLakeMicroBatchStream(metaRoot, required, table.partitionCols,
      opt("startSnapshot").map(_.toLong), opt("ref"),
      opt("maxSnapshotsPerTrigger").map(_.toInt).getOrElse(Int.MaxValue))
  }
}

/** EVERY lake read is columnar ([[LakeColumnarPartitionReader]] —
  * Spark's vectorized parquet reader + survival-map delete application;
  * the schema-ID worlds' per-file rename/widen/default indirections ride
  * the requested schema, physical NAME at the widened TARGET type, which
  * the vectorized updaters handle including the exact power-of-ten
  * decimal rescale). The row form is a thin bridge over the same
  * batches, kept only because the interface requires one.
  */
private[lake] class LakeReaderFactory(
    eqKeys: Array[Long], eqSeqs: Array[Long]) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val inner = new LakeColumnarPartitionReader(
      partition.asInstanceOf[LakeInputPartition], eqKeys, eqSeqs)
    new PartitionReader[InternalRow] {
      private var it: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (!it.hasNext) {
          if (!inner.next()) return false
          it = inner.get().rowIterator()
        }
        row = it.next()
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = inner.close()
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    new LakeColumnarPartitionReader(
      partition.asInstanceOf[LakeInputPartition], eqKeys, eqSeqs)
}

