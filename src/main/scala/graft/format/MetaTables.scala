package graft.format

import graft.connector.{MetaScanTable, PosDeleteScanTable, RowsTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.GraftV2Shims
import org.apache.spark.sql.types._

/** Metadata tables — the reference's scannable metadata relations
  * (core/.../MetadataTableType.java:24-34; SnapshotsTable, HistoryTable:36-43,
  * PartitionsTable:39-43, ManifestsTable, DataFilesTable,
  * ManifestEntriesTable, AllDataFilesTable, AllEntriesTable,
  * AllManifestsTable) plus the later refs, statistics, data/delete-file
  * splits and position_deletes.
  *
  * Like the reference, which serves each metadata table as one `Table`
  * that both its Java API and its Spark source scan, [[table]] is the one
  * builder of every relation: `GraftCatalog.loadTable` returns it for
  * `t$name`, and [[apply]] reads it as a DataFrame. Three kinds, mirroring
  * the reference split between StaticDataTask and ManifestReadTask
  * (core/.../DataFilesTable.java):
  *  - snapshots / history / manifests / all_manifests / refs / statistics
  *    are [[RowsTable]]s over rows built on the driver: their row count is
  *    the snapshot-log / manifest-list size, which stays tiny even on a
  *    100 TB table.
  *  - files / entries / data_files / delete_files and their `all_*` forms
  *    scale with the number of DATA FILES (millions at 100 TB): a
  *    [[MetaScanTable]] whose driver reads only the manifest LIST (one
  *    descriptor per manifest) and whose tasks parse manifests into rows
  *    ([[manifestRows]]).
  *  - position_deletes scales with the delete state: a
  *    [[PosDeleteScanTable]] whose tasks decode the live delete files.
  * `partitions` is a distributed aggregation over the `files` relation
  * (SQL reads it as a [[RowsTable]] over that aggregate's result).
  *
  * Like the reference's AllDataFilesTable/AllEntriesTable, the `all_*`
  * relations may contain duplicate rows: a file added in one snapshot and
  * carried as Existing in a later rewrite appears once per manifest that
  * lists it. Callers needing set semantics apply `.distinct` (the expiry
  * diff uses `except`, which is already set-semantic).
  */
object MetaTables {

  /** Every metadata-table name, as `t$name` spells it. */
  val Names: Seq[String] = Seq("snapshots", "history", "manifests",
    "all_manifests", "refs", "statistics", "files", "entries", "data_files",
    "delete_files", "all_data_files", "all_entries", "all_files",
    "all_delete_files", "position_deletes", "partitions")

  /** `t$name` as a DataFrame: the relation [[table]] builds, read through
    * DSv2 like any table (filter and column pruning included). */
  def apply(t: GraftTable, name: String): DataFrame = name.toLowerCase match {
    // `t$partitions`: record_count/file_count per partition (reference
    // PartitionsTable.java:39-43) — partial aggregation runs in the
    // `files` scan's tasks; one row per partition value reaches the result
    case "partitions" =>
      import org.apache.spark.sql.functions._
      apply(t, "files").groupBy(col("partition"))
        .agg(sum(col("record_count")).as("record_count"),
          count(lit(1)).as("file_count"))
    case n => GraftV2Shims.relationDF(t.spark, table(t, s"${t.location}$$$n", n))
  }

  /** The one builder of metadata relation `name` of `t`, named `ident`. */
  def table(t: GraftTable, ident: String, name: String): Table = {
    def local(schema: StructType, rows: Seq[Row]): Table = RowsTable(ident, schema, () => rows)
    name.toLowerCase match {
      case "snapshots" => local(snapshotSchema, snapshots(t))
      case "history" => local(historySchema, history(t))
      case "manifests" => local(manifestSchema, manifestRowsOf(t, t.currentSnapshot.toSeq))
      case "all_manifests" => local(manifestSchema, manifestRowsOf(t, t.metadata.snapshots))
      case "refs" => local(refsSchema, refs(t))
      case "statistics" => local(statisticsSchema, statistics(t))
      case "position_deletes" =>
        PosDeleteScanTable.of(t, ident, t.newScan().planFiles().posDeleteFiles)
      case "partitions" =>
        val agg = apply(t, "partitions")
        RowsTable(ident, agg.schema, () => agg.collect().toSeq)
      case n @ ("files" | "entries" | "all_data_files" | "all_entries" |
                "data_files" | "delete_files" | "all_files" | "all_delete_files") =>
        val filesOnly = n != "entries" && n != "all_entries"
        val snaps =
          if (n.startsWith("all_")) t.metadata.snapshots else t.currentSnapshot.toSeq
        // data and delete files live in separate manifests, so the
        // content split is a smaller manifest list, not a row filter
        // (all_data_files = DATA only, like the reference AllDataFilesTable)
        val manifests = manifestsOf(t, snaps).filter(mf => n match {
          case "data_files" | "all_data_files" => mf.content == FileContent.Data
          case "delete_files" | "all_delete_files" => mf.content != FileContent.Data
          case _ => true
        })
        MetaScanTable(ident, manifests.map(mf => (mf.path, mf.specId)),
          readSpec(t, manifests, filesOnly), if (filesOnly) fileSchema else entrySchema)
      case other => throw new IllegalArgumentException(
        s"unknown metadata table $other (one of ${Names.mkString(", ")})")
    }
  }

  /** `t$snapshots` (reference SnapshotsTable.java:30-89). */
  private val snapshotSchema = StructType(Seq(
    StructField("committed_at", TimestampType),
    StructField("snapshot_id", LongType),
    StructField("parent_id", LongType),
    StructField("operation", StringType),
    StructField("manifest_list", StringType),
    StructField("summary", MapType(StringType, StringType))))

  private def snapshots(t: GraftTable): Seq[Row] =
    t.metadata.snapshots.map(s =>
      Row(new java.sql.Timestamp(s.timestampMillis), s.snapshotId,
        s.parentId.map(Long.box).orNull, s.operation, s.manifestList,
        s.summary))

  /** `t$history` with is_current_ancestor (reference HistoryTable.java:36-43). */
  private val historySchema = StructType(Seq(
    StructField("made_current_at", TimestampType),
    StructField("snapshot_id", LongType),
    StructField("parent_id", LongType),
    StructField("is_current_ancestor", BooleanType)))

  private def history(t: GraftTable): Seq[Row] = {
    val m = t.metadata
    val ancestors = m.ancestors().map(_.snapshotId).toSet
    m.snapshotLog.map(e =>
      Row(new java.sql.Timestamp(e.timestampMillis), e.snapshotId,
        m.snapshot(e.snapshotId).flatMap(_.parentId).map(Long.box).orNull,
        ancestors.contains(e.snapshotId)))
  }

  private val manifestSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("length", LongType),
    StructField("partition_spec_id", IntegerType),
    StructField("content", IntegerType),
    StructField("added_snapshot_id", LongType),
    StructField("added_data_files_count", IntegerType),
    StructField("existing_data_files_count", IntegerType),
    StructField("deleted_data_files_count", IntegerType)))

  private def manifestRowsOf(t: GraftTable, snaps: Seq[Snapshot]): Seq[Row] =
    manifestsOf(t, snaps).map(mf =>
      Row(mf.path, mf.length, mf.specId, mf.content, mf.addedSnapshotId,
        mf.addedFilesCount, mf.existingFilesCount, mf.deletedFilesCount))

  /** `t$statistics` — committed NDV statistics files (reference
    * StatisticsTable over StatisticsFile entries). */
  private val statisticsSchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("statistics_path", StringType, nullable = false),
    StructField("row_count", LongType),
    StructField("ndv", MapType(StringType, LongType))))

  private def statistics(t: GraftTable): Seq[Row] =
    t.metadata.statistics.sortBy(_.snapshotId).map { sf =>
      val st = Stats.read(t, sf.snapshotId)
      Row(sf.snapshotId, sf.path,
        st.map(s => Long.box(s.rowCount)).orNull,
        st.map(_.ndvByName(t.metadata.schema)).orNull)
    }

  /** `t$refs`: named branches/tags plus the implicit "main" row (public
    * Iceberg RefsTable shape). */
  private val refsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("min_snapshots_to_keep", IntegerType),
    StructField("max_snapshot_age_in_ms", LongType),
    StructField("max_ref_age_in_ms", LongType)))

  private def refs(t: GraftTable): Seq[Row] = {
    val m = t.metadata
    val main = m.currentSnapshotId.map(id =>
      Row("main", "BRANCH", id, null, null, null)).toSeq
    main ++ m.refs.toSeq.sortBy(_._1).map { case (n, r) =>
      Row(n, if (r.isBranch) "BRANCH" else "TAG", r.snapshotId,
        r.minSnapshotsToKeep.map(Int.box).orNull,
        r.maxSnapshotAgeMs.map(Long.box).orNull,
        r.maxRefAgeMs.map(Long.box).orNull)
    }
  }

  private val fileSchema = StructType(Seq(
    StructField("content", IntegerType),
    StructField("file_path", StringType),
    StructField("file_format", StringType),
    StructField("partition", MapType(StringType, StringType)),
    StructField("record_count", LongType),
    StructField("file_size_in_bytes", LongType),
    StructField("spec_id", IntegerType),
    StructField("schema_id", IntegerType),
    // deletion-vector address (null on data files / non-DV deletes)
    StructField("referenced_data_file", StringType),
    StructField("content_offset", LongType),
    StructField("content_size_in_bytes", LongType)))

  private val entrySchema = StructType(
    StructField("status", IntegerType) +:
    StructField("snapshot_id", LongType) +:
    StructField("sequence_number", LongType) +: fileSchema.fields.toSeq)

  /** Manifest descriptors reachable from `snaps` — a driver-side read of
    * the manifest LIST only (one small descriptor per manifest). */
  private def manifestsOf(t: GraftTable, snaps: Seq[Snapshot]): Seq[ManifestFile] =
    snaps.flatMap(s => t.readManifestList(t.metadata, s)).distinctBy(_.path)

  /** Parse ONE manifest into metadata-table rows. Runs executor-side (all
    * arguments are serializable); the reference counterpart is
    * ManifestReadTask.rows (core/.../DataFilesTable.java). `filesOnly`
    * selects the `files` projection: live entries only, file columns only. */
  private def manifestRows(io: FileIO, path: String,
      idSchema: StructType, partTypes: Map[String, DataType],
      filesOnly: Boolean): Seq[Row] = {
    val entries = MetaCodec.readManifest(io.readBytes(path), idSchema, partTypes)
    val selected =
      if (filesOnly) entries.filter(_.status != EntryStatus.Deleted) else entries
    selected.map { e =>
      val f = e.file
      val fileCols = Seq[Any](f.content, f.path, f.fileFormat,
        f.partition.map { case (k, v) => k -> Values.toDirString(v) },
        f.recordCount, f.fileSizeInBytes, f.specId, f.schemaId,
        f.referencedDataFile.orNull, f.contentOffset.map(Long.box).orNull,
        f.contentSizeInBytes.map(Long.box).orNull)
      if (filesOnly) Row(fileCols: _*)
      else Row((Seq[Any](e.status, e.snapshotId, e.sequenceNumber) ++ fileCols): _*)
    }
  }

  /** Everything a task needs to parse manifests without the driver: the
    * manifest slices ship in the closure; entry rows never do. */
  private[graft] final case class ManifestReadSpec(
      io: FileIO,
      idSchema: StructType,
      partTypesBySpec: Map[Int, Map[String, DataType]],
      filesOnly: Boolean) extends Serializable {
    def rows(path: String, specId: Int): Seq[Row] =
      manifestRows(io, path, idSchema, partTypesBySpec(specId), filesOnly)
  }

  private def readSpec(t: GraftTable, manifests: Seq[ManifestFile],
      filesOnly: Boolean): ManifestReadSpec = {
    val m = t.metadata
    // promotion-safe id-resolution schema (same pick as
    // GraftTable.readManifest — a stale narrow-type copy here decoded
    // post-promotion 8-byte bounds through the 4-byte branch)
    val idSchema = FieldIds.idResolutionSchema(m.schemas)
    val typesBySpec = manifests.map(_.specId).distinct
      .map(id => id -> t.partTypesOf(m)(id).toMap).toMap
    ManifestReadSpec(t.ops.io, idSchema, typesBySpec, filesOnly)
  }
}
