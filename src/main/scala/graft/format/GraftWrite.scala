package graft.format

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import java.util.UUID

/** Spark-native write path (reference §3.3 write+commit): every format
  * rides the DSv2 fanout writers (reference PartitionedWriter.java:65-69's
  * per-task appenders, one open file per partition tuple per task), so the
  * library and connector write paths are ONE code path.
  *
  * Hidden partitioning: each row's partition tuple is computed in the
  * writer from the spec's transforms (the same canonical kernel the
  * pruning evaluators project predicates into) and recorded directly in
  * the commit message — never round-tripped through directory names.
  * Source columns stay in the data, exactly the reference's model
  * (partition values are derived, §1.3). Stats come from file footers
  * (reference ParquetUtil.footerMetrics) with truncate(16) bounds.
  */
object GraftWrite {

  /** Hive-style partition-dir unescape (Spark's
    * ExternalCatalogUtils.unescapePathName): decode `%XX` sequences ONLY.
    * `URLDecoder` is NOT the inverse of the writer's escaping — it also
    * turns '+' into a space, and '+' is a character the Hive escaper
    * leaves literal, so a partition value containing '+' would decode to
    * the wrong tuple (pruning then silently drops the partition and
    * delete-file tuples stop matching data-file tuples). */
  private[format] def unescapeDir(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `none` (default) keeps the input's task layout — a task-local
    * clustering sort only, no shuffle. `hash` first shuffles rows by the
    * derived partition expressions so each table partition lands in ONE
    * task: a partitioned append then writes its partitions in parallel
    * (the default layout writes files = tasks × touched-partitions — the
    * many-small-files shape — and a single-split input funnels the whole
    * write through one task). The cost is one exchange of the written
    * rows; a hot partition becomes a hot task (hash mode's documented
    * trade). Opt-in per table so existing tables keep their file layout. */
  val DistributionModeKey = "write.distribution-mode"

  /** Table property: imports with at least this many files write their
    * rolled manifest chunks in executor tasks (see
    * [[Commits.fastAppendDistributed]]). */
  val ImportManifestThresholdKey = "import.distributed-manifest-threshold"
  val ImportManifestThresholdDefault = 10000

  /** Write df as new data files of `table` (no commit) and return them.
    * The encoding follows `write.format.default` (reference
    * TableProperties.DEFAULT_FILE_FORMAT); parquet, ORC and Avro all run
    * as one executor job over the DSv2 fanout writers. */
  def writeFiles(table: GraftTable, df: DataFrame,
      lineage: Boolean = false,
      // compaction/z-order callers arrange rows themselves (range
      // repartition + their own within-partition order): the write-side
      // partition-clustering sort must NOT run on top of that — Spark's
      // sort is not stable, so re-sorting by the derived keys alone would
      // scramble the carefully-built within-partition clustering
      clusterByPartition: Boolean = true): Seq[DataFile] = {
    val m = table.metadata
    val schema = m.schema
    val spec = m.spec
    val fmt = graft.connector.GraftBatchWrite.writeFormat(m.properties)
    // write-batch directory via the table's LocationProvider (object-store
    // tables get a hash-prefixed key)
    val staging = table.locations.newDataLocation(UUID.randomUUID().toString)

    // align df columns to the table schema (names must match; types cast);
    // lineage-preserving rewrites additionally carry the two row-lineage
    // columns through to the physical files (Lineage.Stored outputs)
    val aligned = df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq ++
      (if (lineage) Seq(
        col(Lineage.RowIdColumn).cast(org.apache.spark.sql.types.LongType)
          .as(Lineage.RowIdColumn),
        col(Lineage.LastUpdatedColumn).cast(org.apache.spark.sql.types.LongType)
          .as(Lineage.LastUpdatedColumn))
      else Nil): _*)

    // Cluster each task's rows by the derived partition expressions
    // (partition-clustered input keeps the fanout writer at ~one open
    // file, whatever the partition count — a task-local sort, no
    // shuffle), then write.sort-order within partitions so column bounds
    // stay tight and stats pruning bites (the reference's SortOrder
    // contract — position-delete writers and metrics quality depend on it)
    val clusterCols: Seq[org.apache.spark.sql.Column] =
      if (spec.isPartitioned && clusterByPartition)
        spec.derivedColumns(schema).map(_._2.asc)
      else Nil
    // write.sort-order is gated on the SAME flag: when the caller owns the
    // row order (compaction/z-order rewrites), ANY write-side
    // sortWithinPartitions — cluster or declared order — would re-scramble
    // the arrangement (Spark's sort is not stable), defeating the flag
    val orderCols: Seq[org.apache.spark.sql.Column] =
      if (!clusterByPartition) Nil
      else SortOrders.fromProperties(m.properties).map(_.sortColumn)
    // write.distribution-mode BEFORE the task-local sort, matching the
    // DSv2 INSERT path (GraftSparkTable.requiredDistribution): `hash`
    // shuffles by the derived partition expressions so each table
    // partition is written by exactly one task, in parallel (the `none`
    // layout writes tasks × touched-partitions files, and a single-split
    // input funnels the whole write through one task); `range` shuffles
    // by partition expressions + declared sort order for non-overlapping
    // cross-file bounds. The LIBRARY default stays `none` — callers like
    // compaction arrange rows themselves, and historical gate tables pin
    // their file layouts — where the DSv2 path defaults partitioned
    // tables to `hash`; the property aligns both when set.
    val distributed =
      (if (clusterByPartition)
        m.properties.getOrElse(DistributionModeKey, "none").trim
      else "none") match {
        case "hash" if spec.isPartitioned =>
          aligned.repartition(spec.derivedColumns(schema).map(_._2): _*)
        case "range" if clusterCols.nonEmpty || orderCols.nonEmpty =>
          aligned.repartitionByRange(clusterCols ++ orderCols: _*)
        case "none" | "hash" | "range" => aligned
        case other => throw new IllegalArgumentException(
          s"$DistributionModeKey: unsupported mode '$other' (none | hash | range)")
      }
    val sorted =
      if (clusterCols.nonEmpty || orderCols.nonEmpty)
        distributed.sortWithinPartitions(clusterCols ++ orderCols: _*)
      else distributed

    writeViaFanout(table, sorted, staging, lineage, fmt)
  }

  /** ONE executor job through the DSv2 fanout writers for EVERY format —
    * partition routing, per-file metrics, and file naming are shared with
    * the connector write path. The previous parquet/ORC branch used
    * Spark's `partitionBy` writer and parsed the partition tuple BACK out
    * of the hive-escaped directory names: a lossy round trip (non-ASCII
    * values crashed on ASCII-locale filesystems; renderings of
    * non-string identity values were session-state-shaped), and the split
    * brain behind the decimal-bucket placement bug — the fanout writer
    * computes each row's tuple with the same canonical Transform kernel
    * the pruning evaluators project into, so the class is gone. */
  private def writeViaFanout(table: GraftTable, sorted: DataFrame,
      staging: String, lineage: Boolean = false,
      fmt: String = FileFormats.Avro): Seq[DataFile] = {
    val m = table.metadata
    // lineage rewrites carry two trailing long columns; spec-field
    // ordinals reference the leading table columns, so routing is unchanged
    val linTail =
      if (lineage) Seq(
        org.apache.spark.sql.types.StructField(Lineage.RowIdColumn,
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField(Lineage.LastUpdatedColumn,
          org.apache.spark.sql.types.LongType, nullable = true))
      else Nil
    val factory =
      graft.connector.GraftWriterFactory.forTable(table.spark, m, staging, fmt, linTail)
    factory.writeRows(sorted).map(_.toDataFile(m, fmt)
      .copy(firstRowId = if (lineage) Some(Lineage.Materialized) else None))
  }

  /** df.write…append analog. */
  def append(table: GraftTable, df: DataFrame): TableMetadata =
    Commits.mergeAppend(table, writeFiles(table, df))

  def fastAppend(table: GraftTable, df: DataFrame): TableMetadata =
    Commits.fastAppend(table, writeFiles(table, df))

  /** Append to a branch head; main stays untouched until fastForward. */
  def appendToBranch(table: GraftTable, branch: String,
      df: DataFrame): TableMetadata =
    Commits.appendToBranch(table, branch, writeFiles(table, df))

  /** INSERT OVERWRITE … WHERE analog (SupportsOverwrite). */
  def overwrite(table: GraftTable, df: DataFrame, filter: Expr): TableMetadata =
    Commits.overwriteByFilter(table, filter, writeFiles(table, df))

  /** Dynamic partition overwrite (SupportsDynamicOverwrite). */
  def overwriteDynamic(table: GraftTable, df: DataFrame): TableMetadata =
    Commits.replacePartitions(table, writeFiles(table, df))

  /** Truncate-and-load (streaming Complete mode, reference
    * StreamingWriter.java:70-86: OverwriteFiles deleting alwaysTrue). */
  def overwriteAll(table: GraftTable, df: DataFrame): TableMetadata =
    Commits.overwriteByFilter(table, AlwaysTrue, writeFiles(table, df))

  /** Import an existing parquet table as a snapshot — the reference's
    * SparkTableUtil.importSparkTable (spark/.../SparkTableUtil.java:501-631):
    * files are referenced in place, never rewritten; stats come from footers.
    *
    * Hive-style partitioned layouts (`k=v` directories,
    * SparkTableUtil.java:569-631) import as identity-partitioned tables.
    * The partition columns exist only in directory names, not in the data
    * files, so the table records TWO schemas: schema 0 = the physical file
    * schema (imported files point at it) and schema 1 = current, with the
    * partition columns appended LAST. Read paths fill the missing identity
    * columns from each file's partition tuple (the reference's
    * PartitionUtil.constantsMap).
    *
    * Ids honor a `schema.name-mapping.default` property if supplied
    * (NameMapping — stable ids for id-less external files); the resolved
    * mapping is always recorded on the table so later evolution and
    * re-imports keep the same ids. */
  def importParquet(spark: org.apache.spark.sql.SparkSession, location: String,
      parquetPath: String,
      properties: Map[String, String] = Map.empty): GraftTable =
    importTable(spark, location, parquetPath, properties, FileFormats.Parquet)

  /** ORC twin of [[importParquet]] — the warehouse-federation path for
    * Hive tables stored as ORC (the reference fork's primary interop
    * format; SparkTableUtil imports ORC partitions the same way). */
  def importOrc(spark: org.apache.spark.sql.SparkSession, location: String,
      orcPath: String,
      properties: Map[String, String] = Map.empty): GraftTable =
    importTable(spark, location, orcPath, properties, FileFormats.Orc)

  /** Avro twin: external container files referenced in place; the data
    * schema comes from the Avro header (AvroSchemaUtil.convert analog). */
  def importAvro(spark: org.apache.spark.sql.SparkSession, location: String,
      avroPath: String,
      properties: Map[String, String] = Map.empty): GraftTable =
    importTable(spark, location, avroPath, properties, FileFormats.Avro)

  def importTable(spark: org.apache.spark.sql.SparkSession, location: String,
      dataPath: String, properties: Map[String, String],
      format: String): GraftTable = {
    // the target must not already be a live table: the import wipes
    // `location` before writing fresh metadata, and silently destroying
    // an existing table from a CALL/typo is never right
    require(!GraftTable.exists(location),
      s"table location $location already holds a graft table — " +
      "refusing to overwrite it (drop it first to re-import)")
    // scheme-aware listing (FileIO seam): imports work off hdfs/object
    // stores the same as local dirs; a single-file path lists itself
    val files = FileIO.forPath(dataPath)
      .list(dataPath, "." + format).map(_.path).sorted
    require(files.nonEmpty, s"no $format files under $dataPath")

    // hive-style partition segments (k=v) of each file, relative to root
    def segsOf(f: String): Seq[(String, String)] = {
      val rel = f.stripPrefix(dataPath).stripPrefix("/")
      rel.split('/').dropRight(1).toSeq
        .filter(_.contains('='))
        .map { seg =>
          val eq = seg.indexOf('=')
          seg.substring(0, eq) -> unescapeDir(seg.substring(eq + 1))
        }
    }
    val segsPerFile = files.map(f => f -> segsOf(f)).toMap
    val partCols = segsPerFile(files.head).map(_._1)
    require(files.forall(f => segsPerFile(f).map(_._1) == partCols),
      s"inconsistent partition layout under $dataPath")

    // full inferred schema: Spark appends inferred partition columns LAST —
    // the order the read-path fill relies on. Avro has no Spark datasource
    // in this build, so its data schema comes from the container header
    // (AvroIO.sparkSchema) and partition-column types from the directory
    // values (int → long → double → string, Spark's own inference order)
    val inferred = format match {
      case FileFormats.Avro =>
        val hconf = spark.sessionState.newHadoopConf()
        val data = AvroIO.sparkSchema(AvroIO.fileSchema(files.head, hconf))
        // later reads project by name against the HEAD schema — a file
        // written with a different schema would silently resolve to nulls,
        // so divergence is an import-time error (header reads are cheap:
        // container metadata only, no row decode)
        files.drop(1).foreach { f =>
          val s = AvroIO.sparkSchema(AvroIO.fileSchema(f, hconf))
          require(s == data,
            s"avro schema mismatch under $dataPath: $f has $s, " +
            s"but ${files.head} has $data")
        }
        // same contract as Spark's own inference, which ERRORS on a column
        // present both in the data files and the directory layout
        require(partCols.forall(c => !data.fieldNames.contains(c)),
          s"partition columns $partCols collide with data columns in $dataPath")
        def inferType(vals: Seq[String]): org.apache.spark.sql.types.DataType =
          if (vals.forall(v => scala.util.Try(v.toInt).isSuccess))
            org.apache.spark.sql.types.IntegerType
          else if (vals.forall(v => scala.util.Try(v.toLong).isSuccess))
            org.apache.spark.sql.types.LongType
          else if (vals.forall(v => scala.util.Try(v.toDouble).isSuccess))
            org.apache.spark.sql.types.DoubleType
          else org.apache.spark.sql.types.StringType
        val partFields = partCols.map { c =>
          org.apache.spark.sql.types.StructField(c,
            inferType(files.flatMap(f => segsPerFile(f)
              .collect { case (k, v) if k == c => v })))
        }
        org.apache.spark.sql.types.StructType(data.fields ++ partFields)
      case FileFormats.Orc => spark.read.orc(dataPath).schema
      case _ => spark.read.parquet(dataPath).schema
    }
    val mapping = properties.get(NameMapping.PropertyKey).map(NameMapping.fromJson)
    def withIds(st: org.apache.spark.sql.types.StructType, lastId: Int) =
      mapping.map(_.applyTo(st, lastId)).getOrElse {
        // fresh ids at EVERY struct level (nested evolution works on
        // imported tables too), continuing above lastId
        var next = lastId
        def walk(s: org.apache.spark.sql.types.StructType)
            : org.apache.spark.sql.types.StructType =
          org.apache.spark.sql.types.StructType(s.fields.map { f =>
            next += 1
            val id = next
            val dt = f.dataType match {
              case i: org.apache.spark.sql.types.StructType => walk(i)
              case o => o
            }
            FieldIds.withId(f.copy(dataType = dt), id)
          })
        walk(st)
      }

    if (partCols.isEmpty) {
      val schemaIds = withIds(inferred, 0)
      val table = GraftTable.recreate(spark, location, schemaIds, identity,
        properties + (NameMapping.PropertyKey ->
          NameMapping.fromSchema(schemaIds).toJson))
      appendImported(spark, table, files, table.metadata.schema,
        table.metadata.currentSchemaId, _ => Map.empty, format)
      table
    } else {
      val physicalRaw = org.apache.spark.sql.types.StructType(
        inferred.fields.filterNot(f => partCols.contains(f.name)))
      val physical = withIds(physicalRaw, 0)
      val partFields = org.apache.spark.sql.types.StructType(
        inferred.fields.filter(f => partCols.contains(f.name)))
      val full = org.apache.spark.sql.types.StructType(
        physical.fields ++ withIds(partFields, FieldIds.maxId(physical)).fields)
      val spec = partCols.foldLeft(PartitionSpec.builderFor(full))(
        (b, c) => b.identity(c)).build(0)
      val now = System.currentTimeMillis()
      // same `format-version` property spell GraftTable.create honors
      val fv = properties.get("format-version").map(_.trim.toInt).getOrElse(2)
      require(fv == 2 || fv == 3, s"unsupported format-version $fv (2 or 3)")
      val meta = TableMetadata(
        formatVersion = fv,
        tableUuid = java.util.UUID.randomUUID().toString,
        location = location,
        lastSequenceNumber = 0L,
        lastUpdatedMillis = now,
        lastColumnId = FieldIds.maxId(full),
        currentSchemaId = 1,
        schemas = Map(0 -> physical, 1 -> full),
        defaultSpecId = 0,
        specs = Map(0 -> spec),
        properties = (properties - "format-version") +
          (NameMapping.PropertyKey -> NameMapping.fromSchema(full).toJson),
        currentSnapshotId = None,
        snapshots = Nil,
        snapshotLog = Nil)
      FileIO.forPath(location).deleteRecursive(location)
      val ops = new TableOps(location)
      ops.commit(0, meta)
      val table = new GraftTable(ops, spark)
      val types = spec.resultTypes(full).toMap
      appendImported(spark, table, files, physical, 0,
        f => segsOf(f).map { case (k, v) =>
          k -> Values.fromHiveDirString(v, types(k))
        }.toMap, format)
      table
    }
  }

  /** Footer-stat + commit step shared by both import shapes: stats run as a
    * distributed job (the reference distributes exactly this). */
  private def appendImported(spark: org.apache.spark.sql.SparkSession,
      table: GraftTable, files: Seq[String],
      statSchema: org.apache.spark.sql.types.StructType, schemaId: Int,
      tupleOf: String => Map[String, Any],
      format: String = FileFormats.Parquet): Unit = {
    val metricsByPath = Metrics.forFiles(spark, files, statSchema,
      Metrics.modesFor(statSchema, table.metadata.properties), format)
    val dataFiles = files.map { f =>
      val fm = metricsByPath(f)
      DataFile(path = f, partition = tupleOf(f),
        recordCount = fm.recordCount, fileSizeInBytes = fm.fileSize,
        schemaId = schemaId, specId = table.metadata.defaultSpecId,
        valueCounts = fm.valueCounts, nullValueCounts = fm.nullValueCounts,
        lowerBounds = fm.lowerBounds, upperBounds = fm.upperBounds,
        splitOffsets = fm.splitOffsets, fullBoundIds = fm.fullBoundIds,
        fileFormat = format)
    }
    // file-count-scale imports write their rolled manifest chunks in
    // executors (driver handles descriptors only); small imports stay on
    // the simpler driver path. The threshold property exists so tests can
    // force the distributed path without 10k fixture files.
    val threshold = table.metadata.properties
      .get(ImportManifestThresholdKey).map(_.toInt)
      .getOrElse(ImportManifestThresholdDefault)
    if (dataFiles.size < threshold) Commits.fastAppend(table, dataFiles)
    else Commits.fastAppendDistributed(table, dataFiles)
  }
}
