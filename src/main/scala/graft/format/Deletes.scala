package graft.format

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** v2 row-level delete writers (reference core/.../deletes/
  * {PositionDeleteWriter,EqualityDeleteWriter}.java + RowDelta commit).
  *
  * Position deletes: rows sorted by (file_path, pos) — the writer contract
  * the reference enforces (PositionDeleteWriter requires sorted input;
  * SURVEY §2.6) — we get it with sortWithinPartitions.
  * Equality deletes: a file of key tuples; rows in OLDER data files whose
  * keys match are invisible (applied executor-side by the DSv2 scan's
  * delete filter readers, graft.connector.DeleteFilterReader).
  */
object Deletes {

  /** Reserved delete-file field ids (iceberg spec, "Position Delete Files":
    * 2147483546 = file_path, 2147483545 = pos; reference
    * core/src/main/java/org/apache/iceberg/MetadataColumns.java
    * DELETE_FILE_PATH/DELETE_FILE_POS). Our parquet position-delete writers
    * record the CANONICAL min/max target path under [[PathFieldId]] in the
    * manifest bounds (and `referenced_data_file` when the file targets
    * exactly one data file), so scan planning can attach each delete file
    * to its data files with ZERO delete-file I/O — the analogue of the
    * reference's DeleteFileIndex per-FileScanTask matching. */
  val PathFieldId: Int = 2147483546
  val PosFieldId: Int = 2147483545

  /** Bound-value types for the reserved ids, merged into the manifest
    * codecs' schema-derived type map so the bounds survive round-trip. */
  val reservedBoundTypes: Map[Int, org.apache.spark.sql.types.DataType] = Map(
    PathFieldId -> org.apache.spark.sql.types.StringType,
    PosFieldId -> org.apache.spark.sql.types.LongType)

  /** Canonical data-file paths targeted by position-delete files (one
    * driver-side read of the small per-commit path column). Shared by both
    * scan paths' parquet-only guard, so the check cannot drift. */
  def posDeleteTargets(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Set[String] = {
    val out = scala.collection.mutable.HashSet[String]()
    paths.foreach(p => out ++= cachedTargets(p, conf))
    out.toSet
  }

  // Driver-side cache of delete files' target-path sets: a delete file is
  // immutable, so one path-column read serves every subsequent scan. Only
  // LEGACY files (written before target metadata was recorded in the
  // manifest) ever reach this read; capped by entry count — target sets are
  // a handful of short strings.
  private val targetCache =
    new java.util.LinkedHashMap[String, Set[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Set[String]]): Boolean = size > 8192
    }

  private def cachedTargets(path: String,
      conf: org.apache.hadoop.conf.Configuration): Set[String] = {
    targetCache.synchronized {
      val hit = targetCache.get(path)
      if (hit != null) return hit
    }
    val out = scala.collection.mutable.HashSet[String]()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType)))
    ParquetIO.readAll(path, schema, conf) { r =>
      if (!r.isNullAt(0)) out += ParquetIO.canonPath(r.getUTF8String(0).toString)
    }
    val set = out.toSet
    targetCache.synchronized { targetCache.put(path, set) }
    set
  }

  /** The canonical target-path range a delete file's metadata pins, if any:
    * `referenced_data_file` (DVs, single-target parquet) or the reserved
    * path-bounds recorded at write time. */
  private def metaTargetRange(f: DataFile): Option[(String, String)] =
    f.referencedDataFile.map(ParquetIO.canonPath).map(p => (p, p)).orElse {
      (f.lowerBounds.get(PathFieldId), f.upperBounds.get(PathFieldId)) match {
        case (Some(lo: String), Some(hi: String)) => Some((lo, hi))
        case _ => None
      }
    }

  /** Target detection over the delete FILES: manifest metadata
    * (referenced_data_file / path bounds lower==upper) answers single-target
    * files with zero I/O; only legacy multi-target parquet files pay the
    * (cached) per-file path-column read. Multi-target files WITH bounds
    * return nothing here — callers needing exact sets use [[posIndex]]. */
  def posDeleteTargetFiles(files: Seq[DataFile],
      conf: org.apache.hadoop.conf.Configuration): Set[String] = {
    val (dvs, parquet) = files.partition(_.fileFormat == FileFormats.Puffin)
    val (known, unknown) =
      parquet.distinctBy(_.path).partition(f => metaTargetRange(f).isDefined)
    dvs.flatMap(_.referencedDataFile).map(ParquetIO.canonPath).toSet ++
      known.flatMap { f =>
        val (lo, hi) = metaTargetRange(f).get
        if (lo == hi) Seq(lo)
        // multi-target with bounds: exact membership needs the file read
        else cachedTargets(f.path, conf)
      } ++ posDeleteTargets(unknown.map(_.path), conf)
  }

  /** Can an equality-delete file's keys hit rows of a data file with the
    * given (specId, partition)? Partition-global delete files (empty
    * tuple) and cross-spec pairings (tuples aren't comparable across
    * specs) always can; a tuple-carrying file under the SAME spec hits
    * only its own partition. The semantics GraftScan.eqIndexByGroup
    * encodes as a tuple→paths index for O(1)-per-partition task scoping;
    * kept as the reference predicate for specs (MetaScaleSpec asserts the
    * index agrees with it at 10k delete files). */
  def eqDeleteCanHit(deleteSpecId: Int, deletePartition: Map[String, Any],
      dataSpecId: Int, dataPartition: Map[String, Any]): Boolean =
    deletePartition.isEmpty || deleteSpecId != dataSpecId ||
      // CONTENT equality: binary partition values are Array[Byte], whose
      // Map == is reference-based — a raw compare detaches the key set
      // from its content-equal data partition and resurrects rows
      Tuples.equal(deletePartition, dataPartition)

  /** Per-task delete-file matcher (reference DeleteFileIndex,
    * core/.../DeleteFileIndex.java + FileScanTask.deletes()): canonical
    * data-file path → the parquet position-delete files that can contain
    * its positions. Exact and zero-I/O when the manifest carries
    * `referenced_data_file` or equal path bounds; a conservative string
    * range match for multi-target files with bounds (a superset — the
    * executor's per-file bitmap lookup keeps correctness); legacy files
    * without metadata fall back to one cached driver read each. */
  def posIndex(files: Seq[DataFile],
      conf: org.apache.hadoop.conf.Configuration): String => Seq[String] = {
    val parquet = files.filterNot(_.fileFormat == FileFormats.Puffin)
      .distinctBy(_.path)
    val exact = scala.collection.mutable.HashMap[String, List[String]]()
    val ranged = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    def addExact(target: String, deletePath: String): Unit =
      exact(target) = deletePath :: exact.getOrElse(target, Nil)
    parquet.foreach { f =>
      metaTargetRange(f) match {
        case Some((lo, hi)) if lo == hi => addExact(lo, f.path)
        case Some((lo, hi)) => ranged += ((f.path, lo, hi))
        case None => cachedTargets(f.path, conf).foreach(addExact(_, f.path))
      }
    }
    // INVARIANT: this range check and ALL PathFieldId bound producers
    // (annotatePosTargets, the distributed staging pass, DeltaOps'
    // delete writer) use the same Java String order. min/max-of-a-set
    // plus a same-order range test is sound under ANY total order, but
    // only while producers and this consumer agree — do not migrate one
    // side to compareUtf8 without the others (manifest bounds written by
    // older builds would then mis-range). User-predicate string pruning
    // is a different domain and IS codepoint-ordered (Exprs.ordering).
    p => (exact.getOrElse(p, Nil) ++
      ranged.collect { case (dp, lo, hi) if lo <= p && p <= hi => dp }).sorted
  }

  /** Annotate a freshly-staged parquet position-delete file with its
    * target metadata (one read of the just-written small file): canonical
    * path bounds always, `referenced_data_file` when single-target. */
  def annotatePosTargets(f: DataFile,
      conf: org.apache.hadoop.conf.Configuration): DataFile = {
    val targets = cachedTargets(f.path, conf)
    if (targets.isEmpty) f else withPosTargets(f, targets.min, targets.max)
  }

  /** Record target metadata computed by the writer itself (no re-read). */
  def withPosTargets(f: DataFile, minPath: String, maxPath: String): DataFile =
    f.copy(
      referencedDataFile =
        if (minPath == maxPath) Some(minPath) else f.referencedDataFile,
      lowerBounds = f.lowerBounds + (PathFieldId -> minPath),
      upperBounds = f.upperBounds + (PathFieldId -> maxPath),
      fullBoundIds =
        if (f.fullBoundIds.contains(PathFieldId)) f.fullBoundIds
        else f.fullBoundIds :+ PathFieldId)

  /** The live position-delete FILES of a table, deduplicated at entry
    * granularity (the same delete file — or the same DV blob — can be
    * planned through several manifests after rewrites). */
  def posDeleteFilesOf(t: GraftTable): Seq[DataFile] =
    t.newScan().planFiles().deleteFiles
      .filter(_._1.content == FileContent.PositionDeletes).map(_._1)
      .distinctBy(f => (f.path, f.referencedDataFile))

  /** All (canonical file_path, pos) pairs of a mixed set of position-delete
    * files as one DataFrame: parquet files read through Spark's source; DV
    * blobs expand executor-side from their bitmaps (one task per blob).
    * `withSource` appends a canonical `delete_file_path` column (the
    * position_deletes metadata-table shape). */
  def positionsDF(spark: SparkSession, files: Seq[DataFile],
      withSource: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // null rows are pre-filtered on the raw columns (PosDeleteCache skips
    // them the same way executor-side), so canon only ever sees non-null
    // input — declared non-nullable so the downstream join's inferred
    // isnotnull(key) folds away instead of re-evaluating the UDF in a
    // pushed-down filter (the null guard stays as defense in depth)
    val canon = udf((s: String) => if (s == null) null else ParquetIO.canonPath(s))
      .asNonNullable()
    val (dvs, parquetFiles) = files.partition(_.fileFormat == FileFormats.Puffin)
    val out = StructType(Seq(StructField("file_path", StringType),
      StructField("pos", LongType)) ++
      (if (withSource) Seq(StructField("delete_file_path", StringType)) else Nil))
    val parts = Seq.newBuilder[DataFrame]
    if (parquetFiles.nonEmpty) {
      // descriptor-backed read — no per-path driver stat calls at scale
      val base = DataFileIO.indexedDF(spark,
        parquetFiles.distinctBy(_.path), FileFormats.Parquet,
        StructType(Seq(StructField("file_path", StringType),
          StructField("pos", LongType))))
        // null rows are dropped on the RAW columns BEFORE the canon UDF:
        // filtering the projected alias instead pushes down as
        // isnotnull(UDF(file_path)) and evaluates the UDF twice per row
        // (filter + project — the r21 PrepEvalProbe class); canon is null
        // exactly when its input is, so the row sets are identical
        .filter(col("file_path").isNotNull && col("pos").isNotNull)
        .select(Seq(canon(col("file_path")).as("file_path"), col("pos")) ++
          (if (withSource)
            Seq(canon(col("_metadata.file_path")).as("delete_file_path"))
          else Nil): _*)
      parts += base
    }
    val slices = Dvs.slicesOf(dvs)
    if (slices.nonEmpty) {
      val sconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val rdd = spark.sparkContext
        .parallelize(slices, math.max(1, slices.size))
        .flatMap { s =>
          val src = ParquetIO.canonPath(s.path)
          val it = Dvs.read(s.path, s.offset, s.length, sconf.value).getLongIterator
          new Iterator[Row] {
            override def hasNext: Boolean = it.hasNext
            override def next(): Row =
              if (withSource) Row(s.referenced, it.next(), src)
              else Row(s.referenced, it.next())
          }
        }
      parts += spark.createDataFrame(rdd, out)
    }
    val built = parts.result()
    if (built.isEmpty) spark.createDataFrame(
      new java.util.ArrayList[Row](), out)
    else built.reduce(_ unionByName _)
  }

  private def stage(table: GraftTable, df: DataFrame, sorted: Seq[String]): Seq[String] = {
    val dir = table.locations.newDataLocation(s"deletes-${UUID.randomUUID()}")
    val out = if (sorted.nonEmpty) df.sortWithinPartitions(sorted.map(col): _*) else df
    out.write.mode(SaveMode.ErrorIfExists).parquet(dir)
    table.ops.io.list(dir, ".parquet").map(_.path).sorted
  }

  /** Delete specific row positions. `positions`: (file_path, pos) — use the
    * values of the `_file` / `_pos` metadata columns of a table scan
    * (`table.toDF().select("_file", "_pos")`). Commits a RowDelta; on format-version 3 tables the
    * positions land as puffin deletion vectors instead of parquet files. */
  def deletePositions(table: GraftTable, positions: DataFrame): TableMetadata = {
    if (Dvs.enabled(table.metadata))
      return Commits.rowDelta(table, Nil, Dvs.stageFromPositions(table, positions))
    val named = positions.toDF("file_path", "pos")
      .withColumn("pos", col("pos").cast("long"))
    // range-partitioned on (file_path, pos): staged files cover DISJOINT
    // path ranges, so posIndex's bounds matching attaches each to only its
    // own targets; AQE coalesces a small position set to one file
    val paths = stage(table,
      named.repartitionByRange(col("file_path"), col("pos")),
      Seq("file_path", "pos"))
    val m = table.metadata
    def desc(p: String, records: Long, size: Long) =
      DataFile(path = p, content = FileContent.PositionDeletes,
        recordCount = records, fileSizeInBytes = size,
        schemaId = m.currentSchemaId, specId = m.defaultSpecId)
    val files =
      if (paths.size <= 4) {
        // tiny sets: local reads beat a job round-trip (Metrics.forFiles
        // makes the same call)
        val conf = table.spark.sessionState.newHadoopConf()
        paths.map { p =>
          val fm = Metrics.fromParquetFooter(p, table.schema)
          annotatePosTargets(desc(p, fm.recordCount, fm.fileSize), conf)
        }
      } else {
        // a large position set staged range-partitioned: the canonical
        // min/max target pass (what annotatePosTargets reads per file)
        // runs in EXECUTORS, one task per staged file — no sequential
        // driver reads undoing the parallel staging
        val sconf = HadoopFileIO.sessionConf()
        val pathOnly = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("file_path",
            org.apache.spark.sql.types.StringType)))
        table.spark.sparkContext
          .parallelize(paths, math.min(paths.size, 64))
          .map { p =>
            var n = 0L; var lo: String = null; var hi: String = null
            ParquetIO.readAll(p, pathOnly, sconf.value) { r =>
              n += 1
              if (!r.isNullAt(0)) {
                val c = ParquetIO.canonPath(r.getUTF8String(0).toString)
                if (lo == null || c < lo) lo = c
                if (hi == null || c > hi) hi = c
              }
            }
            val hp = new org.apache.hadoop.fs.Path(p)
            val size = hp.getFileSystem(sconf.value).getFileStatus(hp).getLen
            (p, n, size, Option(lo), Option(hi))
          }.collect().toSeq.map { case (p, n, size, lo, hi) =>
            val f = desc(p, n, size)
            (lo, hi) match {
              case (Some(a), Some(b)) => withPosTargets(f, a, b)
              case _ => f
            }
          }
      }
    Commits.rowDelta(table, Nil, files)
  }

  /** File-side column name of each equality key of delete file `f`,
    * resolved against the schema `f` was STAGED under (`f.schemaId`) —
    * renames after staging are metadata-only (reference resolves delete
    * columns by field id, core/.../deletes/Deletes.java:128 via the
    * schema's id lookup), so CURRENT-schema names can diverge from the
    * column names physically written inside the delete file. Reading a
    * renamed key by its current name would null-fill (Spark's parquet
    * source name-matches and null-fills absent columns), and an all-null
    * key set silently resurrects the intended deletes. Falls back to the
    * scan schema when the staged schema no longer tracks the id (legacy
    * manifests default schemaId=0); fails LOUDLY when an id resolves in
    * neither — a delete set whose keys cannot be located must never be
    * silently dropped. */
  def eqKeyFileNames(schemas: Map[Int, org.apache.spark.sql.types.StructType],
      current: org.apache.spark.sql.types.StructType, f: DataFile): Seq[String] = {
    val staged = schemas.getOrElse(f.schemaId, current)
    f.equalityIds.map { id =>
      FieldIds.findById(staged, id).orElse(FieldIds.findById(current, id))
        .map(_.name).getOrElse(throw new IllegalStateException(
          s"equality-delete file ${f.path}: key field id $id resolves in " +
          s"neither its staged schema ${f.schemaId} nor the current schema " +
          "— refusing to read (null-filling the key column would resurrect " +
          "its deletes)"))
    }
  }

  /** Write (but do not commit) equality-delete files for `keys` — shared
    * by deleteByEquality and the streaming upsert sink, which commits them
    * atomically WITH its epoch's data files in one RowDelta.
    *
    * Partition scoping (reference DeleteFileIndex partition+seq indexing,
    * core/.../DeleteFileIndex.java): when every partition SOURCE column of
    * the current spec is among the key columns, a delete row can only hit
    * rows of its own partition — so the keys split into one eq-delete file
    * PER PARTITION, each carrying its tuple. planFiles then prunes delete
    * entries by partition exactly like data files, and the scan attaches
    * each key set only to tasks of its own partition, so a partition-local
    * streaming upsert never ships other partitions' key sets. Keys that
    * don't determine the partition keep the partition-GLOBAL empty-tuple
    * shape (the conservative bypass planFiles preserves). */
  def stageEqualityDeletes(table: GraftTable, keys: DataFrame): Seq[DataFile] = {
    val m = table.metadata
    val spec = m.spec
    val ids = keys.columns.map(FieldIds.nameToId(m.schema)).toSeq
    val keyCols = keys.columns.toSet
    val srcNames = spec.fields.filterNot(_.transform == Transforms.VoidT)
      .flatMap(pf => FieldIds.findById(m.schema, pf.sourceId).map(_.name))
    val partitionScoped = spec.isPartitioned && srcNames.nonEmpty &&
      srcNames.forall(keyCols.contains)
    // footer metrics ride into the manifest: key-column bounds let the
    // scan skip attaching a key set to tasks whose files can't contain any
    // key (Deletes.eqBoundsCanHit — upstream Iceberg's
    // DeleteFileIndex#canContainEqDeletesForFile), and plan-time filters
    // prune delete entries through the same inclusive-metrics evaluator
    // as data files
    // footer metrics as a distributed job when many files staged (one
    // file per partition can mean hundreds per epoch — no per-file driver
    // reads at scale, same as the data writers' collectFiles)
    def stagedAll(paths: Seq[String],
        tupleOf: String => Map[String, Any]): Seq[DataFile] = {
      val metricsByPath = Metrics.forFiles(table.spark, paths, m.schema)
      paths.map { p =>
        val fm = metricsByPath(p)
        DataFile(path = p, content = FileContent.EqualityDeletes,
          partition = tupleOf(p),
          recordCount = fm.recordCount, fileSizeInBytes = fm.fileSize,
          schemaId = m.currentSchemaId, specId = m.defaultSpecId,
          valueCounts = fm.valueCounts,
          nullValueCounts = fm.nullValueCounts,
          lowerBounds = fm.lowerBounds,
          upperBounds = fm.upperBounds,
          fullBoundIds = fm.fullBoundIds,
          equalityIds = ids)
      }
    }
    if (!partitionScoped) {
      // range-partition the deduped keys on the key columns: each staged
      // file holds a DISJOINT sorted key range, so a GDPR-scale key set
      // writes in parallel instead of through one task, and per-file key
      // bounds are tight and non-overlapping — eqBoundsCanHit then
      // attaches each file only to the tasks its range can hit. The
      // partition count is left unspecified so AQE coalesces a small key
      // set back to a single file.
      val paths = stage(table,
        keys.dropDuplicates().repartitionByRange(keys.columns.map(col).toSeq: _*),
        keys.columns.toSeq)
      return stagedAll(paths, _ => Map.empty)
    }
    // one file per partition: repartition by the derived partition
    // expressions (each output task holds whole partitions), then route
    // each key row to its tuple through the DSv2 fanout writer — the same
    // canonical Transform kernel the data writers and pruning evaluators
    // use. (The previous layout parsed the tuple back out of hive-escaped
    // `partitionBy` directory names: non-ASCII identity values crashed on
    // ASCII-locale filesystems and non-string renderings were
    // session-shaped — the same lossy round trip removed from GraftWrite.)
    val dir = table.locations.newDataLocation(s"deletes-${UUID.randomUUID()}")
    val derived = spec.derivedColumns(m.schema)
    val keyFields = keys.columns.toSeq
    val nameToIdx = keyFields.zipWithIndex.toMap
    val specFields = spec.fields.map { pf =>
      val src = FieldIds.findById(m.schema, pf.sourceId).get
      val ord = // void ignores its input; its source may not be a key col
        // (the fanout writer short-circuits void fields to null without
        // touching the row, so this placeholder ordinal/srcType is never
        // used as a row accessor)
        if (pf.transform == Transforms.VoidT) 0 else nameToIdx(src.name)
      graft.connector.GraftBatchWrite.SpecField(pf.name, ord, pf.transform,
        src.dataType)
    }
    val idSchema = org.apache.spark.sql.types.StructType(
      keyFields.map(n => m.schema(m.schema.fieldIndex(n))))
    val cleanSchema = org.apache.spark.sql.types.StructType(idSchema.fields.map(
      _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val factory = new graft.connector.GraftWriterFactory(cleanSchema,
      idSchema, specFields, dir,
      new org.apache.spark.util.SerializableConfiguration(
        ParquetIO.writeConf(table.spark)),
      statModes = Map.empty, // default modes, as Metrics.forFiles used
      FileFormats.Parquet, m.properties)
    val routed = keys.dropDuplicates()
      .repartition(derived.map(_._2): _*)
      .sortWithinPartitions(keyFields.map(col): _*)
    val staged = routed.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val w = factory.createWriter(pid, pid.toLong)
      rows.foreach(w.write)
      Iterator.single(w.commit()
        .asInstanceOf[graft.connector.GraftBatchWrite.TaskFiles])
    }.collect().toSeq.flatMap(_.files)
    staged.sortBy(_.path).map { sf =>
      val fm = sf.metrics
      DataFile(path = sf.path, content = FileContent.EqualityDeletes,
        partition = sf.partition,
        recordCount = fm.recordCount, fileSizeInBytes = fm.fileSize,
        schemaId = m.currentSchemaId, specId = m.defaultSpecId,
        valueCounts = fm.valueCounts,
        nullValueCounts = fm.nullValueCounts,
        lowerBounds = fm.lowerBounds,
        upperBounds = fm.upperBounds,
        fullBoundIds = fm.fullBoundIds,
        equalityIds = ids)
    }
  }

  /** Key-RANGE check for an equality-delete file against a data file
    * (upstream Iceberg DeleteFileIndex#canContainEqDeletesForFile): the
    * delete's keys can only hit the file if, for EVERY key column, either
    * a null key could match a null value (neither side provably
    * null-free) or the two value ranges overlap. Conservative true
    * whenever either side lacks the stats (legacy files, truncated-off
    * metrics modes). */
  def eqBoundsCanHit(delete: DataFile, data: DataFile,
      schema: org.apache.spark.sql.types.StructType): Boolean =
    delete.equalityIds.forall { id =>
      val deleteMayNull = !delete.nullValueCounts.get(id).contains(0L)
      val dataMayNull = !data.nullValueCounts.get(id).contains(0L)
      if (deleteMayNull && dataMayNull) true
      else (delete.lowerBounds.get(id), delete.upperBounds.get(id),
            data.lowerBounds.get(id), data.upperBounds.get(id)) match {
        case (Some(dl0), Some(du0), Some(fl0), Some(fu0)) =>
          FieldIds.findById(schema, id) match {
            case Some(f) =>
              val dt = Types.cleanType(f.dataType)
              val ord = Exprs.ordering(dt)
              // widen: bounds decoded/staged before a type promotion may
              // still carry the narrow runtime class
              val (dl, du) = (Values.widen(dl0, dt), Values.widen(du0, dt))
              val (fl, fu) = (Values.widen(fl0, dt), Values.widen(fu0, dt))
              ord.lteq(dl, fu) && ord.lteq(fl, du)
            case None => true
          }
        case _ => true
      }
    }

  /** Delete all rows whose key columns match any row of `keys` (written
    * before this commit). Commits a RowDelta with equality-delete files. */
  def deleteByEquality(table: GraftTable, keys: DataFrame): TableMetadata =
    Commits.rowDelta(table, Nil, stageEqualityDeletes(table, keys))

  /** SQL-DELETE-shaped helper: metadata-only when provable, else rewrite the
    * partially-matching files without the matching rows (copy-on-write
    * DELETE — what Spark's SupportsRowLevelOperations would drive). */
  def deleteWhere(table: GraftTable, filter: Expr,
      branch: Option[String] = None): TableMetadata = {
    try Commits.deleteByFilter(table, filter, branch)
    catch {
      case _: ValidationException =>
        val m = table.metadata
        val baseSnapshot = branch match {
          case Some(b) => m.refSnapshotId(b)
          case None => m.currentSnapshotId
        }
        val schema = m.schema
        val bound = Exprs.bind(filter, schema)
        // branch target: scan the BRANCH head (current schema — branch
        // semantics) and commit the rewrite to the ref
        var scan0 = table.newScan()
        branch.foreach(b => scan0 = scan0.useRef(b))
        val plan = scan0.filter(filter).planFiles()
        val touched = plan.tasks.map(_.file.path)
        // read the touched files through the DELETE-APPLYING scan path (an
        // unfiltered scan so no residual re-filter) — a raw parquet read
        // would resurrect rows hidden by live equality/position deletes,
        // since the rewritten files carry a NEWER sequence number
        val remaining = scan0
          .read(ScanPlan(plan.tasks, plan.deleteFiles, 0, 0, 0L, plan.tasks.size))
          .filter(!Exprs.toColumn(bound))
        val staged = GraftWrite.writeFiles(table, remaining)
        // a copy-on-write DELETE changes the logical row set — commit as
        // "overwrite", not "replace" (replace is reserved for row-preserving
        // rewrites and is skipped by CDC changelog reads)
        Commits.rewriteFiles(table, touched.toSet, staged, baseSnapshot,
          operation = "overwrite", branch = branch)
    }
  }
}

/** Static interval index over equality-delete files' key ranges: per
  * equality key, entries sorted by lower bound with a segment-tree max
  * over upper bounds, answering "which delete files' key ranges can
  * intersect this data file's range" in O(log n + hits) per key instead
  * of a linear sweep over every live delete file. This is the planning structure that keeps
  * per-task key-range narrowing affordable when thousands of global
  * (tuple-less) equality deletes are live — the shape a long-running
  * GDPR/right-to-be-forgotten pipeline accumulates between maintenance
  * runs (reference DeleteFileIndex keeps global deletes in one
  * sequence-sorted array and falls back to scanning it per data file;
  * core/src/main/java/org/apache/iceberg/DeleteFileIndex.java).
  *
  * Every file is indexed under EVERY bounded, schema-resolvable equality
  * key, and a file is a candidate only when each of its key groups
  * admits it — a matching row must equal the delete row on ALL keys, so
  * a disjoint range on ANY key rules the pairing out. The intersection
  * is what keeps a composite key useful when no single key is selective
  * (e.g. `(tenant_id, user_id)` where both ranges overlap heavily across
  * files but rarely together): best-single-key indexing degrades to a
  * near-total superset there, which upstream also blows past the exact
  * re-check's candidate cap — defeating the one pre-filter meant to keep
  * that path affordable.
  *
  * The result is still a conservative SUPERSET: callers re-check
  * survivors with [[Deletes.eqBoundsCanHit]] for full exactness, so
  * using the index can never change which deletes apply. Files the range
  * logic cannot constrain at all (no indexable key) are always returned;
  * within a group, files whose key may contain nulls are admitted
  * whenever the data file may hold nulls too. */
final class EqRangeIndex private (
    groups: Seq[EqRangeIndex.IdGroup],
    always: Seq[String],
    // path → number of groups it is indexed under (intersection target)
    keyCount: Map[String, Int]) extends Serializable {
  import EqRangeIndex.IdGroup

  /** Paths of delete files whose every indexed key range may intersect
    * `data`'s (plus every unconstrainable file). Superset of the exact
    * multi-key answer; sorted for deterministic planning. */
  def candidatesFor(data: DataFile): Seq[String] = {
    val out = Seq.newBuilder[String]
    out ++= always
    if (groups.nonEmpty) {
      val counts = new java.util.HashMap[String, Int]()
      groups.foreach { g =>
        val perGroup = Seq.newBuilder[String]
        collectGroup(g, data, perGroup)
        // dedup within the group (a may-null file can also range-match)
        // before counting, or it would double-count toward keyCount
        perGroup.result().distinct.foreach(p =>
          counts.merge(p, 1, Integer.sum(_, _)))
      }
      counts.forEach((p, c) => if (c == keyCount(p)) out += p)
    }
    out.result().sorted
  }

  private def collectGroup(g: IdGroup, data: DataFile,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    val dataMayNull = !data.nullValueCounts.get(g.id).contains(0L)
    if (dataMayNull) out ++= g.mayNull
    (data.lowerBounds.get(g.id), data.upperBounds.get(g.id)) match {
      case (Some(fl0), Some(fu0)) =>
        // widen: data files written before a type promotion carry
        // narrow-typed bounds
        val fl = Values.widen(fl0, g.dt); val fu = Values.widen(fu0, g.dt)
        // indices i with lo(i) <= fu, among them hi(i) >= fl
        val limit = upperBound(g, fu)
        if (limit >= 0) collect(g, 1, 0, g.treeSize - 1, limit, fl, out)
      case _ =>
        // a data file without bounds on the key can hold anything
        var i = 0
        while (i < g.paths.length) { out += g.paths(i); i += 1 }
    }
  }

  /** Largest index with lo(i) <= v, or -1. */
  private def upperBound(g: IdGroup, v: Any): Int = {
    var a = 0; var b = g.lo.length - 1; var res = -1
    while (a <= b) {
      val mid = (a + b) >>> 1
      if (g.ord.lteq(g.lo(mid), v)) { res = mid; a = mid + 1 } else b = mid - 1
    }
    res
  }

  /** Segment descent over [nodeLo,nodeHi] ∩ [0,limit]: emit leaves with
    * hi >= fl, pruning subtrees whose max(hi) < fl. */
  private def collect(g: IdGroup, node: Int, nodeLo: Int, nodeHi: Int,
      limit: Int, fl: Any,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    if (nodeLo > limit) return
    val m = g.maxHi(node)
    if (m == null || g.ord.lt(m, fl)) return
    if (nodeLo == nodeHi) {
      if (nodeLo < g.paths.length) out += g.paths(nodeLo)
      return
    }
    val mid = (nodeLo + nodeHi) >>> 1
    collect(g, 2 * node, nodeLo, mid, limit, fl, out)
    collect(g, 2 * node + 1, mid + 1, nodeHi, limit, fl, out)
  }
}

object EqRangeIndex {
  private[format] final case class IdGroup(
      id: Int,
      ord: Ordering[Any],
      dt: org.apache.spark.sql.types.DataType, // for widening query bounds
      lo: Array[Any],       // sorted ascending
      hi: Array[Any],
      paths: Array[String],
      maxHi: Array[Any],    // 1-based segment tree over hi
      treeSize: Int,
      mayNull: Seq[String]) extends Serializable

  /** Index keys for one delete file: equality keys with full bounds AND a
    * schema-resolvable field (needed for an ordering). Each one is a
    * valid conservative pre-filter on its own — a matching row must equal
    * the delete row on EVERY key, so disjoint ranges on any one key rule
    * the pairing out — and candidatesFor intersects all of them. */
  private def indexableIds(f: DataFile,
      schema: org.apache.spark.sql.types.StructType): Seq[Int] =
    f.equalityIds.distinct.filter(id =>
      f.lowerBounds.contains(id) && f.upperBounds.contains(id) &&
        FieldIds.findById(schema, id).isDefined)

  /** Build over delete files (any content mix is fine — callers pass
    * equality deletes). O(ids × n log n) once per scan: every file is
    * indexed under every indexable key, so a composite-key population
    * costs one sorted array + segment tree per key — the same work the
    * former per-key selectivity-scoring sweep already paid, now kept as
    * queryable structure instead of thrown away after picking one key. */
  def build(files: Seq[DataFile],
      schema: org.apache.spark.sql.types.StructType): EqRangeIndex = {
    // indexableIds walks FieldIds.findById per equality id — resolve it
    // ONCE per file here (re-deriving it per group was quadratic for wide
    // composite equality keys)
    val idsOf: Map[String, Seq[Int]] =
      files.map(f => f.path -> indexableIds(f, schema)).toMap
    val (withId, noId) = files.partition(f => idsOf(f.path).nonEmpty)
    val ids = withId.flatMap(f => idsOf(f.path)).distinct.sorted
    val groups = ids.map { id =>
      val fs = withId.filter(f => idsOf(f.path).contains(id))
      val field = FieldIds.findById(schema, id).get
      val dt = Types.cleanType(field.dataType)
      val ord = Exprs.ordering(dt)
      // widen: entries staged before a type promotion may carry the
      // narrow runtime class — one ordering must fit all generations
      val sorted = fs.sortBy(f => Values.widen(f.lowerBounds(id), dt))(ord)
      val n = sorted.length
      var ts = 1
      while (ts < math.max(n, 1)) ts <<= 1
      val lo = new Array[Any](n); val hi = new Array[Any](n)
      val paths = new Array[String](n)
      var i = 0
      while (i < n) {
        lo(i) = Values.widen(sorted(i).lowerBounds(id), dt)
        hi(i) = Values.widen(sorted(i).upperBounds(id), dt)
        paths(i) = sorted(i).path
        i += 1
      }
      val maxHi = new Array[Any](2 * ts)
      i = 0
      while (i < n) { maxHi(ts + i) = hi(i); i += 1 }
      var node = ts - 1
      while (node >= 1) {
        val l = maxHi(2 * node); val r = maxHi(2 * node + 1)
        maxHi(node) =
          if (l == null) r
          else if (r == null) l
          else if (ord.gteq(l, r)) l else r
        node -= 1
      }
      val mayNull = sorted.collect {
        case f if !f.nullValueCounts.get(id).contains(0L) => f.path
      }
      IdGroup(id, ord, dt, lo, hi, paths, maxHi, ts, mayNull)
    }
    val keyCount = withId.map(f => f.path -> idsOf(f.path).size).toMap
    new EqRangeIndex(groups, noId.map(_.path), keyCount)
  }
}
