package graft.format

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distributed maintenance actions — the reference's own Spark jobs
  * (spark/.../actions/: RewriteDataFilesAction.java:189-281,
  * RewriteManifestsAction.java:186-246, ExpireSnapshotsAction.java:150-189,
  * RemoveOrphanFilesAction.java:90-174), re-expressed with the same Spark
  * primitives the reference itself uses: groupBy-partition + bin-pack for
  * compaction, `Dataset.except` for expiry diffs, `left_anti` join for
  * orphan detection.
  */
object Actions {

  def forTable(t: GraftTable): Actions = new Actions(t)

  final case class RewriteResult(rewrittenFiles: Int, addedFiles: Int)
  final case class ExpireResult(expiredSnapshots: Int, deletedFiles: Int)
  final case class OrphanResult(deletedOrphans: Seq[String])
  /** One file whose recorded size disagrees with the store (actual = -1:
    * missing). Produced by [[Actions.verifyFileSizes]]. */
  final case class SizeMismatch(path: String, recorded: Long, actual: Long)

  /** One compaction bin: input files of one (partition tuple, schema,
    * spec) group, rewritten into the one file at `out`. */
  private[graft] final case class Bin(tasks: Seq[FileScanTask], out: String)

  /** Compaction's one Spark job, built but not run: `read` is the pinned
    * DSv2 read of the bins' files, whose scan emits one input partition
    * per bin, and `rdd` writes partition k into `bins(k).out`, encoded as
    * `outFormat`, storing row lineage when `lineage`. */
  private[graft] final case class BinJob(bins: Seq[Bin],
      read: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[Metrics.FileMetrics],
      outFormat: String, lineage: Boolean)

  /** Output file of bin `k`, named alike on the driver and in its task. */
  private def binOut(staging: String, k: Int, format: String): String =
    f"$staging/bin-$k%05d.$format"
}

final class Actions(t: GraftTable) {
  import Actions._

  /** Compact small files: group tasks by (partition tuple, writer schema),
    * bin-pack groups above minInputFiles into ~targetSizeBytes outputs, swap
    * atomically (reference RewriteDataFilesAction: groupTasksByPartition
    * :243, filter groups >1 file :209, RewriteFiles commit :265).
    *
    * ALL bins run as ONE Spark job (the reference distributes all
    * CombinedScanTasks as one RDD and reads each through the delete filter
    * its scans use — RewriteDataFilesAction.java:189-281,
    * RowDataRewriter.java:84-85): see [[binJob]]. A 10k-bin table compacts
    * with one job submission and zero driver data I/O. */
  def rewriteDataFiles(targetSizeBytes: Long = 128L * 1024 * 1024,
      minInputFiles: Int = 2, filter: Expr = AlwaysTrue,
      deleteFileThreshold: Int = Int.MaxValue): RewriteResult = {
    val m = t.metadata
    // outputs are produced against THIS snapshot's delete state; the
    // commit validates no delete landed in between (ValidationException)
    val baseSnapshot = m.currentSnapshotId
    // `filter` scopes FILE SELECTION only (partition + metrics pruning —
    // files that might match are rewritten WHOLE; rows are never dropped):
    // at 100 TB compaction runs per-partition, not per-table. Hygiene and
    // conflict validation still run against the FULL live set below.
    val plan = t.newScan().filter(filter).planFiles()
    val job = binJob(m, plan, targetSizeBytes, minInputFiles, deleteFileThreshold)
      .getOrElse(return RewriteResult(0, 0))
    val newFiles = job.rdd.collect().toSeq.zip(job.bins).map { case (fm, bin) =>
      val group = bin.tasks.head.file
      DataFile(
        path = bin.out,
        content = FileContent.Data,
        partition = group.partition,
        recordCount = fm.recordCount,
        fileSizeInBytes = fm.fileSize,
        schemaId = m.currentSchemaId,
        specId = group.specId,
        valueCounts = fm.valueCounts,
        nullValueCounts = fm.nullValueCounts,
        lowerBounds = fm.lowerBounds,
        upperBounds = fm.upperBounds,
        splitOffsets = fm.splitOffsets,
        fullBoundIds = fm.fullBoundIds,
        fileFormat = job.outFormat,
        // the output physically carries preserved row ids (see binJob) —
        // the commit must NOT assign it a fresh base
        firstRowId = if (job.lineage) Some(Lineage.Materialized) else None)
    }
    val del = job.bins.flatMap(_.tasks.map(_.file.path)).toSet
    // hygiene judges dangling deletes against the FULL live set — a scoped
    // plan would misread deletes targeting out-of-scope files as dangling
    val hygienePlan = if (filter == AlwaysTrue) plan else t.newScan().planFiles()
    commitRewriteWithHygiene(hygienePlan, del, newFiles, baseSnapshot)
  }

  /** Plan the bins of `plan` and build the job that rewrites them into
    * files of `m`'s current schema; None when no bin qualifies.
    *
    * The job reads the bins' files through the DSv2 scan every graft read
    * uses, pinned to `plan` and unfiltered: live deletes are applied (new
    * files get a newer sequence number, so un-applied equality deletes
    * would stop matching and position deletes would orphan with the old
    * paths), old schema generations map by field id, and imported
    * identity-partition columns and initial defaults are served, so every
    * output file is complete under the current schema. On v3 lineage
    * tables the read selects `_row_id` / `_last_updated_sequence_number`
    * and the outputs store them (Lineage.Stored), preserving row identity.
    * The scan emits one input partition per bin; one
    * `mapPartitionsWithIndex` streams partition k into bin k's file with
    * DataFileIO.Writers and reads its footer metrics in-task. No
    * shuffle: outputs keep their group's partition tuple and spec. */
  private[graft] def binJob(m: TableMetadata, plan: ScanPlan,
      targetSizeBytes: Long, minInputFiles: Int,
      deleteFileThreshold: Int): Option[BinJob] = {
    // delete pressure per data file (iceberg delete-file-threshold): a
    // file carrying >= threshold live delete files gets compacted even
    // when its partition is already size-compact — long-lived MoR tables
    // otherwise accumulate per-scan delete-apply cost forever. It counts
    // the delete files the scan would attach to the file (reference
    // task.deletes()), so other partitions' and key ranges' deletes don't.
    lazy val deletePressure: Map[String, Int] = {
      val index = DeleteIndex(plan.deleteFiles, m.schema,
        t.spark.sessionState.newHadoopConf())
      plan.tasks.map(ts => ParquetIO.canonPath(ts.file.path) ->
        index.countFor(ts.file, ts.sequenceNumber)).toMap
    }
    def burdened(ts: FileScanTask): Boolean =
      deleteFileThreshold != Int.MaxValue &&
        deletePressure.getOrElse(ParquetIO.canonPath(ts.file.path), 0) >=
          deleteFileThreshold
    // a group or bin wide enough to merge is rewritten whole; short of that
    // only its delete-burdened files are (the threshold path compacts
    // singletons too), never the clean files beside them — the reference
    // selects files by delete count before it bins them
    def select(tasks: Seq[FileScanTask]): Seq[FileScanTask] =
      if (tasks.size >= minInputFiles) tasks else tasks.filter(burdened)
    // spec id joins the group key: a spec-evolved table compacts each
    // generation under its OWN layout (outputs keep the group's spec).
    // Tuples.key: binary partition values must group by CONTENT or each
    // file becomes its own bin and the partition never compacts
    val binned = plan.tasks
      .groupBy(ts => (Tuples.key(ts.file.partition), ts.file.schemaId,
        ts.file.specId))
      .values.map(select).filter(_.nonEmpty).toSeq
      .flatMap(binPack(_, targetSizeBytes).map(select).filter(_.nonEmpty))
    if (binned.isEmpty) return None

    val staging = t.locations.newDataLocation(java.util.UUID.randomUUID().toString)
    t.ops.io.mkdirs(staging)
    val outFormat = graft.connector.GraftBatchWrite.writeFormat(m.properties)
    val bins = binned.zipWithIndex.map { case (tasks, k) =>
      Bin(tasks, binOut(staging, k, outFormat)) }
    val lineageOn = Lineage.enabled(m)
    val read = t.newScan().read(plan.copy(tasks = binned.flatten,
        filesScanned = binned.map(_.size).sum),
      withLineage = lineageOn, bins = binned.map(_.map(_.file.path)))

    val schema = m.schema
    val lineageCols =
      if (!lineageOn) Nil
      else Seq(Lineage.RowIdColumn, Lineage.LastUpdatedColumn).map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType, nullable = true))
    val writeSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
      _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)) ++ lineageCols)
    val sconf = HadoopFileIO.broadcastConf(t.spark, ParquetIO.writeConf(t.spark))
    val tableProps = m.properties
    val statModes = Metrics.modesFor(schema, m.properties)
    // the closure ships the output DIRECTORY, not the bins' paths: task k
    // names its own file, so per-task bytes stay flat at 10k bins
    val rdd = read.queryExecution.toRdd.mapPartitionsWithIndex { (k, rows) =>
      val writer = new DataFileIO.Writers(outFormat, writeSchema, schema,
        sconf.value.value, statModes, tableProps).open(binOut(staging, k, outFormat))
      // finish() (close + footer read) sits INSIDE the abort guard: a
      // failure there must still clean the staged output, or the task
      // retry hits its own deterministic path with create(overwrite=false)
      val fm =
        try { rows.foreach(writer.write); writer.finish() }
        catch { case e: Throwable => writer.abort(); throw e }
      Iterator.single(fm)
    }
    require(rdd.getNumPartitions == bins.size,
      s"compaction read planned ${rdd.getNumPartitions} partitions for ${bins.size} bins")
    Some(BinJob(bins, read, rdd, outFormat, lineageOn))
  }

  /** Shared tail of the data-file rewrites: drop delete files the rewrite
    * made dangling, then swap atomically (with concurrent-delete
    * validation via `baseSnapshot`). A position-delete file whose every
    * target is gone no longer masks anything — drop it in the SAME commit,
    * so delete files don't accumulate forever on a compacted table (the
    * reference needs a separate remove-dangling-deletes pass). Targets
    * come from [[DeleteIndex.targetsOf]]: manifest metadata, or one cached
    * driver read of a multi-target file's (small) path column. */
  private def commitRewriteWithHygiene(plan: ScanPlan, del: Set[String],
      newFiles: Seq[DataFile], baseSnapshot: Option[Long]): RewriteResult = {
    val delCanon = del.map(ParquetIO.canonPath)
    val liveAfterCanon =
      plan.tasks.map(ts => ParquetIO.canonPath(ts.file.path)).toSet -- delCanon
    val hconf = t.spark.sessionState.newHadoopConf()
    // a delete file is dangling when every target of every entry (one per
    // puffin blob) is gone
    val danglingPos = plan.posDeleteFiles.groupBy(_.path).collect {
      case (p, es) if es.forall(e =>
        DeleteIndex.targetsOf(e, hconf).forall(tp => !liveAfterCanon.contains(tp))) => p
    }.toSet
    // equality deletes gate by sequence (they apply to files OLDER than the
    // delete); rewritten files get a NEW sequence, so once no live file is
    // older than a delete's sequence it can never match again
    val liveSeqs = plan.tasks
      .filter(ts => !del.contains(ts.file.path)).map(_.sequenceNumber)
    val minLiveSeq = if (liveSeqs.isEmpty) Long.MaxValue else liveSeqs.min
    val danglingEq = plan.deleteFiles
      .filter(_._1.content == FileContent.EqualityDeletes)
      .filter(_._2 <= minLiveSeq).map(_._1.path).toSet
    Commits.rewriteFiles(t, del ++ danglingPos ++ danglingEq, newFiles,
      baseSnapshot)
    RewriteResult(del.size, newFiles.size)
  }

  /** Sort-clustered rewrite: rewrite the table's data files RANGE-CLUSTERED
    * on `sortBy`, so each output file owns a disjoint slice of the sort-key
    * space and min/max stats pruning on those columns skips whole files.
    * `write.sort-order` already sorts rows WITHIN each incoming write task;
    * this action is where GLOBAL clustering happens — at 100 TB, the
    * difference between "every file might match" and "one file per key
    * range matches".
    *
    * Reads the planned files through the same pinned DSv2 read as bin-pack
    * compaction (live deletes applied, old schema generations mapped by
    * field id, imported identity-partition columns materialized), then ONE
    * range shuffle sized to `targetSizeBytes` outputs, the library fanout
    * write (GraftWrite.writeFiles) and the same atomic-swap commit as
    * bin-pack compaction (including dangling-delete hygiene and
    * concurrent-delete validation). Partitioned tables cluster by
    * (partition transforms, then sortBy), so each output task writes to one
    * partition directory run. Goes beyond the reference fork, which has no
    * sort-order surface at all. */
  def rewriteSorted(sortBy: Seq[SortOrders.Field],
      targetSizeBytes: Long = 128L * 1024 * 1024,
      filter: Expr = AlwaysTrue): RewriteResult = {
    require(sortBy.nonEmpty, "rewriteSorted needs at least one sort column")
    sortBy.foreach(f => require(
      t.metadata.schema.fieldNames.contains(f.column), s"no such column: ${f.column}"))
    rewriteClustered(_ => sortBy.map(_.sortColumn), targetSizeBytes, filter)
  }

  /** Z-order twin of [[rewriteSorted]]: cluster on the Morton interleave of
    * `cols` ([[ZOrder.zValue]]) instead of a lexicographic key, so range
    * predicates on ANY participating column — not just the leading one —
    * prune files by min/max stats after the rewrite. The multi-dimensional
    * clustering a 100 TB table wants when two or three columns share the
    * query load. */
  def rewriteZOrdered(cols: Seq[String],
      targetSizeBytes: Long = 128L * 1024 * 1024,
      filter: Expr = AlwaysTrue): RewriteResult =
    rewriteClustered(df => Seq(ZOrder.zValue(df, cols).asc), targetSizeBytes,
      filter)

  /** Shared clustered-rewrite pipeline: pinned DSv2 read (live deletes
    * applied, old schema generations mapped by field id, imported
    * identity-partition columns materialized) → ONE range shuffle sized to
    * `targetSizeBytes` outputs → in-partition sort → the library fanout
    * write (GraftWrite.writeFiles) → the same atomic-swap commit as bin-pack
    * compaction. `clusterCols` sees the scan DataFrame (for derived keys
    * like the z-value). */
  private def rewriteClustered(
      clusterCols: org.apache.spark.sql.DataFrame => Seq[Column],
      targetSizeBytes: Long, filter: Expr = AlwaysTrue): RewriteResult = {
    val m = t.metadata
    val baseSnapshot = m.currentSnapshotId
    // `filter` scopes file selection only; the materializing scan below is
    // a FRESH unfiltered one, so no residual row filter can drop rows
    val plan = t.newScan().filter(filter).planFiles()
    if (plan.tasks.isEmpty) return RewriteResult(0, 0)
    // v3 row lineage: clustered rewrites preserve row identity the same
    // way bin-pack compaction does — select the lineage metadata columns
    // of the scan and MATERIALIZE them into the sorted outputs
    val lineageOn = Lineage.enabled(m)
    val df = t.newScan().read(plan, withLineage = lineageOn)
    // cluster by partition first so fanout writers see contiguous runs
    val rangeCols =
      if (m.spec.isPartitioned)
        m.spec.derivedColumns(m.schema).map(_._2.asc) ++ clusterCols(df)
      else clusterCols(df)
    val totalBytes = plan.tasks.map(_.file.fileSizeInBytes).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetSizeBytes).toInt)
    val arranged = df
      .repartitionByRange(n, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
    val newFiles = GraftWrite.writeFiles(t, arranged, lineage = lineageOn,
      clusterByPartition = false) // already arranged above — keep the order
    val hygienePlan = if (filter == AlwaysTrue) plan else t.newScan().planFiles()
    commitRewriteWithHygiene(hygienePlan, plan.tasks.map(_.file.path).toSet,
      newFiles, baseSnapshot)
  }

  /** Compact position-delete files (reference
    * RewritePositionDeleteFilesAction): merge-on-read workloads land one
    * small delete file per task per commit; this merges them into ~one
    * sorted file per `targetSizeBytes` range and drops positions whose
    * target data file is no longer live. ONE distributed job — read →
    * range shuffle on (file_path, pos) → executor writes — and a commit
    * that swaps delete files only; data files are untouched. */
  def rewritePositionDeletes(targetSizeBytes: Long = 32L * 1024 * 1024): RewriteResult = {
    import org.apache.spark.sql.functions.{col, udf}
    val plan = t.newScan().planFiles()
    val posEntries = plan.posDeleteFiles
    val distinctPaths = posEntries.map(_.path).distinct
    val dvMode = Dvs.enabled(t.metadata)
    val totalBytes = posEntries.distinctBy(_.path).map(_.fileSizeInBytes).sum
    val nOut = math.max(1, math.min(distinctPaths.size,
      math.ceil(totalBytes.toDouble / targetSizeBytes).toInt))
    // skip when already compact: v2 — a single delete file; v3 — all-puffin
    // with one DV per data file in at most nOut container files (the
    // restored one-DV-per-file invariant of the spec)
    val compact =
      if (dvMode) posEntries.forall(_.fileFormat == FileFormats.Puffin) &&
        posEntries.map(_.referencedDataFile).distinct.size == posEntries.size &&
        distinctPaths.size <= nOut
      else distinctPaths.size < 2
    if (posEntries.isEmpty || compact) return RewriteResult(0, 0)
    val spark = t.spark
    val liveB = spark.sparkContext.broadcast(
      plan.tasks.map(ts => ParquetIO.canonPath(ts.file.path)).toSet)
    val live = udf((s: String) => liveB.value.contains(s))
    // the planned files read through the `$position_deletes` table, whose
    // paths are canonical
    val positions = org.apache.spark.sql.execution.datasources.v2.GraftV2Shims
      .relationDF(spark, graft.connector.PosDeleteScanTable.of(t,
        s"${t.location}$$position_deletes", posEntries))
      .filter(live(col("file_path"))) // dangling targets drop here
      .select("file_path", "pos")
    val newDeletes =
      if (dvMode) Dvs.stageFromPositions(t, positions, partitions = nOut)
      else PositionDeleteWriter.stage(t, positions, nOut)
    Commits.rewriteFiles(t, distinctPaths.toSet, newDeletes)
    RewriteResult(distinctPaths.size, newDeletes.map(_.path).distinct.size)
  }

  /** Convert live equality-delete files into position deletes — the
    * standard maintenance for long-lived streaming-upsert tables
    * (reference convert-equality-deletes rewrite): every scan pays an
    * key-set probe per live eq-delete group forever, while a position delete
    * is a cheap per-file mask and compacts further via
    * [[rewritePositionDeletes]]. One distributed job per equality-id
    * group: data rows that an eq file suppresses (same keys, data
    * sequence < delete sequence, null-safe like the scan's own key probe)
    * are located by (file, row-position) and written as sorted position
    * deletes; the commit swaps delete files only, data untouched. */
  def rewriteEqualityDeletes(): RewriteResult = {
    import org.apache.spark.sql.functions.{col, lit, max, udf}
    val plan = t.newScan().planFiles()
    val eqFiles = plan.deleteFiles
      .filter(_._1.content == FileContent.EqualityDeletes).distinctBy(_._1.path)
    if (eqFiles.isEmpty) return RewriteResult(0, 0)
    val maxSeq = eqFiles.map(_._2).max
    val candidates = plan.tasks.filter(_.sequenceNumber < maxSeq)
    if (candidates.isEmpty) {
      // the eq deletes predate every live data file, so they suppress
      // nothing now and (sequence numbers only grow) never will — dropping
      // them IS the conversion
      Commits.rewriteFiles(t, eqFiles.map(_._1.path).toSet, Nil)
      return RewriteResult(eqFiles.size, 0)
    }
    val spark = t.spark
    val m = t.metadata
    val schema = m.schema
    val seqOf = spark.sparkContext.broadcast(
      candidates.map(ts => ParquetIO.canonPath(ts.file.path) -> ts.sequenceNumber)
        .toMap)
    val canon = udf((s: String) => ParquetIO.canonPath(s))
    val dataSeq = udf((s: String) => seqOf.value.getOrElse(ParquetIO.canonPath(s), Long.MaxValue))

    // the (file, pos) pairs one delete group suppresses among `scoped`
    def suppressedFor(ids: Seq[Int], group: Seq[(DataFile, Long)],
        scoped: Seq[FileScanTask]): org.apache.spark.sql.DataFrame = {
      val names = ids.map(id => FieldIds.findById(schema, id).get.name)
      // newest delete wins per key: a data row is suppressed iff some
      // eq row with equal keys carries a NEWER sequence. Each delete
      // file reads under its STAGED names (pre-rename files carry the
      // old column names) and aliases back to the current ones.
      val del = group.map { case (f, seq) =>
        val fileNames = Deletes.eqKeyFileNames(m.schemas, schema, f)
        spark.read.parquet(f.path).select(fileNames.map(col): _*)
          .toDF(names: _*)
          .withColumn("_eq_seq", lit(seq))
      }.reduce(_ unionByName _)
        .groupBy(names.map(col): _*).agg(max(col("_eq_seq")).as("_eq_seq"))
      // the candidates' raw rows (no deletes applied) through the table
      // scan: keys resolve by field id across schema generations, in
      // every file format, with their positions
      val data = t.newScan().read(ScanPlan(scoped, Nil, 0, 0, 0L, scoped.size))
        .select(names.map(col) ++ Seq(
          col(graft.connector.GraftSparkTable.FileColumn).as("_g_file"),
          col(graft.connector.GraftSparkTable.PosColumn).as("_g_pos")): _*)
      val cond = names.map(n => data(n) <=> del(n)).reduce(_ && _)
      data.join(del, cond, "inner")
        .filter(dataSeq(col("_g_file")) < col("_eq_seq"))
        .select(canon(col("_g_file")).as("file_path"), col("_g_pos").as("pos"))
    }

    // candidate prefilter — each delete group reads only the data files
    // the delete index attaches one of its files to (the join + sequence
    // gate keep exact semantics; this only cuts the files READ)
    val index = DeleteIndex(eqFiles, schema, spark.sessionState.newHadoopConf())
    val reach = candidates.map(ts =>
      ts -> index.eqDeletesFor(ts.file, ts.sequenceNumber).map(_.equalityIds).toSet)
    val suppressed: Seq[org.apache.spark.sql.DataFrame] =
      eqFiles.groupBy(_._1.equalityIds).toSeq.sortBy(_._1.mkString(",")).flatMap {
        case (ids, group) =>
          val scoped = reach.collect { case (ts, hit) if hit(ids) => ts }
          if (scoped.isEmpty) Nil else Seq(suppressedFor(ids, group, scoped))
      }
    if (suppressed.isEmpty) {
      // live deletes, but nothing left they can suppress — dropping them
      // is still the correct conversion
      Commits.rewriteFiles(t, eqFiles.map(_._1.path).toSet, Nil)
      return RewriteResult(eqFiles.size, 0)
    }
    val positions = suppressed.reduce(_ unionByName _).dropDuplicates("file_path", "pos")
    // v3 tables convert straight to deletion vectors; v2 stages sorted
    // parquet position-delete files
    val newDeletes =
      if (Dvs.enabled(m)) Dvs.stageFromPositions(t, positions)
      else PositionDeleteWriter.stage(t, positions,
        math.max(1, spark.sparkContext.defaultParallelism / 4))
    Commits.rewriteFiles(t, eqFiles.map(_._1.path).toSet, newDeletes)
    RewriteResult(eqFiles.size, newDeletes.map(_.path).distinct.size)
  }

  private def binPack(files: Seq[FileScanTask], target: Long): Seq[Seq[FileScanTask]] = {
    val bins = collection.mutable.ArrayBuffer[(collection.mutable.ArrayBuffer[FileScanTask], Long)]()
    files.sortBy(-_.file.fileSizeInBytes).foreach { ts =>
      val size = ts.file.fileSizeInBytes
      bins.zipWithIndex.find(_._1._2 + size <= target) match {
        case Some(((tasks, tot), i)) =>
          tasks += ts
          bins(i) = (tasks, tot + size)
        case None =>
          bins += ((collection.mutable.ArrayBuffer(ts), size))
      }
    }
    bins.map(_._1.toSeq).toSeq
  }

  /** Re-cluster manifests to ~entriesPerManifest as ONE distributed job
    * (reference RewriteManifestsAction.java:186-246: manifest entries as a
    * Dataset → repartitionByRange on the partition sort key → mapPartitions
    * writing one manifest per range).
    *
    * Scale shape: manifest READ (JSON parse), partition-key SORT, and
    * manifest WRITE all run as executor tasks — `sortByKey` IS
    * repartitionByRange (RangePartitioner sample + range shuffle), so each
    * output manifest covers a contiguous partition range and manifest-list
    * pruning stays effective. Only the new descriptors (one small case class
    * per output manifest) return to the driver. A 10⁶-entry metadata tree
    * rewrites with zero driver parsing — the previous implementation read,
    * sorted, and wrote everything on the driver, which is a single-node
    * bottleneck in exactly the action whose purpose is fixing metadata at
    * scale. */
  def rewriteManifests(entriesPerManifest: Int = 0): Int = {
    val m = t.metadata
    val current = m.currentSnapshot.getOrElse(return 0)
    val baseSnapshotId = current.snapshotId
    val manifests = t.readManifestList(m, current)
    if (manifests.isEmpty) return 0
    // default chunking derives from `commit.manifest.target-size-bytes`
    // using the ACTUAL encoded bytes-per-entry of the current tree, so the
    // rewrite converges to the same manifest size every append rolls at;
    // an explicit entriesPerManifest overrides (tests, tuning)
    val perManifest =
      if (entriesPerManifest > 0) entriesPerManifest
      else {
        val live = math.max(1L,
          manifests.map(mf => (mf.addedFilesCount + mf.existingFilesCount).toLong).sum)
        val avg = math.max(1L, manifests.map(_.length).sum / live)
        math.max(1L, Commits.manifestTargetBytes(m) / avg).toInt
      }
    val io = t.ops.io
    val metadataDir = s"${t.location}/metadata"
    val codec = MetaCodec.codecFor(m.properties)
    // promotion-safe id-resolution schema (same pick as
    // GraftTable.readManifest): the stale widest-id-only copy here decoded
    // post-promotion 8-byte bounds through the 4-byte branch AND re-encoded
    // the truncated values — permanent bounds corruption on rewrite
    val idSchema = FieldIds.idResolutionSchema(m.schemas)
    val sc = t.spark.sparkContext

    val newManifests: Seq[ManifestFile] =
      manifests.groupBy(_.specId).toSeq.sortBy(_._1).flatMap { case (specId, mfs) =>
        val spec = m.specs(specId)
        val types = t.partTypesOf(m)(specId)
        val typesMap = types.toMap
        // live entry count is already on the descriptors — no counting pass
        val liveCount = mfs.map(mf => mf.addedFilesCount + mf.existingFilesCount).sum
        val numRanges = math.max(1,
          math.ceil(liveCount.toDouble / perManifest).toInt)
        val paths = mfs.map(_.path)
        val readTasks = math.min(paths.size, math.max(1, sc.defaultParallelism * 4))
        sc.parallelize(paths, readTasks)
          .flatMap(p => MetaCodec.readManifest(io.readBytes(p), idSchema, typesMap))
          .filter(_.status != EntryStatus.Deleted)
          // manifests are single-content (data XOR deletes — see
          // buildManifestFile): the content class leads the sort key so
          // range partitions cluster each class, and the per-partition
          // grouping below never mixes them in one output manifest
          .map(e => ((if (e.file.content == FileContent.Data) "d/" else "x/") +
            e.file.partition.toSeq.sortBy(_._1)
            .map(kv => Values.toDirString(kv._2)).mkString("/") + e.file.path,
            e.copy(status = EntryStatus.Existing)))
          .sortByKey(ascending = true, numPartitions = numRanges)
          .mapPartitions { it =>
            it.map(_._2).toSeq
              .groupBy(_.file.content == FileContent.Data).valuesIterator
              .flatMap(_.grouped(perManifest))
              .map { group =>
              val entries = group.toSeq
              val path = s"$metadataDir/manifest-${java.util.UUID.randomUUID()}" +
                MetaCodec.ext(codec)
              val bytes = MetaCodec.writeManifest(entries, idSchema, typesMap, codec)
              io.writeBytes(path, bytes)
              // addedSnapshotId is stamped driver-side at commit (the new
              // snapshot id is not known until the CAS)
              Commits.buildManifestFile(path, bytes.length.toLong, specId,
                entries, 0L, spec, types)
            }
          }.collect().toSeq
      }

    // commit: swap the manifest list under the usual CAS; the job ran
    // against baseSnapshotId, so any concurrent commit in between would be
    // silently dropped by the swap — refuse instead (reference
    // RewriteManifestsAction validates replaced manifests at commit)
    t.ops.commitTransaction { meta =>
      if (!meta.currentSnapshotId.contains(baseSnapshotId))
        throw new ValidationException(
          s"table changed while rewriting manifests: expected snapshot " +
          s"$baseSnapshotId, found ${meta.currentSnapshotId}")
      val (seq, sid) = (meta.lastSequenceNumber + 1, meta.lastSequenceNumber + 1)
      val stamped = newManifests.map(_.copy(addedSnapshotId = sid))
      val listPath = t.ops.newManifestListPath(sid, MetaCodec.ext(codec))
      io.writeBytes(listPath,
        MetaCodec.writeManifestList(stamped, t.partTypesOf(meta), codec))
      val now = System.currentTimeMillis()
      val snap = Snapshot(sid, meta.currentSnapshotId, seq, now, "replace",
        listPath, Map("schema-id" -> meta.currentSchemaId.toString,
          "rewritten-manifests" -> manifests.size.toString,
          "added-manifests" -> stamped.size.toString))
      meta.copy(lastSequenceNumber = seq, lastUpdatedMillis = now,
        currentSnapshotId = Some(sid), snapshots = meta.snapshots :+ snap,
        snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(now, sid))
    }
    newManifests.size
  }

  /** Verify every live file's recorded `file_size_in_bytes` against the
    * store — one distributed stat sweep, mismatches collected (tiny by
    * construction). Scan planning TRUSTS manifest sizes for data-file
    * splits (graft.connector.GraftFileIndex; same contract as the
    * reference's manifests): an UNDERSTATED size silently truncates the
    * read, so run this after ingesting
    * external or legacy manifests, where sizes weren't produced by this
    * library's writers. `actual` is -1 for files missing from the store;
    * puffin DV entries compare the recorded blob end (offset+length)
    * against the blob file's real length. */
  def verifyFileSizes(): Seq[Actions.SizeMismatch] = {
    val plan = t.newScan().planFiles()
    val recorded: Seq[(String, Long, Boolean)] =
      (plan.tasks.map(_.file) ++ plan.deleteFiles.map(_._1)).map { f =>
        if (f.fileFormat == FileFormats.Puffin)
          // DV blob: the recorded slice end must FIT the blob file
          (f.path, f.contentOffset.getOrElse(0L) +
            f.contentSizeInBytes.getOrElse(0L), true)
        else (f.path, f.fileSizeInBytes, false)
      }.distinct match {
        // one puffin blob holds many DV slices — one stat per path (the
        // max slice end subsumes the rest), not one HEAD per slice.
        // Exact-size rows stay ungrouped: conflicting recorded sizes for
        // one plain file must EACH be checked (at least one is wrong)
        case rs =>
          val (dvs, plain) = rs.partition(_._3)
          dvs.groupBy(_._1).map { case (p, ss) =>
            (p, ss.map(_._2).max, true) }.toSeq ++ plain
      }
    if (recorded.isEmpty) return Nil
    val sconf = HadoopFileIO.broadcastConf(t.spark, t.spark.sessionState.newHadoopConf())
    t.spark.sparkContext
      .parallelize(recorded, math.min(recorded.size, 64).max(1))
      .flatMap { case (p, rec, dv) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val actual =
          try hp.getFileSystem(sconf.value.value).getFileStatus(hp).getLen
          catch { case _: java.io.FileNotFoundException => -1L }
        // a DV slice may end before the blob file does; parquet/orc/avro
        // sizes must match exactly (overstatement is as suspect as
        // understatement — the descriptor didn't come from this file)
        val ok = if (dv) actual >= rec else actual == rec
        if (ok) None else Some(Actions.SizeMismatch(p, rec, actual))
      }.collect().toSeq.sortBy(_.path)
  }

  /** Expire old snapshots and PHYSICALLY delete newly unreferenced files.
    * The before/after valid-file diff runs as Spark `except` exactly like
    * the reference (ExpireSnapshotsAction.java:150-175). */
  def expireSnapshots(olderThanMillis: Long, retainLast: Int = 1): ExpireResult = {
    import t.spark.implicits._
    val m = t.metadata
    val before = m.snapshots.size
    // allFiles = data AND delete files (parquet deletes, puffin DVs):
    // expiry must reclaim every newly unreferenced kind
    val beforeFiles = MetaTables(t, "all_files").select("file_path").as[String]
    // collectOrphans = false: the commit transform must not re-read every
    // kept manifest on the driver inside the retry loop when the diff
    // below already runs distributed; the returned paths are then just
    // the expired snapshots' statistics files (metadata-cheap), which the
    // distributed data-file diff cannot see
    val (updated, statOrphans) =
      Commits.expireSnapshots(t, olderThanMillis, retainLast,
        collectOrphans = false)
    val afterFiles = MetaTables(t, "all_files").select("file_path").as[String]
    val orphaned = beforeFiles.except(afterFiles).collect()
    orphaned.foreach(t.ops.io.deleteIfExists)
    statOrphans.foreach(t.ops.io.deleteIfExists)
    ExpireResult(before - updated.snapshots.size, orphaned.length)
  }

  /** Delete files under the table location not referenced by any snapshot —
    * FS listing vs valid-file DF, left_anti on normalized path (reference
    * RemoveOrphanFilesAction.java:148-157 `join(validFileDF, 'leftanti')`,
    * default older-than-3-days guard :90). */
  def removeOrphanFiles(olderThanMillis: Long = System.currentTimeMillis() - 3L * 86400 * 1000)
      : OrphanResult = {
    import t.spark.implicits._
    val dataDir = t.locations.dataRoot
    val io = t.ops.io
    val orphans: Seq[String] = if (!io.exists(dataDir)) Nil else {
      // the driver lists ONE level (partition dirs / object-store hash
      // prefixes — thousands at most); executors recurse into the prefixes in
      // parallel. A 100 TB table's million-file listing never sits on the
      // driver — only the (rare) orphan paths come back. The FileIO ships to
      // tasks like every other distributed action here.
      val (subdirs, rootFiles) = io.listShallow(dataDir)
      val isData = (path: String) =>
        (FileFormats.All :+ FileFormats.Puffin).exists(ext => path.endsWith("." + ext))
      val listed =
        if (subdirs.isEmpty) t.spark.emptyDataset[(String, Long)].toDF("path", "mtime")
        else t.spark.sparkContext
          .parallelize(subdirs, math.min(subdirs.size, 64))
          .flatMap(d => io.list(d).collect {
            case fi if isData(fi.path) => (fi.path, fi.modifiedMillis) })
          .toDF("path", "mtime")
      val actual = listed.unionAll(rootFiles
        .collect { case fi if isData(fi.path) => (fi.path, fi.modifiedMillis) }
        .toDF("path", "mtime"))
      // the valid side is the distributed all_entries relation (executors
      // parse manifests; reference RemoveOrphanFilesAction builds validFileDF
      // the same way) — Deleted-status entries stay valid here, matching the
      // conservative rule: only files NO manifest mentions are orphans
      val valid = MetaTables(t, "all_entries").select(col("file_path").as("path"))
      actual.filter(col("mtime") < olderThanMillis)
        .join(valid, Seq("path"), "left_anti")
        .select("path").as[String].collect().sorted.toSeq
    }
    orphans.foreach(t.ops.io.deleteIfExists)

    // ---- metadata-dir sweep (reference RemoveOrphanFilesAction includes
    // metadata files in validFileDF): manifests, manifest lists and stats
    // files no table VERSION ever referenced are commit-attempt leftovers
    // — optimistic-retry re-writes and the distributed-import fallback
    // orphan them BY DESIGN, and nothing else reclaims them. Version
    // JSONs and the hint are the commit log itself: never candidates.
    // Valid-set reads (all version files + all their manifest lists) run
    // in executors; only paths come back.
    val metadataDir = s"${t.location}/metadata"
    def nameOf(p: String) = p.substring(p.lastIndexOf('/') + 1)
    // one LIST serves both the candidate and the version-file sides
    val metaListing = io.list(metadataDir)
    val metaCandidates = metaListing.filter { fi =>
      val n = nameOf(fi.path)
      (n.startsWith("manifest-") || n.startsWith("snap-") ||
        n.startsWith("stats-")) && fi.modifiedMillis < olderThanMillis
    }.map(_.path)
    val metaOrphans: Seq[String] =
      if (metaCandidates.isEmpty) Nil
      else {
        val versionPaths = metaListing.map(_.path)
          .filter(_.endsWith(".metadata.json"))
        val sc = t.spark.sparkContext
        val referenced = sc.parallelize(versionPaths,
            math.max(1, math.min(versionPaths.size, 64)))
          .map(p => Model.metadataFromJson(io.readString(p)))
          .flatMap { m =>
            val lists = m.snapshots.map(s => (s.manifestList, Some(m)))
            val stats = m.statistics.map(sf => (sf.path, None: Option[TableMetadata]))
            lists ++ stats
          }
          // one version references a list path once per retained snapshot
          // and lists repeat across versions — dedup before the reads
          .reduceByKey((a, _) => a)
          .flatMap { case (path, mOpt) =>
            path +: (mOpt match {
              case Some(m) =>
                // a list already deleted by expireSnapshots reads as
                // nothing — its manifests were deleted with it. ONLY
                // definite not-found may be swallowed: a transient read
                // failure on a LIVE snapshot's list would omit its
                // manifests from the valid set and delete them (reference
                // RemoveOrphanFilesAction fails on unreadable metadata)
                val bytes =
                  try Some(io.readBytes(path))
                  catch {
                    case _: java.io.FileNotFoundException => None
                    case _: java.nio.file.NoSuchFileException => None
                  }
                bytes.toSeq.flatMap(b => MetaCodec
                  .readManifestList(b, GraftTable.partTypesOf(m)).map(_.path))
              case None => Nil
            })
          }.distinct().collect().toSet
        metaCandidates.filterNot(referenced).sorted
      }
    metaOrphans.foreach(t.ops.io.deleteIfExists)
    OrphanResult(orphans.toSeq ++ metaOrphans)
  }
}
