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

  /** One compaction bin as shipped to an executor task: input files (with
    * their sequence numbers, for equality-delete gating), the read schema
    * (file-side names, current order/types), output path, and the live
    * delete sets to apply DURING the rewrite — the reference reads through
    * its delete filter when rewriting (RowDataRewriter), otherwise rows
    * hidden by deletes would resurface in the rewritten files (new files
    * carry a NEWER sequence than the equality deletes, and position deletes
    * die with the old paths). */
  final case class BinTask(id: Int, paths: Seq[String], seqs: Seq[Long],
      readSchema: org.apache.spark.sql.types.StructType, out: String,
      posDeletePaths: Seq[String],
      posDvs: Seq[DvSlice],
      eqDeletes: Seq[(Long, graft.connector.DeleteKeySource)],
      // (ordinal → constant Catalyst value): identity-partition columns that
      // exist only in the bin's partition tuple, not in the input files
      // (imported hive layouts) — materialized into the rewritten file so
      // the output is complete under the current schema
      fill: Seq[(Int, Any)] = Nil,
      // struct-nested initial defaults the input generation predates:
      // (top ordinal, field-index path, value) — materialized on rewrite
      // because the output claims the current schema (a physically-present
      // null would otherwise stop the metadata backfill from applying)
      nestedFill: Seq[(Int, Seq[Int], Any)] = Nil,
      // per-input-file encodings (aligned with paths) + the output encoding:
      // compaction reads any format and writes the table's current
      // write.format.default, so it doubles as a format-migration action
      formats: Seq[String] = Nil,
      outFormat: String = FileFormats.Parquet,
      // per-input-file row-lineage read strategy (aligned with paths), used
      // only on v3 lineage tables where the output MATERIALIZES lineage:
      // >= 0 computed base, -1 stored columns, -2 pre-v3 null (see Lineage)
      lineage: Seq[Long] = Nil)
}

final class Actions(t: GraftTable) {
  import Actions._

  /** Compact small files: group tasks by (partition tuple, writer schema),
    * bin-pack groups above minInputFiles into ~targetSizeBytes outputs, swap
    * atomically (reference RewriteDataFilesAction: groupTasksByPartition
    * :243, filter groups >1 file :209, RewriteFiles commit :265).
    *
    * ALL bins run as ONE Spark job (the reference distributes all
    * CombinedScanTasks as one RDD — RewriteDataFilesAction.java:189-281,
    * RowDataRewriter.java:84-85): `parallelize(bins)` → each executor task
    * streams its bin's rows through ParquetIO.open → ParquetIO.openWriter
    * (constant memory, no DataFrame per bin) and reads the output footer
    * metrics in-task, so a 10k-bin table compacts with one job submission
    * and zero driver parquet I/O. Old-generation files are read with a
    * read schema mapped to their FILE column names by field id, in the
    * CURRENT schema's column order, so output files are always
    * current-schema. */
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
    // delete pressure per data file (iceberg delete-file-threshold): a
    // file carrying >= threshold live delete files gets compacted even
    // when its partition is already size-compact — long-lived MoR tables
    // otherwise accumulate per-scan delete-apply cost forever. Cost: the
    // DV side is manifest-only; parquet pos-delete targets need one small
    // driver read; eq deletes count by sequence comparison.
    lazy val deletePressure: Map[String, Int] = {
      val posFiles = plan.deleteFiles
        .filter(_._1.content == FileContent.PositionDeletes).map(_._1)
        .distinctBy(f => (f.path, f.referencedDataFile))
      val hconf = t.spark.sessionState.newHadoopConf()
      val posCounts = scala.collection.mutable.HashMap[String, Int]()
      posFiles.foreach { f =>
        Deletes.posDeleteTargetFiles(Seq(f), hconf).foreach(tp =>
          posCounts(tp) = posCounts.getOrElse(tp, 0) + 1)
      }
      // distinct by path: a delete file planned through several manifests
      // after rewrites must count once
      val eqSeqs = plan.deleteFiles
        .filter(_._1.content == FileContent.EqualityDeletes)
        .distinctBy(_._1.path).map(_._2)
      plan.tasks.map { ts =>
        ParquetIO.canonPath(ts.file.path) ->
          (posCounts.getOrElse(ParquetIO.canonPath(ts.file.path), 0) +
            eqSeqs.count(_ > ts.sequenceNumber))
      }.toMap
    }
    // spec id joins the group key: a spec-evolved table compacts each
    // generation under its OWN layout (outputs keep the group's spec).
    // Tuples.key: binary partition values must group by CONTENT or each
    // file becomes its own bin and the partition never compacts
    val groups = plan.tasks
      .groupBy(ts => (Tuples.key(ts.file.partition), ts.file.schemaId,
        ts.file.specId))
      .values.filter(g => g.size >= minInputFiles ||
        (deleteFileThreshold != Int.MaxValue && g.exists(ts =>
          deletePressure.getOrElse(ParquetIO.canonPath(ts.file.path), 0) >=
            deleteFileThreshold)))
      .toSeq
    if (groups.isEmpty) return RewriteResult(0, 0)

    val schema = m.schema
    // v3 row lineage: compaction must PRESERVE row identity, so the output
    // files materialize `_row_id` / `_last_updated_sequence_number` as
    // physical columns (Lineage.Stored) — computed from each input file's
    // base + position, copied through from already-materialized inputs
    val lineageOn = Lineage.enabled(m)
    val lineageCols =
      if (!lineageOn) Nil
      else Seq(
        org.apache.spark.sql.types.StructField(Lineage.RowIdColumn,
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField(Lineage.LastUpdatedColumn,
          org.apache.spark.sql.types.LongType, nullable = true))
    val writeSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
      _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)) ++ lineageCols)
    val staging = t.locations.newDataLocation(java.util.UUID.randomUUID().toString)
    t.ops.io.mkdirs(staging)

    // live row-level deletes must be APPLIED during the rewrite (reference
    // RowDataRewriter reads through its delete filter): rewritten files get
    // a newer sequence number, so un-applied equality deletes would stop
    // matching and position deletes would orphan with the old paths.
    // Each bin ships only the delete state that can REACH its files — a
    // per-partition MoR table at 100 TB carries one delete set per
    // partition, and an unscoped plan loads EVERY partition's sets on every
    // executor (O(table deletes) per task instead of O(bin deletes)).
    val posDeleteFiles = plan.deleteFiles
      .filter(_._1.content == FileContent.PositionDeletes).map(_._1)
      .distinctBy(f => (f.path, f.referencedDataFile))
    val hadoopConf = t.spark.sessionState.newHadoopConf()
    // canonical data path → the parquet pos-delete files that can hold its
    // positions (manifest metadata; only legacy files pay a cached read)
    val posIdx = Deletes.posIndex(posDeleteFiles, hadoopConf)
    val dvByTarget: Map[String, Seq[DvSlice]] =
      Dvs.slicesOf(posDeleteFiles).groupBy(_.referenced)
    val eqEntries = plan.deleteFiles
      .filter(_._1.content == FileContent.EqualityDeletes)
    // grouped by file-side key names too (Deletes.eqKeyFileNames): delete
    // files staged before a key rename carry the old column names. Sorted
    // path lists keep the executor DeleteKeyCache key stable, so groups
    // scoped to the same entries share one loaded set per executor.
    def eqSources(entries: Seq[(DataFile, Long)])
        : Seq[(Long, graft.connector.DeleteKeySource)] = entries
      .groupBy(d => (d._1.equalityIds, d._2,
        Deletes.eqKeyFileNames(m.schemas, schema, d._1))).toSeq
      .map { case ((ids, seq, fileNames), group) =>
        val names = ids.map(id => FieldIds.findById(schema, id).get.name)
        seq -> graft.connector.DeleteKeySource(
          names.map(schema.fieldIndex).toArray, names, fileNames,
          names.map(n => Types.cleanType(schema(n).dataType)),
          group.map(_._1.path).distinct.sorted)
      }.sortBy(_._1)
    // per-(spec, partition) equality scoping, memoized across groups (the
    // scan path's Deletes.eqDeleteCanHit semantics); the per-file bounds
    // refinement below is capped like the scan's linear sweep — above the
    // cap, partition scoping alone still bounds the shipped sets
    val EqScopeBoundsCap = 1024
    val eqScopeCache = scala.collection.mutable.HashMap[
      (Int, Map[String, Any]), Seq[(DataFile, Long)]]()
    def eqEntriesFor(specId: Int, partition: Map[String, Any]) =
      eqScopeCache.getOrElseUpdate((specId, partition), eqEntries.filter(d =>
        Deletes.eqDeleteCanHit(d._1.specId, d._1.partition, specId, partition)))

    // plan bins driver-side; only BinTasks ship to executors
    var binId = 0
    val binTasks = Seq.newBuilder[BinTask]
    val binMeta = collection.mutable.Map[Int, (Map[String, Any], Int, Int)]()
    groups.foreach { tasks =>
      val (partition, schemaId) = (tasks.head.file.partition, tasks.head.file.schemaId)
      // read schema: file-side names (by field id, at EVERY struct level —
      // nested renames map too) in current column order, so the task's
      // InternalRows match writeSchema positionally; columns added since
      // this generation read as null (missing optional columns)
      val fileSchema = m.schemas.getOrElse(schemaId, schema)
      val fileFieldById = fileSchema.fields.map(f => FieldIds.idOf(f) -> f).toMap
      val readSchema = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
        fileFieldById.get(FieldIds.idOf(f)) match {
          case Some(ff) => org.apache.spark.sql.types.StructField(ff.name,
            Types.fileSideType(f.dataType, ff.dataType), f.nullable)
          case None => org.apache.spark.sql.types.StructField(
            // absentReadName, NOT f.name: a same-named column from a
            // DROPPED predecessor may still exist physically in this
            // generation — requesting it by name would read (and then
            // MATERIALIZE into the rewritten file) the dead values
            // (round-20 fuzz seed 112: drop w, re-add w, roll back to the
            // old generation, compact → resurrection)
            Types.absentReadName(f, fileSchema),
            Types.cleanType(f.dataType), nullable = true)
        }
      } ++ lineageCols) // stored-lineage inputs have them; others read null
      // identity-partition columns missing from this generation's FILES
      // (imported hive layouts) must be materialized from the bin's
      // (constant) partition tuple — otherwise the rewritten file, which
      // claims the current schema, would hold nulls for them
      val fileIds = fileSchema.fields.map(FieldIds.idOf).toSet
      val spec = m.specs(tasks.head.file.specId)
      val fill: Seq[(Int, Any)] = schema.fields.toSeq.zipWithIndex
        .filter { case (f, _) => !fileIds.contains(FieldIds.idOf(f)) }
        .flatMap { case (f, ord) =>
          spec.fields.find(pf => pf.sourceId == FieldIds.idOf(f) &&
              pf.transform == Transforms.IdentityT)
            .map(pf => ord -> Values.toCatalyst(
              partition.getOrElse(pf.name, null), f.dataType))
            // initial defaults MATERIALIZE on rewrite: the output file
            // claims the current schema, so the backfill becomes physical
            .orElse(Defaults.of(f).map(v =>
              ord -> Values.toCatalyst(v, Types.cleanType(f.dataType))))
        }
      val allFileIds = FieldIds.allIds(fileSchema)
      val nestedFill: Seq[(Int, Seq[Int], Any)] =
        schema.fields.toSeq.zipWithIndex.flatMap {
          case (f, ord) if f.dataType.isInstanceOf[
              org.apache.spark.sql.types.StructType] &&
              fileIds.contains(FieldIds.idOf(f)) =>
            Defaults.nestedFills(f.dataType, allFileIds)
              .map { case (p, _, v) => (ord, p, v) }
          case _ => Nil
        }
      // equality sets this group's partition can see, refined by per-file
      // key-range overlap when the set count is sweepable
      val scopedEq0 = eqEntriesFor(tasks.head.file.specId, partition)
      val scopedEq =
        if (scopedEq0.size > EqScopeBoundsCap) scopedEq0
        else scopedEq0.filter { case (d, dseq) =>
          tasks.exists(ts => dseq > ts.sequenceNumber &&
            Deletes.eqBoundsCanHit(d, ts.file, schema))
        }
      val groupEq = eqSources(scopedEq)
      val seqByPath = tasks.map(ts => ts.file.path -> ts.sequenceNumber).toMap
      val fmtByPath = tasks.map(ts => ts.file.path -> ts.file.fileFormat).toMap
      val linByPath: Map[String, Long] = tasks.map(ts =>
        ts.file.path -> (ts.file.firstRowId match {
          case Some(Lineage.Materialized) => -1L // stored: copy through
          case Some(base) => base                // computed: base + position
          case None => -2L                       // pre-v3: null lineage
        })).toMap
      val outFormat = graft.connector.GraftBatchWrite.writeFormat(m.properties)
      val bins = binPack(tasks.map(ts => ts.file.path -> ts.file.fileSizeInBytes),
        targetSizeBytes)
      // a bin qualifies by merge width, or because it holds a
      // delete-burdened file (the threshold path compacts singletons too)
      def pressured(bin: Seq[String]): Boolean =
        deleteFileThreshold != Int.MaxValue && bin.exists(p =>
          deletePressure.getOrElse(ParquetIO.canonPath(p), 0) >=
            deleteFileThreshold)
      bins.filter(b => b.size >= minInputFiles || pressured(b)).foreach { bin =>
        // position deletes attach per data file: ship only the bin's
        val binCanon = bin.map(ParquetIO.canonPath)
        val binPos = binCanon.flatMap(posIdx).distinct.sorted
        val binDvs = binCanon.flatMap(c => dvByTarget.getOrElse(c, Nil))
        binTasks += BinTask(binId, bin, bin.map(seqByPath), readSchema,
          f"$staging/bin-$binId%05d.$outFormat",
          binPos, binDvs, groupEq, fill, nestedFill,
          bin.map(fmtByPath), outFormat,
          lineage = if (lineageOn) bin.map(linByPath) else Nil)
        binMeta(binId) = (partition, schemaId, tasks.head.file.specId)
        binId += 1
      }
    }
    val planned = binTasks.result()
    if (planned.isEmpty) return RewriteResult(0, 0)

    val sconf = new org.apache.spark.util.SerializableConfiguration(
      ParquetIO.writeConf(t.spark))
    val tableProps = m.properties
    val idSchema = schema // current schema WITH field-id metadata, for stats
    val statModes = Metrics.modesFor(schema, m.properties)
    // ONE job: every bin is an executor task (reference RowDataRewriter).
    // Rows stream read→write positionally, so reading with file-side names
    // and writing with current names performs the rename in-flight.
    val results: Array[(Int, Metrics.FileMetrics)] = t.spark.sparkContext
      .parallelize(planned, planned.size)
      .map { bt =>
        val conf = sconf.value
        // delete sets load once per executor (shared caches); positions key
        // by canonical path, equality sets gate on each file's sequence
        val pos: Map[String, org.roaringbitmap.longlong.Roaring64NavigableMap] =
          if (bt.posDeletePaths.isEmpty && bt.posDvs.isEmpty) Map.empty
          else graft.connector.PosDeleteCache.get(bt.posDeletePaths, bt.posDvs, conf)
        val eq = bt.eqDeletes.map { case (seq, src) =>
          (seq, src.ordinals, src.types,
            graft.connector.DeleteKeyCache.get(src, conf))
        }
        val writer = DataFileIO.openWriter(bt.out, bt.outFormat, writeSchema,
          idSchema, conf, statModes, tableProps)
        val fmts = if (bt.formats.nonEmpty) bt.formats
          else bt.paths.map(_ => FileFormats.Parquet)
        // finish() (close + footer read) sits INSIDE the abort guard: a
        // failure there must still clean the staged output, or the task
        // retry hits its own deterministic path with create(overwrite=false)
        val fm = try {
          bt.paths.indices.foreach { k =>
            val (p, fileSeq, fmt) = (bt.paths(k), bt.seqs(k), fmts(k))
            val deadPos = pos.getOrElse(ParquetIO.canonPath(p),
              graft.connector.PosDeleteCache.Empty)
            val applicable = eq.filter(_._1 > fileSeq)
            // lineage materialization: base >= 0 sets (base+idx, fileSeq)
            // into the trailing columns; -1 copies the input's stored
            // columns through; -2 (pre-v3) leaves them null
            val linBase = if (bt.lineage.isEmpty) -2L else bt.lineage(k)
            val rewrite =
              bt.fill.nonEmpty || bt.nestedFill.nonEmpty || linBase >= 0
            var idx = -1L // sequential full-file read ⇒ counter = row index
            DataFileIO.readAll(p, fmt, bt.readSchema, conf) { row =>
              idx += 1
              val dead = (!deadPos.isEmpty && deadPos.contains(idx)) ||
                applicable.exists { case (_, ords, types, keys) =>
                  keys.contains(ords.indices.map(i =>
                    ParquetIO.canonicalValue(row, ords(i), types(i))).toVector)
                }
              if (!dead) {
                if (!rewrite) writer.write(row)
                else {
                  // copy + materialize constant partition / lineage columns
                  val out = new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(bt.readSchema.length)
                  var c = 0
                  while (c < bt.readSchema.length) {
                    out.update(c,
                      if (row.isNullAt(c)) null
                      else row.get(c, bt.readSchema(c).dataType))
                    c += 1
                  }
                  bt.fill.foreach { case (ord, v) => out.update(ord, v) }
                  bt.nestedFill.foreach { case (ord, path, v) =>
                    val st = bt.readSchema(ord).dataType
                      .asInstanceOf[org.apache.spark.sql.types.StructType]
                    if (!out.isNullAt(ord)) out.update(ord,
                      Defaults.fillStruct(out.getStruct(ord, st.length), st, path, v))
                  }
                  if (linBase >= 0) {
                    out.update(bt.readSchema.length - 2, linBase + idx)
                    out.update(bt.readSchema.length - 1, fileSeq)
                  }
                  writer.write(out)
                }
              }
            }
          }
          // footer metrics in-task, keyed by field id against the current schema
          writer.finish()
        } catch { case e: Throwable => writer.abort(); throw e }
        (bt.id, fm)
      }.collect()

    val currentSchemaId = m.currentSchemaId
    val byId = planned.map(bt => bt.id -> bt).toMap
    val newFiles = results.toSeq.sortBy(_._1).map { case (id, fm) =>
      val (partition, _, groupSpecId) = binMeta(id)
      DataFile(
        path = byId(id).out,
        content = FileContent.Data,
        partition = partition,
        recordCount = fm.recordCount,
        fileSizeInBytes = fm.fileSize,
        schemaId = currentSchemaId,
        specId = groupSpecId,
        valueCounts = fm.valueCounts,
        nullValueCounts = fm.nullValueCounts,
        lowerBounds = fm.lowerBounds,
        upperBounds = fm.upperBounds,
        splitOffsets = fm.splitOffsets,
        fullBoundIds = fm.fullBoundIds,
        fileFormat = byId(id).outFormat,
        // the output physically carries preserved row ids (see above) —
        // the commit must NOT assign it a fresh base
        firstRowId = if (lineageOn) Some(Lineage.Materialized) else None)
    }
    val del = planned.flatMap(_.paths).toSet
    // hygiene judges dangling deletes against the FULL live set — a scoped
    // plan would misread deletes targeting out-of-scope files as dangling
    val hygienePlan = if (filter == AlwaysTrue) plan else t.newScan().planFiles()
    commitRewriteWithHygiene(hygienePlan, del, newFiles, baseSnapshot)
  }

  /** Shared tail of the data-file rewrites: drop delete files the rewrite
    * made dangling, then swap atomically (with concurrent-delete
    * validation via `baseSnapshot`). A position-delete file whose every
    * target is gone no longer masks anything — drop it in the SAME commit,
    * so delete files don't accumulate forever on a compacted table (the
    * reference needs a separate remove-dangling-deletes pass). One driver
    * read of each delete file's (small) path column. */
  private def commitRewriteWithHygiene(plan: ScanPlan, del: Set[String],
      newFiles: Seq[DataFile], baseSnapshot: Option[Long]): RewriteResult = {
    val delCanon = del.map(ParquetIO.canonPath)
    val liveAfterCanon =
      plan.tasks.map(ts => ParquetIO.canonPath(ts.file.path)).toSet -- delCanon
    val hconf = t.spark.sessionState.newHadoopConf()
    val posEntries = plan.deleteFiles
      .filter(_._1.content == FileContent.PositionDeletes).map(_._1)
      .distinctBy(f => (f.path, f.referencedDataFile))
    val (dvEntries, pqEntries) =
      posEntries.partition(_.fileFormat == FileFormats.Puffin)
    val danglingPq = pqEntries.map(_.path).distinct
      .filter { p =>
        val targets = Deletes.posDeleteTargets(Seq(p), hconf)
        targets.forall(tp => !liveAfterCanon.contains(tp))
      }.toSet
    // a puffin file is dangling when EVERY blob's referenced data file is
    // gone (zero I/O — targets live in the manifest entries)
    val danglingDv = dvEntries.groupBy(_.path).collect {
      case (p, es) if es.forall(_.referencedDataFile.exists(r =>
        !liveAfterCanon.contains(ParquetIO.canonPath(r)))) => p
    }.toSet
    val danglingPos = danglingPq ++ danglingDv
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
    * Reads the planned files through the DSv2 scan (live deletes applied,
    * old schema generations mapped by field id, imported identity-partition
    * columns materialized), then ONE range shuffle sized to
    * `targetSizeBytes` outputs and the same fanout write + atomic-swap
    * commit as bin-pack compaction (including dangling-delete hygiene and
    * concurrent-delete validation). Partitioned tables cluster by
    * (partition transforms, then sortBy), so each output task writes to one
    * partition directory run. Goes beyond the reference fork, which has no
    * sort-order surface at all. */
  def rewriteSorted(sortBy: Seq[(String, Boolean)],
      targetSizeBytes: Long = 128L * 1024 * 1024,
      filter: Expr = AlwaysTrue): RewriteResult = {
    require(sortBy.nonEmpty, "rewriteSorted needs at least one sort column")
    sortBy.foreach { case (name, _) => require(
      t.metadata.schema.fieldNames.contains(name), s"no such column: $name") }
    rewriteClustered(_ => sortBy.map { case (name, asc) =>
      if (asc) col(name).asc else col(name).desc }, targetSizeBytes, filter)
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

  /** Shared clustered-rewrite pipeline: DSv2 scan (live deletes applied,
    * old schema generations mapped by field id, imported identity-partition
    * columns materialized) → ONE range shuffle sized to `targetSizeBytes`
    * outputs → in-partition sort → the same fanout write + atomic-swap
    * commit as bin-pack compaction. `clusterCols` sees the scan DataFrame
    * (for derived keys like the z-value). */
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
    val posEntries = plan.deleteFiles
      .filter(_._1.content == FileContent.PositionDeletes)
      .map(_._1).distinctBy(f => (f.path, f.referencedDataFile))
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
    val live = udf((s: String) =>
      s != null && liveB.value.contains(ParquetIO.canonPath(s)))
    val positions = Deletes.positionsDF(spark, posEntries)
      .filter(live(col("file_path"))) // dangling targets drop here
    val newDeletes =
      if (dvMode) Dvs.stageFromPositions(t, positions, partitions = nOut)
      else stagePositionsParquet(positions, nOut, "posdel")
    Commits.rewriteFiles(t, distinctPaths.toSet, newDeletes)
    RewriteResult(distinctPaths.size, newDeletes.map(_.path).distinct.size)
  }

  /** Stage a (file_path, pos) DataFrame as sorted parquet position-delete
    * files — shared by the v2 position-delete compaction and the
    * equality→position conversion. */
  private def stagePositionsParquet(positions: org.apache.spark.sql.DataFrame,
      nOut: Int, prefix: String): Seq[DataFile] = {
    import org.apache.spark.sql.functions.col
    val m = t.metadata
    val staging = t.locations.newDataLocation(java.util.UUID.randomUUID().toString)
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      ParquetIO.writeConf(t.spark))
    val deleteSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))
    // each task also tracks the canonical path range it wrote (memoized per
    // raw path — input is sorted by file_path), so the committed manifest
    // entries carry target metadata and later scans attach this delete file
    // per task with zero I/O (Deletes.posIndex)
    val staged: Seq[(String, Long, String, String)] = positions
      .select(col("file_path"), col("pos"))
      .repartitionByRange(nOut, col("file_path"), col("pos"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val path = s"$staging/$prefix-$pid-${java.util.UUID.randomUUID()}.parquet"
          val w = ParquetIO.openWriter(path, deleteSchema, sconf.value)
          var n = 0L
          var lastRaw: String = null
          var minCanon: String = null
          var maxCanon: String = null
          try it.foreach { row =>
            val raw = row.getUTF8String(0).toString
            if (raw != lastRaw) {
              lastRaw = raw
              val canon = ParquetIO.canonPath(raw)
              if (minCanon == null || canon < minCanon) minCanon = canon
              if (maxCanon == null || canon > maxCanon) maxCanon = canon
            }
            w.write(row); n += 1
          }
          finally w.close()
          Iterator.single((path, n, minCanon, maxCanon))
        }
      }.collect().toSeq
    staged.sortBy(_._1).map { case (path, n, minCanon, maxCanon) =>
      val hp = new org.apache.hadoop.fs.Path(path)
      val base = DataFile(path = path, content = FileContent.PositionDeletes,
        recordCount = n,
        fileSizeInBytes = hp.getFileSystem(sconf.value).getFileStatus(hp).getLen,
        schemaId = m.currentSchemaId, specId = m.defaultSpecId)
      if (minCanon == null) base
      else Deletes.withPosTargets(base, minCanon, maxCanon)
    }
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
    * deletes; the commit swaps delete files only, data untouched.
    *
    * Conservative no-op when any targetable data file is non-parquet
    * (row positions there read row-path; converting only part of an eq
    * file's targets would resurrect the rest). */
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
    if (candidates.exists(_.file.fileFormat != FileFormats.Parquet))
      return RewriteResult(0, 0)
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
      // candidates grouped by writer schema so renamed key columns
      // resolve by field id; promoted leaves cast up to the table type
      scoped.groupBy(_.file.schemaId).toSeq.sortBy(_._1).map {
        case (schemaId, tasks) =>
          val fileSchema = m.schemas.getOrElse(schemaId, schema)
          val pairs = ids.map { id =>
            val tf = FieldIds.findById(schema, id).get
            val ff = FieldIds.findById(fileSchema, id).getOrElse(tf)
            (ff.name, tf.name, Types.cleanType(tf.dataType))
          }
          val data = spark.read
            .schema(Types.cleanType(fileSchema)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
            .parquet(tasks.map(_.file.path): _*)
            .select(pairs.map { case (fn, tn, dt) =>
              col(fn).cast(dt).as(tn) } :+
              col("_metadata.file_path").as("_g_file") :+
              col("_metadata.row_index").as("_g_pos"): _*)
          val cond = names.map(n => data(n) <=> del(n)).reduce(_ && _)
          data.join(del, cond, "inner")
            .filter(dataSeq(col("_g_file")) < col("_eq_seq"))
            .select(canon(col("_g_file")).as("file_path"),
              col("_g_pos").as("pos"))
      }.reduce(_ unionByName _)
    }

    val suppressed: Seq[org.apache.spark.sql.DataFrame] =
      eqFiles.groupBy(_._1.equalityIds).toSeq.sortBy(_._1.mkString(",")).flatMap {
        case (ids, group) =>
          // candidate prefilter — skip data files no delete in this group
          // can reach (the join + sequence gate keep exact semantics; this
          // only cuts the files READ). Exact per-pair sweep (partition
          // scoping + key-range overlap) under a product cap; above it, a
          // scope-bucket check: candidates hit by a partition-global
          // delete, their own partition's newest delete, or any cross-spec
          // tupled delete (conservative — tuples aren't comparable there).
          val scoped =
            if (candidates.size.toLong * group.size <= 4_000_000L)
              candidates.filter(ts => group.exists { case (f, dseq) =>
                dseq > ts.sequenceNumber &&
                  Deletes.eqDeleteCanHit(f.specId, f.partition,
                    ts.file.specId, ts.file.partition) &&
                  Deletes.eqBoundsCanHit(f, ts.file, schema)
              })
            else {
              val tupled = group.filter(_._1.partition.nonEmpty)
              val globalMax = group.collect {
                case (f, s) if f.partition.isEmpty => s }.maxOption
              val scopeMax = tupled
                .groupBy(d => (d._1.specId, Tuples.key(d._1.partition)))
                .map { case (k, g) => k -> g.map(_._2).max }
              val crossMax = tupled.map(_._2).maxOption
              candidates.filter { ts =>
                def newer(s: Option[Long]) = s.exists(_ > ts.sequenceNumber)
                newer(globalMax) ||
                  newer(scopeMax.get(
                    (ts.file.specId, Tuples.key(ts.file.partition)))) ||
                  (newer(crossMax) &&
                    tupled.exists(d => d._1.specId != ts.file.specId &&
                      d._2 > ts.sequenceNumber))
              }
            }
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
      else stagePositionsParquet(positions,
        math.max(1, spark.sparkContext.defaultParallelism / 4), "eq2pos")
    Commits.rewriteFiles(t, eqFiles.map(_._1.path).toSet, newDeletes)
    RewriteResult(eqFiles.size, newDeletes.map(_.path).distinct.size)
  }

  private def binPack(files: Seq[(String, Long)], target: Long): Seq[Seq[String]] = {
    val bins = collection.mutable.ArrayBuffer[(collection.mutable.ArrayBuffer[String], Long)]()
    files.sortBy(-_._2).foreach { case (path, size) =>
      bins.zipWithIndex.find(_._1._2 + size <= target) match {
        case Some(((paths, tot), i)) =>
          paths += path
          bins(i) = (paths, tot + size)
        case None =>
          bins += ((collection.mutable.ArrayBuffer(path), size))
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
    * construction). Scan planning TRUSTS manifest sizes for splits
    * (DataFileIO.indexedDF; same contract as the reference's manifests):
    * an UNDERSTATED size silently truncates the read — for delete files
    * that means deleted rows resurrect — so run this after ingesting
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
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      t.spark.sessionState.newHadoopConf())
    t.spark.sparkContext
      .parallelize(recorded, math.min(recorded.size, 64).max(1))
      .flatMap { case (p, rec, dv) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val actual =
          try hp.getFileSystem(sconf.value).getFileStatus(hp).getLen
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
    val beforeFiles = MetaTables.allFiles(t).select("file_path").as[String]
    // collectOrphans = false: the commit transform must not re-read every
    // kept manifest on the driver inside the retry loop when the diff
    // below already runs distributed; the returned paths are then just
    // the expired snapshots' statistics files (metadata-cheap), which the
    // distributed data-file diff cannot see
    val (updated, statOrphans) =
      Commits.expireSnapshots(t, olderThanMillis, retainLast,
        collectOrphans = false)
    val afterFiles = MetaTables.allFiles(t).select("file_path").as[String]
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
      val valid = MetaTables.allEntries(t).select(col("file_path").as("path"))
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
