package graft.format

import org.apache.spark.sql.types._

/** The commit algebra — every table mutation ends in one atomic snapshot
  * commit with optimistic retry (reference §2.8: MergeAppend/FastAppend
  * core/.../{FastAppend,MergingSnapshotProducer}.java, BaseOverwriteFiles,
  * BaseReplacePartitions, StreamingDelete + ManifestFilterManager,
  * BaseRewriteFiles, BaseRowDelta, RemoveSnapshots, SnapshotManager).
  *
  * Manifests here hold live entries only; a rewritten manifest carries prior
  * entries as EXISTING with their original snapshot/sequence numbers (the
  * reference does the same through ManifestReader → ManifestWriter copies).
  */
final class ValidationException(msg: String) extends RuntimeException(msg)

object Commits {

  /** Property: merge manifests when a snapshot would reference more than
    * this many (reference TableProperties.MANIFEST_MIN_MERGE_COUNT). */
  val ManifestMinMergeCount = "commit.manifest.min-count-to-merge"
  val ManifestMinMergeDefault = 8

  /** Property: roll a manifest when its estimated encoded size passes this
    * (reference TableProperties.MANIFEST_TARGET_SIZE_BYTES, default 8 MB —
    * the knob RollingManifestWriter and ManifestMergeManager bin by). */
  val ManifestTargetSizeKey = "commit.manifest.target-size-bytes"
  val ManifestTargetSizeDefault: Long = 8L * 1024 * 1024

  private[format] def manifestTargetBytes(m: TableMetadata): Long =
    m.properties.get(ManifestTargetSizeKey).map(_.toLong)
      .getOrElse(ManifestTargetSizeDefault)

  // ---- manifest construction ----

  private[format] def summaries(spec: PartitionSpec, types: Seq[(String, DataType)],
      entries: Seq[ManifestEntry]): Seq[FieldSummary] =
    spec.fields.zip(types).map { case (pf, (_, dt)) =>
      // An entry whose tuple LACKS the field is partition-GLOBAL (an
      // unclustered position/equality delete applies to EVERY partition) —
      // absence is not null. Folding it in as null gave the summary the
      // tuple-carrying entries' bounds, and the manifest-level evaluator
      // pruned the manifest under a partition filter, silently dropping
      // the global masks it carried (round-20 fuzz finding: the commit-
      // time manifest merge had combined scoped eq-deletes with global
      // pos-deletes; filtered scans then resurrected pos-deleted rows).
      // A single absent field makes the summary UNBOUNDED for that field.
      if (entries.exists(e => !e.file.partition.contains(pf.name)))
        FieldSummary(containsNull = true, lower = null, upper = null)
      else {
        val vs = entries.map(_.file.partition(pf.name))
        val nonNull = vs.filter(_ != null)
        val ord = Exprs.ordering(dt)
        FieldSummary(
          containsNull = vs.exists(_ == null),
          lower = if (nonNull.isEmpty) null else nonNull.min(ord),
          upper = if (nonNull.isEmpty) null else nonNull.max(ord))
      }
    }

  /** Build a manifest descriptor from its entries — pure, so distributed
    * maintenance (Actions.rewriteManifests) can call it in executor tasks. */
  private[format] def buildManifestFile(path: String, contentLength: Long,
      specId: Int, entries: Seq[ManifestEntry], addedSnapshotId: Long,
      spec: PartitionSpec, types: Seq[(String, DataType)]): ManifestFile = {
    val (added, existing, deleted) = (
      entries.filter(_.status == EntryStatus.Added),
      entries.filter(_.status == EntryStatus.Existing),
      entries.filter(_.status == EntryStatus.Deleted))
    // manifests are single-content, like the reference (ManifestContent
    // DATA vs DELETES): every consumer that selects data manifests by
    // `mf.content == FileContent.Data` (metadata-only DELETE, incremental
    // reads, expiry diffs, orphan scans, eq-delete scoping) relies on it.
    // A MIXED manifest flagged as deletes makes those consumers silently
    // skip its DATA entries — whole files invisible to row-level DELETE,
    // their rows resurrecting (caught by the round-20 workload fuzzer
    // after rewriteManifests consolidated data + delete entries together).
    require(entries.map(_.file.content == FileContent.Data).distinct.size <= 1,
      s"manifest would mix data and delete entries: $path")
    ManifestFile(path, contentLength, specId,
      entries.map(_.file.content).find(_ != FileContent.Data).getOrElse(FileContent.Data),
      addedSnapshotId,
      added.size, existing.size, deleted.size,
      added.map(_.file.recordCount).sum, existing.map(_.file.recordCount).sum,
      deleted.map(_.file.recordCount).sum,
      if (entries.isEmpty) 0L else entries.map(_.sequenceNumber).min,
      summaries(spec, types, entries.filter(_.status != EntryStatus.Deleted)))
  }

  /** Write one manifest + its descriptor. */
  private[format] def writeManifest(table: GraftTable, m: TableMetadata,
      specId: Int, entries: Seq[ManifestEntry], addedSnapshotId: Long): ManifestFile = {
    val spec = m.specs(specId)
    val types = table.partTypesOf(m)(specId)
    val codec = MetaCodec.codecFor(m.properties)
    val path = table.ops.newManifestPath(MetaCodec.ext(codec))
    val bytes = MetaCodec.writeManifest(entries, m.schema, types.toMap, codec)
    table.ops.io.writeBytes(path, bytes)
    buildManifestFile(path, bytes.length.toLong, specId, entries,
      addedSnapshotId, spec, types)
  }

  /** Cheap per-entry encoded-size estimate for rolling. The reference's
    * RollingManifestWriter rolls on ACTUAL bytes written; MetaCodec encodes
    * a manifest in one shot, so rolling cuts on an estimate instead — path
    * plus stats maps dominate an encoded entry, and being ±2× off only
    * moves the roll point, never correctness. */
  private[format] def estimatedEntryBytes(e: ManifestEntry): Long = {
    def boundsBytes(m: Map[Int, Any]): Long = m.valuesIterator.map {
      case s: String => s.length + 6L
      case b: Array[Byte] => b.length + 6L
      case _ => 14L
    }.sum
    64L + e.file.path.length + e.file.partition.size * 16L +
      (e.file.valueCounts.size + e.file.nullValueCounts.size) * 12L +
      boundsBytes(e.file.lowerBounds) + boundsBytes(e.file.upperBounds)
  }

  /** Greedy sequential size-packing: cut BEFORE the element that would
    * overflow `target`, never split an element. Order-preserving — both
    * the entry roll and the manifest-merge bins depend on that. */
  private[format] def packBySize[A](items: Seq[A], sizeOf: A => Long,
      target: Long): Seq[Seq[A]] = {
    val chunks = Seq.newBuilder[Seq[A]]
    var cur = Seq.newBuilder[A]
    var curBytes = 0L
    var curN = 0
    items.foreach { a =>
      val b = sizeOf(a)
      if (curN > 0 && curBytes + b > target) {
        chunks += cur.result(); cur = Seq.newBuilder; curBytes = 0L; curN = 0
      }
      cur += a; curBytes += b; curN += 1
    }
    chunks += cur.result()
    chunks.result()
  }

  /** Split entries into rolling chunks targeting
    * `commit.manifest.target-size-bytes` of encoded manifest each
    * (reference RollingManifestWriter): one oversized append — a
    * 100k-file import — lands as several target-sized manifests, so
    * plan-time manifest reads parallelize and per-manifest partition
    * summaries stay tight, instead of one giant manifest on one thread. */
  private[format] def rollEntries(m: TableMetadata,
      entries: Seq[ManifestEntry]): Seq[Seq[ManifestEntry]] =
    packBySize(entries, estimatedEntryBytes, manifestTargetBytes(m))

  /** Write entries as one manifest per rolled chunk. */
  private[format] def writeManifests(table: GraftTable, m: TableMetadata,
      specId: Int, entries: Seq[ManifestEntry],
      addedSnapshotId: Long): Seq[ManifestFile] =
    if (entries.isEmpty) Nil
    else rollEntries(m, entries)
      .map(ch => writeManifest(table, m, specId, ch, addedSnapshotId))

  private def writeManifestList(table: GraftTable, m: TableMetadata,
      snapshotId: Long, manifests: Seq[ManifestFile]): String = {
    val codec = MetaCodec.codecFor(m.properties)
    val path = table.ops.newManifestListPath(snapshotId, MetaCodec.ext(codec))
    table.ops.io.writeBytes(path,
      MetaCodec.writeManifestList(manifests, table.partTypesOf(m), codec))
    path
  }

  private def nextIds(m: TableMetadata): (Long, Long) = {
    val seq = m.lastSequenceNumber + 1
    (seq, seq) // snapshotId == sequenceNumber: deterministic, monotonic
  }

  /** Row-lineage base assignment (iceberg v3 "Row Lineage"; see [[Lineage]]):
    * on format-version-3 tables, every freshly added data file gets a
    * `first_row_id` base from the table's `next-row-id` counter, advanced
    * by its record count. Runs INSIDE the commit transaction so optimistic
    * retries re-assign against the fresh base — ids stay collision-free
    * under concurrent committers. Files that already carry a base (or the
    * [[Lineage.Materialized]] marker from compaction) keep it. */
  private[format] def assignRowIds(m: TableMetadata,
      files: Seq[DataFile]): (Seq[DataFile], TableMetadata) =
    if (m.formatVersion < 3) (files, m)
    else {
      var next = m.nextRowId
      val out = files.map { f =>
        if (f.content != FileContent.Data || f.firstRowId.isDefined) f
        else {
          val g = f.copy(firstRowId = Some(next))
          next += f.recordCount
          g
        }
      }
      (out, if (next == m.nextRowId) m else m.copy(nextRowId = next))
    }

  private def buildSnapshot(table: GraftTable, m: TableMetadata, op: String,
      manifests: Seq[ManifestFile], extraSummary: Map[String, String],
      branch: Option[String] = None): TableMetadata = {
    val (seq, snapId) = nextIds(m)
    val added = manifests.filter(_.addedSnapshotId == snapId)
    val listPath = writeManifestList(table, m, snapId, manifests)
    val now = System.currentTimeMillis()
    val snap = Snapshot(snapId,
      headSnapshot(m, branch).map(_.snapshotId), seq, now, op, listPath,
      Map(
        "schema-id" -> m.currentSchemaId.toString,
        "added-data-files" -> added.map(_.addedFilesCount).sum.toString,
        "added-records" -> added.map(_.addedRowsCount).sum.toString,
        "total-manifests" -> manifests.size.toString) ++ extraSummary)
    branch match {
      // branch commit: parented at (and advancing) the branch ref only —
      // main's head and the snapshot log stay untouched, exactly like
      // appendToBranch, so branch DML is invisible until a fast-forward
      case Some(b) if b != "main" =>
        m.copy(
          lastSequenceNumber = seq,
          lastUpdatedMillis = now,
          snapshots = m.snapshots :+ snap,
          refs = m.refs + (b -> m.refs(b).copy(snapshotId = snapId)))
      case _ =>
        m.copy(
          lastSequenceNumber = seq,
          lastUpdatedMillis = now,
          currentSnapshotId = Some(snapId),
          snapshots = m.snapshots :+ snap,
          snapshotLog = m.snapshotLog :+ SnapshotLogEntry(now, snapId))
    }
  }

  /** The snapshot a write reads from / parents at: main's head, or a named
    * branch's head. Tags and unknown refs refuse — a tag is immutable. */
  private[format] def headSnapshot(m: TableMetadata,
      branch: Option[String]): Option[Snapshot] = branch match {
    case None | Some("main") => m.currentSnapshot
    case Some(b) =>
      val ref = m.refs.getOrElse(b,
        throw new IllegalArgumentException(s"no such branch: $b"))
      require(ref.isBranch, s"cannot write to tag: $b")
      Some(m.snapshot(ref.snapshotId).getOrElse(
        throw new IllegalStateException(s"branch head ${ref.snapshotId} missing")))
  }

  private def headManifests(table: GraftTable, m: TableMetadata,
      branch: Option[String]): Seq[ManifestFile] =
    headSnapshot(m, branch).map(s => table.readManifestList(m, s)).getOrElse(Nil)

  private def currentManifests(table: GraftTable, m: TableMetadata): Seq[ManifestFile] =
    m.currentSnapshot.map(s => table.readManifestList(m, s)).getOrElse(Nil)

  // ---- append ----

  /** FastAppend (reference core/.../FastAppend.java): new manifest, no merge. */
  def fastAppend(table: GraftTable, newFiles: Seq[DataFile],
      summary: Map[String, String] = Map.empty): TableMetadata =
    table.ops.commitTransaction(fastAppendOn(table, _, newFiles, summary))

  private[format] def fastAppendOn(table: GraftTable, m0: TableMetadata,
      newFiles: Seq[DataFile], summary: Map[String, String] = Map.empty): TableMetadata = {
      val (files, m) = assignRowIds(m0, newFiles)
      val (seq, snapId) = nextIds(m)
      val entries = files.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          // a file keeps its declared schema generation when it is a
          // RECORDED one (imported files point at the physical file schema,
          // not the current table schema); unknown ids normalize to current
          f.copy(schemaId =
            if (m.schemas.contains(f.schemaId)) f.schemaId else m.currentSchemaId,
            specId = m.defaultSpecId)))
      val mfs = writeManifests(table, m, m.defaultSpecId, entries, snapId)
      buildSnapshot(table, m, "append", currentManifests(table, m) ++ mfs, summary)
  }

  /** FastAppend for file-count-scale appends (imports): the rolled manifest
    * chunks are ENCODED AND WRITTEN BY EXECUTORS — the driver handles only
    * descriptors, so a 100k-file import never serializes through one
    * thread's manifest encode (the reference's Spark import utilities write
    * manifests in tasks the same way). Entries are stamped with a
    * PROVISIONAL (sequence, snapshot) id read before the job; the commit
    * validates the guess under CAS and falls back to the driver-side
    * rolling write on the rare concurrent commit — correctness never
    * depends on the guess, only the fast path does. */
  def fastAppendDistributed(table: GraftTable, newFiles: Seq[DataFile],
      summary: Map[String, String] = Map.empty): TableMetadata = {
    val m0 = table.metadata
    val (files, mProv) = assignRowIds(m0, newFiles)
    val (seq, snapId) = nextIds(mProv)
    val specId = mProv.defaultSpecId
    val entries = files.map(f =>
      ManifestEntry(EntryStatus.Added, snapId, seq,
        f.copy(schemaId =
          if (mProv.schemas.contains(f.schemaId)) f.schemaId else mProv.currentSchemaId,
          specId = specId)))
    val chunks = rollEntries(mProv, entries)
    val spec = mProv.specs(specId)
    val types = table.partTypesOf(mProv)(specId)
    val typesMap = types.toMap
    val codec = MetaCodec.codecFor(mProv.properties)
    val schema = mProv.schema
    val metadataDir = s"${table.location}/metadata"
    val io = table.ops.io
    val sc = table.spark.sparkContext
    val manifests: Seq[ManifestFile] =
      if (chunks.size == 1) writeManifests(table, mProv, specId, entries, snapId)
      else sc.parallelize(chunks, math.min(chunks.size,
          math.max(1, sc.defaultParallelism)))
        .map { group =>
          val path = s"$metadataDir/manifest-${java.util.UUID.randomUUID()}" +
            MetaCodec.ext(codec)
          val bytes = MetaCodec.writeManifest(group, schema, typesMap, codec)
          io.writeBytes(path, bytes)
          buildManifestFile(path, bytes.length.toLong, specId, group, snapId,
            spec, types)
        }.collect().toSeq
    table.ops.commitTransaction { m =>
      val (seqNow, snapNow) = nextIds(m)
      val provisionalHolds = seqNow == seq && snapNow == snapId &&
        m.currentSchemaId == m0.currentSchemaId &&
        m.defaultSpecId == m0.defaultSpecId &&
        (m.formatVersion < 3 || m.nextRowId == m0.nextRowId)
      if (provisionalHolds) {
        val mRow = if (mProv.nextRowId != m.nextRowId)
          m.copy(nextRowId = mProv.nextRowId) else m
        buildSnapshot(table, mRow, "append",
          currentManifests(table, mRow) ++ manifests, summary)
      } else
        // concurrent commit moved the ids under us: the pre-written
        // manifests are orphans (removeOrphanFiles reclaims them) and the
        // append re-runs driver-side against the fresh metadata
        fastAppendOn(table, m, newFiles, summary)
    }
  }

  /** MergeAppend (reference MergingSnapshotProducer/ManifestMergeManager):
    * like fastAppend but compacts the manifest list when it grows past the
    * min-merge-count — keeps planning O(few manifests) on long-lived tables. */
  def mergeAppend(table: GraftTable, newFiles: Seq[DataFile],
      summary: Map[String, String] = Map.empty): TableMetadata =
    table.ops.commitTransaction { m0 =>
      val (files, m) = assignRowIds(m0, newFiles)
      val (seq, snapId) = nextIds(m)
      val entries = files.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          f.copy(schemaId = m.currentSchemaId, specId = m.defaultSpecId)))
      val newMfs = writeManifests(table, m, m.defaultSpecId, entries, snapId)
      val existing = currentManifests(table, m)
      val minMerge = m.properties.get(ManifestMinMergeCount)
        .map(_.toInt).getOrElse(ManifestMinMergeDefault)
      val all = existing ++ newMfs
      val manifests =
        if (all.size <= minMerge) all
        else {
          // merge per (spec-id, content kind) in TARGET-SIZE BINS
          // (reference ManifestMergeManager.groupManifests): manifests
          // already at the target sit alone in their bin and pass through
          // untouched, so a steady-state table of N full manifests never
          // re-reads them — merging everything into one would make each
          // append re-encode the whole table's metadata (quadratic over
          // the table's life) and produce a single giant manifest that
          // serializes planning. Content kind joins the bin key because a
          // manifest is data-only or delete-only by construction and the
          // metadata tables route whole manifests by that flag — a mixed
          // merge would misfile entries in data_files/delete_files.
          val target = manifestTargetBytes(m)
          all.groupBy(mf => (mf.specId, mf.content != FileContent.Data))
            .toSeq.sortBy(_._1).flatMap { case ((specId, _), mfs) =>
              packBySize[ManifestFile](mfs, _.length, target).flatMap { group =>
                if (group.size == 1) group
                else {
                  val merged = group.flatMap(mf => table.readManifest(mf, m.schema))
                    .filter(_.status != EntryStatus.Deleted)
                    .map(e => e.copy(status =
                      if (e.snapshotId == snapId) EntryStatus.Added else EntryStatus.Existing))
                  writeManifests(table, m, specId, merged, snapId)
                }
              }
            }
        }
      buildSnapshot(table, m, "append", manifests, summary)
    }

  // ---- overwrite family ----

  /** Metadata-only delete by filter; whole files only. Files where SOME but
    * not ALL rows match raise ValidationException — exactly the reference's
    * "Cannot delete file where some, but not all, rows match filter"
    * (ManifestFilterManager.java:215-222, strict/inclusive decision :285-319). */
  def deleteByFilter(table: GraftTable, filter: Expr,
      branch: Option[String] = None): TableMetadata =
    table.ops.commitTransaction(deleteByFilterOn(table, _, filter, branch))

  private[format] def deleteByFilterOn(table: GraftTable, m: TableMetadata,
      filter: Expr, branch: Option[String] = None): TableMetadata = {
    val manifests = rewriteForDelete(table, m, filter, branch)
    buildSnapshot(table, m, "delete", manifests, Map.empty, branch)
  }

  /** Overwrite-by-filter: delete matching files + append new
    * (reference BaseOverwriteFiles / SparkBatchWrite filter-overwrite :198-207). */
  def overwriteByFilter(table: GraftTable, filter: Expr,
      newFiles: Seq[DataFile],
      summary: Map[String, String] = Map.empty,
      branch: Option[String] = None): TableMetadata =
    table.ops.commitTransaction(
      overwriteByFilterOn(table, _, filter, newFiles, summary, branch))

  private[format] def overwriteByFilterOn(table: GraftTable, m0: TableMetadata,
      filter: Expr, newFiles: Seq[DataFile],
      summary: Map[String, String] = Map.empty,
      branch: Option[String] = None): TableMetadata = {
      val (files, m) = assignRowIds(m0, newFiles)
      val (seq, snapId) = nextIds(m)
      val afterDelete = rewriteForDelete(table, m, filter, branch)
      val entries = files.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          f.copy(schemaId = m.currentSchemaId, specId = m.defaultSpecId)))
      val mfs = writeManifests(table, m, m.defaultSpecId, entries, snapId)
      buildSnapshot(table, m, "overwrite", afterDelete ++ mfs, summary, branch)
  }

  /** Dynamic partition overwrite (reference BaseReplacePartitions; used by
    * SparkBatchWrite.java:186-194): drop every file in a partition touched
    * by the new data. */
  def replacePartitions(table: GraftTable, newFiles: Seq[DataFile],
      branch: Option[String] = None): TableMetadata =
    table.ops.commitTransaction(replacePartitionsOn(table, _, newFiles, branch))

  private[format] def replacePartitionsOn(table: GraftTable, m0: TableMetadata,
      newFiles0: Seq[DataFile],
      branch: Option[String] = None): TableMetadata = {
      val (newFiles, m) = assignRowIds(m0, newFiles0)
      val (seq, snapId) = nextIds(m)
      val touched: Set[Map[String, Any]] = newFiles.map(canonTuple).toSet
      val kept = headManifests(table, m, branch).map { mf =>
        val entries = table.readManifest(mf, m.schema)
        val (dropped, keep) = entries.partition(e =>
          mf.specId == m.defaultSpecId && touched.contains(canonTuple(e.file)))
        if (dropped.isEmpty) Some(mf)
        else if (keep.isEmpty) None
        else Some(writeManifest(table, m, mf.specId,
          keep.map(e => e.copy(status =
            if (e.status == EntryStatus.Added && e.snapshotId != snapId)
              EntryStatus.Existing else e.status)), snapId))
      }.flatten
      val entries = newFiles.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          f.copy(schemaId = m.currentSchemaId, specId = m.defaultSpecId)))
      val mfs = writeManifests(table, m, m.defaultSpecId, entries, snapId)
      buildSnapshot(table, m, "replace", kept ++ mfs, Map.empty, branch)
  }

  /** RewriteFiles: atomic swap for compaction (reference BaseRewriteFiles). */
  def rewriteFiles(table: GraftTable, deletedPaths: Set[String],
      newFiles: Seq[DataFile], baseSnapshotId: Option[Long] = None,
      operation: String = "replace",
      // named-branch target: the rewrite reads the BRANCH head's manifests
      // and the commit advances only the branch ref (row-level DML on a
      // `t.branch_x` identifier rides this)
      branch: Option[String] = None): TableMetadata =
    table.ops.commitTransaction { m =>
      val headId = headSnapshot(m, branch).map(_.snapshotId)
      // Conflict validation (reference BaseRewriteFiles validation): the
      // rewrite's outputs were produced against `baseSnapshotId`'s delete
      // state, and they commit with a NEW sequence number — a delete file
      // committed since base would silently stop applying to them
      // (position deletes die with the replaced paths; equality deletes
      // seq-gate past the new files), resurrecting rows. Concurrent
      // APPENDS stay allowed; concurrent DELETE commits abort the rewrite.
      baseSnapshotId.filter(b => !headId.contains(b)).foreach { b =>
        val anc = m.ancestors(headId)
        val newer =
          if (anc.exists(_.snapshotId == b)) anc.dropWhile(_.snapshotId != b).drop(1)
          else anc // base not on the current ancestry (rollback raced in)
        val newDeletes = newer.exists(s => table.readManifestList(m, s).exists(
          mf => mf.content != FileContent.Data && mf.addedSnapshotId == s.snapshotId))
        if (newDeletes) throw new ValidationException(
          s"delete files were committed while rewriting (base snapshot $b); " +
          "retry the rewrite against the current state")
      }
      // lineage: compaction outputs arrive MATERIALIZED (Lineage.Materialized
      // marker — they physically carry preserved row ids); any other added
      // file gets a fresh base here
      val (newFiles2, m1) = assignRowIds(m, newFiles)
      val (seq, snapId) = nextIds(m1)
      val found = scala.collection.mutable.HashSet[String]()
      val kept = headManifests(table, m1, branch).flatMap { mf =>
        val entries = table.readManifest(mf, m1.schema)
        val keep = entries.filter { e =>
          val dead = deletedPaths.contains(e.file.path)
          if (dead) found += e.file.path
          !dead
        }
        if (keep.size == entries.size) Some(mf)
        else if (keep.isEmpty) None
        else Some(writeManifest(table, m1, mf.specId,
          keep.map(e => e.copy(status = EntryStatus.Existing)), snapId))
      }
      // every replaced file must still be LIVE (reference BaseRewriteFiles /
      // OverwriteFiles "Missing required files to delete"): a concurrent
      // compaction or metadata-only DELETE removes files through
      // data-content manifests — invisible to the delete-manifest check
      // above — and silently skipping the absent path would re-add its
      // carried-over rows from the rewrite output (duplicated or
      // resurrected rows)
      val missing = deletedPaths -- found
      if (missing.nonEmpty) throw new ValidationException(
        s"missing required files to delete (concurrently removed): " +
        missing.take(3).mkString(", ") +
        (if (missing.size > 3) s" … (${missing.size} total)" else "") +
        "; retry against the current state")
      // manifests are per-spec: compaction outputs keep their GROUP's spec
      // (the partition tuple is spelled in that spec's field names), so a
      // spec-evolved table rewrites each generation under its own layout
      val mf = newFiles2.groupBy(_.specId).toSeq.sortBy(_._1).flatMap {
        case (sid, fs) =>
          require(m1.specs.contains(sid), s"unknown partition spec $sid")
          writeManifests(table, m1, sid, fs.map(f =>
            ManifestEntry(EntryStatus.Added, snapId, seq,
              f.copy(schemaId = m1.currentSchemaId))), snapId)
      }
      buildSnapshot(table, m1, operation, kept ++ mf,
        Map("rewritten-files" -> deletedPaths.size.toString), branch)
    }

  /** RowDelta (v2): add data + delete files in one commit
    * (reference api/.../RowDelta.java, BaseRowDelta). With a base snapshot,
    * position-delete targets are validated to still be live at commit
    * (reference RowDelta.validateDataFilesExist): a concurrent rewrite
    * replacing a targeted file would otherwise silently no-op the delete —
    * the positions are path-addressed and the path is gone. Equality
    * deletes need no such check: they apply to every live file OLDER than
    * the delete's sequence, including concurrently-rewritten ones. */
  def rowDelta(table: GraftTable, dataFiles: Seq[DataFile],
      deleteFiles: Seq[DataFile],
      baseSnapshotId: Option[Long] = None,
      summary: Map[String, String] = Map.empty,
      // named-branch target: delete targets validate against the BRANCH
      // head's live set and the commit advances only the branch ref
      branch: Option[String] = None): TableMetadata =
    table.ops.commitTransaction { m =>
      val posDeletes = deleteFiles.filter(_.content == FileContent.PositionDeletes)
      if (posDeletes.nonEmpty &&
          baseSnapshotId.exists(b => !headSnapshot(m, branch).map(_.snapshotId).contains(b))) {
        val live = headManifests(table, m, branch)
          .filter(_.content == FileContent.Data)
          .flatMap(mf => table.readManifest(mf, m.schema))
          .filter(e => e.status != EntryStatus.Deleted &&
            e.file.content == FileContent.Data)
          .map(e => ParquetIO.canonPath(e.file.path)).toSet
        val conf = table.spark.sessionState.newHadoopConf()
        val targets = posDeletes.flatMap(DeleteIndex.targetsOf(_, conf)).toSet
        val gone = targets.filterNot(live.contains)
        if (gone.nonEmpty) throw new ValidationException(
          s"position deletes target files replaced since snapshot " +
          s"${baseSnapshotId.get}: ${gone.take(3).mkString(", ")}" +
          (if (gone.size > 3) s" (+${gone.size - 3} more)" else "") +
          "; retry against the current state")
      }
      val (dataFiles2, m1) = assignRowIds(m, dataFiles)
      val (seq, snapId) = nextIds(m1)
      def mk(fs: Seq[DataFile]) = fs.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          f.copy(schemaId = m1.currentSchemaId, specId = m1.defaultSpecId)))
      val mfs =
        writeManifests(table, m1, m1.defaultSpecId, mk(dataFiles2), snapId) ++
          writeManifests(table, m1, m1.defaultSpecId, mk(deleteFiles), snapId)
      buildSnapshot(table, m1, "overwrite", headManifests(table, m1, branch) ++ mfs,
        summary + ("delete-files" -> deleteFiles.size.toString), branch)
    }

  private def canonTuple(f: DataFile): Map[String, Any] =
    // Tuples.key: binary partition values must match by CONTENT, or a
    // dynamic overwrite never drops the touched partition's old files
    // (duplicate rows); Int→Long so pre-promotion tuples keep matching
    Tuples.key(f.partition.map { case (k, v) => k -> (v match {
      case i: Int => i.toLong
      case other => other
    })})

  /** Shared delete-by-filter manifest rewrite. */
  /** Per-file delete decision: Some(true) = every row matches (drop whole
    * file), Some(false) = no row can match (keep), None = partial match
    * (metadata-only delete impossible for this file). */
  private def wholeFileDelete(bound: Expr, spec: PartitionSpec,
      schema: org.apache.spark.sql.types.StructType, f: DataFile): Option[Boolean] = {
    val strictPart =
      if (spec.isPartitioned) Projections.strict(bound, spec, schema) else AlwaysFalse
    val inclusivePart =
      if (spec.isPartitioned) Projections.inclusive(bound, spec, schema) else AlwaysTrue
    val wholeFile =
      (strictPart != AlwaysFalse && Projections.evalOnPartition(strictPart, f.partition)) ||
      Evaluators.strictMetrics(bound, f)
    val mightMatch =
      (inclusivePart == AlwaysTrue || Projections.evalOnPartition(inclusivePart, f.partition)) &&
      Evaluators.inclusiveMetrics(bound, f)
    if (mightMatch && !wholeFile) None else Some(wholeFile)
  }

  /** Dry-run of rewriteForDelete's validation: true iff the filter can be
    * applied as a metadata-only whole-file delete (reference
    * SparkTable.canDeleteWhere: strict/inclusive evaluation over every
    * live file — no data is read or written). */
  private[graft] def canMetadataDelete(table: GraftTable, filter: Expr,
      branch: Option[String] = None): Boolean = {
    val m = table.metadata
    val schema = m.schema
    val bound = Exprs.bind(filter, schema)
    headManifests(table, m, branch).filter(_.content == FileContent.Data).forall { mf =>
      val spec = m.specs(mf.specId)
      table.readManifest(mf, schema)
        .forall(e => wholeFileDelete(bound, spec, schema, e.file).isDefined)
    }
  }

  private def rewriteForDelete(table: GraftTable, m: TableMetadata,
      filter: Expr, branch: Option[String] = None): Seq[ManifestFile] = {
    val schema = m.schema
    val bound = Exprs.bind(filter, schema)
    headManifests(table, m, branch).flatMap { mf =>
      // delete-file manifests are untouched: DeleteFiles removes DATA files
      // only (reference BaseDeleteFiles); a delete file left without targets
      // dangles harmlessly until compaction drops it
      if (mf.content != FileContent.Data) Some(mf)
      else {
        val spec = m.specs(mf.specId)
        val entries = table.readManifest(mf, schema)
        val (toDelete, kept) = entries.partition { e =>
          wholeFileDelete(bound, spec, schema, e.file).getOrElse(
            throw new ValidationException(
              s"Cannot delete file where some, but not all, rows match filter: ${e.file.path}"))
        }
        if (toDelete.isEmpty) Some(mf)
        else if (kept.isEmpty) None
        else Some(writeManifest(table, m, mf.specId,
          kept.map(e => e.copy(status = EntryStatus.Existing)),
          m.currentSnapshotId.getOrElse(0L)))
      }
    }
  }

  // ---- snapshot management ----

  /** ExpireSnapshots (reference core/.../RemoveSnapshots.java): drop
    * snapshots older than the cutoff (never the current one / ancestors
    * retained count). Returns orphaned data-file paths for the caller to
    * physically delete (ExpireSnapshotsAction does this with Dataset.except —
    * our Actions wrapper mirrors that). */
  def expireSnapshots(table: GraftTable, olderThanMillis: Long,
      retainLast: Int = 1,
      // the orphan diff reads EVERY kept+expired manifest on the driver,
      // inside the retry loop — callers that diff distributed afterwards
      // (Actions.expireSnapshots) pass false and get only the (cheap)
      // dead-statistics paths back
      collectOrphans: Boolean = true): (TableMetadata, Seq[String]) = {
    var orphaned: Seq[String] = Nil
    val updated = table.ops.commitTransaction { m =>
      // refs past their max-ref-age retire FIRST (a tag's age counts from
      // its snapshot's commit time); surviving refs then protect snapshots:
      // a tag pins its target, a branch pins its whole ancestry
      val now = System.currentTimeMillis()
      val liveRefs = m.refs.filter { case (_, r) =>
        r.maxRefAgeMs.forall(age => m.snapshot(r.snapshotId)
          .forall(_.timestampMillis + age >= now))
      }
      val refKeep = liveRefs.values.flatMap { r =>
        if (r.isBranch) m.ancestors(Some(r.snapshotId)).map(_.snapshotId)
        else Seq(r.snapshotId)
      }.toSet
      val byAge = m.snapshots.sortBy(s => (s.timestampMillis, s.snapshotId))
      val keepIds = (byAge.takeRight(retainLast).map(_.snapshotId) ++
        m.currentSnapshotId).toSet ++ refKeep
      val (keep, expire) = m.snapshots.partition(s =>
        keepIds.contains(s.snapshotId) || s.timestampMillis >= olderThanMillis)
      // files referenced before vs after (reference ExpireSnapshotsAction :150-175)
      def livePaths(snaps: Seq[Snapshot]): Set[String] =
        snaps.flatMap(s => table.readManifestList(m, s))
          .distinctBy(_.path)
          .flatMap(mf => table.readManifest(mf, m.schema).map(_.file.path)).toSet
      // statistics files of expired snapshots die with them
      val deadStats = m.statistics.filterNot(sf =>
        keep.exists(_.snapshotId == sf.snapshotId))
      orphaned = ((if (collectOrphans) (livePaths(expire) -- livePaths(keep)).toSeq
        else Nil) ++ deadStats.map(_.path)).sorted
      m.copy(snapshots = keep, refs = liveRefs,
        statistics = m.statistics.diff(deadStats),
        snapshotLog = m.snapshotLog.filter(e => keep.exists(_.snapshotId == e.snapshotId)))
    }
    (updated, orphaned)
  }

  /** Rollback: set current snapshot to an ancestor
    * (reference core/.../SnapshotManager.java). */
  def rollbackTo(table: GraftTable, snapshotId: Long): TableMetadata =
    table.ops.commitTransaction { m =>
      require(m.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId")
      m.copy(currentSnapshotId = Some(snapshotId),
        lastUpdatedMillis = System.currentTimeMillis(),
        snapshotLog = m.snapshotLog :+
          SnapshotLogEntry(System.currentTimeMillis(), snapshotId))
    }

  // ---- named refs: branches and tags (Iceberg v2 refs; beyond the
  // reference fork, which predates them) ----

  /** Create a branch at `snapshotId` (default: current head). */
  def createBranch(table: GraftTable, name: String,
      snapshotId: Option[Long] = None): TableMetadata =
    createRef(table, name, snapshotId, isBranch = true, maxRefAgeMs = None)

  /** Create an immutable tag at `snapshotId` (default: current head).
    * `maxRefAgeMs` lets expireSnapshots retire the tag itself. */
  def createTag(table: GraftTable, name: String,
      snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): TableMetadata =
    createRef(table, name, snapshotId, isBranch = false, maxRefAgeMs)

  private def createRef(table: GraftTable, name: String,
      snapshotId: Option[Long], isBranch: Boolean,
      maxRefAgeMs: Option[Long]): TableMetadata =
    table.ops.commitTransaction { m =>
      require(name != "main", "'main' is the implicit current branch")
      require(!m.refs.contains(name), s"ref already exists: $name")
      val target = snapshotId.orElse(m.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException("table has no snapshot to reference"))
      require(m.snapshot(target).isDefined, s"no snapshot $target")
      m.copy(lastUpdatedMillis = System.currentTimeMillis(),
        refs = m.refs + (name ->
          SnapshotRef(target, isBranch, maxRefAgeMs = maxRefAgeMs)))
    }

  def dropRef(table: GraftTable, name: String): TableMetadata =
    table.ops.commitTransaction { m =>
      require(m.refs.contains(name), s"no such ref: $name")
      m.copy(lastUpdatedMillis = System.currentTimeMillis(),
        refs = m.refs - name)
    }

  /** Fast-forward a branch (or "main") to `toSnapshotId`. The target must
    * DESCEND from the ref's current head — a fast-forward never discards
    * commits (use rollbackTo for that); that descent requirement is what
    * makes branch-WAP publishes safe. */
  def fastForward(table: GraftTable, name: String,
      toSnapshotId: Long): TableMetadata =
    table.ops.commitTransaction { m =>
      require(m.snapshot(toSnapshotId).isDefined, s"no snapshot $toSnapshotId")
      val head = m.refSnapshotId(name).getOrElse(
        if (name == "main") -1L
        else throw new IllegalArgumentException(s"no such ref: $name"))
      val reachable = m.ancestors(Some(toSnapshotId)).exists(_.snapshotId == head)
      require(head == -1L || reachable,
        s"$toSnapshotId does not descend from $name's head $head: not a fast-forward")
      val now = System.currentTimeMillis()
      if (name == "main")
        m.copy(currentSnapshotId = Some(toSnapshotId), lastUpdatedMillis = now,
          snapshotLog = m.snapshotLog :+ SnapshotLogEntry(now, toSnapshotId))
      else {
        require(m.refs(name).isBranch, s"cannot fast-forward tag: $name")
        m.copy(lastUpdatedMillis = now,
          refs = m.refs + (name -> m.refs(name).copy(snapshotId = toSnapshotId)))
      }
    }

  /** Append files to a BRANCH head: same snapshot construction as
    * fastAppend, but parented at (and advancing) the branch ref — main's
    * head and the snapshot log stay untouched, so branch writes are
    * invisible until a fastForward publishes them. */
  def appendToBranch(table: GraftTable, branch: String,
      newFiles: Seq[DataFile],
      summary: Map[String, String] = Map.empty): TableMetadata =
    table.ops.commitTransaction { m0 =>
      val ref = m0.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no such branch: $branch"))
      require(ref.isBranch, s"cannot append to tag: $branch")
      val head = m0.snapshot(ref.snapshotId).getOrElse(
        throw new IllegalStateException(s"branch head ${ref.snapshotId} missing"))
      // v3 row lineage: branch appends draw from the SAME table-global
      // next-row-id counter as main commits — without this, rows appended
      // on a branch carried no first_row_id and read NULL _row_id (and
      // would still be unassigned after a fast-forward publishes them)
      val (files, m) = assignRowIds(m0, newFiles)
      val (seq, snapId) = nextIds(m)
      val entries = files.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          f.copy(schemaId =
            if (m.schemas.contains(f.schemaId)) f.schemaId else m.currentSchemaId,
            specId = m.defaultSpecId)))
      val mfs = writeManifests(table, m, m.defaultSpecId, entries, snapId)
      val manifests = table.readManifestList(m, head) ++ mfs
      val listPath = writeManifestList(table, m, snapId, manifests)
      val now = System.currentTimeMillis()
      val snap = Snapshot(snapId, Some(head.snapshotId), seq, now, "append",
        listPath, summary ++ Map("schema-id" -> m.currentSchemaId.toString))
      m.copy(lastSequenceNumber = seq, lastUpdatedMillis = now,
        snapshots = m.snapshots :+ snap,
        refs = m.refs + (branch -> ref.copy(snapshotId = snapId)))
    }

  /** Cherry-pick a (staged / non-ancestor) append snapshot onto current —
    * WAP publish (reference SnapshotManager cherrypick; TestWapWorkflow). */
  def cherrypick(table: GraftTable, snapshotId: Long): TableMetadata = {
    val m0 = table.metadata
    val snap = m0.snapshot(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    require(snap.operation == "append", "can only cherry-pick append snapshots")
    // duplicate-publish guard (reference WapUtil/duplicate-commit check):
    // the published-wap-id marker written below is CONSULTED here — a
    // retried publish_changes/cherrypick_snapshot would otherwise append
    // the same staged files a second time, duplicating every row
    val marker = snap.summary.getOrElse("wap.id", snapshotId.toString)
    if (m0.ancestors().exists(
        _.summary.get("published-wap-id").contains(marker)))
      throw new ValidationException(
        s"snapshot $snapshotId (wap id '$marker') was already published")
    val added = table.readManifestList(m0, snap)
      .filter(_.addedSnapshotId == snapshotId)
      .flatMap(mf => table.readManifest(mf, m0.schema))
      .filter(e => e.status == EntryStatus.Added && e.snapshotId == snapshotId)
      .map(_.file)
    fastAppend(table, added, Map("published-wap-id" ->
      snap.summary.getOrElse("wap.id", snapshotId.toString)))
  }

  /** Stage an append WITHOUT advancing current (write-audit-publish;
    * reference `wap.id` staged snapshots). */
  def stageAppend(table: GraftTable, newFiles: Seq[DataFile],
      wapId: String): (TableMetadata, Long) = {
    var staged = 0L
    val updated = table.ops.commitTransaction { m =>
      val (seq, snapId) = nextIds(m)
      staged = snapId
      val entries = newFiles.map(f =>
        ManifestEntry(EntryStatus.Added, snapId, seq,
          f.copy(schemaId = m.currentSchemaId, specId = m.defaultSpecId)))
      val mfs = writeManifests(table, m, m.defaultSpecId, entries, snapId)
      val listPath = writeManifestList(table, m, snapId,
        currentManifests(table, m) ++ mfs)
      val now = System.currentTimeMillis()
      val snap = Snapshot(snapId, m.currentSnapshotId, seq, now, "append",
        listPath, Map("wap.id" -> wapId, "schema-id" -> m.currentSchemaId.toString))
      // snapshot recorded, currentSnapshotId unchanged
      m.copy(lastSequenceNumber = seq, lastUpdatedMillis = now,
        snapshots = m.snapshots :+ snap)
    }
    (updated, staged)
  }

  def setProperties(table: GraftTable, props: Map[String, String]): TableMetadata =
    table.ops.commitTransaction(setPropertiesOn(_, props))

  /** Shared by the direct commit and [[GraftTransaction.setProperties]]:
    * `format-version` upgrades the metadata FIELD (iceberg
    * TableMetadata.upgradeToFormatVersion semantics): 2 → 3 turns on
    * deletion-vector writes; downgrades are refused — v3 artifacts
    * (puffin DVs) would be unreadable under v2 rules. Routing it into the
    * plain property map instead would silently change nothing. */
  private[format] def setPropertiesOn(m: TableMetadata,
      props: Map[String, String]): TableMetadata = {
    val fv = props.get("format-version").map { v =>
      val n = v.trim.toInt
      require(n == 2 || n == 3, s"unsupported format-version $n (2 or 3)")
      require(n >= m.formatVersion,
        s"cannot downgrade format-version ${m.formatVersion} -> $n")
      n
    }.getOrElse(m.formatVersion)
    m.copy(formatVersion = fv,
      properties = m.properties ++ (props - "format-version"),
      lastUpdatedMillis = System.currentTimeMillis())
  }

  /** Record a statistics file for its snapshot (reference
    * UpdateStatistics.setStatistics), replacing any previous pointer for
    * the same snapshot. */
  def setStatistics(table: GraftTable, sf: StatisticsFile): TableMetadata =
    table.ops.commitTransaction { m =>
      require(m.snapshot(sf.snapshotId).isDefined,
        s"cannot set statistics: no snapshot ${sf.snapshotId}")
      m.copy(
        statistics = m.statistics.filterNot(_.snapshotId == sf.snapshotId) :+ sf,
        lastUpdatedMillis = System.currentTimeMillis())
    }

  /** Partition-spec evolution WITHOUT rewriting data (beyond the reference,
    * whose UpdatePartitionSpec is absent — SURVEY §2.8): the new spec gets
    * a fresh id and becomes the default for NEW writes; existing files keep
    * their spec forever, and the scan prunes each manifest under its OWN
    * spec (partTypesOf / projections are per-spec throughout the planner).
    * At 100 TB this is the only affordable way to change partitioning —
    * a layout migration is a metadata commit, not a table rewrite;
    * compaction gradually migrates old files as a side effect only if the
    * table is rewritten group-by-group under the new default. */
  def updateSpec(table: GraftTable)(
      build: PartitionSpec.Builder => PartitionSpec.Builder): TableMetadata =
    table.ops.commitTransaction { m =>
      val newId = m.specs.keys.max + 1
      val spec = build(PartitionSpec.builderFor(m.schema)).build(newId)
      m.copy(specs = m.specs + (newId -> spec), defaultSpecId = newId,
        lastUpdatedMillis = System.currentTimeMillis())
    }
}

/** Multi-update single-commit transaction (reference api/.../Transaction.java,
  * core/.../BaseTransaction.java): each op adds its own snapshot to the
  * pending metadata; ONE atomic CAS publishes them all — either every update
  * becomes visible or none. Retry re-applies the whole chain on a fresh base.
  */
final class GraftTransaction(table: GraftTable) {
  private var ops: Seq[TableMetadata => TableMetadata] = Nil
  private def add(op: TableMetadata => TableMetadata): this.type = { ops :+= op; this }

  def append(files: Seq[DataFile]): this.type =
    add(Commits.fastAppendOn(table, _, files))
  def appendData(df: org.apache.spark.sql.DataFrame): this.type =
    append(GraftWrite.writeFiles(table, df))
  def deleteByFilter(filter: Expr): this.type =
    add(Commits.deleteByFilterOn(table, _, filter))
  def overwriteByFilter(filter: Expr, files: Seq[DataFile]): this.type =
    add(Commits.overwriteByFilterOn(table, _, filter, files))
  def replacePartitions(files: Seq[DataFile]): this.type =
    add(Commits.replacePartitionsOn(table, _, files))
  def setProperties(props: Map[String, String]): this.type =
    add(Commits.setPropertiesOn(_, props))

  def commit(): TableMetadata =
    table.ops.commitTransaction(base => ops.foldLeft(base)((m, op) => op(m)))
}

object GraftTransaction {
  def begin(table: GraftTable): GraftTransaction = new GraftTransaction(table)
}
