package graft.connector

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** File-slice offset for the incremental source: (snapshot id, files
  * consumed within it) — the reference's StreamingOffset position model
  * (spark/.../source/StreamingOffset.java + MicroBatches slicing). The
  * legacy plain-long snapshot offset still deserializes (as a fully
  * consumed snapshot) so existing checkpoints resume. */
final case class FileSliceOffset(snapshotId: Long, fileIdx: Int) extends Offset {
  override def json(): String = s"$snapshotId:$fileIdx"
  def toStream: Streaming.StreamOffset = Streaming.StreamOffset(snapshotId, fileIdx)
}

/** DSv2 micro-batch source: each batch reads the data files appended in
  * (start, end] at FILE granularity — `spark.readStream.table("g.db.t")`.
  * With `max-bytes-per-trigger` set, admission control slices oversized
  * backlogs (including WITHIN one snapshot) into size-budgeted batches.
  * Each (format, generation) group is the same FileScan batch reads
  * build ([[GroupScan]]), so splits and packing are Spark's own.
  * With `branch` set the stream follows the BRANCH ref's commit line
  * (appends to the branch surface as batches; main commits never do) —
  * the `t.branch_x` identifier spelling routes here too. */
final class GraftMicroBatchStream(spark: SparkSession, table: GraftTable,
    options: CaseInsensitiveStringMap,
    branch: Option[String] = None) extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private val maxBytes: Long =
    options.getLong("max-bytes-per-trigger", Long.MaxValue)

  /** The head of the commit line this stream follows: main's current
    * snapshot, or the branch ref's head. A dropped branch fails the next
    * poll loudly rather than silently falling back to main. */
  private def head(): Option[Snapshot] = branch match {
    case None => table.currentSnapshot
    case Some(b) =>
      val m = table.metadata
      val ref = m.refs.getOrElse(b,
        throw new IllegalStateException(s"streamed branch no longer exists: $b"))
      require(ref.isBranch, s"cannot stream a tag: $b")
      Some(m.snapshot(ref.snapshotId).getOrElse(
        throw new IllegalStateException(s"branch head ${ref.snapshotId} missing")))
  }

  // ---- initial load (offset 0): the full state of ONE pinned snapshot,
  // planned by the BATCH scan machinery so position/equality deletes, DVs,
  // default fills, and lineage apply exactly as in batch reads — the raw
  // per-format append scans below would resurrect deleted rows (and every
  // superseded upsert version) in the first batch of a MoR table ----
  @volatile private var pinnedInitial: Long = 0L
  /** The stream's own initial-load snapshot: pinned at first resolution
    * (re-resolved only while the table is still empty). */
  private def initialSnapshot(): Long = {
    if (pinnedInitial == 0L)
      pinnedInitial = head().map(_.snapshotId).getOrElse(0L)
    pinnedInitial
  }
  // keyed by snapshot id: a checkpoint replay of the initial batch carries
  // the ORIGINAL end offset in the WAL, which may differ from this run's
  // pin — the scan must be built for exactly the offset's snapshot
  private val initialScanMemo =
    new java.util.concurrent.atomic.AtomicReference[(Long, GraftScan)](null)
  private def initialScanFor(snap: Long): GraftScan = {
    val cached = initialScanMemo.get()
    if (cached != null && cached._1 == snap) cached._2
    else {
      // withCurrentSchema: the STREAM declares the table's current schema,
      // so the initial load must produce rows in that shape even when the
      // pinned snapshot predates a schema change — a snapshot-schema scan
      // here emitted narrower rows that Spark reinterpreted positionally
      // (observed: a pre-ALTER row streamed with the new column holding
      // bytes of a neighboring string instead of null)
      val gs = new GraftScanBuilder(spark, table,
        table.newScan().useSnapshot(snap).withCurrentSchema, options).build() match {
        case g: GraftScan => g
        case other => throw new IllegalStateException(
          s"unexpected initial-load scan ${other.getClass.getName}")
      }
      initialScanMemo.set((snap, gs))
      gs
    }
  }
  /** Re-home a batch-scan partition into the streaming factory's group
    * space (initial-load groups sit after the per-format append groups). */
  private def shiftGroup(p: InputPartition, by: Int): InputPartition = p match {
    case gp: GroupedPartition => gp.copy(group = gp.group + by)
    case kp: KeyedPartition => kp.copy(group = kp.group + by,
      subs = kp.subs.map(s => s.copy(group = s.group + by)))
    case mp: MultiFilePartition =>
      mp.copy(subs = mp.subs.map(s => s.copy(group = s.group + by)))
    case other => GroupedPartition(by, other)
  }

  // one backlog plan per (offset, table head) — latestOffset and
  // planInputPartitions of the same trigger otherwise each pay a full
  // per-snapshot manifest plan of the pending range
  @volatile private var pendingMemo:
    ((Streaming.StreamOffset, Long), Seq[(Long, Int, FileScanTask)]) = null
  private def pendingFor(s: Streaming.StreamOffset): Seq[(Long, Int, FileScanTask)] = {
    val headId = head().map(_.snapshotId).getOrElse(0L)
    val key = (s, headId)
    val m = pendingMemo
    if (m != null && m._1 == key) m._2
    else {
      val p = Streaming.pendingFiles(table, s, Some(headId))
      pendingMemo = (key, p)
      p
    }
  }

  // Trigger.AvailableNow: capture the end ONCE; budgeted batches then run
  // until they land exactly on it (without this, Spark takes the FIRST
  // latestOffset result — one budget's worth — as the whole query's end)
  @volatile private var availableNowEnd: Option[FileSliceOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(allAvailable(
      initialOffset().asInstanceOf[FileSliceOffset]))

  private def capAt(raw: FileSliceOffset): FileSliceOffset =
    availableNowEnd match {
      case Some(end)
          if end.snapshotId < raw.snapshotId ||
            (end.snapshotId == raw.snapshotId && end.fileIdx < raw.fileIdx) => end
      case _ => raw
    }

  // ---- schema generations ----
  // The stream's ROW LAYOUT is frozen at query start: Spark fixes a
  // stream's output schema per run, so every batch must emit rows with
  // `declared`'s width/order/leaf types even when the table's current
  // schema changes mid-stream. Building read schemas from LIVE metadata
  // desynchronized a batch's partitions from its reader factory when an
  // ALTER landed between the two (positional-misread class).
  private val declared: StructType = table.metadata.schema
  private val declaredGenId: Int = table.metadata.currentSchemaId

  /** Monotonic registry of schema generations: seeded at query start and
    * GROWN when a planned batch carries a file from a generation created
    * mid-stream (ALTER while running) — pre-fix such files fell back to a
    * query-start-name read that silently nulled renamed columns until the
    * next restart. Read schemas are frozen per generation against
    * `declared` at registration; the id list only APPENDS, so group
    * indexes (gi * formats + fi) never shift across batches. */
  private object generations {
    private var ids = Vector.empty[Int]
    private var reads = Map.empty[Int, StructType]
    register(table.metadata)
    private def register(m: TableMetadata): Unit = {
      val fresh = m.schemas.keys.toSeq.filterNot(ids.contains).sorted
      ids ++= fresh
      reads ++= fresh.map(id => id -> readFor(m, id))
    }
    /** Refresh from live metadata iff some schemaId is unknown. */
    def ensure(schemaIds: Iterable[Int]): Unit = synchronized {
      if (schemaIds.exists(id => !ids.contains(id))) register(table.metadata)
    }
    def snapshot(): Vector[Int] = synchronized(ids)
    def readOf(id: Int): StructType = synchronized(reads(id))
  }

  /** `declared`'s columns spelled with generation `schemaId`'s FILE names
    * at EVERY nesting level (field-id resolution via
    * FieldIds.fileSideType; width/order/leaf types stay `declared`'s so
    * every generation emits the same row layout — renamed columns, nested
    * ones included, stream their data; columns added BEFORE the query
    * started null-fill by name miss; promoted leaves read widened; columns
    * added mid-stream are simply absent from the read, because the
    * stream's declared schema cannot grow within a run). */
  private def readFor(m: TableMetadata, schemaId: Int): StructType = {
    val fileSchema = m.schemas.getOrElse(schemaId, declared)
    val fileById = fileSchema.fields
      .filter(_.metadata.contains(FieldIds.Key))
      .map(f => FieldIds.idOf(f) -> f).toMap
    StructType(declared.fields.map { f =>
      val fileField =
        if (f.metadata.contains(FieldIds.Key)) fileById.get(FieldIds.idOf(f))
        else None
      fileField match {
        case Some(ff) => StructField(ff.name,
          Types.fileSideType(f.dataType, ff.dataType), f.nullable)
        case None => StructField(
          // absentReadName: a dropped same-named predecessor column may
          // still exist in this generation's files — never rebind by name
          if (f.metadata.contains(FieldIds.Key))
            Types.absentReadName(f, fileSchema)
          else f.name,
          Types.cleanType(f.dataType), f.nullable)
      }
    })
  }

  // the generation list the most recent planInputPartitions committed to:
  // the batch's reader factory must agree with the batch's partitions on
  // group indexing even if the registry grows again in between — Spark
  // plans a batch's partitions before creating its factory
  // (DataSourceRDD construction order), so snapshotting here is enough
  @volatile private var plannedGens: Vector[Int] = generations.snapshot()

  // per-(format, generation) scan groups: each batch's factory is built
  // without a file list, so the partition group index must be derivable
  // from (generation, format) alone and stable as the registry grows
  private def scanFor(fmt: String, read: StructType, files: Seq[DataFile])
      : org.apache.spark.sql.execution.datasources.v2.FileScan =
    GroupScan(spark, fmt, new GraftFileIndex(spark, files), read, read,
      StructType(Nil), Array.empty, options)

  private def groupedPartitions(files: Seq[DataFile]): Array[InputPartition] = {
    // adopt generations created mid-stream BEFORE indexing the batch
    generations.ensure(files.map(_.schemaId).distinct)
    val gens = generations.snapshot()
    plannedGens = gens
    val nf = FileFormats.All.size
    def giOf(schemaId: Int): Int = {
      val i = gens.indexOf(schemaId)
      // unknown even after a refresh (impossible for a committed file):
      // read with the query-start generation rather than fail the batch
      if (i >= 0) i else math.max(gens.indexOf(declaredGenId), 0)
    }
    FileFormats.All.zipWithIndex.flatMap { case (fmt, fi) =>
      files.filter(_.fileFormat == fmt).groupBy(f => giOf(f.schemaId))
        .toSeq.sortBy(_._1).flatMap { case (gi, fs) =>
          val g = gi * nf + fi
          scanFor(fmt, generations.readOf(gens(gi)), fs)
            .toBatch.planInputPartitions().toSeq
            .map(p => GroupedPartition(g, p): InputPartition)
        }
    }.toArray
  }

  /** CANONICAL all-available end: (current snapshot, its added-file count).
    * Spark's AvailableNow wrapper captures this once and compares offsets
    * by EQUALITY, so budgeted progression must land on exactly this value
    * after draining — which (snap, count) is and sentinel forms are not. */
  private def allAvailable(start: FileSliceOffset): FileSliceOffset =
    head() match {
      case None => start
      case Some(_) if start.snapshotId == 0L =>
        // initial load: the pinned snapshot, fully consumed
        val snap = initialSnapshot()
        if (snap == 0L) start else FileSliceOffset(snap, Int.MaxValue)
      case Some(head) if head.snapshotId <= start.snapshotId => start // caught up
      case Some(head) if head.operation == "append" =>
        // exclusive bound = the head's REAL parent ("files added by
        // exactly head"): on a branch line the numeric predecessor can be
        // a non-ancestor main-line commit (divergence guard would throw)
        FileSliceOffset(head.snapshotId, table.newScan()
          .appendsBetween(head.parentId.getOrElse(0L), head.snapshotId)
          .planFiles().tasks.size)
      case Some(head) =>
        // replace/delete head appends nothing (consumed-sentinel end so
        // budgeted progression can LAND on it — a (head, count-of-appends)
        // form is unreachable when the head appended no files); an
        // OVERWRITE head still fails when the range is planned (reference
        // parity: incremental reads cannot stream an overwrite) — but the
        // END computation itself must not crash a caught-up poll
        FileSliceOffset(head.snapshotId, Int.MaxValue)
    }

  override def latestOffset(): Offset =
    allAvailable(initialOffset().asInstanceOf[FileSliceOffset])

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FileSliceOffset]
    // initial load (offset 0) is the full pinned-snapshot state, un-sliced
    if (s.snapshotId == 0L || maxBytes == Long.MaxValue) capAt(allAvailable(s))
    else {
      val (tasks, next) =
        Streaming.takeBudget(pendingFor(s.toStream), s.toStream, maxBytes)
      // caught up on appendable files: land on the CANONICAL end so a
      // head snapshot that appended nothing (replace/delete) still
      // reaches offset equality under Trigger.AvailableNow
      if (tasks.isEmpty) capAt(allAvailable(s))
      else capAt(FileSliceOffset(next.snapshotId, next.fileIdx))
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = {
    val startSnap = options.getLong("start-snapshot-id", 0L)
    // a configured start snapshot is treated as already consumed
    FileSliceOffset(startSnap, if (startSnap == 0L) 0 else Int.MaxValue)
  }

  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    if (t.contains(':')) {
      val Array(s, f) = t.split(':')
      FileSliceOffset(s.toLong, f.toInt)
    } else FileSliceOffset(t.toLong, Int.MaxValue) // legacy snapshot offset
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[FileSliceOffset]
    val to = end.asInstanceOf[FileSliceOffset]
    if (from == to) return Array.empty
    if (from.snapshotId == 0L)
      // full state of the offset's snapshot through the BATCH planner —
      // delete-scoped partitions, shifted past the append format groups
      // (the factory computes the same shift from the same plannedGens)
      initialScanFor(to.snapshotId).toBatch.planInputPartitions()
        .map(shiftGroup(_, FileFormats.All.size * plannedGens.size))
    else {
      val files = pendingFor(from.toStream)
        .takeWhile { case (snap, i, _) =>
          snap < to.snapshotId || (snap == to.snapshotId && i < to.fileIdx)
        }
        .map(_._3.file)
      if (files.isEmpty) Array.empty
      else groupedPartitions(files)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // factory depends only on schema/conf, not the batch's file list; one
    // inner factory per format in the same fixed order as the partitions.
    // Micro-batch reads stay on the row path (columnar=false): the factory
    // cannot know a batch's formats up front, and Spark requires every
    // partition of a batch to agree — incremental slices are small, the
    // batch path keeps full vectorization
    // indexed gi * formats + fi, matching groupedPartitions — built from
    // the SAME plannedGens snapshot the batch's partitions were planned
    // against, with each generation's read schema frozen at registration
    val incr = plannedGens.flatMap(gid => FileFormats.All.map(fmt =>
      scanFor(fmt, generations.readOf(gid), Nil).toBatch.createReaderFactory()))
    val nones = incr.map(_ => None)
    initialScanMemo.get() match {
      // the initial-load batch reads through the BATCH scan's own factory
      // (delete filters, fills, lineage), its groups shifted past the
      // append format groups — planInputPartitions always runs before the
      // batch's factory is created, so the memo is set whenever an
      // initial-load partition can reach this factory
      case (_, gs) => gs.toBatch.createReaderFactory() match {
        case GroupedReaderFactory(inner, dels, _, fills, lineages, conf) =>
          GroupedReaderFactory(incr ++ inner, nones ++ dels,
            columnar = false, nones ++ fills, nones ++ lineages, conf)
        case other => throw new IllegalStateException(
          s"unexpected batch reader factory ${other.getClass.getName}")
      }
      case null =>
        GroupedReaderFactory(incr, nones, columnar = false)
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** DSv2 streaming sink with epoch-idempotent commits — `writeStream
  * .toTable("g.db.t")` (reference spark2/.../StreamingWriter.java:42-98:
  * replayed epochs detected via snapshot summary and skipped; Append →
  * fastAppend, Complete/truncate → overwrite-all). Reuses the batch fanout
  * writers. */
final class GraftStreamingWrite(table: GraftTable, truncateFirst: Boolean,
    queryId: String,
    // `t.branch_x` sink: every epoch commit targets the branch ref (the
    // epoch-replay check is line-agnostic — it scans all snapshots)
    branch: Option[String] = None) extends StreamingWrite {
  import GraftBatchWrite.TaskFiles

  // captured ONCE at query start: a mid-stream ALTER of
  // write.format.default must not relabel files the factory already
  // decided to write in the old format
  private val fileFormat = GraftBatchWrite.writeFormat(table.metadata.properties)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val staging = table.locations.newDataLocation(java.util.UUID.randomUUID().toString)
    val batchFactory = GraftWriterFactory.forTable(table.spark, table.metadata,
      staging, fileFormat)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        batchFactory.createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (Streaming.isEpochCommitted(table, epochId, queryId)) {
      abort(epochId, messages); return
    }
    val m = table.metadata
    // metrics were computed executor-side (GraftFanoutWriter.commit);
    // the epoch commit is metadata-only on the driver
    val files = messages.collect { case TaskFiles(fs) => fs }.flatten
      .map(_.toDataFile(m, fileFormat)).toSeq
    val summary = Map(Streaming.EpochKey -> epochId.toString,
      Streaming.QueryKey -> queryId)
    val upsert = m.properties.get("write.upsert.enabled").contains("true")
    // the epoch summary rides EVERY commit shape — a truncate epoch
    // without it would make replays undetectable
    if (truncateFirst)
      Commits.overwriteByFilter(table, AlwaysTrue, files, summary, branch)
    else if (upsert && files.nonEmpty) {
      // streaming upsert (Iceberg's write.upsert.enabled shape, keys via
      // the write.upsert.key-columns property): the epoch commits ONE
      // RowDelta of equality deletes on the batch's keys + the new data
      // files. Sequence gating is strict (> not >=), so the deletes erase
      // prior versions of each key but never the rows of this epoch. Keys
      // are re-read from the just-written files, key columns only — one
      // distributed columnar job bounded by the epoch's own output.
      val keyCols = m.properties.getOrElse("write.upsert.key-columns",
        throw new IllegalArgumentException(
          "write.upsert.enabled requires write.upsert.key-columns"))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val missing = keyCols.filterNot(m.schema.fieldNames.contains)
      require(missing.isEmpty, s"write.upsert.key-columns not in schema: " +
        missing.mkString(", "))
      val spark = table.spark
      fileFormat match {
        case FileFormats.Parquet | FileFormats.Orc =>
        case other => throw new UnsupportedOperationException(
          s"streaming upsert requires parquet or orc data files, not $other")
      }
      // descriptor-backed read of JUST the key columns: a high-fanout
      // epoch (hundreds of files) must not stat every path on the driver
      val keySchema = org.apache.spark.sql.types.StructType(keyCols.map { c =>
        val f = m.schema.fields(m.schema.fieldIndex(c))
        org.apache.spark.sql.types.StructField(f.name,
          Types.cleanType(f.dataType), nullable = true)
      })
      // persisted: the dup check AND delete staging both consume this —
      // unpersisted, each would re-read every epoch data file
      val keys = DataFileIO.indexedDF(spark, files, fileFormat, keySchema)
        .persist()
      try {
        // two rows with one key INSIDE an epoch would both survive (the
        // epoch's deletes are strictly older-sequence-gated and never touch
        // its own files), silently breaking the one-row-per-key invariant —
        // and "which row wins" is undefined in an unordered batch. Fail the
        // epoch with the offending key instead.
        import org.apache.spark.sql.functions.{col, count, lit}
        val dup = keys.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).limit(1).collect()
        if (dup.nonEmpty)
          throw new IllegalStateException(
            "streaming upsert epoch contains duplicate key " +
            keyCols.zipWithIndex.map { case (c, i) => s"$c=${dup(0).get(i)}" }
              .mkString("(", ", ", ")") +
            "; deduplicate upstream (e.g. dropDuplicates on the key columns)")
        val deleteFiles = Deletes.stageEqualityDeletes(table, keys)
        Commits.rowDelta(table, files, deleteFiles, summary = summary,
          branch = branch)
      } finally keys.unpersist(false)
    } else branch match {
      case Some(b) => Commits.appendToBranch(table, b, files, summary)
      case None => Commits.fastAppend(table, files, summary)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case TaskFiles(fs) => fs }.flatten.foreach {
      sf => table.ops.io.deleteIfExists(sf.path)
    }
}
