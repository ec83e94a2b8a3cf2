package graft.connector

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
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
  * Every batch is one [[GraftScan]] over a pinned plan, read in the
  * stream's query-start schema — the reference's MicroBatches model
  * (core/.../MicroBatches.java:41-123): a batch only slices added files
  * into ordinary scan tasks, and the batch readers read them.
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
  // deletes applied — raw appended files would resurrect deleted rows (and
  // every superseded upsert version) in the first batch of a MoR table ----
  @volatile private var pinnedInitial: Long = 0L
  /** The stream's own initial-load snapshot: pinned at first resolution
    * (re-resolved only while the table is still empty). */
  private def initialSnapshot(): Long = {
    if (pinnedInitial == 0L)
      pinnedInitial = head().map(_.snapshotId).getOrElse(0L)
    pinnedInitial
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

  // The stream's ROW LAYOUT is frozen at query start: Spark fixes a
  // stream's output schema per run, so every batch reads in `declared`
  // even when the table's schema changes mid-stream. Files of any
  // generation, mid-stream ones included, resolve against it by field id
  // as in batch reads (renames stream their data, columns added after the
  // query started are absent, pre-add files take the column's default).
  private val declared: StructType = table.metadata.schema

  /** The one scan of the last planned batch, keyed by its (start, end).
    * Spark plans a batch's partitions before it creates the batch's reader
    * factory, so the factory is that scan's own. A checkpoint replay of
    * the initial batch carries the ORIGINAL end offset, so the scan is
    * built for exactly the offset's snapshot. */
  @volatile private var planned: ((FileSliceOffset, FileSliceOffset), GraftScan) = null

  private def scanOf(base: TableScan, pinned: Option[ScanPlan]): GraftScan =
    new GraftScanBuilder(spark, table, base.withSchema(declared),
      options, groupGranular = false, onPlan = _ => (), onRuntimeFilter = _ => (),
      pinnedPlan = pinned, bins = Nil).build().asInstanceOf[GraftScan]

  private def batchScan(from: FileSliceOffset, to: FileSliceOffset): GraftScan = {
    val memo = planned
    if (memo != null && memo._1 == (from, to)) return memo._2
    val scan =
      if (from != to && from.snapshotId == 0L)
        scanOf(table.newScan().useSnapshot(to.snapshotId), None)
      else {
        val tasks = if (from == to) Nil else pendingFor(from.toStream)
          .takeWhile { case (snap, i, _) =>
            snap < to.snapshotId || (snap == to.snapshotId && i < to.fileIdx)
          }
          .map(_._3)
        scanOf(table.newScan(), Some(ScanPlan(tasks, Nil, 0, 0, 0L, tasks.size)))
      }
    planned = ((from, to), scan)
    scan
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

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    batchScan(start.asInstanceOf[FileSliceOffset], end.asInstanceOf[FileSliceOffset])
      .toBatch.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory = {
    val memo = planned
    if (memo == null)
      throw new IllegalStateException("no micro-batch was planned before its reader factory")
    val scan = memo._2
    // Spark reads a batch's rows positionally in the declared order, while
    // a scan serving a column as a partition constant (an imported hive
    // layout's identity source) emits it after the data columns
    val out = scan.readSchema()
    val order = declared.fieldNames.map(out.fieldIndex)
    val factory = scan.toBatch.createReaderFactory()
    if (order.sameElements(order.indices)) factory
    else ReorderedReaderFactory(factory, order, order.map(out(_).dataType))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A reader factory whose rows and batches carry `inner`'s columns in
  * another order: output column i is `inner`'s column `order(i)`, of type
  * `types(i)`. */
final case class ReorderedReaderFactory(inner: PartitionReaderFactory,
    order: Array[Int], types: Array[DataType]) extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.sql.vectorized.ColumnarBatch

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val project = UnsafeProjection.create(order.indices.map(i =>
      BoundReference(order(i), types(i), nullable = true)).toSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = project(r.get())
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val r = inner.createColumnarReader(p)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = r.next()
      override def get(): ColumnarBatch = {
        val b = r.get()
        new ColumnarBatch(order.map(b.column), b.numRows)
      }
      override def close(): Unit = r.close()
    }
  }
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
      import org.apache.spark.sql.functions.{col, count, lit}
      // the epoch's files read through the table scan pinned to them, in
      // any file format, key columns only. Persisted: the dup check AND
      // delete staging both consume this — unpersisted, each would re-read
      // every epoch data file
      val keys = table.newScan()
        .read(ScanPlan(files.map(FileScanTask(_, 0L, AlwaysTrue)), Nil, 0, 0, 0L, files.size))
        .select(keyCols.map(col): _*)
        .persist()
      try {
        // two rows with one key INSIDE an epoch would both survive (the
        // epoch's deletes are strictly older-sequence-gated and never touch
        // its own files), silently breaking the one-row-per-key invariant —
        // and "which row wins" is undefined in an unordered batch. Fail the
        // epoch with the offending key instead.
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
