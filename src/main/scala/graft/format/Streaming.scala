package graft.format

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter

/** Structured-Streaming integration.
  *
  * Sink: epoch-idempotent commits — a replayed epoch is detected by scanning
  * recent snapshots' `streaming.epoch-id` summary and skipped, exactly the
  * reference's trick (spark2/.../StreamingWriter.java:42-98, dedup :60-68).
  * Append mode → fastAppend; Complete mode → overwrite-all (:70-86).
  *
  * Source: micro-batch incremental reads — each poll plans only files ADDED
  * since the last consumed snapshot, the reference's MicroBatches model
  * (core/.../MicroBatches.java:41-123) with offset = snapshot id.
  */
object Streaming {

  val EpochKey = "streaming.epoch-id"
  val QueryKey = "streaming.query-id"

  /** Shared replay predicate: was `epochId` of `queryId` already committed
    * to this table? ONE implementation for the library sink and the DSv2
    * StreamingWrite so the dedup scheme cannot drift between them. */
  def isEpochCommitted(table: GraftTable, epochId: Long,
      queryId: String): Boolean =
    table.metadata.snapshots.exists(s =>
      s.summary.get(EpochKey).contains(epochId.toString) &&
        s.summary.get(QueryKey).contains(queryId))

  /** Idempotent epoch commit for foreachBatch sinks. Returns false when the
    * epoch was already committed (replay after failure). */
  def commitEpoch(table: GraftTable, df: DataFrame, epochId: Long,
      queryId: String = "default", complete: Boolean = false): Boolean = {
    if (isEpochCommitted(table, epochId, queryId)) return false
    val files = GraftWrite.writeFiles(table, df)
    val summary = Map(EpochKey -> epochId.toString, QueryKey -> queryId)
    if (complete) {
      // Complete mode: replace the whole table (OverwriteFiles alwaysTrue).
      // The epoch summary MUST ride the overwrite snapshot too — dropping
      // it would make a replayed Complete epoch undetectable (a spurious
      // duplicate overwrite + duplicate changelog downstream)
      Commits.overwriteByFilter(table, AlwaysTrue, files, summary)
    } else {
      Commits.fastAppend(table, files, summary)
    }
    true
  }

  /** foreachBatch-ready sink function. */
  def sink(table: GraftTable, queryId: String = "default")
      : (DataFrame, Long) => Unit =
    (df, epochId) => { commitEpoch(table, df, epochId, queryId); () }

  /** Attach the epoch-dedup sink to a stream writer. */
  def writeTo[T](w: DataStreamWriter[T], table: GraftTable,
      queryId: String = "default"): DataStreamWriter[T] =
    w.foreachBatch((batch: org.apache.spark.sql.Dataset[T], epochId: Long) =>
      { commitEpoch(table, batch.toDF(), epochId, queryId); () })

  /** Micro-batch offset: (snapshot id, files already consumed within that
    * snapshot) — the reference's StreamingOffset position model
    * (spark/.../source/StreamingOffset.java, sliced by
    * core/.../MicroBatches.java:41-123), so one oversized snapshot splits
    * across several size-budgeted batches at FILE granularity. */
  final case class StreamOffset(snapshotId: Long, fileIdx: Int)

  /** Every (snapshotId, index, task) not yet consumed at `from`: oldest
    * snapshot first, manifest order within a snapshot. Shared by the
    * library source and the DSv2 MicroBatchStream. `head` overrides the
    * commit line being followed (a branch ref's head instead of main). */
  private[graft] def pendingFiles(table: GraftTable,
      from: StreamOffset, head: Option[Long] = None): Seq[(Long, Int, FileScanTask)] = {
    val m = table.metadata
    val current = head.orElse(m.currentSnapshotId).getOrElse(0L)
    m.ancestors(Some(current))
      .filter(s =>
        s.snapshotId > from.snapshotId ||
          // the from snapshot only needs re-planning when PARTIALLY
          // consumed — a fully-consumed one (MaxValue sentinel: initial
          // load, start-snapshot-id, caught-up offset) must be skipped
          // outright, or a consumed OVERWRITE snapshot (e.g. a streaming
          // upsert epoch) would crash every subsequent poll inside
          // appendsBetween and leave the stream permanently stuck with no
          // restart path
          (s.snapshotId == from.snapshotId && from.fileIdx != Int.MaxValue))
      .sortBy(_.snapshotId)
      .flatMap { s =>
        // exclusive bound = the snapshot's REAL parent ("files added by
        // exactly s"): on a branch line the numeric predecessor can be a
        // non-ancestor main-line commit, which the divergence guard in
        // TableScan.planFiles rightly rejects
        val tasks = table.newScan()
          .appendsBetween(s.parentId.getOrElse(0L), s.snapshotId).planFiles().tasks
        val start =
          if (s.snapshotId == from.snapshotId) math.min(from.fileIdx, tasks.size)
          else 0
        tasks.zipWithIndex.drop(start).map { case (t, i) => (s.snapshotId, i, t) }
      }
  }

  /** Slice `pending` against a byte budget (always at least one file —
    * reference MicroBatches.java:112-123); returns the batch and the
    * offset AFTER it. */
  private[graft] def takeBudget(pending: Seq[(Long, Int, FileScanTask)],
      from: StreamOffset, maxBytes: Long): (Seq[FileScanTask], StreamOffset) = {
    var bytes = 0L
    var off = from
    var full = false
    val out = Seq.newBuilder[FileScanTask]
    pending.foreach { case (snap, i, t) =>
      if (!full) {
        if (bytes > 0 && bytes + t.file.fileSizeInBytes > maxBytes) full = true
        else {
          out += t
          bytes += t.file.fileSizeInBytes
          off = StreamOffset(snap, i + 1)
        }
      }
    }
    (out.result(), off)
  }

  /** Incremental micro-batch source: stateful poller that returns the new
    * appended rows (and advances its offset) on each call — the
    * MicroBatchStream latestOffset/planInputPartitions cycle as a library
    * surface. */
  final class IncrementalSource(table: GraftTable, startSnapshotId: Option[Long] = None,
      maxBytesPerBatch: Long = Long.MaxValue) {
    // fileIdx = MaxValue marks the offset snapshot as FULLY consumed (the
    // start snapshot's own rows are never re-read)
    @volatile private var offset: StreamOffset =
      StreamOffset(startSnapshotId.getOrElse(0L), Int.MaxValue)

    def currentOffset: StreamOffset = offset

    /** Rows appended since the last poll; None when caught up. Batches are
      * sliced at file granularity against `maxBytesPerBatch` (always at
      * least one file per batch — reference MicroBatches.java:112-123
      * `targetSizeInBytes`), so a single huge snapshot cannot force a huge
      * batch. */
    def nextBatch(): Option[DataFrame] = {
      val current = table.metadata.currentSnapshotId.getOrElse(0L)
      if (offset.snapshotId == 0L && startSnapshotId.isEmpty) {
        if (current == 0L) return None
        offset = StreamOffset(current, Int.MaxValue)
        // initial load: full state of EXACTLY the offset snapshot — an
        // unpinned scan would re-resolve at plan time and include rows a
        // concurrent writer committed after `current` was read, which the
        // next poll then replays (duplicates)
        return Some(table.newScan().useSnapshot(current).toDF())
      }
      val (tasks, next) =
        takeBudget(pendingFiles(table, offset), offset, maxBytesPerBatch)
      if (tasks.isEmpty) return None
      offset = next
      Some(table.newScan().read(ScanPlan(tasks, Nil, 0, 0, 0L, tasks.size)))
    }
  }

  def incrementalSource(table: GraftTable, startSnapshotId: Option[Long] = None,
      maxBytesPerBatch: Long = Long.MaxValue): IncrementalSource =
    new IncrementalSource(table, startSnapshotId, maxBytesPerBatch)

  /** CDC micro-batch source: each poll emits the row-level changelog
    * ([[Changes.between]]) for the snapshots committed since the last poll
    * and advances a snapshot-id offset. Unlike [[IncrementalSource]] (the
    * reference's appends-only model), every DML commit streams — deletes and
    * overwrites arrive as DELETE rows — while `replace` commits (compaction)
    * pass silently instead of poisoning the stream. Batches slice at COMMIT
    * granularity: `maxSnapshotsPerBatch` bounds how many commits one batch
    * spans (their `_change_ordinal` restarts at 0 per batch), and I/O per
    * batch is bounded by those commits' churn, not table size. */
  final class ChangelogSource(table: GraftTable,
      startSnapshotId: Option[Long] = None,
      maxSnapshotsPerBatch: Int = Int.MaxValue) {
    require(maxSnapshotsPerBatch > 0, "maxSnapshotsPerBatch must be positive")
    // None = stream from table creation (first batch replays full history)
    @volatile private var offset: Option[Long] = startSnapshotId

    def currentOffset: Option[Long] = offset

    /** Changes committed since the last poll; None when caught up. */
    def nextBatch(): Option[DataFrame] = {
      val m = table.metadata
      val current = m.currentSnapshotId match {
        case Some(id) => id
        case None => return None
      }
      if (offset.contains(current)) return None
      val chain = m.ancestors(Some(current)) // oldest first
      val pending = offset match {
        case Some(f) =>
          val i = chain.indexWhere(_.snapshotId == f)
          require(i >= 0, s"offset snapshot $f is no longer an ancestor of " +
            s"$current (rollback or expiry past the stream's position)")
          chain.drop(i + 1)
        case None => chain
      }
      if (pending.isEmpty) return None
      val to = pending.take(maxSnapshotsPerBatch).last.snapshotId
      val df = Changes.between(table, offset, Some(to))
      offset = Some(to)
      Some(df)
    }
  }

  def changelogSource(table: GraftTable, startSnapshotId: Option[Long] = None,
      maxSnapshotsPerBatch: Int = Int.MaxValue): ChangelogSource =
    new ChangelogSource(table, startSnapshotId, maxSnapshotsPerBatch)
}
