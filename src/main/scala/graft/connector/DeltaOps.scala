package graft.connector

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Merge-on-read row-level operations (SupportsDelta → WriteDelta):
  * instead of rewriting every file that contains a match (copy-on-write),
  * the operation emits POSITION DELETES for matched rows plus data files
  * for inserts/updated rows, committed as one RowDelta — the write cost is
  * proportional to the CHANGE, not to the files touched. This is the
  * natural fit for the reference's v2 delete design (api/.../RowDelta.java,
  * PositionDeleteWriter): the commit algebra and delete-applying scans
  * already exist; this wires Spark's delta planner onto them.
  *
  * Mode selection is per-command via Iceberg-named table properties
  * `write.delete.mode` / `write.update.mode` / `write.merge.mode`
  * (`copy-on-write` default, `merge-on-read` opt-in). Reads after a
  * merge-on-read commit apply the deletes on the fly (parquet row-index /
  * ORC row-path counter); compaction materializes them away.
  */
final class GraftDeltaOperation(spark: SparkSession, table: GraftTable,
    cmd: RowLevelOperation.Command,
    // `t.branch_x` identifier target: the operation reads the BRANCH head
    // and the RowDelta commits to the branch ref — main is never touched
    branch: Option[String] = None) extends RowLevelOperation with SupportsDelta {

  // snapshot the operation read: the commit validates its position-delete
  // targets are still live when the table advanced in between
  private val baseSnapshot =
    new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft merge-on-read $cmd"

  /** Matched rows are addressed by (file, position) — the position-delete
    * key (reference PositionDelete<T>). */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftSparkTable.FileColumn),
      Expressions.column(GraftSparkTable.PosColumn))

  /** An updated row may land in a different partition (the update can
    * change partition-source columns), so updates are DELETE + REINSERT —
    * same choice as the reference's Spark integration. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** A NORMAL scan: row-level filters push down (matched rows only are
    * needed — there is no carry-over set in a delta plan); `_file`/`_pos`
    * arrive via the metadata-column machinery. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val head = branch.map(b => table.metadata.refSnapshotId(b).getOrElse(
        throw new IllegalArgumentException(s"no such branch: $b")))
      .orElse(table.currentSnapshot.map(_.snapshotId))
    baseSnapshot.set(head)
    var s = table.newScan()
    // branch pin keeps the CURRENT schema (branch semantics) — see
    // GraftRowLevelOperation.newScanBuilder
    head.filter(_ => branch.isDefined).foreach(id =>
      s = s.useSnapshot(id).withCurrentSchema)
    new GraftScanBuilder(spark, table, s, options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite
        with RequiresDistributionAndOrdering {
        override def description(): String = s"graft row-delta $cmd"
        // sort each task's rows by (_file, _pos), nulls first: insert rows
        // (null metadata) lead, delete rows follow in position order — the
        // writer then STREAMS deletes to one sorted file per task instead
        // of buffering every (path, pos) tuple on heap and sorting at
        // commit (reference SparkPositionDeltaWrite orders by
        // _spec_id/_partition/_file/_pos the same way). Distribution stays
        // unspecified: clustering by _file would funnel all insert rows
        // (null _file) into one task.
        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions
            .unspecified()
        override def requiredOrdering():
            Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array(
            Expressions.sort(
              Expressions.column(GraftSparkTable.FileColumn),
              org.apache.spark.sql.connector.expressions.SortDirection
                .ASCENDING),
            Expressions.sort(
              Expressions.column(GraftSparkTable.PosColumn),
              org.apache.spark.sql.connector.expressions.SortDirection
                .ASCENDING))
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(table, () => baseSnapshot.get(), branch)
      }
    }
}

/** One atomic RowDelta commit: executor tasks fan out data files for
  * inserted/updated rows (the same writers batch INSERT uses) and one
  * sorted position-delete file per task; the driver commit is pure
  * metadata (reference BaseRowDelta). */
final class GraftDeltaBatchWrite(table: GraftTable,
    base: () => Option[Long] = () => None,
    branch: Option[String] = None) extends DeltaBatchWrite {
  import GraftBatchWrite._

  private val m = table.metadata
  private val stagingDir =
    table.locations.newDataLocation(java.util.UUID.randomUUID().toString)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(writeSchema(m), m.schema, specFields(m), stagingDir,
      HadoopFileIO.broadcastConf(table.spark, ParquetIO.writeConf(table.spark)),
      Metrics.modesFor(m.schema, m.properties),
      writeFormat(m.properties), m.properties,
      dvMode = Dvs.enabled(m), m.currentSchemaId, m.defaultSpecId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fmt = writeFormat(m.properties)
    val (dataMsgs, deleteMsgs, dvMsgs) = messages.collect {
      case GraftDeltaWriterFactory.DeltaTaskFiles(data, dels, dvs) =>
        (data, dels, dvs)
    }.unzip3
    val dataFiles = dataMsgs.flatten.map(_.toDataFile(m, fmt)).toSeq
    val deleteFiles = deleteMsgs.flatten
      .map(_.toDataFile(m, FileFormats.Parquet, FileContent.PositionDeletes))
      .toSeq ++ dvMsgs.flatten.toSeq
    if (dataFiles.nonEmpty || deleteFiles.nonEmpty)
      Commits.rowDelta(table, dataFiles, deleteFiles, base(), branch = branch)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case GraftDeltaWriterFactory.DeltaTaskFiles(data, dels, dvs) =>
      (data.map(_.path) ++ dels.map(_.path) ++ dvs.map(_.path).distinct)
        .foreach(p => table.ops.io.deleteIfExists(p))
    }
}

object GraftDeltaWriterFactory {
  /** Commit message: data files (inserts/updated rows) + position-delete
    * files with task-computed metrics + (v3) deletion-vector descriptors,
    * which are complete manifest entries already. */
  final case class DeltaTaskFiles(data: Seq[GraftBatchWrite.StagedFile],
      deletes: Seq[GraftBatchWrite.StagedFile],
      dvs: Seq[DataFile] = Nil) extends WriterCommitMessage
}

/** Writer factory of merge-on-read row-level DML: inserts through the
  * fanout writers, deletes as position-delete files or deletion vectors.
  * Executors get the Hadoop conf through the write's one broadcast
  * `conf`. */
final class GraftDeltaWriterFactory(schema: StructType, idSchema: StructType,
    fields: Seq[GraftBatchWrite.SpecField], stagingDir: String,
    conf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    statModes: Map[Int, Metrics.Mode],
    format: String,
    props: Map[String, String],
    dvMode: Boolean = false,
    schemaId: Int = 0,
    specId: Int = 0) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val hconf = conf.value.value
      // inserts ride the SAME fanout writers batch INSERT uses
      private val inserts = new GraftFanoutWriter(schema, idSchema, fields,
        stagingDir, partitionId, taskId, hconf, statModes, format, props)
      // DV mode: per-file roaring bitmaps, built as rows arrive (compact —
      // a 100M-position mask is tens of MB, never a tuple-per-row buffer)
      private val canonOf = scala.collection.mutable.HashMap[String, String]()
      private val byFile = scala.collection.mutable
        .HashMap[String, org.roaringbitmap.longlong.Roaring64NavigableMap]()
      private var dvPath: String = null
      // parquet mode: deletes STREAM to one sorted file per task — the
      // write declares ordering by (_file, _pos), so rows arrive sorted
      // (reference PositionDeleteWriter requires sorted input) and no
      // task-level (path, pos) buffer or commit-time sort is needed
      private val deletes = new PositionDeleteWriter(
        s"$stagingDir/delete-$partitionId-$taskId-${java.util.UUID.randomUUID()}.parquet",
        hconf, props)

      override def insert(row: InternalRow): Unit = inserts.write(row)

      override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
        insert(row)

      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        if (dvMode) {
          val f = id.getUTF8String(0).toString
          byFile.getOrElseUpdate(
            canonOf.getOrElseUpdate(f, ParquetIO.canonPath(f)),
            new org.roaringbitmap.longlong.Roaring64NavigableMap()).addLong(id.getLong(1))
        } else deletes.write(id.getUTF8String(0), id.getLong(1))

      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        // unreachable with representUpdateAsDeleteAndInsert=true, but keep
        // the semantics anyway
        delete(metadata, id)
        insert(row)
      }

      override def commit(): WriterCommitMessage = {
        val dataFiles = inserts.commit() match {
          case GraftBatchWrite.TaskFiles(fs) => fs
          case other => throw new IllegalStateException(s"unexpected $other")
        }
        if (dvMode && byFile.nonEmpty) {
          // v3: one puffin file per task, one bitmap blob per data file
          DataFileIO.mkdirs(stagingDir, hconf)
          dvPath = s"$stagingDir/dv-$partitionId-$taskId-" +
            s"${java.util.UUID.randomUUID()}.puffin"
          val dvFiles = Dvs.writePuffin(dvPath, byFile.toSeq, schemaId, specId,
            hconf)
          return GraftDeltaWriterFactory.DeltaTaskFiles(dataFiles, Nil, dvFiles)
        }
        GraftDeltaWriterFactory.DeltaTaskFiles(dataFiles, deletes.finish().toSeq)
      }

      // a failure after the delete or DV write must clean those files too,
      // or the staged file leaks until an orphan sweep (and each retry
      // leaks one)
      override def abort(): Unit = {
        inserts.abort()
        deletes.abort()
        if (dvPath != null) {
          val hp = new org.apache.hadoop.fs.Path(dvPath)
          try hp.getFileSystem(hconf).delete(hp, false)
          catch { case _: java.io.IOException => () }
        }
      }
      override def close(): Unit = ()
    }
}
