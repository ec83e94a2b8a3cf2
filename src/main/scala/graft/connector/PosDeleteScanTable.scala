package graft.connector

import graft.format.{DataFile, DvSlice, Dvs, FileFormats, GraftTable, HadoopFileIO, ParquetIO, PosScope, PositionDeleteReader}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** One task: the parquet position-delete files and DV blobs it decodes.
  * Small serializable descriptors only — positions materialize
  * executor-side. */
final case class PosDeletePartition(scope: PosScope) extends InputPartition

/** DSv2 `t$position_deletes` table: every live deleted position of the
  * position-delete files and DV blobs `files` as (data file_path, pos,
  * delete_file_path), all three canonical. Row count scales with the
  * table's DELETE state, so rows never touch the driver: the delete files
  * and blobs are dealt over tasks by [[MetaScanTable.fanOut]] and each is
  * decoded where its task runs by [[PositionDeleteReader]], with the Hadoop
  * conf the table was loaded with, broadcast once. Position-delete
  * compaction reads its positions through this table too. Built by
  * [[graft.format.MetaTables.table]]. */
final case class PosDeleteScanTable(ident: String, files: Seq[DataFile],
    conf: Broadcast[SerializableConfiguration]) extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = PosDeleteScanTable.Schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PosDeleteScanTable.Schema
        override def description(): String = s"graft-position-deletes $ident"
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val (dvFiles, parquet) = files.partition(_.fileFormat == FileFormats.Puffin)
            val sources: Seq[Either[String, DvSlice]] =
              parquet.map(_.path).distinct.sorted.map(Left(_)) ++
                Dvs.slicesOf(dvFiles).map(Right(_))
            MetaScanTable.fanOut(sources).map(g => PosDeletePartition(PosScope(
              g.collect { case Left(p) => p }, g.collect { case Right(s) => s }))
              : InputPartition).toArray
          }
          override def createReaderFactory(): PartitionReaderFactory =
            PosDeleteReaderFactory(conf)
        }
      }
    }
}

object PosDeleteScanTable {
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("pos", LongType),
    StructField("delete_file_path", StringType)))

  /** The table over `files`, reading with `t`'s session Hadoop conf. */
  def of(t: GraftTable, ident: String, files: Seq[DataFile]): PosDeleteScanTable =
    PosDeleteScanTable(ident, files,
      HadoopFileIO.broadcastConf(t.spark, t.spark.sessionState.newHadoopConf()))
}

final case class PosDeleteReaderFactory(conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val scope = p.asInstanceOf[PosDeletePartition].scope
      // one delete file or blob decoded at a time, into compact bitmaps;
      // rows stream out of them
      private val it: Iterator[InternalRow] =
        (scope.paths.iterator.map(f => (f, Seq(f), Seq.empty[DvSlice])) ++
          scope.dvs.iterator.map(s => (s.path, Seq.empty[String], Seq(s)))).flatMap {
          case (source, paths, dvs) =>
            val src = UTF8String.fromString(ParquetIO.canonPath(source))
            PositionDeleteReader.read(paths, dvs, conf.value.value).toSeq
              .sortBy(_._1).iterator.flatMap { case (target, positions) =>
                val file = UTF8String.fromString(target)
                val longs = positions.getLongIterator
                Iterator.continually(longs).takeWhile(_.hasNext)
                  .map(l => InternalRow(file, l.next(), src))
              }
        }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}
