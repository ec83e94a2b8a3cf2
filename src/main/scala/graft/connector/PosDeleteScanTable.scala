package graft.connector

import graft.format.{Dvs, DvSlice, ParquetIO}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** One task: either a parquet position-delete file to decode or a DV blob
  * to expand. Small serializable descriptors only — positions materialize
  * executor-side. */
final case class PosDeletePartition(parquet: Option[String], dv: Option[DvSlice])
  extends InputPartition

/** DSv2 `t$position_deletes` table: every live deleted position as
  * (data file_path, pos, delete_file_path). Row count scales with the
  * table's DELETE state (arbitrarily large on a heavy merge-on-read
  * table), so rows never touch the driver: one InputPartition per delete
  * file / DV blob, decoded where the task runs, with the Hadoop conf the
  * table was loaded with, broadcast once. */
final case class PosDeleteScanTable(ident: String,
    parquetPaths: Seq[String], dvs: Seq[DvSlice],
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
          override def planInputPartitions(): Array[InputPartition] =
            (parquetPaths.map(p => PosDeletePartition(Some(p), None)) ++
              dvs.map(s => PosDeletePartition(None, Some(s))))
              .toArray[InputPartition]
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
}

final case class PosDeleteReaderFactory(conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val ser = ExpressionEncoder(
        RowEncoder.encoderFor(PosDeleteScanTable.Schema)).createSerializer()
      // parquet files STREAM row by row — a 100M-position delete file must
      // not materialize as boxed rows in the task; DV blobs stream from
      // their (in-memory, compact) bitmap
      private var openReader: org.apache.parquet.hadoop.ParquetReader[
        org.apache.spark.sql.catalyst.InternalRow] = null
      private val it: Iterator[Row] = p.asInstanceOf[PosDeletePartition] match {
        case PosDeletePartition(Some(path), _) =>
          val schema = StructType(Seq(StructField("file_path", StringType),
            StructField("pos", LongType)))
          val src = ParquetIO.canonPath(path)
          openReader = ParquetIO.open(path, schema, conf.value.value)
          new Iterator[Row] {
            private var row = advance()
            private def advance(): org.apache.spark.sql.catalyst.InternalRow = {
              var r = openReader.read()
              while (r != null && (r.isNullAt(0) || r.isNullAt(1)))
                r = openReader.read()
              r
            }
            override def hasNext: Boolean = row != null
            override def next(): Row = {
              val out = Row(ParquetIO.canonPath(row.getUTF8String(0).toString),
                row.getLong(1), src)
              row = advance()
              out
            }
          }
        case PosDeletePartition(_, Some(s)) =>
          val src = ParquetIO.canonPath(s.path)
          val longs = Dvs.read(s.path, s.offset, s.length, conf.value.value)
            .getLongIterator
          new Iterator[Row] {
            override def hasNext: Boolean = longs.hasNext
            override def next(): Row = Row(s.referenced, longs.next(), src)
          }
        case _ => Iterator.empty
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = ser(it.next()).copy(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = if (openReader != null) openReader.close()
    }
}
