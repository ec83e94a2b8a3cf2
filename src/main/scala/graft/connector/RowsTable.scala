package graft.connector

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** Read-only DSv2 table over rows built on the driver when the scan is
  * planned: the metadata tables whose row count is the snapshot-log or
  * manifest-list size (`t$snapshots`, `t$history`, …; reference
  * core/.../StaticDataTask.java), and `t$partitions`, whose `load` runs
  * the aggregate over the `files` relation and brings back one row per
  * partition. Spark's `LocalScan` plans it as a local table scan.
  * Built by [[graft.format.MetaTables.table]]. */
final case class RowsTable(ident: String, tableSchema: StructType,
    load: () => Seq[Row]) extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = {
          val ser = ExpressionEncoder(RowEncoder.encoderFor(tableSchema)).createSerializer()
          load().map(r => ser(r).copy()).toArray
        }
        override def readSchema(): StructType = tableSchema
      }
    }
}
