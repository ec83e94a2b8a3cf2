package graft.connector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** Read-only DSv2 table over driver-side rows — how the metadata tables
  * that are not read by a distributed scan surface in SQL
  * (`graft.db.\`t$snapshots\``). The reference serves these from
  * StaticDataTask rows (core/.../StaticDataTask.java); Spark's `LocalScan`
  * turns ours into a LocalRelation. The snapshot-log-scale tables are
  * built on the driver and launch no job; `$partitions` is a distributed
  * aggregate over the files relation, so `rows()` runs that job and
  * collects its result to the driver. */
final case class RowsTable(ident: String, df: DataFrame) extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = df.schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = {
          val enc = ExpressionEncoder(RowEncoder.encoderFor(df.schema))
          val ser = enc.createSerializer()
          df.collect().map(r => ser(r).copy())
        }
        override def readSchema(): StructType = df.schema
      }
    }
}
