package graft.connector

import graft.format.{GraftTable, ScanPlan, TableScan, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** The read-only relation a library scan (TableScan.toDF) materializes
  * through: batch reads of `plan`, already planned by `scan`, in `scan`'s
  * schema. Every scan builder it hands out reads exactly that plan's files
  * and deletes, so library reads and SQL share one DSv2 read path.
  * Non-empty `bins` group the plan's data files into the scan's input
  * partitions, one per bin (see [[GraftScan]]). */
private[graft] final class LibraryReadTable(spark: SparkSession,
    table: GraftTable, scan: TableScan, plan: ScanPlan,
    bins: Seq[Seq[String]] = Nil)
  extends Table with SupportsRead with SupportsMetadataColumns {

  override def name(): String = table.location

  override def schema(): StructType =
    Types.cleanType(scan.scanSchema).asInstanceOf[StructType]

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def metadataColumns(): Array[MetadataColumn] =
    GraftSparkTable.metadataColumns

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, table, scan, options, groupGranular = false,
      onPlan = _ => (), onRuntimeFilter = _ => (), pinnedPlan = Some(plan), bins = bins)
}
