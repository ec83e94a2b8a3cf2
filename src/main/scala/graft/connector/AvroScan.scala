package graft.connector

import graft.format.AvroIO
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.connector.read.{PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Scan over a group of Avro data files (reference
  * core/.../avro/Avro.java read path + ProjectionDatumReader): Spark ships
  * no Avro datasource in this build, so graft reads the files itself;
  * readers stream GenericRecords through AvroIO's resolving projection
  * into InternalRows.
  *
  * A Spark FileScan: container files are sequences of sync-delimited
  * blocks, so Spark's split planner may cut large files into byte ranges
  * (each reader syncs to the first block after its range start and stops
  * past its range end, exactly Avro's own MapReduce split contract) and
  * bin-packs small ones. No column stats exist, so there is no row-group
  * pushdown to lose — file-level pruning already happened in planFiles,
  * and Spark re-applies every filter above this scan. */
final case class GraftAvroScan(
    sparkSession: SparkSession,
    fileIndex: PartitioningAwareFileIndex,
    dataSchema: StructType,
    readDataSchema: StructType,
    readPartitionSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends GraftFileScan {

  override def createReaderFactory(): PartitionReaderFactory =
    AvroReaderFactory(hadoopConf, layout, fileSourceOptions)
}

final case class AvroReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    layout: GroupLayout,
    options: FileSourceOptions)
  extends FilePartitionReaderFactory {

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val end =
      if (GroupLayout.reachesEnd(file)) Long.MaxValue else file.start + file.length
    val it = AvroIO.open(file.toPath.toString, layout.fileSchema, conf.value.value,
      file.start, end)
    new LayoutRowReader(layout, file, it, () => it.read(), fresh = true)
  }
}
