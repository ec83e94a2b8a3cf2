package graft.connector

import graft.format.MetaTables.ManifestReadSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** One scan task: a slice of manifests to parse (reference
  * core/.../DataFilesTable.java ManifestReadTask — one task per manifest;
  * we pack several per task so a 10⁵-manifest table doesn't schedule 10⁵
  * tiny tasks). Carries (path, specId) pairs only — entry rows are parsed
  * executor-side, never materialized on the driver. */
final case class ManifestSlicePartition(slice: Seq[(String, Int)])
  extends InputPartition

/** DSv2 metadata table whose rows SCALE WITH DATA FILES (`t$files`,
  * `t$entries`, `t$data_files`, `t$all_*`, …): the driver plans manifest
  * groups ([[MetaScanTable.fanOut]]); executors parse manifests into rows.
  * Contrast [[RowsTable]] (snapshots/history/…), whose row count is the
  * snapshot-log size. Built by [[graft.format.MetaTables.table]]. */
final case class MetaScanTable(ident: String,
    manifests: Seq[(String, Int)],
    spec: ManifestReadSpec,
    tableSchema: StructType) extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String = s"graft-meta $ident"
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            MetaScanTable.fanOut(manifests)
              .map(g => ManifestSlicePartition(g): InputPartition).toArray
          override def createReaderFactory(): PartitionReaderFactory =
            MetaScanReaderFactory(spec, tableSchema)
        }
      }
    }
}

object MetaScanTable {
  /** The fan-out of every metadata scan: `items` dealt round-robin over
    * min(n, max(1, 2 × defaultParallelism)) tasks, so a wide table spreads
    * across the cluster without scheduling one task per item. */
  def fanOut[A](items: Seq[A]): Seq[Seq[A]] = {
    val n = math.min(items.size,
      math.max(1, 2 * SparkSession.active.sparkContext.defaultParallelism))
    val groups = Array.fill(n)(Seq.newBuilder[A])
    items.zipWithIndex.foreach { case (x, i) => groups(i % n) += x }
    groups.map(_.result()).toSeq
  }
}

final case class MetaScanReaderFactory(spec: ManifestReadSpec,
    schema: StructType) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val ser =
        ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
      // one manifest parsed at a time: peak memory is one manifest's
      // entries, not the slice's
      private val it = p.asInstanceOf[ManifestSlicePartition].slice.iterator
        .flatMap { case (path, specId) => spec.rows(path, specId) }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = ser(it.next()).copy(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}
