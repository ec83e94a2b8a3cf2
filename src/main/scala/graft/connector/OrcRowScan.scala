package graft.connector

import graft.format.OrcIO
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Scrub-routed ORC scan: ORC groups that read file positions (position
  * deletes, `_pos`, computed lineage — Spark's vectorized ORC reader fills
  * no row-index column, while position deletes are format-agnostic in the
  * reference: PositionStreamDeleteFilter,
  * core/.../deletes/Deletes.java:70-123) and groups projecting a
  * float/double leaf (orc-core's mixed-sign-zero batch collapse — see
  * OrcIO.ZeroSignScrubReader). Readers serve COLUMNAR batches: the
  * scrubbed orc-core batch wraps zero-copy into Spark's own
  * OrcColumnVector, so routed groups read at vectorized speed.
  *
  * A Spark FileScan: Spark's split planner cuts large files into byte
  * ranges (a range reads the stripes that start inside it) and bin-packs
  * small ones. */
final case class GraftOrcRowScan(
    sparkSession: SparkSession,
    fileIndex: PartitioningAwareFileIndex,
    dataSchema: StructType,
    readDataSchema: StructType,
    readPartitionSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends GraftFileScan {

  override def createReaderFactory(): PartitionReaderFactory =
    OrcRowReaderFactory(hadoopConf, layout, fileSourceOptions)
}

final case class OrcRowReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    layout: GroupLayout,
    options: FileSourceOptions)
  extends FilePartitionReaderFactory {

  /** orc-core range: the stripes whose START offset falls inside it. A
    * split that reaches the file's recorded end reads every later stripe
    * too. */
  private def rangeOf(file: PartitionedFile): Long =
    if (GroupLayout.reachesEnd(file)) Long.MaxValue - file.start else file.length

  /** The scrubbed batch wraps into Spark's own OrcColumnVector (zero copy),
    * so every configuration of this scan serves columnar batches; the row
    * index is a generated vector, partition constants and `_file` are
    * constant vectors. Spark requires all partitions of a scan to agree —
    * this is a constant, and the GroupedReaderFactory's scan-wide decision
    * (delete repackability, nested fills) still gates the final answer. */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def buildColumnarReader(file: PartitionedFile)
      : PartitionReader[ColumnarBatch] = {
    import org.apache.spark.sql.execution.datasources.orc.GraftOrcShims
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnVector
    layout.checkWhole(file)
    new PartitionReader[ColumnarBatch] {
      private val capacity = 4096
      private val it = OrcIO.openBatched(file.toPath.toString,
        layout.fileSchema, conf.value.value, capacity, file.start, rangeOf(file))
      private val wrapped =
        layout.fileSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          GraftOrcShims.wrap(f.dataType, it.batch.cols(i))
        }
      private val idxVec: OnHeapColumnVector =
        if (layout.rowIdxAt >= 0) new OnHeapColumnVector(capacity, LongType)
        else null
      private val constVecs = layout.partSchema.fields.toSeq
        .zip(layout.partValues(file)).map { case (f, v) =>
          ConstantFill.vector(capacity, f.dataType, v)
        }
      private val cols: Array[ColumnVector] =
        ((if (idxVec == null) wrapped
          else (wrapped: Seq[ColumnVector]).patch(layout.rowIdxAt, Seq(idxVec), 0)) ++
          constVecs).toArray
      private val out = new ColumnarBatch(cols, 0)
      private var rowBase = 0L

      override def next(): Boolean = {
        if (!it.nextBatch()) return false
        val n = it.batch.size
        wrapped.foreach(_.setBatchSize(n))
        if (idxVec != null) {
          idxVec.reset()
          var i = 0
          while (i < n) { idxVec.putLong(i, rowBase + i); i += 1 }
          rowBase += n
        }
        out.setNumRows(n)
        true
      }
      override def get(): ColumnarBatch = out
      override def close(): Unit = it.close()
    }
  }

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val it = OrcIO.open(file.toPath.toString, layout.fileSchema, conf.value.value,
      file.start, rangeOf(file))
    new LayoutRowReader(layout, file, it, () => it.read())
  }
}
