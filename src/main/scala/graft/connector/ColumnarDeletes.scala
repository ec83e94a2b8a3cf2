package graft.connector

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar row-level-delete filtering — keeps the WHOLE scan vectorized
  * when row-level deletes are live.
  *
  * Spark requires every partition of a scan to agree on columnar vs row
  * output (DataSourceV2ScanExecBase: "Cannot mix row-based and columnar
  * input partitions"), so wrapping delete-bearing files in a row-path
  * filter used to drop EVERY file — including clean ones — to row reads
  * (the reference has the same cliff: SparkBatchScan.java:154-183 disables
  * vectorization whenever deletes apply). Instead we filter the columnar
  * batches themselves: clean batches pass through untouched (zero copy),
  * batches with dead rows repack survivors into fresh on-heap vectors.
  * One position delete on one file now costs a copy of that file's
  * surviving rows — not de-vectorizing a 100k-file scan.
  */
object ColumnarDeletes {

  /** Types the survivor repack can copy vector-to-vector. Nested types fall
    * back to the row path (scan-wide, decided at plan time). */
  def packable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
         StringType | BinaryType => true
    case _: DecimalType | _: TimeType => true // TIME rides the long lane
    case _ => false
  }

  /** Output (post-projection) column types for a delete group. */
  def outputTypes(cfg: GroupDeletes): Seq[DataType] =
    cfg.project.map(_.map(cfg.types)).getOrElse(cfg.types.toSeq)

  def supports(cfg: GroupDeletes): Boolean = outputTypes(cfg).forall(packable)
}

/** Batch-path delete filter (the columnar dual of DeleteFilterReader): drop
  * rows the [[DeleteProbe]] finds dead, then project away widened key /
  * synthetic row-index columns. */
final class ColumnarDeleteFilterReader(
    inner: PartitionReader[ColumnarBatch], cfg: GroupDeletes,
    dataFile: Option[String], conf: => org.apache.hadoop.conf.Configuration)
  extends PartitionReader[ColumnarBatch] {

  private var current: ColumnarBatch = _
  private var owned: ColumnarBatch = _ // repacked batch whose vectors we allocated

  private val probe = new DeleteProbe(cfg, dataFile, conf)

  private val outOrdinals: Array[Int] =
    cfg.project.map(_.toArray).getOrElse(Array.tabulate(cfg.types.length)(identity))
  private val outTypes: Array[DataType] = outOrdinals.map(cfg.types)
  private val outSchema = StructType(outTypes.zipWithIndex.map {
    case (dt, i) => StructField(s"c$i", dt)
  })
  private val identityProjection = cfg.project.isEmpty

  override def next(): Boolean = {
    while (inner.next()) {
      val batch = inner.get()
      val n = batch.numRows()
      val survivors = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n) {
        // getRow: the batch's shared cursor row, no allocation
        if (!probe.deleted(batch.getRow(i))) { survivors(k) = i; k += 1 }
        i += 1
      }
      if (k > 0) {
        closeOwned()
        current =
          if (k == n && identityProjection) batch // untouched: zero copy
          else if (k == n) // project only: re-wrap the inner vectors
            new ColumnarBatch(outOrdinals.map(batch.column), n)
          else repack(batch, survivors, k)
        return true
      }
    }
    false
  }

  /** Copy surviving rows into fresh on-heap vectors. Per-column typed loops
    * keep the per-value work monomorphic. */
  private def repack(batch: ColumnarBatch, survivors: Array[Int], k: Int): ColumnarBatch = {
    val out: Array[OnHeapColumnVector] =
      OnHeapColumnVector.allocateColumns(k, outSchema)
    var c = 0
    while (c < outTypes.length) {
      copyColumn(batch.column(outOrdinals(c)), out(c), outTypes(c), survivors, k)
      c += 1
    }
    val b = new ColumnarBatch(out.asInstanceOf[Array[ColumnVector]], k)
    owned = b
    b
  }

  private def copyColumn(src: ColumnVector, dst: WritableColumnVector,
      dt: DataType, sel: Array[Int], k: Int): Unit = {
    var j = 0
    dt match {
      case BooleanType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j) else dst.putBoolean(j, src.getBoolean(i)); j += 1 }
      case ByteType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j) else dst.putByte(j, src.getByte(i)); j += 1 }
      case ShortType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j) else dst.putShort(j, src.getShort(i)); j += 1 }
      case IntegerType | DateType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j) else dst.putInt(j, src.getInt(i)); j += 1 }
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        while (j < k) { val i = sel(j)
          if (src.isNullAt(i)) dst.putNull(j) else dst.putLong(j, src.getLong(i)); j += 1 }
      case FloatType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j) else dst.putFloat(j, src.getFloat(i)); j += 1 }
      case DoubleType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j) else dst.putDouble(j, src.getDouble(i)); j += 1 }
      case StringType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j)
        else { val b = src.getUTF8String(i).getBytes; dst.putByteArray(j, b, 0, b.length) }
        j += 1 }
      case BinaryType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j)
        else { val b = src.getBinary(i); dst.putByteArray(j, b, 0, b.length) }
        j += 1 }
      case d: DecimalType => while (j < k) { val i = sel(j)
        if (src.isNullAt(i)) dst.putNull(j)
        else dst.putDecimal(j, src.getDecimal(i, d.precision, d.scale), d.precision)
        j += 1 }
      case other => throw new IllegalStateException(
        s"unpackable type in columnar delete filter: $other") // guarded by supports()
    }
  }

  private def closeOwned(): Unit =
    if (owned != null) { owned.close(); owned = null }

  override def get(): ColumnarBatch = current
  override def close(): Unit = {
    closeOwned()
    inner.close()
  }
}
