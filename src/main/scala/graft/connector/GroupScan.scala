package graft.connector

import graft.format.{FileFormats, HadoopFileIO, Types}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.{PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.datasources.v2.orc.OrcScan
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** The reader scan of one scan group (one file format × writer-schema
  * generation). Every group is a Spark FileScan over a manifest-fed
  * [[GraftFileIndex]], so Spark's own split planner sizes and bin-packs
  * every format's reads, and every group's row layout is
  * `readDataSchema ++ readPartitionSchema`: data columns (the synthetic
  * row-index column among them when positions are read), then the
  * partition-served constants and `_file` from the files'
  * `PartitionedFile.partitionValues`. */
object GroupScan {
  /** The synthetic row-position column. Parquet's readers fill it
    * themselves; graft's ORC scrub and Avro readers count rows. */
  val RowIndexColumn: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Build a group's scan. ORC reads that carry the row index or project a
    * float/double leaf take the scrub reader ([[GraftOrcRowScan]]):
    * Spark's vectorized ORC reader fills no row-index column, and
    * orc-core's batch repetition detection compares with Java `==`, so a
    * batch holding only mixed-sign zeros collapses to the first zero's
    * sign for every consumer of the flag (OrcIO's ZeroSignScrubReader
    * restores the stored values). Other ORC reads keep Spark's vectorized
    * OrcScan; Avro reads are [[GraftAvroScan]], parquet reads Spark's
    * ParquetScan. `filters` are pushed to the readers that take them and
    * are always re-applied above the scan. */
  def apply(spark: SparkSession, format: String,
      index: PartitioningAwareFileIndex, dataSchema: StructType,
      readSchema: StructType, partSchema: StructType, filters: Array[Filter],
      options: CaseInsensitiveStringMap): FileScan = format match {
    case FileFormats.Orc if readSchema.fields.exists(f =>
        f.name == RowIndexColumn || Types.hasFloatLeaf(f.dataType)) =>
      GraftOrcRowScan(spark, index, dataSchema, readSchema, partSchema, options)
    case FileFormats.Orc =>
      OrcScan(spark, spark.sessionState.newHadoopConf(), index,
        dataSchema = dataSchema, readDataSchema = readSchema,
        readPartitionSchema = partSchema, options = options,
        pushedAggregate = None, pushedFilters = filters.filter(orcSargSafe))
    case FileFormats.Avro =>
      GraftAvroScan(spark, index, dataSchema, readSchema, partSchema, options)
    case _ =>
      ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
        dataSchema = dataSchema, readDataSchema = readSchema,
        readPartitionSchema = partSchema, pushedFilters = filters,
        options = options)
  }

  /** Safe to hand to ORC's search-argument builder: no ORDER comparison on
    * a string or timestamp value.
    *  - Strings: ORC stats order by UTF-16 unit, Spark by UTF-8/codepoint —
    *    a disagreement on astral codepoints makes ORC's "row group cannot
    *    match" conclusion wrong, losing rows the post-scan residual cannot
    *    undo (caught by the round-20 workload fuzzer).
    *  - Timestamps: ORC's sarg works at MILLISECOND granularity, so
    *    sub-millisecond literals tie with same-millisecond data and both
    *    ORDER and EQUALITY comparisons wrongly prove "cannot match"
    *    (`ts < timestamp_micros(1)` pruned a ts=0 row, and
    *    `ts = timestamp_micros(5)` pruned the matching row — round-20
    *    fuzz findings). EVERY timestamp comparison stays Spark-side.
    * String equality/membership is exact under either order: a value
    * present in the file lies within the stats range computed the same
    * way. Null tests ride exact null counts and always stay pushed. */
  private def orcSargSafe(f: Filter): Boolean = {
    import org.apache.spark.sql.sources
    def orderUnsafe(v: Any): Boolean = v match {
      case _: String => true
      case _ => tsUnsafe(v)
    }
    def tsUnsafe(v: Any): Boolean = v match {
      case _: java.sql.Timestamp | _: java.time.Instant |
           _: java.time.LocalDateTime => true
      case _ => false
    }
    f match {
      case sources.GreaterThan(_, v) if orderUnsafe(v) => false
      case sources.GreaterThanOrEqual(_, v) if orderUnsafe(v) => false
      case sources.LessThan(_, v) if orderUnsafe(v) => false
      case sources.LessThanOrEqual(_, v) if orderUnsafe(v) => false
      case sources.EqualTo(_, v) if tsUnsafe(v) => false
      case sources.EqualNullSafe(_, v) if tsUnsafe(v) => false
      case sources.In(_, vs) if vs.exists(tsUnsafe) => false
      case sources.And(l, r) => orcSargSafe(l) && orcSargSafe(r)
      case sources.Or(l, r) => orcSargSafe(l) && orcSargSafe(r)
      case sources.Not(c) => orcSargSafe(c)
      case _ => true
    }
  }
}

/** A FileScan whose files graft's own readers read (ORC scrub, Avro):
  * no pushed filters, and files split freely unless the read carries the
  * row index, because a byte range cannot know how many rows precede it.
  * Executors get the Hadoop conf through the one broadcast each reader
  * factory is built with ([[hadoopConf]]), as Spark's ParquetScan does. */
trait GraftFileScan extends FileScan {
  def options: CaseInsensitiveStringMap

  override def partitionFilters: Seq[Expression] = Nil
  override def dataFilters: Seq[Expression] = Nil
  protected lazy val layout: GroupLayout =
    GroupLayout(readDataSchema, readPartitionSchema)
  override def isSplitable(path: Path): Boolean = layout.rowIdxAt < 0
  override def getFileUnSplittableReason(path: Path): String =
    "the read carries row positions"

  protected def hadoopConf: Broadcast[SerializableConfiguration] =
    HadoopFileIO.broadcastConf(sparkSession, sparkSession.sessionState.newHadoopConf())
  protected def fileSourceOptions: FileSourceOptions =
    new FileSourceOptions(options.asCaseSensitiveMap.asScala.toMap)
}

/** Row layout of a graft-read group, `dataSchema ++ partSchema`, as the
  * ORC scrub and Avro readers build it: every data column but the row
  * index comes from the file, the row index (if read) is the row's
  * position in its file, and the partition columns are the split's
  * partition values. */
final case class GroupLayout(dataSchema: StructType, partSchema: StructType) {
  /** Ordinal of the row-index column in the data columns, or -1. */
  val rowIdxAt: Int = dataSchema.fieldNames.indexOf(GroupScan.RowIndexColumn)

  /** The columns read from the file. */
  val fileSchema: StructType =
    StructType(dataSchema.fields.filterNot(_.name == GroupScan.RowIndexColumn))

  /** A split's partition values as Catalyst values, in `partSchema` order. */
  def partValues(file: PartitionedFile): Array[Any] =
    partSchema.fields.zipWithIndex.map { case (f, k) =>
      if (file.partitionValues.isNullAt(k)) null
      else file.partitionValues.get(k, f.dataType)
    }

  /** A position counter starts at the file's first row, so a read that
    * carries the row index must cover the whole file (such files are
    * planned unsplittable). */
  def checkWhole(file: PartitionedFile): Unit =
    require(rowIdxAt < 0 || file.start == 0L,
      s"a row-position read cannot start mid-file: $file")
}

object GroupLayout {
  /** A split that reaches the file's recorded size reads to end of file. */
  def reachesEnd(file: PartitionedFile): Boolean =
    file.start + file.length >= file.fileSize
}

/** Row reader for one split of a graft-read group: copies each file row
  * into the [[GroupLayout]]. `read` returns the next file row (in
  * `fileSchema`) or null at the end of the split; the rows it returns may
  * be reused, unless `fresh`, in which case a row already in the layout
  * (no row index, no partition columns) passes through uncopied. */
final class LayoutRowReader(layout: GroupLayout, file: PartitionedFile,
    source: AutoCloseable, read: () => InternalRow, fresh: Boolean = false)
  extends PartitionReader[InternalRow] {
  layout.checkWhole(file)
  private val fileTypes = layout.fileSchema.fields.map(_.dataType)
  private val consts = layout.partValues(file)
  private val width = layout.dataSchema.length + consts.length
  private val passThrough = fresh && width == fileTypes.length
  private var position = -1L
  private var current: InternalRow = _

  override def next(): Boolean = {
    val row = read()
    if (row == null) return false
    position += 1
    current =
      if (passThrough) row
      else {
        val out = new GenericInternalRow(width)
        var o = 0
        var i = 0
        while (i < fileTypes.length) {
          if (o == layout.rowIdxAt) { out.update(o, position); o += 1 }
          out.update(o, if (row.isNullAt(i)) null else row.get(i, fileTypes(i)))
          o += 1; i += 1
        }
        if (o == layout.rowIdxAt) { out.update(o, position); o += 1 }
        var k = 0
        while (k < consts.length) { out.update(o, consts(k)); o += 1; k += 1 }
        out
      }
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = source.close()
}
