package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.orc.{OrcFile, Reader, TypeDescription, Writer}
import org.apache.orc.mapred.OrcStruct
import org.apache.orc.mapreduce.{OrcMapreduceRecordReader, OrcMapreduceRecordWriter}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.orc.{OrcDeserializer, OrcSerializer, OrcUtils}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Executor-side ORC row I/O + footer metrics — the ORC twin of ParquetIO
  * (reference orc/src/main/java/org/apache/iceberg/orc/ORC.java read/write
  * builders and OrcMetrics.fromInputFile). Row conversion rides Spark's own
  * OrcSerializer/OrcDeserializer, so type semantics (timestamps as micros,
  * decimals, nested structs) are exactly what Spark's ORC scan produces;
  * projection + name-based schema evolution ride ORC's SchemaEvolution (the
  * reader schema is a by-name subset of the file schema — callers map
  * current-schema names to FILE names by field id first, same as the
  * parquet path).
  */
object OrcIO {

  /** Iterate `path` projected to `schema` (file-side names). Missing
    * columns read as nulls; extra file columns are skipped. */
  def open(path: String, schema: StructType, conf: Configuration,
      start: Long = 0L, length: Long = -1L): OrcRowIterator = {
    val reader = OrcFile.createReader(new HPath(path), OrcFile.readerOptions(conf))
    val readTd = OrcUtils.orcTypeDescription(schema)
    val opts = reader.options().schema(readTd)
    if (length >= 0) opts.range(start, length) // see openBatched
    val rows = new OrcMapreduceRecordReader[OrcStruct](
      new ZeroSignScrubReader(reader.rows(opts),
        reader.getSchema, readTd), readTd)
    new OrcRowIterator(rows, new OrcDeserializer(schema, schema.indices.toArray))
  }

  /** orc-core's DoubleTreeReader/FloatTreeReader run a repeated-value
    * detection over each batch with Java `==` (TreeReaderFactory, verified
    * against the installed orc-core 2.2.2 bytecode): after storing EVERY
    * value into `vector[]` they set `isRepeating = true` when all values
    * compare equal — and `0.0 == -0.0` is true, so a batch holding only
    * zeros of MIXED sign is flagged repeating and every downstream consumer
    * (the mapred row materializer, Spark's OrcColumnVector) returns
    * `vector[0]` for all rows: the other sign is silently rewritten
    * (workload-fuzz seed 149; the file bytes are correct — ORC C++ reads
    * them faithfully). Since the detection loop has already stored the
    * true per-row values, clearing the flag restores them losslessly.
    *
    * Guards: only same-category DOUBLE/FLOAT columns (a SchemaEvolution
    * convert reader fills just `vector[0]` when its SOURCE was repeating,
    * so promoted columns must keep the flag), only when slot 0 is a
    * non-null zero (the all-null path sets `vector[0] = NaN` with
    * `isNull[0]`, and a non-zero repeat is sign-unambiguous). */
  private final class ZeroSignScrubReader(inner: org.apache.orc.RecordReader,
      fileTd: TypeDescription, readTd: TypeDescription)
    extends org.apache.orc.RecordReader {
    import org.apache.hadoop.hive.ql.exec.vector._

    // read-schema columns eligible for the scrub: DOUBLE/FLOAT leaves whose
    // file-side twin (matched by name at struct levels, positionally in
    // list/map/element slots) has the SAME category — i.e. no convert reader
    private def scrub(vec: ColumnVector, rt: TypeDescription,
        ft: TypeDescription): Unit = {
      import TypeDescription.Category._
      (rt.getCategory, vec) match {
        case (DOUBLE, v: DoubleColumnVector) if ft != null &&
            ft.getCategory == DOUBLE => scrubZeros(v)
        case (FLOAT, v: DoubleColumnVector) if ft != null &&
            ft.getCategory == FLOAT => scrubZeros(v)
        case (STRUCT, v: StructColumnVector) =>
          val fNames = if (ft != null && ft.getCategory == STRUCT)
            ft.getFieldNames.asScala.zip(ft.getChildren.asScala).toMap
          else Map.empty[String, TypeDescription]
          rt.getFieldNames.asScala.zip(rt.getChildren.asScala).zipWithIndex
            .foreach { case ((name, rc), i) =>
              if (i < v.fields.length)
                scrub(v.fields(i), rc, fNames.getOrElse(name, null))
            }
        case (LIST, v: ListColumnVector) =>
          scrub(v.child, rt.getChildren.get(0),
            if (ft != null && ft.getCategory == LIST) ft.getChildren.get(0)
            else null)
        case (MAP, v: MapColumnVector) =>
          val fc = if (ft != null && ft.getCategory == MAP)
            ft.getChildren else null
          scrub(v.keys, rt.getChildren.get(0),
            if (fc != null) fc.get(0) else null)
          scrub(v.values, rt.getChildren.get(1),
            if (fc != null) fc.get(1) else null)
        case _ => ()
      }
    }

    private def scrubZeros(v: DoubleColumnVector): Unit =
      if (v.isRepeating && (v.noNulls || !v.isNull(0)) && v.vector(0) == 0.0)
        v.isRepeating = false

    // top-level (read child, file-side twin) pairs, resolved once: the
    // scrub runs per 1024-row batch and must not re-derive name maps
    private val topPairs: Array[(TypeDescription, TypeDescription)] = {
      val fNames = fileTd.getFieldNames.asScala
        .zip(fileTd.getChildren.asScala).toMap
      readTd.getFieldNames.asScala.zip(readTd.getChildren.asScala)
        .map { case (n, rc) => (rc, fNames.getOrElse(n, null)) }.toArray
    }

    override def nextBatch(batch: VectorizedRowBatch): Boolean = {
      val more = inner.nextBatch(batch)
      if (more) {
        var i = 0
        while (i < batch.cols.length && i < topPairs.length) {
          scrub(batch.cols(i), topPairs(i)._1, topPairs(i)._2)
          i += 1
        }
      }
      more
    }
    override def getRowNumber: Long = inner.getRowNumber
    override def getProgress: Float = inner.getProgress
    override def close(): Unit = inner.close()
    override def seekToRow(rowCount: Long): Unit = inner.seekToRow(rowCount)
  }

  /** Batch-level twin of [[open]]: the same by-name projection and the same
    * ZeroSignScrubReader, but the caller consumes the orc-core
    * VectorizedRowBatch directly (no OrcStruct materialization, no per-row
    * deserializer) — wrap the vectors with Spark's OrcColumnVector for a
    * fully vectorized scan. The returned batch is refilled IN PLACE by each
    * `nextBatch()`; vector object identity is stable for the reader's
    * lifetime, so wrappers can be built once. */
  def openBatched(path: String, schema: StructType, conf: Configuration,
      capacity: Int, start: Long = 0L, length: Long = -1L): OrcBatchIterator = {
    val reader = OrcFile.createReader(new HPath(path), OrcFile.readerOptions(conf))
    val readTd = OrcUtils.orcTypeDescription(schema)
    val opts = reader.options().schema(readTd)
    // byte-range split (orc-core's own contract: a range reads exactly the
    // stripes whose START offset falls inside it, so ranges that tile the
    // file read every stripe exactly once)
    if (length >= 0) opts.range(start, length)
    val rows = new ZeroSignScrubReader(
      reader.rows(opts), reader.getSchema, readTd)
    new OrcBatchIterator(rows, readTd.createRowBatch(capacity))
  }

  final class OrcBatchIterator(
      rows: org.apache.orc.RecordReader,
      val batch: org.apache.hadoop.hive.ql.exec.vector.VectorizedRowBatch)
    extends AutoCloseable {
    /** Refill `batch`; false at end of file. (Spark's own batch reader keys
      * off `batch.size`, not the boolean — mirror that.) */
    def nextBatch(): Boolean = {
      rows.nextBatch(batch)
      batch.size > 0
    }
    override def close(): Unit = rows.close()
  }

  final class OrcRowIterator(
      rows: OrcMapreduceRecordReader[OrcStruct],
      de: OrcDeserializer) extends AutoCloseable {
    /** Next row or null at end (rows may be reused by the reader — copy or
      * extract values before advancing, as with ParquetIO). */
    def read(): InternalRow =
      if (rows.nextKeyValue()) de.deserialize(rows.getCurrentValue) else null
    override def close(): Unit = rows.close()
  }

  def readAll(path: String, schema: StructType, conf: Configuration)
      (consume: InternalRow => Unit): Unit = {
    val it = open(path, schema, conf)
    try {
      var row = it.read()
      while (row != null) { consume(row); row = it.read() }
    } finally it.close()
  }

  /** `write.orc.compression-codec` values → ORC kinds. */
  def compressionKind(codec: String): org.apache.orc.CompressionKind =
    codec.toLowerCase match {
      case "none" | "uncompressed" => org.apache.orc.CompressionKind.NONE
      case "snappy" => org.apache.orc.CompressionKind.SNAPPY
      case "zlib" | "gzip" => org.apache.orc.CompressionKind.ZLIB
      case "zstd" => org.apache.orc.CompressionKind.ZSTD
      case "lz4" => org.apache.orc.CompressionKind.LZ4
      case other => throw new IllegalArgumentException(s"orc codec: $other")
    }

  /** Executor-side ORC row writer — the write twin of [[open]]. The file
    * is created through [[DataFileIO.create]], and ORC's physical writer
    * streams into it. */
  def openWriter(path: String, schema: StructType,
      conf: Configuration, codec: String = "snappy"): OrcRowWriter = {
    val td = OrcUtils.orcTypeDescription(schema)
    val opts = OrcFile.writerOptions(conf).setSchema(td)
      .compress(compressionKind(codec))
    val out = DataFileIO.create(path, conf)
    val writer =
      try OrcFile.createWriter(new HPath(path), opts.physicalWriter(
        new org.apache.orc.impl.PhysicalFsWriter(out, opts,
          Array.empty[org.apache.orc.impl.writer.WriterEncryptionVariant])))
      catch { case e: Throwable => out.close(); throw e }
    new OrcRowWriter(writer, new OrcSerializer(schema), out, hasTimestamp(schema))
  }

  private def hasTimestamp(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType => true
    case s: StructType => s.fields.exists(f => hasTimestamp(f.dataType))
    case a: ArrayType => hasTimestamp(a.elementType)
    case m: MapType => hasTimestamp(m.keyType) || hasTimestamp(m.valueType)
    case _ => false
  }

  /** ORC's timestamp encoding cannot hold values in [-999000, -1] micros
    * (1969-12-31 23:59:59.001 .. .999999): the writer stores
    * seconds = millis/1000 with TRUNCATING division (orc-core
    * TimestampTreeWriter.writeBatch), so the whole sub-second window just
    * before the epoch collapses to stored seconds 0 — the sign is lost at
    * rest, and every standard reader (Spark, Hive, Arrow C++) returns the
    * value shifted +1 s. Verified against the installed orc-core 2.2.2 with
    * an independent (Arrow) reader: -1000000/-999001/-1000001 round-trip,
    * every value in [-999000, -1] corrupts by exactly +1e6 µs; Spark's own
    * `df.write.orc` silently corrupts the same window. In Timestamp terms
    * the unrepresentable condition is getTime() in [-999, -1]. We refuse
    * to write corrupt data: fail loudly and point at parquet/avro, which
    * store micros exactly. */
  private def checkRepresentable(v: Any): Unit = v match {
    case t: java.sql.Timestamp =>
      val ms = t.getTime
      if (ms >= -999L && ms <= -1L) throw new IllegalArgumentException(
        "ORC cannot represent timestamps in 1969-12-31 23:59:59.001.." +
        ".999999 (upstream orc-core truncates the seconds toward zero and " +
        "loses the sign at rest; readers return the value +1s). Store this " +
        "data as parquet or avro (write.format.default), or round it to " +
        "whole-second precision.")
    case s: OrcStruct =>
      var i = 0
      while (i < s.getNumFields) { checkRepresentable(s.getFieldValue(i)); i += 1 }
    case l: org.apache.orc.mapred.OrcList[_] =>
      l.forEach(e => checkRepresentable(e))
    case m: org.apache.orc.mapred.OrcMap[_, _] =>
      m.forEach((k, vv) => { checkRepresentable(k); checkRepresentable(vv) })
    case u: org.apache.orc.mapred.OrcUnion => checkRepresentable(u.getObject)
    case _ => ()
  }

  final class OrcRowWriter(writer: Writer, ser: OrcSerializer,
      out: org.apache.hadoop.fs.FSDataOutputStream,
      mayHoldTimestamps: Boolean = true) extends AutoCloseable {
    private val rec = new OrcMapreduceRecordWriter[OrcStruct](writer)
    def write(row: InternalRow): Unit = {
      val struct = ser.serialize(row)
      // timestamp-free schemas skip the walk entirely (hot-path guard)
      if (mayHoldTimestamps) checkRepresentable(struct)
      rec.write(org.apache.hadoop.io.NullWritable.get(), struct)
    }
    override def close(): Unit = rec.close(null)
    /** Bytes written; the file's length after [[close]]. */
    def length: Long = out.getPos
  }

  /** Footer metrics for one ORC file, mapped to field ids by name against
    * `schema` (reference OrcMetrics.fromInputFile): record count from the
    * file tail, per-column non-null counts from ColumnStatistics
    * (nullCount = recordCount - numberOfValues — ORC counts non-nulls),
    * bounds per stats subtype, stripe offsets as split offsets. A writer
    * passes the length it wrote as `knownSize`, which spares a stat. */
  def footerMetrics(path: String, schema: StructType,
      conf: Configuration = new Configuration(),
      modes: Map[Int, Metrics.Mode] = Map.empty,
      knownSize: Long = -1L): Metrics.FileMetrics = {
    import Metrics._
    def modeOf(id: Int): Mode = modes.getOrElse(id, DefaultMode)
    val fileSize =
      if (knownSize >= 0) knownSize
      else new HPath(path).getFileSystem(conf).getFileStatus(new HPath(path)).getLen
    val reader = OrcFile.createReader(new HPath(path),
      OrcFile.readerOptions(conf).maxLength(fileSize))
    try {
      val recordCount = reader.getNumberOfRows
      val stats = reader.getStatistics
      val root = reader.getSchema
      val nameToId = FieldIds.nameToId(schema)
      val typeById = FieldIds.typeById(schema)
      val valueCounts = collection.mutable.Map[Int, Long]()
      val nullCounts = collection.mutable.Map[Int, Long]()
      val lower = collection.mutable.Map[Int, Any]()
      val upper = collection.mutable.Map[Int, Any]()
      // string bounds whose UTF-16→codepoint sanitization ALTERED the value
      // are range-safe but no longer exact — exclude them from fullBoundIds
      // so aggregate pushdown never serves a sanitized bound as a MIN/MAX
      val inexact = collection.mutable.Set[Int]()
      if (root.getCategory == TypeDescription.Category.STRUCT) {
        root.getFieldNames.asScala.zip(root.getChildren.asScala).foreach {
          case (name, child) =>
            nameToId.get(name).filter(modeOf(_) != NoneMode).foreach { id =>
              val cs = stats(child.getId)
              // parquet valueCounts include nulls; keep the same meaning
              valueCounts(id) = recordCount
              nullCounts(id) = recordCount - cs.getNumberOfValues
              if (modeOf(id) != CountsMode && cs.getNumberOfValues > 0) {
                bounds(cs, typeById(id)).foreach { case (mn0, mx0) =>
                  // ORC orders strings by UTF-16 unit — convert to
                  // codepoint-order-safe bounds before they enter the
                  // manifest (Metrics.utf16Safe*), or the UTF-8-ordered
                  // evaluators prune files that contain matching astral rows
                  val (mn, mxOpt) = (mn0, mx0) match {
                    case (a: String, b: String) =>
                      val (sl, su) = (utf16SafeLower(a), utf16SafeUpper(b))
                      if (sl != a || !su.contains(b)) inexact += id
                      (sl, su)
                    case other => (other._1, Some(other._2))
                  }
                  def len = modeOf(id) match {
                    case TruncateMode(n) => Some(n)
                    case _ => None
                  }
                  lower(id) = len.map(truncateLower(mn, _)).getOrElse(mn)
                  mxOpt.foreach { mx =>
                    val up = len.map(truncateUpper(mx, _)).getOrElse(mx)
                    if (up != null) upper(id) = up
                  }
                }
              }
            }
        }
      }
      FileMetrics(recordCount, fileSize, valueCounts.toMap, nullCounts.toMap,
        lower.toMap, upper.toMap,
        reader.getStripes.asScala.map(_.getOffset).toSeq,
        Metrics.fullBoundIds(schema, modes).filterNot(inexact.contains))
    } finally reader.close()
  }

  /** ORC column statistics → canonical (min, max) for `dt`; None when the
    * stats kind doesn't line up (evaluators then stay conservative). */
  private def bounds(cs: org.apache.orc.ColumnStatistics,
      dt: DataType): Option[(Any, Any)] = {
    import org.apache.orc._
    try {
      (cs, dt) match {
        case (s: DateColumnStatistics, DateType) =>
          Some((s.getMinimumDayOfEpoch.toInt, s.getMaximumDayOfEpoch.toInt))
        case (s: IntegerColumnStatistics, IntegerType) =>
          Some((s.getMinimum.toInt, s.getMaximum.toInt))
        case (s: IntegerColumnStatistics, LongType) =>
          Some((s.getMinimum, s.getMaximum))
        case (s: TimestampColumnStatistics, TimestampType | TimestampNTZType) =>
          // getTime already carries the millisecond part of nanos; floor for
          // the lower bound, ceil for the upper so sub-micro fractions stay
          // inside the range
          def micros(t: java.sql.Timestamp, ceil: Boolean): Long = {
            val base = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
            if (ceil && t.getNanos % 1000 != 0) base + 1 else base
          }
          val (mn, mx) = (s.getMinimumUTC, s.getMaximumUTC)
          if (mn == null || mx == null) None
          else Some((micros(mn, ceil = false), micros(mx, ceil = true)))
        case (s: DoubleColumnStatistics, DoubleType) =>
          // zero bounds widen to straddle both signs (parquet-mr's
          // convention): ORC tracks min/max with IEEE comparisons where
          // -0.0 == 0.0, so the recorded bound's SIGN is arbitrary — a
          // -0.0 upper bound would prune `d = 0.0` under the evaluator's
          // total order while the file's -0.0 row matches (IEEE equal)
          Some((if (s.getMinimum == 0.0) -0.0 else s.getMinimum,
            if (s.getMaximum == 0.0) 0.0 else s.getMaximum))
        case (s: DoubleColumnStatistics, FloatType) =>
          Some((if (s.getMinimum == 0.0) -0.0f else s.getMinimum.toFloat,
            if (s.getMaximum == 0.0) 0.0f else s.getMaximum.toFloat))
        case (s: StringColumnStatistics, StringType) =>
          // min/max may be absent when ORC truncated long values; the
          // lower/upper BOUNDS stay safe for inclusive pruning (the caller
          // converts these UTF-16-ordered values to codepoint-order-safe
          // bounds before they enter the manifest)
          val mn = Option(s.getMinimum).orElse(Option(s.getLowerBound))
          val mx = Option(s.getMaximum).orElse(Option(s.getUpperBound))
          mn.zip(mx)
        case (s: DecimalColumnStatistics, d: DecimalType) =>
          val (mn, mx) = (s.getMinimum, s.getMaximum)
          if (mn == null || mx == null) None
          else Some((mn.bigDecimalValue.setScale(d.scale),
            mx.bigDecimalValue.setScale(d.scale)))
        case (s: BooleanColumnStatistics, BooleanType) =>
          Some((s.getFalseCount == 0, s.getTrueCount > 0))
        case _ => None
      }
    } catch { case _: Exception => None }
  }
}
