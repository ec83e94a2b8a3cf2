package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Column metrics from parquet footers → canonical-value bounds, with the
  * reference's configurable metrics modes (core/.../MetricsModes.java:34-150:
  * none / counts / truncate(N) / full, default truncate(16), overridable per
  * table and per column via write.metadata.metrics.* properties; string
  * upper-bound increment semantics per
  * api/.../util/UnicodeUtil.truncateStringMax).
  */
object Metrics {

  val TruncateLen = 16

  /** Per-column stats collection level (reference MetricsModes.java). */
  sealed trait Mode extends Serializable
  case object NoneMode extends Mode // no counts, no bounds
  case object CountsMode extends Mode // value/null counts only
  final case class TruncateMode(len: Int) extends Mode // bounded-length bounds
  case object FullMode extends Mode // untruncated bounds

  val DefaultModeKey = "write.metadata.metrics.default"
  val ColumnModeKeyPrefix = "write.metadata.metrics.column."
  val DefaultMode: Mode = TruncateMode(TruncateLen)

  def parseMode(s: String): Mode = s.trim.toLowerCase match {
    case "none" => NoneMode
    case "counts" => CountsMode
    case "full" => FullMode
    case t if t.startsWith("truncate(") && t.endsWith(")") =>
      val len = t.substring("truncate(".length, t.length - 1).toInt
      require(len > 0, s"truncate length must be positive: $s")
      TruncateMode(len)
    case other => throw new IllegalArgumentException(s"unknown metrics mode: $other")
  }

  /** Resolve each field id's mode from table properties (default +
    * per-column overrides, reference MetricsModes.fromTableProperties). */
  def modesFor(schema: StructType, props: Map[String, String]): Map[Int, Mode] = {
    val default = props.get(DefaultModeKey).map(parseMode).getOrElse(DefaultMode)
    schema.fields.map { f =>
      FieldIds.idOf(f) -> props.get(ColumnModeKeyPrefix + f.name)
        .map(parseMode).getOrElse(default)
    }.toMap
  }

  final case class FileMetrics(
      recordCount: Long,
      fileSize: Long,
      valueCounts: Map[Int, Long],
      nullValueCounts: Map[Int, Long],
      lowerBounds: Map[Int, Any],
      upperBounds: Map[Int, Any],
      splitOffsets: Seq[Long],
      // string/binary field ids whose bounds were written UNTRUNCATED (mode
      // `full` at collection time) — recorded per file because the table's
      // metrics mode can change after the file is written, and a truncated
      // upper bound is range-safe but not value-exact (its last char is
      // incremented): consumers needing exact values (aggregate pushdown)
      // must check the file, not the current property
      fullBoundIds: Seq[Int] = Nil)

  /** String/binary top-level field ids collected under `full` mode. */
  def fullBoundIds(schema: StructType, modes: Map[Int, Mode]): Seq[Int] =
    schema.fields.toSeq.flatMap { f =>
      val id = FieldIds.idOf(f)
      Types.cleanType(f.dataType) match {
        case StringType | BinaryType
            if modes.getOrElse(id, DefaultMode) == FullMode => Some(id)
        case _ => None
      }
    }

  /** Truncate a lower bound: plain prefix keeps `lower <= truncated` false…
    * actually lower bounds truncate DOWN (prefix), upper bounds truncate UP
    * (prefix with last codepoint incremented) so the range stays inclusive. */
  def truncateLower(v: Any, len: Int = TruncateLen): Any = v match {
    case s: String if s.codePointCount(0, s.length) > len =>
      s.substring(0, s.offsetByCodePoints(0, len))
    case b: Array[Byte] if b.length > len =>
      java.util.Arrays.copyOf(b, len)
    case other => other
  }

  def truncateUpper(v: Any, len: Int = TruncateLen): Any = v match {
    case s: String if s.codePointCount(0, s.length) > len =>
      val pre = s.substring(0, s.offsetByCodePoints(0, len))
      // increment last codepoint; walk back over maximal codepoints
      val cps = pre.codePoints().toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) == Character.MAX_CODE_POINT) i -= 1
      if (i < 0) null // cannot produce a valid upper bound: drop it
      else {
        cps(i) += 1
        new String(cps, 0, i + 1)
      }
    case b: Array[Byte] if b.length > len =>
      val pre = java.util.Arrays.copyOf(b, len)
      var i = len - 1
      while (i >= 0 && pre(i) == -1) i -= 1
      if (i < 0) null
      else {
        pre(i) = (pre(i) + 1).toByte
        java.util.Arrays.copyOf(pre, i + 1)
      }
    case other => other
  }

  /** ORC column statistics order strings by Java char (UTF-16 code unit)
    * comparison, while this library's pruning evaluators — like Spark and
    * parquet — order by codepoint (== UTF-8 bytes). The two orders disagree
    * exactly when an astral codepoint (surrogate pair, lead unit 0xD800+)
    * meets a BMP char in [0xE000, 0xFFFF]: UTF-16 sorts the astral LOWER,
    * codepoint order sorts it HIGHER. A Java-ordered max like "￿" from a
    * file that also holds "😀x" is NOT an upper bound in codepoint order —
    * pruning against it silently loses rows (found by the round-20
    * workload fuzzer through ORC footer bounds). These helpers convert a
    * Java-ordered bound into a codepoint-order-safe one by cutting at the
    * first char ≥ 0xD800: every char BEFORE the cut is below the surrogate
    * block, where the orders agree, so the prefix (lower) / the prefix
    * with its last char incremented (upper) bounds everything the Java
    * bound bounded. The increment skips the surrogate block (0xD7FF+1 →
    * 0xE000): any value that stayed under the Java max diverges from the
    * prefix at a unit < 0xD800, which no continuation can outweigh. */
  def utf16SafeLower(s: String): String = {
    val i = s.indexWhere(_ >= 0xD800)
    if (i < 0) s else s.substring(0, i)
  }

  def utf16SafeUpper(s: String): Option[String] = {
    val i = s.indexWhere(_ >= 0xD800)
    if (i < 0) Some(s)
    else if (i == 0) None // no safe prefix: drop the bound
    else {
      val last = s.charAt(i - 1)
      val inc = if (last + 1 == 0xD800) '\uE000' else (last + 1).toChar
      Some(s.substring(0, i - 1) + inc)
    }
  }

  /** Footer metrics for many staged files. Above a small threshold the
    * reads run as a Spark job — at 10k output files a sequential driver
    * loop would serialize 10k footer round-trips into the commit path
    * (the reference computes metrics in executor DataWriters,
    * spark3/.../SparkBatchWrite.java:244-330; this is the equivalent for
    * the library write path, where Spark's own FileFormatWriter produced
    * the files and only the paths are known afterwards). */
  def forFiles(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      schema: StructType,
      modes: Map[Int, Mode] = Map.empty,
      format: String = FileFormats.Parquet): Map[String, FileMetrics] = {
    if (paths.isEmpty) Map.empty
    else if (paths.size <= 4) {
      // tiny commits: one local read beats a job round-trip
      val conf = spark.sessionState.newHadoopConf()
      paths.map(p => p -> Metrics.forFile(p, format, schema, conf, modes)).toMap
    } else {
      val sconf = HadoopFileIO.broadcastConf(spark, spark.sessionState.newHadoopConf())
      val n = math.min(paths.size, spark.sparkContext.defaultParallelism)
      // `Metrics.forFile` through the companion-static forwarder: a LOCAL
      // def here would lift to an instance method of this (non-serializable)
      // object and poison the closure
      spark.sparkContext.parallelize(paths, n)
        .map(p => p -> Metrics.forFile(p, format, schema, sconf.value.value, modes))
        .collect().toMap
    }
  }

  /** Footer/header metrics for one file of any supported format — the ONE
    * dispatch point shared by the driver and executor branches above. */
  def forFile(path: String, format: String, schema: StructType,
      conf: Configuration, modes: Map[Int, Mode] = Map.empty): FileMetrics =
    format match {
      case FileFormats.Orc => OrcIO.footerMetrics(path, schema, conf, modes)
      case FileFormats.Avro => AvroIO.countMetrics(path, conf)
      case _ => Metrics.fromParquetFooter(path, schema, conf, modes)
    }

  /** Read footer metrics for one parquet file, mapping columns to field ids
    * by name against `schema` (the reference does the same through
    * parquet/.../ParquetUtil.footerMetrics). Timestamp units are normalized
    * to micros; unmapped/nested columns are skipped (stats stay absent ⇒
    * evaluators stay conservative). */
  def fromParquetFooter(path: String, schema: StructType,
      conf: Configuration = new Configuration(),
      modes: Map[Int, Mode] = Map.empty): FileMetrics = {
    val input = HadoopInputFile.fromPath(new HPath(path), conf)
    val reader = ParquetFileReader.open(input)
    try fromParquetMetadata(reader.getFooter, input.getLength, schema, modes)
    finally reader.close()
  }

  /** Same mapping over an ALREADY-PARSED footer — the write path hands in
    * `ParquetWriter.getFooter` so a freshly-written file's metrics never
    * re-open and re-parse the bytes it just wrote (a fanout write of N
    * partitions paid N footer re-reads at close; the in-memory footer is
    * byte-for-byte what was serialized, so the metrics are identical). */
  def fromParquetMetadata(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      fileSize: Long, schema: StructType,
      modes: Map[Int, Mode] = Map.empty): FileMetrics = {
    def modeOf(id: Int): Mode = modes.getOrElse(id, DefaultMode)
      val nameToId = FieldIds.nameToId(schema)
      val typeById = FieldIds.typeById(schema)
      var recordCount = 0L
      val valueCounts = collection.mutable.Map[Int, Long]()
      val nullCounts = collection.mutable.Map[Int, Long]()
      val mins = collection.mutable.Map[Int, Any]()
      val maxs = collection.mutable.Map[Int, Any]()
      val statsOk = collection.mutable.Map[Int, Boolean]()
      val offsets = Seq.newBuilder[Long]

      footer.getBlocks.asScala.foreach { block =>
        recordCount += block.getRowCount
        offsets += block.getStartingPos
        block.getColumns.asScala.foreach { col =>
          val pathParts = col.getPath.toArray
          if (pathParts.length == 1) { // top-level primitives only
            nameToId.get(pathParts(0)).filter(modeOf(_) != NoneMode).foreach { id =>
              val dt = typeById(id)
              valueCounts(id) = valueCounts.getOrElse(id, 0L) + col.getValueCount
              val stats = col.getStatistics
              if (stats != null && !stats.isEmpty) {
                if (stats.isNumNullsSet)
                  nullCounts(id) = nullCounts.getOrElse(id, 0L) + stats.getNumNulls
                if (stats.hasNonNullValue && modeOf(id) != CountsMode) {
                  val prim = col.getPrimitiveType
                  // float/double sanitization, mirroring what parquet-mr
                  // applies when SERIALIZING a footer (so an in-memory
                  // ParquetWriter.getFooter yields the same bounds a
                  // re-read would): NaN-touched stats are omitted
                  // entirely (parquet's Double.compare order makes any
                  // NaN the max, and the converter drops such stats —
                  // bounds that ignore NaN rows would prune NaN matches),
                  // and zero bounds widen to straddle both signs (the
                  // same convention OrcIO.footerMetrics applies).
                  // Idempotent over already-serialized footers.
                  def sane(mn: Any, mx: Any): Option[(Any, Any)] =
                    (mn, mx) match {
                      case (a: Double, b: Double) =>
                        if (a.isNaN || b.isNaN) None
                        else Some((if (a == 0.0) -0.0 else a,
                          if (b == 0.0) 0.0 else b))
                      case (a: Float, b: Float) =>
                        if (a.isNaN || b.isNaN) None
                        else Some((if (a == 0.0f) -0.0f else a,
                          if (b == 0.0f) 0.0f else b))
                      case other => Some(other)
                    }
                  (convert(stats.genericGetMin.asInstanceOf[AnyRef],
                      prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation, dt),
                   convert(stats.genericGetMax.asInstanceOf[AnyRef],
                      prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation, dt)) match {
                    case (Some(mn0), Some(mx0)) => sane(mn0, mx0) match {
                      case Some((mn, mx)) =>
                        val ord = Exprs.ordering(dt)
                        mins(id) = mins.get(id).filter(ord.lt(_, mn)).getOrElse(mn)
                        maxs(id) = maxs.get(id).filter(ord.gt(_, mx)).getOrElse(mx)
                        statsOk(id) = statsOk.getOrElse(id, true)
                      case None => statsOk(id) = false
                    }
                    case _ => statsOk(id) = false
                  }
                }
              } else statsOk(id) = false
            }
          }
        }
      }
      def boundLen(id: Int): Option[Int] = modeOf(id) match {
        case TruncateMode(n) => Some(n)
        case FullMode => None // untruncated
        case _ => Some(TruncateLen) // unreachable: bounds not collected
      }
      val lower = mins.collect { case (id, v) if statsOk.getOrElse(id, false) =>
        id -> boundLen(id).map(truncateLower(v, _)).getOrElse(v) }.toMap
      val upper = maxs.flatMap { case (id, v) =>
        if (!statsOk.getOrElse(id, false)) None
        else Option(boundLen(id).map(truncateUpper(v, _)).getOrElse(v)).map(id -> _)
      }.toMap
      FileMetrics(recordCount, fileSize, valueCounts.toMap,
        nullCounts.toMap, lower, upper, offsets.result(),
        fullBoundIds(schema, modes))
  }

  /** Parquet statistics value → canonical value for `dt`. */
  private def convert(v: AnyRef, prim: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      logical: LogicalTypeAnnotation, dt: DataType): Option[Any] = {
    try {
      (prim, dt) match {
        case (INT32, IntegerType) => Some(v.asInstanceOf[Number].intValue())
        case (INT32, DateType) => Some(v.asInstanceOf[Number].intValue())
        case (INT32, LongType) => Some(v.asInstanceOf[Number].longValue())
        case (INT64, LongType) => Some(v.asInstanceOf[Number].longValue())
        case (INT64, TimestampType | TimestampNTZType) =>
          val raw = v.asInstanceOf[Number].longValue()
          logical match {
            case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(raw * 1000L)
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw)
              case LogicalTypeAnnotation.TimeUnit.NANOS => Some(Math.floorDiv(raw, 1000L))
            }
            case _ => None
          }
        case (INT32 | INT64, _: TimeType) =>
          // canonical = nanos-of-day (Spark's internal TIME encoding)
          val raw = v.asInstanceOf[Number].longValue()
          logical match {
            case t: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(raw * 1000000L)
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw * 1000L)
              case LogicalTypeAnnotation.TimeUnit.NANOS => Some(raw)
            }
            case _ => None
          }
        case (INT64, IntegerType) => Some(v.asInstanceOf[Number].intValue())
        case (DOUBLE, DoubleType) => Some(v.asInstanceOf[Number].doubleValue())
        case (FLOAT, FloatType) => Some(v.asInstanceOf[Number].floatValue())
        case (FLOAT, DoubleType) => Some(v.asInstanceOf[Number].doubleValue())
        case (BOOLEAN, BooleanType) => Some(v.asInstanceOf[Boolean])
        case (BINARY, StringType) =>
          Some(new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8))
        case (BINARY, BinaryType) =>
          Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        case (INT32 | INT64 | BINARY | FIXED_LEN_BYTE_ARRAY, d: DecimalType) =>
          logical match {
            case dec: DecimalLogicalTypeAnnotation =>
              val unscaled = v match {
                case n: Number => java.math.BigInteger.valueOf(n.longValue())
                case b: org.apache.parquet.io.api.Binary =>
                  new java.math.BigInteger(b.getBytes)
                case _ => return None
              }
              Some(new java.math.BigDecimal(unscaled, dec.getScale))
            case _ => None
          }
        case _ => None
      }
    } catch { case _: Exception => None }
  }
}
