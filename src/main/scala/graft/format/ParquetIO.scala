package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Executor-side parquet row I/O on Spark's own ReadSupport — no
  * SparkSession or driver involvement, so delete-file key loading and
  * compaction tasks can read data files from ANY executor (the reference
  * reads delete files per task, core/.../deletes/Deletes.java:128, and
  * rewrites files in executor tasks, spark/.../source/RowDataRewriter.java).
  */
object ParquetIO {

  /** Iterate `path` projected to `schema` (name-matched, id-agnostic).
    * Returned rows may be reused by the reader — copy or extract values
    * before advancing. Caller must exhaust or close.
    *
    * `requireAll` makes a requested column that is ABSENT from the file
    * fail loudly instead of silently null-filling (ReadSupport's default).
    * Delete-file key loads set it: an all-null key set would resurrect
    * every deleted row. The check rides the footer the reader already
    * loaded (ReadSupport.init sees the file schema) — zero extra I/O. */
  def open(path: String, schema: StructType, conf: Configuration,
      requireAll: Boolean = false,
      what: String = "file"): ParquetReader[InternalRow] = {
    val c = new Configuration(conf)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // ParquetToSparkSchemaConverter asserts these are PRESENT (normally the
    // scan planner sets them per job). A sessionState.newHadoopConf() passed
    // in already carries the session's values — pin defaults only when
    // genuinely absent so session settings (e.g. caseSensitive) are honored.
    c.setIfUnset("spark.sql.parquet.binaryAsString", "false")
    c.setIfUnset("spark.sql.parquet.int96AsTimestamp", "true")
    c.setIfUnset("spark.sql.caseSensitive", "false")
    c.setIfUnset("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    c.setIfUnset("spark.sql.legacy.parquet.nanosAsLong", "false")
    c.setIfUnset("spark.sql.parquet.fieldId.read.enabled", "false")
    val support = new ParquetReadSupport(
      convertTz = None,
      enableVectorizedReader = false,
      datetimeRebaseSpec = RebaseSpec(LegacyBehaviorPolicy.CORRECTED),
      int96RebaseSpec = RebaseSpec(LegacyBehaviorPolicy.CORRECTED)) {
      override def init(context: org.apache.parquet.hadoop.api.InitContext)
          : org.apache.parquet.hadoop.api.ReadSupport.ReadContext = {
        if (requireAll) {
          val present = context.getFileSchema.getFields.asScala
            .map(_.getName.toLowerCase(java.util.Locale.ROOT)).toSet
          val missing = schema.fieldNames.filterNot(n =>
            present.contains(n.toLowerCase(java.util.Locale.ROOT)))
          if (missing.nonEmpty) throw new IllegalStateException(
            s"$what $path does not contain required column(s) " +
            s"${missing.mkString(", ")} (has: ${present.mkString(", ")}) — " +
            "refusing to null-fill, which would silently drop its deletes")
        }
        super.init(context)
      }
    }
    ParquetReader.builder[InternalRow](support, new HPath(path)).withConf(c).build()
  }

  def readAll(path: String, schema: StructType, conf: Configuration,
      requireAll: Boolean = false, what: String = "file")
      (consume: InternalRow => Unit): Unit = {
    val reader = open(path, schema, conf, requireAll, what)
    try {
      var row = reader.read()
      while (row != null) { consume(row); row = reader.read() }
    } finally reader.close()
  }

  /** Hadoop conf for executor-side parquet WRITES: the session conf plus the
    * keys ParquetWriteSupport asserts are present (normally FileFormatWriter
    * sets them per job). Shared by the DSv2 batch writer and compaction. */
  def writeConf(spark: org.apache.spark.sql.SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf
  }

  /** `write.parquet.compression-codec` values → parquet codec names. */
  def compressionCodec(codec: String): CompressionCodecName =
    codec.toLowerCase match {
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "snappy" => CompressionCodecName.SNAPPY
      case "gzip" => CompressionCodecName.GZIP
      case "zstd" => CompressionCodecName.ZSTD
      // no lz4 case: DataFileIO.compressionOf is the single validation
      // point and does not accept it for parquet (Spark's writer and this
      // one must agree on the accepted set)
      case other => throw new IllegalArgumentException(s"parquet codec: $other")
    }

  /** Executor-side parquet row writer on Spark's own WriteSupport — the
    * write twin of [[open]]; `conf` should come from [[writeConf]]. */
  def openWriter(path: String, schema: StructType,
      conf: Configuration, codec: String = "snappy"): ParquetWriter[InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    class B(p: HPath) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def getWriteSupport(cc: Configuration): WriteSupport[InternalRow] =
        new ParquetWriteSupport
      override def self(): B = this
    }
    new B(new HPath(path)).withConf(c)
      .withCompressionCodec(compressionCodec(codec)).build()
  }

  /** Canonical form of a data-file path for delete matching. The two sides
    * that must agree — delete rows' `file_path` strings and Spark's
    * partition data-file paths — BOTH route through here (idempotent, so
    * re-canonicalizing is safe). Parsing goes through Hadoop `Path` (which
    * tolerates unescaped path characters, unlike raw `java.net.URI`):
    * authority-less `file:` URIs of any slash count (`file:/p`,
    * `file:///p`) and plain paths collapse to the absolute path; an
    * authority-bearing `file://host/p` keeps its host distinct from the
    * path; every other scheme normalizes to `scheme://authority/path` —
    * never stripped, so `hdfs://nn/p` and `s3a://bucket/p` match their own
    * scheme only. */
  def canonPath(p: String): String = {
    val u = new HPath(p).toUri
    val auth = u.getAuthority
    val path = u.getPath
    u.getScheme match {
      case null => path
      case "file" if auth == null || auth.isEmpty => path
      case s => s"$s://${if (auth == null) "" else auth}$path"
    }
  }

  /** InternalRow slot → canonical JVM value (the engine's comparison domain:
    * Int/Long/String/Double/…, java BigDecimal for decimals) — shared by the
    * equality-delete reader and key-set loading so set membership agrees. */
  def canonicalValue(row: InternalRow, i: Int, dt: DataType): Any = {
    if (row.isNullAt(i)) return null
    dt match {
      case IntegerType | DateType => row.getInt(i)
      // TIME is canonical nanos-of-day, internally a long
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        row.getLong(i)
      case StringType => row.getUTF8String(i).toString
      // -0.0 normalizes to +0.0: the delete-key probe compares BOXED
      // values (java.lang.Double.equals says -0.0 != 0.0) while Spark's
      // =/<=> say they are equal — both the key-set loader and the row
      // probe route through here, so normalizing once keeps the row-
      // and batch-path filters agreeing with Spark's `=` on the same key.
      // (NaN is already safe: boxed equals canonicalizes via
      // doubleToLongBits, matching Spark's NaN == NaN semantics.)
      case DoubleType => val d = row.getDouble(i); if (d == 0.0d) 0.0d else d
      case FloatType => val f = row.getFloat(i); if (f == 0.0f) 0.0f else f
      case BooleanType => row.getBoolean(i)
      case ByteType => row.getByte(i)
      case ShortType => row.getShort(i)
      // a ByteBuffer compares and hashes by content, so binary keys match
      // across the key-set loader and the row probe
      case BinaryType => java.nio.ByteBuffer.wrap(row.getBinary(i))
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case t => throw new IllegalArgumentException(s"unsupported key type $t")
    }
  }
}
