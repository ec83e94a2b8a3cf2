package graft.format

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Executor-side Avro data-file I/O (reference core/.../avro/Avro.java
  * read/write builders + ProjectionDatumReader.java): container files of
  * GenericRecords with Spark-typed logical annotations (date,
  * timestamp-micros, decimal) and per-field `field-id` props.
  *
  * Projection rides Avro's own schema resolution (ResolvingDecoder): the
  * reader schema is a by-name subset of the file's writer schema — exactly
  * the reference's ProjectionDatumReader, where unprojected fields are
  * SKIPPED without decoding. Renames are resolved by field id ABOVE this
  * layer (callers translate current-schema names to file names via table
  * metadata, same as the parquet and ORC paths), and nullable fields carry
  * `null` defaults so columns added after a file was written read as nulls.
  *
  * Avro files carry no column statistics, so metrics are record count +
  * size only (the reference records exactly that for Avro data files) —
  * stats-based pruning simply never eliminates an Avro file.
  */
object AvroIO {

  // ---- Spark schema -> Avro schema ----

  /** Spark column name → legal Avro identifier: invalid characters become
    * `_xNN` (hex), a leading digit gains an underscore (reference
    * AvroSchemaUtil.sanitize). NOT injective — [[avroSchema]] rejects
    * structs whose names collide after sanitizing. Writer and reader
    * schemas are both built from Spark-side names through this same
    * function, so resolution always agrees; the original name rides a
    * field prop. */
  private[format] def sanitize(name: String): String = {
    def ok(c: Char, first: Boolean) =
      c == '_' || Character.isLetter(c) || (!first && Character.isDigit(c))
    if (name.nonEmpty && name.zipWithIndex.forall { case (c, i) => ok(c, i == 0) }) name
    else {
      val sb = new StringBuilder
      name.zipWithIndex.foreach { case (c, i) =>
        if (ok(c, first = false)) {
          if (i == 0 && Character.isDigit(c)) sb += '_'
          sb += c
        } else sb ++= "_x%02X".format(c.toInt)
      }
      sb.toString
    }
  }

  /** Build the Avro writer schema for a Spark struct: records named by
    * path, nullable fields as [null, T] unions with null defaults,
    * `field-id` props carried from the struct metadata. */
  def avroSchema(st: StructType, name: String = "row"): Schema = {
    // sanitize() is not injective ('a%' and a literal 'a_x25' both map to
    // 'a_x25'): resolution is by sanitized NAME, and a suffix scheme would
    // diverge between full-schema writes and subset-projection reads — so
    // collisions fail fast, naming both columns, instead of mis-resolving
    st.fields.map(f => sanitize(f.name) -> f.name)
      .groupBy(_._1).collectFirst { case (s, g) if g.length > 1 =>
        throw new IllegalArgumentException(
          s"column names ${g.map(_._2).mkString("'", "', '", "'")} all " +
          s"sanitize to avro name '$s' — rename one of them")
      }
    val fields = st.fields.map { f =>
      val base = typeToAvro(f.dataType, sanitize(s"${name}_${f.name}"))
      val sch =
        if (f.nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base)
        else base
      val fname = sanitize(f.name)
      val fld =
        if (f.nullable)
          new Schema.Field(fname, sch, null,
            Schema.Field.NULL_DEFAULT_VALUE)
        else new Schema.Field(fname, sch, null)
      if (fname != f.name) fld.addProp("spark-name", f.name)
      if (f.metadata.contains(FieldIds.Key))
        fld.addProp("field-id", FieldIds.idOf(f): Integer)
      fld
    }
    Schema.createRecord(sanitize(name), null, "graft", false, fields.toSeq.asJava)
  }

  private def typeToAvro(dt: DataType, path: String): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(e, containsNull) =>
      val elem = typeToAvro(e, path + "_elem")
      Schema.createArray(
        if (containsNull)
          Schema.createUnion(Schema.create(Schema.Type.NULL), elem)
        else elem)
    case MapType(StringType, v, valueContainsNull) =>
      val value = typeToAvro(v, path + "_value")
      Schema.createMap(
        if (valueContainsNull)
          Schema.createUnion(Schema.create(Schema.Type.NULL), value)
        else value)
    case s: StructType => avroSchema(s, path)
    case other =>
      throw new UnsupportedOperationException(s"avro data files: type $other")
  }

  // ---- Avro schema -> Spark schema (for reading EXTERNAL avro files:
  //      imports and schema discovery; reference AvroSchemaUtil.convert) ----

  /** Avro record schema → Spark StructType. Unions must be [null, T] (the
    * shape every Avro writer including ours produces for nullable fields);
    * anything wider has no Spark analog and raises a clear error. Field
    * names keep their `spark-name` prop when present (our own sanitized
    * writes round-trip to the original). */
  def sparkSchema(avro: Schema): StructType = {
    require(avro.getType == Schema.Type.RECORD, s"not a record: ${avro.getType}")
    StructType(avro.getFields.asScala.map { f =>
      val (dt, nullable) = typeFromAvro(f.schema())
      val name = Option(f.getProp("spark-name")).getOrElse(f.name())
      StructField(name, dt, nullable)
    }.toSeq)
  }

  private def typeFromAvro(s: Schema): (DataType, Boolean) = {
    val (inner, nullable) =
      if (s.getType == Schema.Type.UNION) {
        val branches = s.getTypes.asScala
        val nonNull = branches.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1 && branches.size <= 2,
          s"unsupported avro union (only [null, T]): $s")
        (nonNull.head, true)
      } else (s, false)
    val dt = inner.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT => inner.getLogicalType match {
        case _: LogicalTypes.Date => DateType
        case _ => IntegerType
      }
      case Schema.Type.LONG => inner.getLogicalType match {
        case _: LogicalTypes.TimestampMicros => TimestampType
        case _: LogicalTypes.LocalTimestampMicros => TimestampNTZType
        case _: LogicalTypes.TimestampMillis =>
          // the read path assumes micros; silently scaling millis 1000×
          // wrong is worse than refusing
          throw new UnsupportedOperationException(
            "avro timestamp-millis columns are not supported; rewrite the " +
            "files with timestamp-micros")
        case _ => LongType
      }
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING | Schema.Type.ENUM => StringType
      case Schema.Type.BYTES | Schema.Type.FIXED => inner.getLogicalType match {
        case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
      case Schema.Type.ARRAY =>
        val (e, en) = typeFromAvro(inner.getElementType)
        ArrayType(e, containsNull = en)
      case Schema.Type.MAP =>
        val (v, vn) = typeFromAvro(inner.getValueType)
        MapType(StringType, v, valueContainsNull = vn)
      case Schema.Type.RECORD => sparkSchema(inner)
      case other =>
        throw new UnsupportedOperationException(s"avro type $other")
    }
    (dt, nullable)
  }

  /** Writer schema of an Avro container file (header read only). */
  def fileSchema(path: String, conf: Configuration): Schema = {
    val reader = new DataFileReader[GenericRecord](
      new FsInput(new HPath(path), conf), new GenericDatumReader[GenericRecord]())
    try reader.getSchema finally reader.close()
  }

  /** Count-only metrics (Avro files carry no column statistics): record
    * counts come from the block headers; block BYTES are still read (only
    * decoding/decompression of records is skipped), so this costs one
    * sequential pass over the file — cheap relative to a decode, not free.
    * Large imports run it as a distributed job (Metrics.forFiles). */
  def countMetrics(path: String, conf: Configuration): Metrics.FileMetrics = {
    val hp = new HPath(path)
    val size = hp.getFileSystem(conf).getFileStatus(hp).getLen
    val reader = new DataFileReader[GenericRecord](
      new FsInput(hp, conf), new GenericDatumReader[GenericRecord]())
    try {
      var n = 0L
      while (reader.hasNext) {
        n += reader.getBlockCount
        reader.nextBlock()
      }
      Metrics.FileMetrics(n, size, Map.empty, Map.empty, Map.empty, Map.empty, Nil)
    } finally reader.close()
  }

  // ---- write: InternalRow -> GenericRecord ----

  private type Getter = (org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int) => Any

  /** Converter from an InternalRow ordinal to the Avro in-memory value. */
  private def toAvro(dt: DataType, avro: Schema): Getter = {
    val nonNull = unwrapUnion(avro)
    dt match {
      case BooleanType => (r, i) => r.getBoolean(i)
      case IntegerType | DateType => (r, i) => r.getInt(i): Integer
      case ShortType => (r, i) => r.getShort(i).toInt: Integer
      case ByteType => (r, i) => r.getByte(i).toInt: Integer
      case LongType | TimestampType | TimestampNTZType => (r, i) => r.getLong(i): java.lang.Long
      case FloatType => (r, i) => r.getFloat(i): java.lang.Float
      case DoubleType => (r, i) => r.getDouble(i): java.lang.Double
      case StringType => (r, i) => new Utf8(r.getUTF8String(i).getBytes)
      case BinaryType => (r, i) => java.nio.ByteBuffer.wrap(r.getBinary(i))
      case d: DecimalType => (r, i) =>
        java.nio.ByteBuffer.wrap(
          r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
            .unscaledValue().toByteArray)
      case ArrayType(e, _) =>
        val elemAvro = nonNull.getElementType
        val conv = toAvro(e, elemAvro)
        (r, i) => {
          val arr = r.getArray(i)
          val out = new java.util.ArrayList[Any](arr.numElements())
          var j = 0
          while (j < arr.numElements()) {
            out.add(if (arr.isNullAt(j)) null else conv(arr, j))
            j += 1
          }
          out
        }
      case MapType(StringType, v, _) =>
        val conv = toAvro(v, nonNull.getValueType)
        (r, i) => {
          val m = r.getMap(i)
          val keys = m.keyArray()
          val vals = m.valueArray()
          val out = new java.util.HashMap[Utf8, Any](m.numElements())
          var j = 0
          while (j < m.numElements()) {
            out.put(new Utf8(keys.getUTF8String(j).getBytes),
              if (vals.isNullAt(j)) null else conv(vals, j))
            j += 1
          }
          out
        }
      case s: StructType =>
        val build = recordBuilder(s, nonNull)
        (r, i) => build(r.getStruct(i, s.length))
      case other =>
        throw new UnsupportedOperationException(s"avro data files: type $other")
    }
  }

  private def unwrapUnion(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def recordBuilder(st: StructType, avro: Schema): InternalRow => GenericRecord = {
    val convs = st.fields.zipWithIndex.map { case (f, i) =>
      (i, toAvro(f.dataType, avro.getFields.get(i).schema()))
    }
    row => {
      val rec = new GenericData.Record(avro)
      convs.foreach { case (i, conv) =>
        rec.put(i, if (row.isNullAt(i)) null else conv(row, i))
      }
      rec
    }
  }

  /** `write.avro.compression-codec` values → Avro codec factories. */
  def codecFactory(codec: String): CodecFactory = codec.toLowerCase match {
    case "none" | "uncompressed" | "null" => CodecFactory.nullCodec()
    case "snappy" => CodecFactory.snappyCodec()
    case "deflate" | "gzip" => CodecFactory.deflateCodec(6)
    case "zstd" => CodecFactory.zstandardCodec(3)
    case other => throw new IllegalArgumentException(s"avro codec: $other")
  }

  /** Open an Avro container-file writer; `count` tracks rows for the
    * DataFile record count (Avro has no footer stats to read back).
    * `syncInterval` (bytes, 0 = Avro default ~64 KB) sets the block size —
    * blocks are the split granularity for ranged reads. The file is
    * created through [[DataFileIO.create]]. */
  def openWriter(path: String, schema: StructType,
      conf: Configuration, syncInterval: Int = 0,
      codec: String = "snappy"): AvroRowWriter = {
    val avro = avroSchema(schema)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    w.setCodec(codecFactory(codec))
    if (syncInterval > 0) w.setSyncInterval(syncInterval)
    val out = DataFileIO.create(path, conf)
    try w.create(avro, out)
    catch { case e: Throwable => out.close(); throw e }
    new AvroRowWriter(w, recordBuilder(schema, avro), out)
  }

  final class AvroRowWriter(w: DataFileWriter[GenericRecord],
      build: InternalRow => GenericRecord,
      out: org.apache.hadoop.fs.FSDataOutputStream) extends AutoCloseable {
    private var n = 0L
    def write(row: InternalRow): Unit = { w.append(build(row)); n += 1 }
    def count: Long = n
    /** Bytes written; the file's length after [[close]]. */
    def length: Long = out.getPos
    override def close(): Unit = w.close()
  }

  // ---- read: GenericRecord -> InternalRow ----

  private def fromAvro(dt: DataType): Any => Any = dt match {
    case BooleanType | IntegerType | DateType | DoubleType => identity
    case ShortType => { case n: java.lang.Integer => n.shortValue(); case v => v }
    case ByteType => { case n: java.lang.Integer => n.byteValue(); case v => v }
    case LongType | TimestampType | TimestampNTZType =>
      { // int->long promotion lands as Integer when the file was narrower
        case n: java.lang.Integer => n.longValue()
        case v => v
      }
    case FloatType => identity
    case StringType => {
      case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
      case s: String => UTF8String.fromString(s)
      case v => UTF8String.fromString(v.toString) // enum symbols et al
    }
    case BinaryType => {
      case b: java.nio.ByteBuffer =>
        val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
      case f: GenericData.Fixed => f.bytes()
      case v => v
    }
    case d: DecimalType => {
      case b: java.nio.ByteBuffer =>
        val out = new Array[Byte](b.remaining()); b.duplicate().get(out)
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(out), d.scale),
          d.precision, d.scale)
      case v => v
    }
    case ArrayType(e, _) =>
      val conv = fromAvro(e)
      v => {
        val in = v.asInstanceOf[java.util.Collection[Any]]
        val out = new Array[Any](in.size())
        val it = in.iterator()
        var j = 0
        while (it.hasNext) {
          val x = it.next()
          out(j) = if (x == null) null else conv(x)
          j += 1
        }
        new GenericArrayData(out)
      }
    case MapType(StringType, vt, _) =>
      val kConv = fromAvro(StringType)
      val vConv = fromAvro(vt)
      v => {
        val in = v.asInstanceOf[java.util.Map[Any, Any]]
        val ks = new Array[Any](in.size())
        val vs = new Array[Any](in.size())
        val it = in.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next()
          ks(j) = kConv(e.getKey)
          vs(j) = if (e.getValue == null) null else vConv(e.getValue)
          j += 1
        }
        new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      }
    case s: StructType =>
      val convs = s.fields.map(f => fromAvro(f.dataType))
      v => {
        val rec = v.asInstanceOf[GenericRecord]
        val row = new GenericInternalRow(s.length)
        var j = 0
        while (j < s.length) {
          val x = rec.get(j)
          row.update(j, if (x == null) null else convs(j)(x))
          j += 1
        }
        row: InternalRow
      }
    case other =>
      throw new UnsupportedOperationException(s"avro data files: type $other")
  }

  /** Iterate `path` projected to `schema` (file-side names, target types).
    * Avro's ResolvingDecoder reorders, promotes (int→long, float→double)
    * and SKIPS unprojected fields without decoding them.
    *
    * `start`/`end` bound the read to a BYTE RANGE: container files are
    * sequences of sync-delimited blocks, so any byte split is a valid work
    * unit — the reader syncs forward to the first block after `start` and
    * stops at the first sync past `end`, the same contract as Avro's own
    * MapReduce splits. (0, Long.MaxValue) reads the whole file. */
  def open(path: String, schema: StructType, conf: Configuration,
      start: Long = 0L, end: Long = Long.MaxValue): AvroRowIterator = {
    val readerSchema = avroSchema(schema)
    val datum = new GenericDatumReader[GenericRecord](null, readerSchema)
    val reader = new DataFileReader[GenericRecord](
      new FsInput(new HPath(path), conf), datum)
    if (start > 0) reader.sync(start)
    val conv = fromAvro(schema).asInstanceOf[Any => InternalRow]
    new AvroRowIterator(reader, conv, end)
  }

  final class AvroRowIterator(reader: DataFileReader[GenericRecord],
      conv: Any => InternalRow, end: Long = Long.MaxValue) extends AutoCloseable {
    // Long.MaxValue means unbounded — it must NOT reach pastSync, whose
    // `position + syncSize` comparison would overflow
    def read(): InternalRow =
      if (reader.hasNext && (end == Long.MaxValue || !reader.pastSync(end)))
        conv(reader.next())
      else null
    override def close(): Unit = reader.close()
  }

  def readAll(path: String, schema: StructType, conf: Configuration)
      (consume: InternalRow => Unit): Unit = {
    val it = open(path, schema, conf)
    try {
      var row = it.read()
      while (row != null) { consume(row); row = it.read() }
    } finally it.close()
  }
}
