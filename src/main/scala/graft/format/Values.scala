package graft.format

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._
import java.util.Base64

/** JSON codec for canonical values, typed by the table schema (our analog of
  * the reference's single-value serialization used in metadata;
  * bounds there are binary `Conversions.toByteBuffer` — we use typed JSON,
  * same information). */
object Values {

  /** Widen a runtime value to `dt`'s runtime class along the ALLOWED
    * promotion axes (int→long, float→double — SchemaUpdate's
    * promotionAllowed; reference TypeUtil.isPromotionAllowed): after a
    * type promotion, descriptors staged earlier still carry the OLD
    * runtime class in memory, and pre-promotion manifests carry the old
    * byte width. Normalizing here (and in [[fromBytes]]) keeps every
    * bounds comparison and manifest re-encode (merges, rewrites)
    * promotion-safe — the reference does the width tolerance in
    * Conversions.fromByteBuffer (api/.../types/Conversions.java). */
  def widen(v: Any, dt: DataType): Any = (v, dt) match {
    case (i: java.lang.Integer,
        LongType | TimestampType | TimestampNTZType | _: TimeType) =>
      i.longValue()
    case (f: java.lang.Float, DoubleType) => f.doubleValue()
    case _ => v
  }

  def toJson(parent: ObjectNode, field: String, v0: Any, dt: DataType): Unit = {
    if (v0 == null) { parent.putNull(field); return }
    val v = widen(v0, dt)
    dt match {
      case IntegerType | DateType => parent.put(field, v.asInstanceOf[Int])
      // time canonical = nanos-of-day (Spark's internal TIME encoding)
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        parent.put(field, v.asInstanceOf[Long])
      case DoubleType => parent.put(field, v.asInstanceOf[Double])
      case FloatType => parent.put(field, v.asInstanceOf[Float])
      case StringType => parent.put(field, v.asInstanceOf[String])
      case BooleanType => parent.put(field, v.asInstanceOf[Boolean])
      case _: DecimalType =>
        parent.put(field, v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case BinaryType =>
        parent.put(field, Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case t => throw new IllegalArgumentException(s"cannot serialize $t")
    }
  }

  def fromJson(n: JsonNode, dt: DataType): Any = {
    if (n == null || n.isNull) return null
    dt match {
      case IntegerType | DateType => n.asInt()
      case LongType | TimestampType | TimestampNTZType | _: TimeType => n.asLong()
      case DoubleType => n.asDouble()
      case FloatType => n.asDouble().toFloat
      case StringType => n.asText()
      case BooleanType => n.asBoolean()
      case _: DecimalType => new java.math.BigDecimal(n.asText())
      case BinaryType => Base64.getDecoder.decode(n.asText())
      case t => throw new IllegalArgumentException(s"cannot deserialize $t")
    }
  }

  /** Single-value BINARY serialization (the reference's
    * `Conversions.toByteBuffer`, api/.../types/Conversions.java, and the
    * Iceberg spec's Appendix D): fixed-width numerics little-endian,
    * strings UTF-8, decimals as minimal two's-complement unscaled
    * big-endian bytes. Used for bounds and partition values inside
    * Avro-format manifests, where values are stored untyped (`bytes`) and
    * decoded against the table schema / partition spec. */
  def toBytes(v0: Any, dt: DataType): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val v = widen(v0, dt) // stale pre-promotion runtime classes re-encode
    dt match {
      case IntegerType | DateType => le(4).putInt(v.asInstanceOf[Int]).array()
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        le(8).putLong(v.asInstanceOf[Long]).array()
      case FloatType => le(4).putFloat(v.asInstanceOf[Float]).array()
      case DoubleType => le(8).putDouble(v.asInstanceOf[Double]).array()
      case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case StringType =>
        v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case BinaryType => v.asInstanceOf[Array[Byte]]
      case d: DecimalType =>
        v.asInstanceOf[java.math.BigDecimal].setScale(d.scale)
          .unscaledValue().toByteArray
      case t => throw new IllegalArgumentException(s"cannot serialize $t")
    }
  }

  def fromBytes(b: Array[Byte], dt: DataType): Any = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le: ByteBuffer = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType => le.getInt
      // width tolerance: bounds written before an int→long / float→double
      // promotion are 4 bytes — read at the old width, return widened
      // (reference Conversions.fromByteBuffer does the same)
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        if (b.length == 4) le.getInt.toLong else le.getLong
      case FloatType => le.getFloat
      case DoubleType =>
        if (b.length == 4) le.getFloat.toDouble else le.getDouble
      case BooleanType => b(0) != 0
      case StringType => new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case BinaryType => b
      case d: DecimalType =>
        new java.math.BigDecimal(new java.math.BigInteger(b), d.scale)
      case t => throw new IllegalArgumentException(s"cannot deserialize $t")
    }
  }

  /** Render a partition value as the hive-style dir string Spark writes. */
  def toDirString(v: Any): String = v match {
    case null => "__HIVE_DEFAULT_PARTITION__"
    case other => other.toString
  }

  /** Parse a hive-style partition dir string back to a canonical value. */
  def fromDirString(s: String, dt: DataType): Any = {
    if (s == "__HIVE_DEFAULT_PARTITION__") return null
    dt match {
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType | TimestampNTZType | _: TimeType => s.toLong
      case StringType => s
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case _: DecimalType => new java.math.BigDecimal(s)
      case t => throw new IllegalArgumentException(s"cannot parse partition $t")
    }
  }

  /** Parse an EXTERNAL hive dir value (as Spark/Hive render them — dates as
    * `2024-01-01`, not our canonical day ordinals) to a canonical value.
    * Used by partitioned table import (SparkTableUtil.java:569-631). */
  def fromHiveDirString(s: String, dt: DataType): Any = {
    if (s == "__HIVE_DEFAULT_PARTITION__") return null
    dt match {
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampType | TimestampNTZType => throw new IllegalArgumentException(
        "timestamp-partitioned imports are not supported; re-partition by date")
      case other => fromDirString(s, other)
    }
  }

  /** Canonical value → Catalyst internal value (partition values served
    * through the DSv2 FileIndex ride InternalRows). */
  def toCatalyst(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
      case d: DecimalType =>
        Decimal(v.asInstanceOf[java.math.BigDecimal])
      case _ => v // Int/Long/Double/Float/Boolean; date days; ts micros
    }
}
