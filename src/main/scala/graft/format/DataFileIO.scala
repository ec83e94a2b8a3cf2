package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Format-dispatching executor-side row I/O over data files: the one
  * writer seam (`openWriter`: the DSv2 fanout writers, which also stage
  * equality-delete files, library writes and bin-pack compaction's per-bin
  * outputs). Parquet position-delete files have their own writer,
  * [[PositionDeleteWriter]], with the same codec choice
  * ([[compressionOf]]). Table reads, compaction's included, go through
  * the DSv2 scan instead; delete files, always parquet, are read by
  * [[ParquetIO]] ([[PositionDeleteReader]] for position deletes). Mirrors
  * the reference's FileFormat dispatch in
  * GenericReader/FileAppenderFactory (api/.../FileFormat.java).
  */
object DataFileIO {

  /** One open data file of any supported encoding + its end-of-file metrics
    * (footer read for parquet/ORC; writer-side count for Avro, which has no
    * footer stats — reference FileAppender.metrics()). */
  trait Writer {
    def write(row: InternalRow): Unit
    /** Close and return the file's metrics keyed by `idSchema` field ids. */
    def finish(): Metrics.FileMetrics
    def abort(): Unit
  }

  /** Table property naming the codec for each format (reference
    * TableProperties.PARQUET_COMPRESSION / AVRO_COMPRESSION + the ORC
    * analog); default snappy everywhere. */
  def compressionKey(format: String): String = s"write.$format.compression-codec"

  /** Resolve AND canonicalize the codec choice — one validation point for
    * every writer this object opens and for [[PositionDeleteWriter]], so a
    * property value is accepted (and mapped) the same way for parquet, ORC
    * and Avro data files and for delete files.
    * Canonical names are what each format's writer understands. */
  def compressionOf(format: String, props: Map[String, String]): String = {
    val raw = props.getOrElse(compressionKey(format), "snappy").toLowerCase
    val canonical = (format, raw) match {
      case (_, "snappy") => "snappy"
      case (FileFormats.Parquet, "none" | "uncompressed") => "uncompressed"
      case (FileFormats.Parquet, "gzip" | "zstd") => raw
      case (FileFormats.Orc, "none" | "uncompressed") => "none"
      case (FileFormats.Orc, "zlib" | "gzip") => "zlib"
      case (FileFormats.Orc, "zstd" | "lz4") => raw
      case (FileFormats.Avro, "none" | "uncompressed" | "null") => "none"
      case (FileFormats.Avro, "deflate" | "gzip") => "deflate"
      case (FileFormats.Avro, "zstd") => "zstd"
      case _ => throw new IllegalArgumentException(
        s"unsupported ${compressionKey(format)}: $raw")
    }
    canonical
  }

  /** Open a writer for `format`. `schema` is the clean (id-less) write
    * schema; `idSchema` carries field ids for metrics keying. For parquet,
    * `conf` must carry the ParquetWriteSupport session keys (use
    * ParquetIO.writeConf or a batch-write factory conf). `props` supplies
    * the per-format `write.<fmt>.compression-codec` choice. */
  def openWriter(path: String, format: String, schema: StructType,
      idSchema: StructType, conf: Configuration,
      statModes: Map[Int, Metrics.Mode] = Map.empty,
      props: Map[String, String] = Map.empty): Writer = {
    val codec = compressionOf(format, props)

    def delete(): Unit = {
      val hp = new org.apache.hadoop.fs.Path(path)
      try hp.getFileSystem(conf).delete(hp, false) catch { case _: Throwable => }
    }

    format match {
      case FileFormats.Orc => new Writer {
        private val w = OrcIO.openWriter(path, schema, conf, codec)
        override def write(row: InternalRow): Unit = w.write(row)
        override def finish(): Metrics.FileMetrics = {
          w.close()
          OrcIO.footerMetrics(path, idSchema, conf, statModes)
        }
        override def abort(): Unit = {
          try w.close() catch { case _: Throwable => }
          delete()
        }
      }
      case FileFormats.Avro => new Writer {
        private val w = AvroIO.openWriter(path, schema, conf, codec = codec)
        override def write(row: InternalRow): Unit = w.write(row)
        override def finish(): Metrics.FileMetrics = {
          val n = w.count
          w.close()
          val hp = new org.apache.hadoop.fs.Path(path)
          val size = hp.getFileSystem(conf).getFileStatus(hp).getLen
          // Avro carries no column statistics — record count + size only
          Metrics.FileMetrics(n, size, Map.empty, Map.empty, Map.empty,
            Map.empty, Nil)
        }
        override def abort(): Unit = {
          try w.close() catch { case _: Throwable => }
          delete()
        }
      }
      case _ => new Writer {
        private val w = ParquetIO.openWriter(path, schema, conf, codec)
        override def write(row: InternalRow): Unit = w.write(row)
        override def finish(): Metrics.FileMetrics = {
          w.close()
          // metrics from the writer's OWN footer (what it just
          // serialized) — no re-open/re-parse of the file per close; only
          // a file-size stat remains
          val hp = new org.apache.hadoop.fs.Path(path)
          Metrics.fromParquetMetadata(w.getFooter,
            hp.getFileSystem(conf).getFileStatus(hp).getLen,
            idSchema, statModes)
        }
        override def abort(): Unit = {
          try w.close() catch { case _: Throwable => }
          delete()
        }
      }
    }
  }
}
