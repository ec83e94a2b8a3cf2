package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Format-dispatching executor-side row I/O over data files: the one
  * writer seam (`openWriter`: the DSv2 fanout writers, which also stage
  * equality-delete files, library writes and bin-pack compaction's per-bin
  * outputs) and a row-wise reader (`readAll`, which can decrypt first).
  * Parquet position-delete files have their own writer,
  * [[PositionDeleteWriter]], with the same codec choice
  * ([[compressionOf]]). Table reads, compaction's included, go through
  * the DSv2 scan instead; delete-key loading stays parquet-only since
  * delete files are always parquet. Mirrors the reference's FileFormat
  * dispatch in GenericReader/FileAppenderFactory (api/.../FileFormat.java).
  */
object DataFileIO {

  /** Metadata-fed multi-file DataFrame read: `spark.read.parquet(paths:_*)`
    * existence-checks every ROOT path on the driver at analysis time —
    * thousands of live files mean thousands of stat calls (HEADs, on an
    * object store) before the first byte of data. Sizes are already
    * committed in the manifests, so read through the descriptor-backed
    * FileIndex instead — the same index the DSv2 scan uses.
    * `schema` is the file-side (id-stripped) read schema; Spark's
    * `_metadata` columns stay available. Descriptor sizes are TRUSTED for
    * split planning (a row group past the recorded length is skipped) —
    * the same contract the reference's manifests carry for
    * file_size_in_bytes. An UNDERSTATED size therefore silently truncates
    * the read (for delete files: deleted rows resurrect); sizes written by
    * this library come from the real footer/stat, and externally ingested
    * manifests can be checked with `Actions.verifyFileSizes` /
    * `system.verify_file_sizes` before first use. */
  def indexedDF(spark: org.apache.spark.sql.SparkSession,
      files: Seq[DataFile], format: String,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    val ff = format match {
      case FileFormats.Orc =>
        new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
      case _ =>
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    }
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new graft.connector.GraftFileIndex(spark, files),
        StructType(Nil), schema, None, ff, Map.empty)(spark))
  }

  /** Stream `path` (of `format`) projected to `schema` (file-side names).
    * A non-plaintext `em` decrypts the stored bytes to a local staging file
    * first (the format libraries need a seekable plaintext file); plaintext
    * reads the file directly — zero overhead. */
  def readAll(path: String, format: String, schema: StructType,
      conf: Configuration,
      em: EncryptionManager = PlaintextEncryptionManager)
      (consume: InternalRow => Unit): Unit = {
    def dispatch(p: String): Unit = format match {
      case FileFormats.Orc => OrcIO.readAll(p, schema, conf)(consume)
      case FileFormats.Avro => AvroIO.readAll(p, schema, conf)(consume)
      case _ => ParquetIO.readAll(p, schema, conf)(consume)
    }
    if (em.isPlaintext) dispatch(path)
    else {
      val hp = new org.apache.hadoop.fs.Path(path)
      val in = hp.getFileSystem(conf).open(hp)
      val stored = try in.readAllBytes() finally in.close()
      val tmp = java.nio.file.Files.createTempFile("graft-dec-", "." + format)
      try {
        java.nio.file.Files.write(tmp, em.decrypt(path, stored))
        dispatch(tmp.toString)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

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
      props: Map[String, String] = Map.empty,
      em: EncryptionManager = PlaintextEncryptionManager): Writer = {
    // encrypt-on-write: the format writer produces a plaintext staging file
    // locally; finish() reads metrics from it, transforms the bytes through
    // the manager, and lands the stored form at `path`. Plaintext writes
    // straight to `path` — zero overhead.
    if (!em.isPlaintext) {
      val tmp = java.nio.file.Files
        .createTempFile("graft-enc-", "." + format).toString
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
      val inner = openWriter(tmp, format, schema, idSchema, conf, statModes,
        props, PlaintextEncryptionManager)
      return new Writer {
        override def write(row: InternalRow): Unit = inner.write(row)
        override def finish(): Metrics.FileMetrics = {
          val fm = inner.finish() // metrics from the plaintext form
          val plain = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(tmp))
          val stored = em.encrypt(path, plain)
          val hp = new org.apache.hadoop.fs.Path(path)
          val out = hp.getFileSystem(conf).create(hp, false)
          try out.write(stored) finally out.close()
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
          fm.copy(fileSize = stored.length.toLong)
        }
        override def abort(): Unit = {
          inner.abort()
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
        }
      }
    }
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
