package graft.format

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Format-dispatching executor-side row I/O over data files: the one
  * writer seam ([[Writers]]: the DSv2 fanout writers, which also stage
  * equality-delete files, library writes and bin-pack compaction's per-bin
  * outputs), and the one place a data or delete file is created
  * ([[create]], [[mkdirs]]): every format writer, [[PositionDeleteWriter]]
  * and the puffin DV writer open their files here. Parquet position-delete
  * files have their own writer, [[PositionDeleteWriter]], with the same
  * codec choice ([[compressionOf]]). Table reads, compaction's included, go
  * through the DSv2 scan instead; delete files, always parquet, are read by
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

  /** Create `path` new for one data or delete file, the one create every
    * graft writer goes through (the reference's FileIO.newOutputFile). A
    * schemeless path or an authority-less `file:` URI is created with
    * java.nio, as [[LocalFileIO]] writes metadata: no `chmod` process and
    * no `.crc` sidecar, so the file gets the process umask. Every other
    * scheme goes through `FileSystem.create(path, false)` with `conf`, the
    * task's broadcast conf. An existing file fails the create, and missing
    * parent directories are made, as Hadoop's `create` does. The stream's
    * final `getPos` is the file's length. */
  def create(path: String, conf: Configuration): FSDataOutputStream =
    localPath(path) match {
      case Some(p) =>
        def open() = Files.newOutputStream(p, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE)
        val raw =
          try open()
          catch {
            case _: java.nio.file.NoSuchFileException if p.getParent != null =>
              Files.createDirectories(p.getParent)
              open()
          }
        new FSDataOutputStream(new BufferedOutputStream(raw, BufferBytes), null)
      case None =>
        val hp = new HPath(path)
        hp.getFileSystem(conf).create(hp, false)
    }

  /** Make `dir` and its parents for the files [[create]] puts there, routed
    * the same way. */
  def mkdirs(dir: String, conf: Configuration): Unit =
    localPath(dir) match {
      case Some(p) => Files.createDirectories(p)
      case None =>
        val hp = new HPath(dir)
        hp.getFileSystem(conf).mkdirs(hp)
    }

  private val BufferBytes = 64 * 1024

  /** The java.nio path of a local-disk location, as [[FileIO.forPath]] and
    * [[HadoopFileIO]]'s `writeExclusive` route them. */
  private def localPath(path: String): Option[java.nio.file.Path] = {
    val u = new HPath(path).toUri
    u.getScheme match {
      case null => Some(Paths.get(path))
      case "file" if u.getAuthority == null || u.getAuthority.isEmpty =>
        Some(Paths.get(u.getPath))
      case _ => None
    }
  }

  /** Opens writers of one `format` and write schema for one task, with the
    * format's prepared conf built once, not per file. `schema` is the clean
    * (id-less) write schema; `idSchema` carries field ids for metrics
    * keying. For parquet, `conf` must carry the ParquetWriteSupport session
    * keys (use ParquetIO.writeConf or a batch-write factory conf). `props`
    * supplies the per-format `write.<fmt>.compression-codec` choice. */
  final class Writers(format: String, schema: StructType, idSchema: StructType,
      conf: Configuration, statModes: Map[Int, Metrics.Mode] = Map.empty,
      props: Map[String, String] = Map.empty) {
    private val codec = compressionOf(format, props)
    private lazy val parquet = new ParquetIO.Writers(schema, conf, codec)

    def open(path: String): Writer = format match {
      case FileFormats.Orc =>
        val w = OrcIO.openWriter(path, schema, conf, codec)
        writer(path, w.write, () => w.close(),
          () => OrcIO.footerMetrics(path, idSchema, conf, statModes, w.length))
      case FileFormats.Avro =>
        val w = AvroIO.openWriter(path, schema, conf, codec = codec)
        // Avro carries no column statistics — record count + size only
        writer(path, w.write, () => w.close(), () => Metrics.FileMetrics(w.count,
          w.length, Map.empty, Map.empty, Map.empty, Map.empty, Nil))
      case _ =>
        val w = parquet.open(path)
        // metrics from the writer's OWN footer (what it just serialized) —
        // no re-open/re-parse of the file per close
        writer(path, w.write, () => w.close(),
          () => Metrics.fromParquetMetadata(w.footer, w.length, idSchema, statModes))
    }

    private def writer(path: String, put: InternalRow => Unit, close: () => Unit,
        metrics: () => Metrics.FileMetrics): Writer = new Writer {
      override def write(row: InternalRow): Unit = put(row)
      override def finish(): Metrics.FileMetrics = { close(); metrics() }
      override def abort(): Unit = {
        try close() catch { case _: Throwable => }
        val hp = new HPath(path)
        try hp.getFileSystem(conf).delete(hp, false) catch { case _: Throwable => }
      }
    }
  }
}
