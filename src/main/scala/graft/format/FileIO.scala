package graft.format

/** Listing entry returned by [[FileIO.list]]. */
final case class FileInfo(path: String, size: Long, modifiedMillis: Long)

/** File I/O seam (reference api/.../io/FileIO.java, local impl
  * hadoop/HadoopFileIO.java): every metadata byte graft reads or writes —
  * version files, manifests, manifest lists — and every maintenance-side
  * file operation (expiry deletes, orphan listing) goes through this trait,
  * so pointing a table at an object store is one new implementation instead
  * of a code-wide rewrite. The trait is Serializable because distributed
  * maintenance jobs (rewriteManifests) ship it to executor tasks.
  *
  * Data and delete files are NOT written here: every writer creates its
  * file through [[DataFileIO.create]], which routes local paths the same way
  * ([[forPath]]: java.nio, no `chmod` process, no `.crc` sidecar) and every
  * other scheme through Hadoop's FileSystem with the task's conf. They are
  * read through Hadoop's FileSystem (Spark's own seam), and expiry and
  * orphan sweeps delete them here.
  */
object FileIO {
  /** Pick an implementation by path scheme: plain paths stay on the
    * local-disk impl (hard-link CAS); ANY scheme — `hdfs://`, `s3a://`,
    * and `file://` itself — routes through Hadoop's FileSystem
    * (HadoopFileIO), the same seam the data-file readers already use.
    * (`file:` URIs must not reach LocalFileIO: java.nio would parse the
    * scheme as a relative path component.) */
  def forPath(location: String): FileIO = {
    val scheme = new org.apache.hadoop.fs.Path(location).toUri.getScheme
    if (scheme == null) LocalFileIO
    // the conditional-PUT object-store path (mem:// = in-process store;
    // a production s3/gs/abfs client registers the same way)
    else if (scheme == "mem") new ObjectStoreFileIO(InMemoryObjectStore)
    else new HadoopFileIO()
  }
}

object HadoopFileIO {
  /** Schemes whose rename is HEAD-then-copy (never an atomic CAS). */
  private[format] val NonAtomicRenameSchemes =
    Set("s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  /** The active Spark session's Hadoop conf (spark.hadoop.* applied), or a
    * default Configuration off-session (plain tests). */
  private[format] def sessionConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration()))

  /** Ship `conf` to executors once: the one broadcast a scan, write or job
    * hands its factories and closures (tasks read `.value.value`), as
    * Spark's own ParquetScan does with `broadcastedConf`. A session Hadoop
    * conf serializes to ~110 KB, so carrying it by value would re-ship and
    * re-parse it in every task of every group or writer. */
  def broadcastConf(spark: org.apache.spark.sql.SparkSession,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(conf))
}

trait FileIO extends Serializable {
  def readString(path: String): String

  /** Write atomically with last-writer-wins semantics (temp + rename). */
  def writeString(path: String, content: String): Unit

  /** Raw-bytes read — Avro manifests are binary. */
  def readBytes(path: String): Array[Byte]

  /** Atomic raw-bytes write (temp + rename), the binary [[writeString]]. */
  def writeBytes(path: String, content: Array[Byte]): Unit

  /** Create `path` with `content` only if it does not exist, atomically —
    * the CAS primitive under the commit protocol. Local disk uses link(2)
    * (EEXIST is atomic); an object store maps this to a conditional PUT
    * (`If-None-Match: *`). Returns false when the path already exists. */
  def writeExclusive(path: String, content: String): Boolean

  def exists(path: String): Boolean
  def deleteIfExists(path: String): Unit
  def mkdirs(dir: String): Unit
  def deleteRecursive(dir: String): Unit

  /** Recursive listing of regular files under `dir` with the given suffix
    * ("" = all). Missing dir lists empty. */
  def list(dir: String, suffix: String = ""): Seq[FileInfo]

  /** ONE level of `dir`: (subdirectory paths, regular files). The fan-out
    * point for distributed listing — a driver lists the (few) first-level
    * prefixes, executors recurse into them in parallel (`list`). Default
    * falls back to a driver-side recursive walk reported as files-only. */
  def listShallow(dir: String): (Seq[String], Seq[FileInfo]) =
    (Nil, list(dir))
}

/** Default local-filesystem implementation (reference HadoopFileIO with a
  * `file:` scheme). A Scala `object` serializes as a singleton reference,
  * so executor tasks resolve back to this instance. */
object LocalFileIO extends FileIO {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}
  import scala.jdk.CollectionConverters._

  private def p(s: String): Path = Paths.get(s)

  override def readString(path: String): String = Files.readString(p(path))

  override def readBytes(path: String): Array[Byte] = Files.readAllBytes(p(path))

  override def writeString(path: String, content: String): Unit =
    writeBytes(path, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def writeBytes(path: String, content: Array[Byte]): Unit = {
    val target = p(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, content)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  override def writeExclusive(path: String, content: String): Boolean = {
    val target = p(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try {
      // hard-link is the CAS: link(2) fails with EEXIST *atomically*
      // (Files.move without REPLACE_EXISTING pre-checks existence non-
      // atomically — two racing committers can both pass the check and one
      // silently overwrites the other)
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  override def exists(path: String): Boolean = Files.exists(p(path))

  /** Also removes the `.<name>.crc` checksum that Hadoop's LocalFileSystem
    * wrote beside files it created (graft's data files before
    * [[DataFileIO.create]], imported files), which no listing reclaims. */
  override def deleteIfExists(path: String): Unit = {
    val f = p(path)
    Files.deleteIfExists(f)
    if (f.getFileName != null)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  override def mkdirs(dir: String): Unit = Files.createDirectories(p(dir))

  override def deleteRecursive(dir: String): Unit = {
    val root = p(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
  }

  override def list(dir: String, suffix: String = ""): Seq[FileInfo] = {
    val root = p(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .map(f => FileInfo(f.toString, Files.size(f),
        Files.getLastModifiedTime(f).toMillis))
      .toSeq
  }

  override def listShallow(dir: String): (Seq[String], Seq[FileInfo]) = {
    val root = p(dir)
    if (!Files.exists(root)) return (Nil, Nil)
    val entries = Files.list(root).iterator().asScala.toSeq
    val (dirs, files) = entries.partition(Files.isDirectory(_))
    (dirs.map(_.toString),
      files.filter(Files.isRegularFile(_)).map(f => FileInfo(f.toString,
        Files.size(f), Files.getLastModifiedTime(f).toMillis)))
  }
}

/** FileIO over Hadoop's FileSystem — the object-store path (reference
  * hadoop/HadoopFileIO.java). Works for any registered scheme.
  *
  * The commit CAS ([[writeExclusive]]) is only as atomic as the underlying
  * filesystem's no-overwrite rename, exactly like the reference
  * HadoopTableOperations ("should be used sparingly ... requires atomic
  * rename"): HDFS qualifies; `file://` does NOT (RawLocalFileSystem's
  * rename pre-checks existence non-atomically), so file: URIs are routed
  * to the hard-link CAS; object stores (s3a/gs/abfs/...) do NOT (rename is
  * HEAD-then-copy) and FAIL FAST — a conditional-PUT FileIO or a locking
  * catalog is required there, never a silent maybe-lost commit.
  *
  * Carries the Spark session's Hadoop conf (SerializableConfiguration), so
  * `spark.hadoop.*` settings — s3a credentials/endpoints, HDFS HA
  * nameservice mappings — reach metadata I/O the same way they reach the
  * data-file readers. */
final class HadoopFileIO(
    sconf: org.apache.spark.util.SerializableConfiguration) extends FileIO {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  def this() = this(HadoopFileIO.sessionConf())

  private def conf = sconf.value
  private def fs(path: String): FileSystem = new HPath(path).getFileSystem(conf)

  override def readString(path: String): String =
    new String(readBytes(path), java.nio.charset.StandardCharsets.UTF_8)

  override def readBytes(path: String): Array[Byte] = {
    val in = fs(path).open(new HPath(path))
    try in.readAllBytes()
    finally in.close()
  }

  private def writeTemp(target: HPath, content: String): HPath =
    writeTempBytes(target, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def writeTempBytes(target: HPath, content: Array[Byte]): HPath = {
    val f = fs(target.toString)
    val tmp = new HPath(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(content)
    finally out.close()
    tmp
  }

  override def writeString(path: String, content: String): Unit =
    writeBytes(path, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def writeBytes(path: String, content: Array[Byte]): Unit = {
    val target = new HPath(path)
    val f = fs(path)
    f.mkdirs(target.getParent)
    val tmp = writeTempBytes(target, content)
    // FileContext's OVERWRITE rename is atomic on HDFS — a delete-then-
    // rename would open a window where the target (e.g. version-hint)
    // does not exist and concurrent loads fail
    org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
      .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  override def writeExclusive(path: String, content: String): Boolean = {
    val scheme = Option(new HPath(path).toUri.getScheme).getOrElse("")
    if (scheme == "file")
      // LocalFileSystem's no-overwrite rename pre-checks existence
      // non-atomically (two racing committers can both pass); link(2) is
      // the real local CAS
      return LocalFileIO.writeExclusive(new HPath(path).toUri.getPath, content)
    if (HadoopFileIO.NonAtomicRenameSchemes.contains(scheme))
      throw new UnsupportedOperationException(
        s"$scheme:// rename is copy-then-delete, not atomic — commits would " +
        "silently race. Use a conditional-PUT FileIO or a locking catalog " +
        "for object-store tables.")
    val target = new HPath(path)
    val f = fs(path)
    f.mkdirs(target.getParent)
    val tmp = writeTemp(target, content)
    // rename without overwrite IS the CAS on HDFS: fails when target exists
    val won = try f.rename(tmp, target) && f.exists(target)
      catch { case _: java.io.IOException => false }
    if (!won) f.delete(tmp, false)
    won
  }

  override def exists(path: String): Boolean = fs(path).exists(new HPath(path))

  override def deleteIfExists(path: String): Unit = {
    val f = fs(path)
    val p = new HPath(path)
    if (f.exists(p)) f.delete(p, false)
  }

  override def mkdirs(dir: String): Unit = fs(dir).mkdirs(new HPath(dir))

  override def deleteRecursive(dir: String): Unit = {
    val f = fs(dir)
    val p = new HPath(dir)
    if (f.exists(p)) f.delete(p, true)
  }

  override def list(dir: String, suffix: String = ""): Seq[FileInfo] = {
    val f = fs(dir)
    val p = new HPath(dir)
    if (!f.exists(p)) return Nil
    val out = Seq.newBuilder[FileInfo]
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val path = st.getPath.toString
      if (st.isFile && path.endsWith(suffix))
        out += FileInfo(path, st.getLen, st.getModificationTime)
    }
    out.result()
  }

  override def listShallow(dir: String): (Seq[String], Seq[FileInfo]) = {
    val f = fs(dir)
    val p = new HPath(dir)
    if (!f.exists(p)) return (Nil, Nil)
    val (dirs, files) = f.listStatus(p).toSeq.partition(_.isDirectory)
    (dirs.map(_.getPath.toString),
      files.filter(_.isFile).map(st => FileInfo(st.getPath.toString,
        st.getLen, st.getModificationTime)))
  }
}
