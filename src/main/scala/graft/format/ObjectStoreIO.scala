package graft.format

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Minimal object-store client surface for metadata I/O: flat keyspace,
  * atomic whole-object PUT, and a create-only conditional PUT. This is the
  * contract real stores offer today — S3 `If-None-Match: *` (conditional
  * writes, GA Nov 2024), GCS `x-goog-if-generation-match: 0`, Azure Blob
  * `If-None-Match: *` — so [[ObjectStoreFileIO]] gives the commit protocol
  * a true CAS on object stores, which rename-based HadoopFileIO cannot
  * (rename there is HEAD-then-copy; see HadoopFileIO.writeExclusive's
  * fail-fast). A production client is one small adapter implementing these
  * five methods over the vendor SDK; [[InMemoryObjectStore]] is the
  * in-process implementation used by tests.
  *
  * Keys are full path strings (`mem://bucket/tbl/metadata/v3.metadata.json`)
  * — the "directory tree" is purely a prefix convention, as in real stores.
  */
trait ObjectStoreClient extends Serializable {
  def get(key: String): Option[Array[Byte]]
  /** Unconditional PUT — atomic whole-object replace (last writer wins). */
  def put(key: String, bytes: Array[Byte]): Unit
  /** Create-only conditional PUT (`If-None-Match: *`): false if the key
    * already exists. MUST be atomic — this is the commit CAS. */
  def putIfAbsent(key: String, bytes: Array[Byte]): Boolean
  def delete(key: String): Unit
  /** All keys under `prefix` as (key, size, modifiedMillis). */
  def list(prefix: String): Seq[(String, Long, Long)]
}

/** Process-wide in-memory object store, addressed by `mem://` paths.
  * A singleton registry (like RawLocalFileSystem's view of /tmp): every
  * [[ObjectStoreFileIO]] in the JVM sees the same objects, so local-mode
  * executors resolve the same store the driver wrote. Test-only by nature —
  * a real deployment drops in an SDK-backed [[ObjectStoreClient]] instead. */
object InMemoryObjectStore extends ObjectStoreClient {
  private final case class Obj(bytes: Array[Byte], modifiedMillis: Long)
  private val objects = new ConcurrentHashMap[String, Obj]()

  override def get(key: String): Option[Array[Byte]] =
    Option(objects.get(key)).map(_.bytes)

  override def put(key: String, bytes: Array[Byte]): Unit =
    objects.put(key, Obj(bytes, System.currentTimeMillis()))

  override def putIfAbsent(key: String, bytes: Array[Byte]): Boolean =
    // ConcurrentHashMap.putIfAbsent is the atomic If-None-Match: *
    objects.putIfAbsent(key, Obj(bytes, System.currentTimeMillis())) == null

  override def delete(key: String): Unit = objects.remove(key)

  override def list(prefix: String): Seq[(String, Long, Long)] =
    objects.entrySet().asScala.iterator
      .filter(_.getKey.startsWith(prefix))
      .map(e => (e.getKey, e.getValue.bytes.length.toLong,
        e.getValue.modifiedMillis))
      .toSeq
}

/** [[FileIO]] over an [[ObjectStoreClient]]: the object-store commit path.
  *
  * Differences from filesystem-backed IO, all inherent to object stores:
  *  - no temp-file + rename — a PUT is already atomic and invisible until
  *    complete, so writes go direct;
  *  - [[writeExclusive]] maps to the conditional PUT, giving the version-
  *    file commit true first-writer-wins semantics (the reference gets the
  *    equivalent from a locking catalog, hive-metastore/.../
  *    HiveTableOperations.java lock + metadata_location CAS; conditional
  *    PUT needs no external lock service);
  *  - `mkdirs` is a no-op (prefixes are not entities);
  *  - listing is prefix-scan; [[listShallow]] groups by the next `/`
  *    segment, mirroring delimiter-mode LIST.
  */
final class ObjectStoreFileIO(client: ObjectStoreClient) extends FileIO {

  private def norm(path: String): String = path.stripSuffix("/")

  override def readString(path: String): String =
    new String(readBytes(path), StandardCharsets.UTF_8)

  override def readBytes(path: String): Array[Byte] =
    client.get(norm(path)).getOrElse(
      throw new java.io.FileNotFoundException(path))

  override def writeString(path: String, content: String): Unit =
    client.put(norm(path), content.getBytes(StandardCharsets.UTF_8))

  override def writeBytes(path: String, content: Array[Byte]): Unit =
    client.put(norm(path), content)

  override def writeExclusive(path: String, content: String): Boolean =
    client.putIfAbsent(norm(path), content.getBytes(StandardCharsets.UTF_8))

  override def exists(path: String): Boolean = {
    val p = norm(path)
    client.get(p).isDefined || client.list(p + "/").nonEmpty
  }

  override def deleteIfExists(path: String): Unit = client.delete(norm(path))

  override def mkdirs(dir: String): Unit = () // prefixes are not entities

  override def deleteRecursive(dir: String): Unit = {
    val p = norm(dir)
    client.delete(p)
    client.list(p + "/").foreach { case (k, _, _) => client.delete(k) }
  }

  override def list(dir: String, suffix: String = ""): Seq[FileInfo] =
    client.list(norm(dir) + "/")
      .filter(_._1.endsWith(suffix))
      .map { case (k, size, ts) => FileInfo(k, size, ts) }

  override def listShallow(dir: String): (Seq[String], Seq[FileInfo]) = {
    val prefix = norm(dir) + "/"
    val (nested, direct) = client.list(prefix)
      .partition(_._1.drop(prefix.length).contains('/'))
    val subdirs = nested
      .map { case (k, _, _) => prefix + k.drop(prefix.length).takeWhile(_ != '/') }
      .distinct
    (subdirs, direct.map { case (k, size, ts) => FileInfo(k, size, ts) })
  }
}
