package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Deletion vectors (iceberg v3): position deletes stored as one roaring
  * bitmap per DATA file inside a Puffin container, addressed straight from
  * the manifest (`referenced_data_file`, `content_offset`,
  * `content_size_in_bytes`). Enabled when the table's format-version is 3
  * (`ALTER TABLE ... SET TBLPROPERTIES ('format-version'='3')`).
  *
  * Scale rationale vs parquet position-delete files: a reader task opens
  * exactly the blob of the file it scans (one ranged read, no footer walk,
  * no (file_path, pos) decode of OTHER files' deletes), membership is a
  * bitmap probe instead of a binary search over an 8-byte-per-position
  * array, and a 100M-position vector is tens of MB instead of 800 MB.
  * The reference fork predates v3; the format follows the public spec.
  *
  * Commit semantics here are UNION: all live DVs and parquet position
  * deletes for a file apply together (deletes are a monotone position set,
  * so union is always correct). The spec's one-DV-per-file invariant is
  * restored by maintenance ([[Actions.rewritePositionDeletes]] merges
  * everything into one DV per file); write paths avoid the read-merge-write
  * a strict invariant would force on every small MERGE commit.
  */
/** Executor-shippable address of one DV blob. */
final case class DvSlice(path: String, offset: Long, length: Long,
    referenced: String) extends Serializable

object Dvs {

  def enabled(m: TableMetadata): Boolean = m.formatVersion >= 3

  /** Blob addresses of the puffin members of a delete-file set (canonical
    * referenced paths; deduplicated — the same blob can be planned through
    * several manifests after rewrites). An incomplete address is a loud
    * error, not a skipped delete: silently ignoring the entry would
    * resurrect its masked rows. */
  def slicesOf(files: Seq[DataFile]): Seq[DvSlice] =
    files.filter(_.fileFormat == FileFormats.Puffin).map { f =>
      (f.referencedDataFile, f.contentOffset, f.contentSizeInBytes) match {
        case (Some(ref), Some(off), Some(len)) =>
          DvSlice(f.path, off, len, ParquetIO.canonPath(ref))
        case _ => throw new IllegalStateException(
          s"corrupt manifest: puffin delete entry ${f.path} is missing its " +
          "deletion-vector address (referenced-data-file/content-offset/" +
          "content-size-in-bytes)")
      }
    }.distinct.sortBy(s => (s.path, s.offset))

  /** Serialize bitmaps (keyed by canonical data-file path) into one puffin
    * file's bytes + per-blob DataFile descriptors for the manifest. */
  def buildPuffin(path: String, dvs: Seq[(String, Roaring64NavigableMap)],
      schemaId: Int, specId: Int): (Array[Byte], Seq[DataFile]) = {
    val sorted = dvs.sortBy(_._1)
    val blobs = sorted.map { case (refFile, bm) =>
      (Puffin.DvBlobType, Seq.empty[Int], -1L, -1L, Puffin.dvBlobPayload(bm),
        Map("referenced-data-file" -> refFile,
          "cardinality" -> bm.getLongCardinality.toString))
    }
    val (bytes, metas) = Puffin.write(blobs)
    val files = metas.zip(sorted).map { case (meta, (refFile, bm)) =>
      DataFile(path = path, content = FileContent.PositionDeletes,
        recordCount = bm.getLongCardinality,
        fileSizeInBytes = bytes.length.toLong,
        schemaId = schemaId, specId = specId,
        fileFormat = FileFormats.Puffin,
        referencedDataFile = Some(refFile),
        contentOffset = Some(meta.offset),
        contentSizeInBytes = Some(meta.length))
    }
    (bytes, files)
  }

  /** Write one puffin DV file (executor- or driver-side), created through
    * [[DataFileIO.create]], and return its manifest descriptors. */
  def writePuffin(path: String, dvs: Seq[(String, Roaring64NavigableMap)],
      schemaId: Int, specId: Int, conf: Configuration): Seq[DataFile] = {
    val (bytes, files) = buildPuffin(path, dvs, schemaId, specId)
    val out = DataFileIO.create(path, conf)
    try out.write(bytes) finally out.close()
    files
  }

  /** Load one DV blob: a single ranged read at the manifest-recorded
    * address — the footer is never touched on the scan path. */
  def read(path: String, offset: Long, length: Long,
      conf: Configuration): Roaring64NavigableMap = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(conf)
    val buf = new Array[Byte](length.toInt)
    // ranged reads against object stores fail transiently (connection
    // resets, throttling) far more often than whole-file reads; a DV load
    // sits mid-task, so ride out transient faults with a short bounded
    // retry instead of failing the task. readFully reads the whole range
    // or throws IOException (retried); a blob that decodes but fails CRC
    // is genuine corruption and propagates immediately.
    retryTransient(attempts = 3) {
      val in = fs.open(hp)
      try in.readFully(offset, buf) finally in.close()
      Puffin.dvFromBlobPayload(buf)
    }
  }

  /** Run `body`, retrying up to `attempts` total times on IOException with
    * short backoff; the last failure propagates. */
  private[format] def retryTransient[T](attempts: Int)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: java.io.IOException =>
          if (attempt >= attempts) throw e
          Thread.sleep(25L << attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stage a (file_path, pos) DataFrame as puffin DV files — the DV dual of
    * the parquet position-delete stagers: hash-partition by data file so
    * each file's bitmap builds in exactly one task, write one puffin file
    * per non-empty partition. Returns manifest descriptors (uncommitted). */
  def stageFromPositions(table: GraftTable, positions: DataFrame,
      partitions: Int = 0): Seq[DataFile] = {
    val m = table.metadata
    val staging = table.locations.newDataLocation(java.util.UUID.randomUUID().toString)
    val sconf = HadoopFileIO.broadcastConf(table.spark, ParquetIO.writeConf(table.spark))
    val canon = udf((s: String) => if (s == null) null else ParquetIO.canonPath(s))
    val named = positions.toDF("file_path", "pos")
      .select(canon(col("file_path")).as("file_path"), col("pos").cast("long").as("pos"))
    val n = if (partitions > 0) partitions
      else math.max(1, math.min(named.sparkSession.sparkContext.defaultParallelism,
        32))
    val (schemaId, specId) = (m.currentSchemaId, m.defaultSpecId)
    named.repartition(n, col("file_path"))
      .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        val byFile = scala.collection.mutable.HashMap[String, Roaring64NavigableMap]()
        it.foreach { row =>
          if (!row.isNullAt(0) && !row.isNullAt(1))
            byFile.getOrElseUpdate(row.getUTF8String(0).toString,
              new Roaring64NavigableMap()).addLong(row.getLong(1))
        }
        if (byFile.isEmpty) Iterator.empty
        else {
          val path = s"$staging/dv-$pid-${java.util.UUID.randomUUID()}.puffin"
          Iterator.single(writePuffin(path, byFile.toSeq, schemaId, specId,
            sconf.value.value))
        }
      }.collect().toSeq.flatten.sortBy(f => (f.path, f.referencedDataFile))
  }
}
