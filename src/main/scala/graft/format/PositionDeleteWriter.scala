package graft.format

import graft.connector.GraftBatchWrite.StagedFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one writer of parquet position-delete files (reference
  * core/.../deletes/PositionDeleteWriter.java), run in the executor task
  * that stages the file. Rows arrive sorted by (file_path, pos) in Spark's
  * order: the path's UTF-8 bytes, then the position. A row out of that
  * order fails the task rather than write an unsorted file. The file is
  * written with the table's `write.parquet.compression-codec`, and
  * [[finish]] returns its record count, size and the canonical min and max
  * target path (Java `String` order, see [[DeleteIndex.posDeletesFor]]) under
  * [[Deletes.PathFieldId]], so no one re-reads the file to commit it. The
  * file is created at the first row: a writer that sees none stages
  * nothing. */
final class PositionDeleteWriter(path: String, conf: Configuration,
    props: Map[String, String]) {
  private var writer: ParquetIO.RowWriter = null
  private val row = new GenericInternalRow(2)
  private var count = 0L
  private var lastFile: UTF8String = null
  private var lastPos = -1L
  private var minTarget: String = null
  private var maxTarget: String = null

  def write(file: UTF8String, pos: Long): Unit = {
    // UTF8String compares by bytes: the order Spark's sort produced
    val c = if (lastFile == null) 1 else file.compareTo(lastFile)
    if (c < 0 || (c == 0 && pos < lastPos))
      throw new IllegalStateException(
        s"position deletes arrived unsorted (($file, $pos) after " +
        s"($lastFile, $lastPos)) — required ordering not honored")
    if (writer == null) {
      DataFileIO.mkdirs(new Path(path).getParent.toString, conf)
      writer = ParquetIO.openWriter(path, PositionDeleteWriter.Schema, conf,
        DataFileIO.compressionOf(FileFormats.Parquet, props))
    }
    if (c > 0) {
      val target = ParquetIO.canonPath(file.toString)
      if (minTarget == null || target < minTarget) minTarget = target
      if (maxTarget == null || target > maxTarget) maxTarget = target
      // rows may point into a reused buffer
      lastFile = file.copy()
    }
    row.update(0, file)
    row.update(1, pos)
    writer.write(row)
    count += 1
    lastPos = pos
  }

  /** Close the file and return it with its metrics, or None when no row
    * arrived. */
  def finish(): Option[StagedFile] =
    if (writer == null) None
    else {
      writer.close()
      val size = writer.length
      writer = null
      Some(StagedFile(path, Map.empty, Metrics.FileMetrics(count, size,
        Map.empty, Map.empty, Map(Deletes.PathFieldId -> minTarget),
        Map(Deletes.PathFieldId -> maxTarget), Nil, Seq(Deletes.PathFieldId))))
    }

  /** Close and delete whatever this writer staged. */
  def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Exception => }
      writer = null
    }
    val hp = new Path(path)
    try hp.getFileSystem(conf).delete(hp, false)
    catch { case _: java.io.IOException => }
  }
}

object PositionDeleteWriter {
  /** The columns of a position-delete file (reference MetadataColumns
    * DELETE_FILE_PATH and DELETE_FILE_POS). */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Stage a (file_path, pos) DataFrame as sorted position-delete files of
    * `table`, uncommitted: range-partitioned on (file_path, pos) into
    * `ranges` partitions, one file per non-empty one. The files cover
    * disjoint path ranges, so `DeleteIndex.posDeletesFor` attaches each
    * only to its own targets. `ranges` = 0 leaves the count to Spark, whose adaptive
    * execution coalesces a small set into one file. Null rows, which
    * readers skip, are dropped. */
  def stage(table: GraftTable, positions: DataFrame, ranges: Int = 0): Seq[DataFile] = {
    val m = table.metadata
    stageJob(table, positions, ranges).collect().toSeq.sortBy(_.path)
      .map(_.toDataFile(m, FileFormats.Parquet, FileContent.PositionDeletes))
  }

  /** The one Spark job [[stage]] runs: each task writes its range and
    * returns the staged file with its metrics. */
  private[graft] def stageJob(table: GraftTable, positions: DataFrame,
      ranges: Int): org.apache.spark.rdd.RDD[StagedFile] = {
    val dir = table.locations.newDataLocation(s"deletes-${java.util.UUID.randomUUID()}")
    val conf = HadoopFileIO.broadcastConf(table.spark, ParquetIO.writeConf(table.spark))
    val props = table.metadata.properties
    val keys = Seq(col("file_path"), col("pos"))
    val named = positions.toDF("file_path", "pos")
      .select(col("file_path"), col("pos").cast("long").as("pos"))
      .filter(col("file_path").isNotNull && col("pos").isNotNull)
    val ranged =
      if (ranges > 0) named.repartitionByRange(ranges, keys: _*)
      else named.repartitionByRange(keys: _*)
    ranged.sortWithinPartitions(keys: _*).queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val w = new PositionDeleteWriter(
          s"$dir/delete-$pid-${java.util.UUID.randomUUID()}.parquet",
          conf.value.value, props)
        try rows.foreach(r => w.write(r.getUTF8String(0), r.getLong(1)))
        catch { case e: Throwable => w.abort(); throw e }
        w.finish().iterator
      }
  }
}
