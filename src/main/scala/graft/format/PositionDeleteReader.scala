package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** The one decoder of position deletes, the read twin of
  * [[PositionDeleteWriter]]. Every consumer reads delete content here: the
  * scan's delete filter (graft.connector.PosDeleteCache), exact target
  * lookups ([[DeleteIndex.targetsOf]]) and the `$position_deletes` table
  * (graft.connector.PosDeleteScanTable), which position-delete compaction
  * reads through.
  *
  * A parquet file must carry both spec columns, `file_path` and `pos`
  * (matched case-insensitively). A missing one means a corrupt or foreign
  * file, and null-filling it would silently drop its deletes, so the read
  * fails instead ([[ParquetIO.RowReader]] with `requireAll`). Rows with a null
  * column are skipped. Target paths come back canonical
  * ([[ParquetIO.canonPath]]). DV blobs decode through [[Dvs.read]].
  */
object PositionDeleteReader {

  // nullable, unlike the writer's schema: foreign files may hold null rows
  private val Schema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** The dead positions of every target of parquet files `paths` and DV
    * blobs `dvs`, unioned per canonical data-file path. */
  def read(paths: Seq[String], dvs: Seq[DvSlice],
      conf: Configuration): Map[String, Roaring64NavigableMap] = {
    val byFile = scala.collection.mutable.HashMap[String, Roaring64NavigableMap]()
    def setOf(f: String): Roaring64NavigableMap =
      byFile.getOrElseUpdate(f, new Roaring64NavigableMap())
    lazy val reader = new ParquetIO.RowReader(Schema, conf, requireAll = true,
      what = "position-delete file")
    paths.foreach { p =>
      // rows arrive sorted by file_path: canonicalize each run once
      var lastRaw: UTF8String = null
      var last: Roaring64NavigableMap = null
      reader.readAll(p) { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val raw = row.getUTF8String(0)
          if (raw != lastRaw) {
            lastRaw = raw.copy() // the reader may reuse its buffer
            last = setOf(ParquetIO.canonPath(raw.toString))
          }
          last.addLong(row.getLong(1))
        }
      }
    }
    dvs.foreach(s => setOf(s.referenced).or(Dvs.read(s.path, s.offset, s.length, conf)))
    byFile.toMap
  }
}
