package graft.format

import graft.SparkSpec
import java.nio.file.Files

/** Every consumer of a position-delete file decodes it through
  * [[PositionDeleteReader]], which refuses a file missing a spec column
  * (`file_path`, `pos`) instead of null-filling it: a null-filled file
  * drops its deletes silently (rows resurrect), or, with no readable
  * target, counts as dangling and is dropped by maintenance. */
class PositionDeleteReaderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-pdrwh").toString
    spark.conf.set("spark.sql.catalog.pdr", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pdr.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pdr.db")
    d
  }

  private def causes(x: Throwable): Seq[Throwable] =
    if (x == null) Nil else x +: causes(x.getCause)

  private def assertRefused(what: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("required column")),
      s"$what: expected a required-column failure, got: $e")
  }

  /** A v2 merge-on-read table of 20 rows with one valid position delete,
    * and an uncommitted position-delete file with columns `cols` that
    * names one of its data files. */
  private def tableWithForeignDelete(name: String, cols: (String, String))
      : (String, DataFile) = {
    wh
    spark.sql(s"""CREATE TABLE pdr.db.$name (id BIGINT, v STRING)
                  TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql(s"INSERT INTO pdr.db.$name SELECT id, concat('v', id) FROM range(20)")
    spark.sql(s"DELETE FROM pdr.db.$name WHERE id = 3")
    val loc = s"$wh/db/$name"
    val t = GraftTable.load(spark, loc)
    val target = t.newScan().planFiles().files.head.path
    val dir = s"$loc/data/foreign-del"
    Seq((target, 5L)).toDF(cols._1, cols._2).coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    (loc, DataFile(path = part.getAbsolutePath,
      content = FileContent.PositionDeletes, recordCount = 1L,
      fileSizeInBytes = part.length(), schemaId = t.metadata.currentSchemaId))
  }

  for ((name, cols) <- Seq("fp_position" -> ("file_path", "position"),
                           "path_position" -> ("path", "position")))
    test(s"every consumer refuses a position-delete file with columns $cols") {
      val (loc, desc) = tableWithForeignDelete(name, cols)
      // RowDelta validation reads the targets of a delete committed
      // against an older snapshot
      val base = GraftTable.load(spark, loc).metadata.currentSnapshotId
      spark.sql(s"INSERT INTO pdr.db.$name VALUES (100, 'v100')")
      assertRefused("RowDelta target validation") {
        Commits.rowDelta(GraftTable.load(spark, loc), Nil, Seq(desc),
          baseSnapshotId = base)
      }
      Commits.rowDelta(GraftTable.load(spark, loc), Nil, Seq(desc))
      val t = GraftTable.load(spark, loc)
      assertRefused("SQL scan")(spark.sql(s"SELECT * FROM pdr.db.$name").count())
      assertRefused("library scan")(t.newScan().toDF().count())
      assertRefused("library $position_deletes") {
        MetaTables(t, "position_deletes").collect()
      }
      assertRefused("SQL $position_deletes") {
        spark.sql(s"SELECT * FROM pdr.db.`$name$$position_deletes`").collect()
      }
      assertRefused("rewritePositionDeletes") {
        Actions.forTable(t).rewritePositionDeletes()
      }
      assertRefused("rewriteDataFiles") {
        Actions.forTable(t).rewriteDataFiles(minInputFiles = 1)
      }
      // nothing was committed past the foreign delete
      assert(GraftTable.load(spark, loc).newScan().planFiles().posDeleteFiles
        .exists(_.path == desc.path))
    }
}
