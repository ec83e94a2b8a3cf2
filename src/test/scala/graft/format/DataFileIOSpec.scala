package graft.format

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one create seam of data and delete files ([[DataFileIO.create]]):
  * local paths are written through java.nio, with no `.crc` sidecar and no
  * `chmod` process, by every writer graft has; the integrity check lives
  * in the parquet pages instead; and expiry takes the sidecars that
  * Hadoop's LocalFileSystem left beside older files. The non-local branch
  * is pinned by ConfShippingSpec's probe file system. */
class DataFileIOSpec extends SparkSpec {
  import spark.implicits._

  private def files(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  private def crcs(root: String): Seq[Path] =
    files(root).filter(_.getFileName.toString.endsWith(".crc"))

  test("create: a local path is created new through java.nio, parents made, " +
      "and the stream's final position is the file's length") {
    val dir = Files.createTempDirectory("graft-create").toString
    val conf = new Configuration()
    Seq(s"$dir/a/b/plain.bin", s"file:$dir/c/uri.bin").foreach { p =>
      val out = DataFileIO.create(p, conf)
      try out.write(Array.fill[Byte](70000)(7)) finally out.close()
      assert(out.getPos === 70000L)
      val local = Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath)
      assert(Files.size(local) === 70000L)
      intercept[java.io.IOException](DataFileIO.create(p, conf))
    }
    DataFileIO.mkdirs(s"$dir/d/e", conf)
    assert(Files.isDirectory(Paths.get(s"$dir/d/e")))
    assert(crcs(dir).isEmpty, crcs(dir).mkString(", "))
  }

  test("every writer leaves no .crc under the table, and every file reads back " +
      "at its recorded size") {
    val wh = Files.createTempDirectory("graft-nocrc").toString
    spark.conf.set("spark.sql.catalog.nocrc", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.nocrc.warehouse", wh)
    def count(name: String): Long =
      spark.sql(s"SELECT count(*) FROM nocrc.db.$name").collect().head.getLong(0)
    def load(name: String): GraftTable = GraftTable.load(spark, s"$wh/db/$name")
    val rows = (1 to 40).map(i => s"($i, 'v$i')").mkString(", ")
    // SQL INSERT in each data-file format
    Seq("parquet", "orc", "avro").foreach { fmt =>
      spark.sql(s"CREATE TABLE nocrc.db.ins_$fmt (id BIGINT, data STRING) " +
        s"TBLPROPERTIES ('write.format.default'='$fmt')")
      spark.sql(s"INSERT INTO nocrc.db.ins_$fmt VALUES $rows")
      assert(count(s"ins_$fmt") === 40L, fmt)
      assert(load(s"ins_$fmt").newScan().planFiles().files
        .forall(_.fileFormat == fmt), fmt)
    }
    // MoR DELETE: parquet position deletes on v2, puffin DVs on v3
    Seq("2", "3").foreach { v =>
      spark.sql(s"CREATE TABLE nocrc.db.mor_v$v (id BIGINT, data STRING) " +
        s"TBLPROPERTIES ('format-version'='$v', 'write.delete.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO nocrc.db.mor_v$v VALUES $rows")
      spark.sql(s"DELETE FROM nocrc.db.mor_v$v WHERE id % 4 = 0")
      assert(count(s"mor_v$v") === 30L, s"v$v")
      val deletes = load(s"mor_v$v").newScan().planFiles().deleteFiles.map(_._1)
      assert(deletes.nonEmpty && deletes.forall(_.fileFormat ==
        (if (v == "3") FileFormats.Puffin else FileFormats.Parquet)), s"v$v")
    }
    // equality-delete staging, then a compaction that applies it
    val eq = load("mor_v2")
    Deletes.deleteByEquality(eq, Seq(1L, 2L, 3L).toDF("id"))
    assert(count("mor_v2") === 27L)
    val res = Actions.forTable(load("mor_v2")).rewriteDataFiles(minInputFiles = 1)
    assert(res.addedFiles >= 1, res)
    assert(count("mor_v2") === 27L)
    assert(spark.sql("SELECT id FROM nocrc.db.mor_v2").as[Long].collect().toSet ===
      (1L to 40L).filterNot(i => i % 4 == 0 || i <= 3).toSet)

    assert(crcs(wh).isEmpty, s"checksum sidecars under the tables: ${crcs(wh).mkString(", ")}")
    Seq("ins_parquet", "ins_orc", "ins_avro", "mor_v2", "mor_v3").foreach { n =>
      assert(Actions.forTable(load(n)).verifyFileSizes().isEmpty, n)
    }
  }

  test("graft's parquet data and position-delete files carry page checksums") {
    val loc = Files.createTempDirectory("graft-pagecrc").toString + "/t"
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t, df.coalesce(1))
    Deletes.deletePositions(t, t.toDF().filter(col("id") < 10L)
      .select(col("_file").as("file_path"), col("_pos").as("pos")))
    val plan = t.newScan().planFiles()
    val written = plan.files.map(_.path) ++ plan.deleteFiles.map(_._1.path)
    assert(plan.deleteFiles.nonEmpty)
    written.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), new Configuration()))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val group = reader.readNextRowGroup()
        schema.getColumns.asScala.foreach { c =>
          val page = group.getPageReader(c).readPage()
          assert(page.getCrc.isPresent, s"$p: column ${c.getPath.mkString(".")} has no page CRC")
        }
      } finally reader.close()
    }
    assert(t.toDF().count() === 90L)
  }

  test("expiry deletes the .crc sidecar that Hadoop's LocalFileSystem wrote " +
      "beside a data file") {
    val src = Files.createTempDirectory("graft-crcsrc").toString + "/src"
    (0L until 20L).toDF("id").repartition(2).write.parquet(src)
    def dataFiles = files(src).filter(_.toString.endsWith(".parquet"))
    val imported = dataFiles
    assert(imported.size === 2)
    val sidecars = crcs(src).filter(_.getFileName.toString.endsWith(".parquet.crc"))
    assert(sidecars.size === 2, "Spark's writer leaves one sidecar per data file")
    val loc = Files.createTempDirectory("graft-crcimp").toString + "/t"
    val t = GraftWrite.importParquet(spark, loc, src)
    assert(Actions.forTable(t).rewriteDataFiles(minInputFiles = 2).rewrittenFiles === 2)
    val expired = Actions.forTable(t)
      .expireSnapshots(System.currentTimeMillis() + 1000L, retainLast = 1)
    assert(expired.deletedFiles >= 2, expired)
    assert(dataFiles.isEmpty, s"expiry kept imported files: $dataFiles")
    val stranded = crcs(src).filter { c =>
      val n = c.getFileName.toString
      !Files.exists(c.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")))
    }
    assert(stranded.isEmpty, s"sidecars of deleted files: ${stranded.mkString(", ")}")
    assert(t.toDF().as[Long].collect().sorted.toSeq === (0L until 20L))
  }
}
