package graft.format

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Table import (reference SparkTableUtil.java:501-631): unpartitioned and
  * hive-style partitioned layouts, metadata-only partition columns filled on
  * read, pruning over imported tuples, and NameMapping id stability. */
class ImportSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  private def hiveTable(): String = {
    val src = freshLoc("hive-src")
    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p2"),
      (5L, "e", "p3"))
      .toDF("id", "v", "part")
      .write.partitionBy("part").parquet(src)
    src
  }

  test("partitioned import: files referenced in place, partition column filled on read") {
    val src = hiveTable()
    val t = GraftWrite.importParquet(spark, freshLoc("imp-part"), src)
    // schema: data columns then partition column LAST
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    val out = t.toDF()
    assert(out.count() == 5)
    // the partition column reads its directory value, not null
    assert(out.where(col("part") === "p2").select("id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
    assert(out.select("part").distinct().as[String].collect().sorted.toSeq
      == Seq("p1", "p2", "p3"))
    // combined data+partition predicate works through the fill
    assert(out.where(col("part") === "p1" && col("id") > 1).count() == 1)
  }

  test("pruning fires on an imported partitioned table (ScanPlan assertion)") {
    val src = hiveTable()
    val t = GraftWrite.importParquet(spark, freshLoc("imp-prune"), src)
    val all = t.newScan().planFiles()
    val pruned = t.newScan().filter(Exprs.equal("part", "p2")).planFiles()
    assert(all.tasks.size >= 3)
    assert(pruned.tasks.size < all.tasks.size,
      s"no pruning: ${pruned.tasks.size} of ${all.tasks.size}")
    assert(pruned.tasks.forall(_.file.partition("part") == "p2"))
    assert(t.newScan().filter(Exprs.equal("part", "p2")).toDF().count() == 2)
  }

  test("imported table reads through the DSv2 SQL path with partition constants") {
    val src = hiveTable()
    val wh = freshLoc("imp-wh")
    spark.conf.set("spark.sql.catalog.gimp", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gimp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gimp.db")
    GraftWrite.importParquet(spark, s"$wh/db/imported", src)
    val rows = spark.sql(
      "SELECT id, v, part FROM gimp.db.imported WHERE part = 'p2' ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 4L))
    assert(rows.map(_.getString(2)).toSeq == Seq("p2", "p2"))
    // aggregate over the served partition column
    val agg = spark.sql(
      "SELECT part, COUNT(*) AS n FROM gimp.db.imported GROUP BY part ORDER BY part")
      .collect()
    assert(agg.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("p1", 2L), ("p2", 2L), ("p3", 1L)))
  }

  test("NameMapping: supplied mapping pins ids; recorded mapping survives evolution") {
    val src = hiveTable()
    // map v to a deliberately non-sequential id
    val mapping = NameMapping(Map("id" -> 7, "v" -> 3, "part" -> 9))
    val t = GraftWrite.importParquet(spark, freshLoc("imp-map"), src,
      Map(NameMapping.PropertyKey -> mapping.toJson))
    val sch = t.schema
    assert(FieldIds.idOf(sch("id")) == 7)
    assert(FieldIds.idOf(sch("v")) == 3)
    assert(FieldIds.idOf(sch("part")) == 9)
    // the table records its mapping for future id-less importers
    val recorded = NameMapping.of(t).get
    assert(recorded.idFor("v").contains(3))
    // rename after import: old files still resolve by the mapped id
    SchemaUpdate(t).renameColumn("v", "val").commit()
    assert(t.toDF().where(col("val") === "c").select("id").as[Long].head() == 3L)
    // round-trip
    assert(NameMapping.fromJson(mapping.toJson) == mapping)
  }

  test("compaction of an imported table materializes the partition column") {
    val src = freshLoc("hive-multi")
    // two separate writes → two files per partition, so compaction has work
    Seq((1L, "a", "p1"), (3L, "c", "p2")).toDF("id", "v", "part")
      .coalesce(1).write.partitionBy("part").parquet(src)
    Seq((2L, "b", "p1"), (4L, "d", "p2")).toDF("id", "v", "part")
      .coalesce(1).write.mode("append").partitionBy("part").parquet(src)
    val t = GraftWrite.importParquet(spark, freshLoc("imp-compact"), src)
    assert(t.toDF().count() == 4)
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles >= 2 && res.addedFiles >= 1)
    // rewritten files carry the current schema WITH the partition column —
    // its values must come from the partition tuple, not read as null
    val out = t.toDF()
    assert(out.count() == 4)
    assert(out.where(col("part").isNull).count() == 0,
      "compaction dropped metadata-only partition values")
    assert(out.where(col("part") === "p1").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    assert(out.where(col("part") === "p2").select("id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L))
  }

  test("struct-NESTED initial defaults on partition-served tables backfill, not misread") {
    // imported hive layouts serve identity-partition columns from directory
    // metadata, appended after the data columns; fill ordinals index that
    // physical row, so the nested backfill lands on `info`, not on `part`
    val src = freshLoc("hive-nstruct")
    Seq((1L, "a", "p1"), (2L, "b", "p2"))
      .toDF("id", "v", "part")
      .withColumn("info", struct(col("v").as("tag")))
      .select("id", "info", "part")
      .write.partitionBy("part").parquet(src)
    val wh = freshLoc("imp-ndef-wh")
    spark.conf.set("spark.sql.catalog.gimpn", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gimpn.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gimpn.db")
    val loc = s"$wh/db/t"
    val t = GraftWrite.importParquet(spark, loc, src,
      properties = Map("format-version" -> "3"))
    SchemaUpdate(t)
      .addColumn("info.pri", StringType, initialDefault = Some("std"))
      .commit()
    def rows(df: DataFrame): Set[(String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getStruct(1).getString(0),
        r.getStruct(1).getString(1))).toSet
    val want = Set(("p1", "a", "std"), ("p2", "b", "std"))
    // partition column + defaulted struct requested together
    assert(rows(spark.sql("SELECT part, info FROM gimpn.db.t")) === want)
    assert(rows(GraftTable.load(spark, loc).newScan().select("part", "info")
      .toDF()) === want)
    // without the partition-served column the backfill applies the same way
    val vals = spark.sql("SELECT id, info.pri FROM gimpn.db.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vals === Map(1L -> "std", 2L -> "std"))
  }

  /** Hive layout of `(id, v, x, part)` rows under `src`, one file per
    * `part=` directory, in `fmt` (Avro through the container writer: the
    * build has no Spark Avro source). */
  private def writeHive(fmt: String, src: String,
      rows: Seq[(Long, String, Double, String)]): Unit = fmt match {
    case FileFormats.Avro =>
      val schema = StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", StringType), StructField("x", DoubleType)))
      rows.groupBy(_._4).foreach { case (p, rs) =>
        val dir = java.nio.file.Paths.get(src, s"part=$p")
        Files.createDirectories(dir)
        val w = AvroIO.openWriter(s"$dir/part-0.avro", schema,
          spark.sessionState.newHadoopConf())
        try rs.foreach { case (id, v, x, _) =>
          val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
          r.update(0, id)
          r.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(v))
          r.update(2, x)
          w.write(r)
        } finally w.close()
      }
    case _ =>
      rows.toDF("id", "v", "x", "part").coalesce(1)
        .write.partitionBy("part").format(fmt).save(src)
  }

  // every reader the DSv2 scan routes imported files to: parquet's
  // vectorized scan, ORC's row-path scrub reader (the double column routes
  // it there; the position delete adds its row counter) and the Avro scan
  for ((fmt, doImport) <- Seq[(String, (String, String) => GraftTable)](
      FileFormats.Parquet -> ((l, s) => GraftWrite.importParquet(spark, l, s)),
      FileFormats.Orc -> ((l, s) => GraftWrite.importOrc(spark, l, s)),
      FileFormats.Avro -> ((l, s) => GraftWrite.importAvro(spark, l, s))))
  test(s"imported partition-served columns survive equality + position deletes ($fmt)") {
    val src = freshLoc(s"hive-mor-$fmt")
    writeHive(fmt, src, Seq((1L, "a", 0.5, "p1"), (2L, "b", -0.0, "p1"),
      (3L, "c", 1.5, "p2"), (4L, "d", 2.5, "p2"), (5L, "e", 0.0, "p3")))
    val wh = freshLoc(s"imp-mor-wh-$fmt")
    val cat = s"gimpd$fmt"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val loc = s"$wh/db/t"
    val t = doImport(loc, src)
    assert(t.newScan().planFiles().files.forall(_.fileFormat == fmt))
    // position delete of id 1 inside p1's file (the file has no `part`),
    // addressed through the scan's `_file` / `_pos` metadata columns
    Deletes.deletePositions(t, t.toDF().filter(col("id") === 1L)
      .select(col("_file").as("file_path"), col("_pos").as("pos")))
    // equality delete keyed on the metadata-only partition column
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq("p2").toDF("part"))
    val want = Set((2L, -0.0, "p1"), (5L, 0.0, "p3"))
    def rows(df: DataFrame): Set[(Long, Double, String)] =
      df.select("id", "x", "part").as[(Long, Double, String)].collect().toSet
    assert(rows(GraftTable.load(spark, loc).toDF()) === want)
    assert(rows(spark.sql(s"SELECT id, x, part FROM $cat.db.t")) === want)
    // the signed zero survives the row-path read (Set equality alone would
    // let -0.0 == 0.0 through)
    val x2 = GraftTable.load(spark, loc).toDF().filter(col("id") === 2L)
      .select("x").as[Double].head()
    assert(java.lang.Double.doubleToRawLongBits(x2) ==
      java.lang.Double.doubleToRawLongBits(-0.0), s"x read as $x2")
    // the key column served only for the delete, not requested
    assert(spark.sql(s"SELECT id FROM $cat.db.t").as[Long].collect().toSet ===
      want.map(_._1))
    assert(GraftTable.load(spark, loc).newScan().select("id").toDF()
      .as[Long].collect().toSet === want.map(_._1))
  }

  test("a spec change that drops the identity field: new files read `part` as data") {
    // imported files (schema 0) lack `part`; files appended under a spec
    // without identity(part) store it physically and carry no partition
    // value for it — they must read the stored column, not a null constant
    val src = freshLoc("hive-evolve")
    Seq((1L, "a", "p1"), (2L, "b", "p2"))
      .toDF("id", "v", "part").coalesce(1).write.partitionBy("part").parquet(src)
    val wh = freshLoc("imp-evolve-wh")
    spark.conf.set("spark.sql.catalog.gimpe", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gimpe.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gimpe.db")
    val loc = s"$wh/db/t"
    val t = GraftWrite.importParquet(spark, loc, src)
    Commits.updateSpec(t)(_.bucket("id", 4))
    GraftWrite.append(GraftTable.load(spark, loc),
      Seq((3L, "c", "p1"), (4L, "d", "p2"), (5L, "e", "p3")).toDF("id", "v", "part"))
    def pairs(df: DataFrame): Set[(Long, String)] =
      df.select("id", "part").as[(Long, String)].collect().toSet
    val all = Set(1L -> "p1", 2L -> "p2", 3L -> "p1", 4L -> "p2", 5L -> "p3")
    assert(pairs(GraftTable.load(spark, loc).toDF()) === all)
    assert(pairs(spark.sql("SELECT id, part FROM gimpe.db.t")) === all)
    // a filter on `part` reaches both generations
    assert(spark.sql("SELECT id FROM gimpe.db.t WHERE part = 'p1'")
      .as[Long].collect().toSet === Set(1L, 3L))
    // equality delete keyed on `part` matches rows of both generations
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq("p2").toDF("part"))
    val want = all.filterNot(_._2 == "p2")
    assert(pairs(GraftTable.load(spark, loc).toDF()) === want)
    assert(pairs(spark.sql("SELECT id, part FROM gimpe.db.t")) === want)
    assert(GraftTable.load(spark, loc).newScan().select("id").toDF()
      .as[Long].collect().toSet === want.map(_._1))
  }

  test("unpartitioned import still round-trips with name mapping recorded") {
    val src = freshLoc("flat-src")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1).write.parquet(src)
    val t = GraftWrite.importParquet(spark, freshLoc("imp-flat"), src)
    assert(t.toDF().count() == 2)
    assert(NameMapping.of(t).isDefined)
  }
}
