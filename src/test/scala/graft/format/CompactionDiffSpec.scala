package graft.format

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Differential check of bin-pack compaction: rewriting data files must not
  * change the table's rows. Each table goes through every read feature the
  * rewrite's scan serves (schema generations, mixed file formats, imported
  * partition columns, initial defaults, position and equality deletes, row
  * lineage); the multiset of `lineageDF()` rows (data plus `_row_id` and
  * `_last_updated_sequence_number`) must be the same before and after. */
class CompactionDiffSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  private def rowsOf(loc: String): Seq[String] =
    GraftTable.load(spark, loc).newScan().lineageDF().collect().map(_.toString).toSeq.sorted

  /** Position-delete the rows of `cond` through the scan's `_file` / `_pos`
    * metadata columns (DVs on a v3 table). */
  private def deleteWhere(loc: String, cond: org.apache.spark.sql.Column): Unit = {
    val t = GraftTable.load(spark, loc)
    Deletes.deletePositions(t, t.toDF().filter(cond)
      .select(col("_file").as("file_path"), col("_pos").as("pos")))
  }

  /** Compact every file of `loc` and check that the rows are unchanged and
    * that each bin — here one per (partition tuple, schema, spec) group,
    * every file being far below the target size — wrote one file. */
  private def compactUnchanged(loc: String): Seq[DataFile] = {
    val before = rowsOf(loc)
    val t = GraftTable.load(spark, loc)
    val inputs = t.newScan().planFiles().tasks.map(_.file)
    val bins = inputs.map(f => (Tuples.key(f.partition), f.schemaId, f.specId)).distinct
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 1)
    assert(res.rewrittenFiles === inputs.size)
    assert(res.addedFiles === bins.size, "one output file per bin")
    val after = GraftTable.load(spark, loc).newScan().planFiles().tasks.map(_.file)
    assert(after.map(_.path).toSet.intersect(inputs.map(_.path).toSet).isEmpty)
    assert(after.size === bins.size)
    assert(rowsOf(loc) === before, "compaction changed the table's rows")
    after
  }

  test("compaction keeps every row of a v3 mixed-format imported table") {
    // imported hive layout: `part` lives only in the directory names
    val src = freshLoc("cdiff-hive")
    Seq((1L, "k1", "a", "p1"), (2L, "k2", "b", "p1"), (3L, "k3", "c", "p2"))
      .toDF("id", "k", "tag", "part")
      .select($"id", $"k", struct($"tag").as("info"), $"part")
      .coalesce(1).write.partitionBy("part").parquet(src)
    val loc = freshLoc("cdiff-mixed")
    GraftWrite.importParquet(spark, loc, src,
      properties = Map("format-version" -> "3"))
    def append(rows: Seq[(Long, String, String, String)]): Unit =
      GraftWrite.append(GraftTable.load(spark, loc), rows.toDF("id", "k", "tag", "part")
        .select($"id", $"k", struct($"tag").as("info"), $"part").coalesce(1))
    // a parquet file written by graft stores `part` physically
    append(Seq((11L, "k11", "d", "p1"), (12L, "k12", "e", "p2")))
    // equality delete staged under the key's ORIGINAL name, then a rename
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq("k1", "k11").toDF("k"))
    SchemaUpdate(GraftTable.load(spark, loc)).renameColumn("k", "key").commit()
    Commits.setProperties(GraftTable.load(spark, loc),
      Map("write.format.default" -> FileFormats.Orc))
    GraftWrite.append(GraftTable.load(spark, loc),
      Seq((21L, "k21", "f", "p1"), (22L, "k22", "g", "p2"), (23L, "k23", "h", "p2"))
        .toDF("id", "key", "tag", "part")
        .select($"id", $"key", struct($"tag").as("info"), $"part").coalesce(1))
    // equality delete staged under the NEW name
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq("k2", "k22").toDF("key"))
    // nested initial default: every file so far predates `info.pri`
    SchemaUpdate(GraftTable.load(spark, loc))
      .addColumn("info.pri", StringType, initialDefault = Some("std")).commit()
    Commits.setProperties(GraftTable.load(spark, loc),
      Map("write.format.default" -> FileFormats.Avro))
    GraftWrite.append(GraftTable.load(spark, loc),
      Seq((31L, "k31", "i", "gold", "p1"), (32L, "k32", "j", "std", "p2"))
        .toDF("id", "key", "tag", "pri", "part")
        .select($"id", $"key", struct($"tag", $"pri").as("info"), $"part").coalesce(1))
    // DVs on an imported, an ORC and an Avro file
    deleteWhere(loc, col("id").isin(3L, 23L, 32L))

    val t = GraftTable.load(spark, loc)
    val plan = t.newScan().planFiles()
    assert(plan.files.map(_.fileFormat).toSet ===
      Set(FileFormats.Parquet, FileFormats.Orc, FileFormats.Avro))
    assert(plan.files.map(_.schemaId).distinct.size >= 3)
    assert(plan.deleteFiles.map(_._1.fileFormat).toSet ===
      Set(FileFormats.Parquet, FileFormats.Puffin))
    val want = Set((12L, "k12", "e", "std", "p2"), (21L, "k21", "f", "std", "p1"),
      (31L, "k31", "i", "gold", "p1"))
    def live(df: DataFrame): Set[(Long, String, String, String, String)] =
      df.select($"id", $"key", $"info.tag", $"info.pri", $"part")
        .as[(Long, String, String, String, String)].collect().toSet
    assert(live(t.toDF()) === want)

    val after = compactUnchanged(loc)
    assert(after.forall(_.fileFormat == FileFormats.Avro))
    assert(after.forall(_.firstRowId.contains(Lineage.Materialized)))
    val t2 = GraftTable.load(spark, loc)
    assert(t2.newScan().planFiles().deleteFiles.isEmpty,
      "every delete file dangles once its targets are rewritten")
    assert(live(t2.toDF()) === want)
  }

  test("compaction keeps every row of a partitioned v3 table with DVs and renamed keys") {
    val loc = freshLoc("cdiff-parts")
    val df = (0L until 40L).map(i => (i, s"v$i", i % 2)).toDF("id", "v", "p")
    GraftTable.create(spark, loc, df.schema, _.identity("p"),
      properties = Map("format-version" -> "3"))
    GraftWrite.append(GraftTable.load(spark, loc), df.repartition(2))
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq(4L, 5L).toDF("id"))
    SchemaUpdate(GraftTable.load(spark, loc)).renameColumn("id", "ident").commit()
    GraftWrite.append(GraftTable.load(spark, loc),
      (40L until 60L).map(i => (i, s"w$i", i % 2)).toDF("ident", "v", "p").repartition(2))
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq(6L, 41L).toDF("ident"))
    deleteWhere(loc, col("ident") % 7 === 0)
    val want = ((0L until 60L).toSet -- Set(4L, 5L, 6L, 41L)).filter(_ % 7 != 0)
    def ids: Set[Long] =
      GraftTable.load(spark, loc).toDF().select("ident").as[Long].collect().toSet
    assert(ids === want)
    compactUnchanged(loc)
    assert(ids === want)
  }
}
