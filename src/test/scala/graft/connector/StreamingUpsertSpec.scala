package graft.connector

import graft.SparkSpec
import graft.format.{FileContent, GraftTable}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming upsert sink: each epoch commits equality deletes on the
  * batch's keys plus the new data in one RowDelta, so re-keyed rows
  * replace their prior versions while same-epoch rows survive. */
class StreamingUpsertSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-upwh").toString
    spark.conf.set("spark.sql.catalog.gu", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gu.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gu.db")
    d
  }

  private def runOnce(src: String, sink: String, ckpt: String): Unit = {
    val q = spark.readStream.table(src).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(sink)
    q.awaitTermination(60000)
  }

  test("re-keyed rows replace prior versions across epochs") {
    wh
    spark.sql("CREATE TABLE gu.db.src (id BIGINT, v STRING)")
    spark.sql("""CREATE TABLE gu.db.sink (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.upsert.enabled'='true',
                                'write.upsert.key-columns'='id')""")
    val ckpt = Files.createTempDirectory("graft-upckpt").toString

    spark.sql("INSERT INTO gu.db.src VALUES (1, 'a1'), (2, 'b1')")
    runOnce("gu.db.src", "gu.db.sink", ckpt)
    assert(spark.sql("SELECT id, v FROM gu.db.sink ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a1"), (2L, "b1")))

    // epoch 2 re-keys id=1 and adds id=3: id=1 must be REPLACED
    spark.sql("INSERT INTO gu.db.src VALUES (1, 'a2'), (3, 'c1')")
    runOnce("gu.db.src", "gu.db.sink", ckpt)
    assert(spark.sql("SELECT id, v FROM gu.db.sink ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b1"), (3L, "c1")))

    // the upsert commit is a RowDelta: equality-delete files exist
    val t = GraftTable.load(spark, s"$wh/db/sink")
    val eqDeletes = t.newScan().planFiles().deleteFiles
      .filter(_._1.content == FileContent.EqualityDeletes)
    assert(eqDeletes.nonEmpty, "expected equality-delete files from upsert")
    assert(eqDeletes.forall(_._1.equalityIds.nonEmpty))
  }

  test("partitioned upsert stages partition-scoped delete files (tuple-carrying)") {
    wh
    spark.sql("CREATE TABLE gu.db.psrc (id BIGINT, grp BIGINT, v STRING)")
    // keys = (grp, id): grp is the partition source, so every epoch's
    // equality deletes fan out one file per touched partition — a
    // partition-local consumer never plans another partition's key sets
    spark.sql("""CREATE TABLE gu.db.psink (id BIGINT, grp BIGINT, v STRING)
                 PARTITIONED BY (grp)
                 TBLPROPERTIES ('write.upsert.enabled'='true',
                                'write.upsert.key-columns'='grp,id')""")
    val ckpt = Files.createTempDirectory("graft-upckpt-p").toString
    spark.sql("INSERT INTO gu.db.psrc VALUES (1, 0, 'a1'), (2, 0, 'b1'), (1, 1, 'c1')")
    runOnce("gu.db.psrc", "gu.db.psink", ckpt)
    // epoch 2 re-keys (0,1) and adds (1,2): only partitions 0 and 1 touched
    spark.sql("INSERT INTO gu.db.psrc VALUES (1, 0, 'a2'), (2, 1, 'd1')")
    runOnce("gu.db.psrc", "gu.db.psink", ckpt)
    assert(spark.sql("SELECT grp, id, v FROM gu.db.psink ORDER BY grp, id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((0L, 1L, "a2"), (0L, 2L, "b1"), (1L, 1L, "c1"), (1L, 2L, "d1")))
    val t = GraftTable.load(spark, s"$wh/db/psink")
    val eqDeletes = t.newScan().planFiles().deleteFiles
      .filter(_._1.content == FileContent.EqualityDeletes).map(_._1)
    assert(eqDeletes.nonEmpty)
    assert(eqDeletes.forall(_.partition.nonEmpty),
      "partition-clustered upsert keys must stage tuple-carrying delete files")
    // a partition-filtered scan plans only its own partition's delete files
    val grpVals = t.newScan()
      .filter(graft.format.Exprs.equal("grp", 0L)).planFiles()
      .deleteFiles.filter(_._1.content == FileContent.EqualityDeletes)
      .map(_._1.partition("grp")).distinct
    assert(grpVals == Seq(0L),
      s"scan of grp=0 planned delete files of partitions $grpVals")
  }

  /** Two upsert epochs into a `format` table: the epoch's keys are re-read
    * from its just-written files through the table scan, so replacement
    * semantics must hold end to end in every data-file format. */
  private def upsertIn(format: String): Unit = {
    wh
    spark.sql(s"CREATE TABLE gu.db.${format}src (id BIGINT, v STRING)")
    spark.sql(s"""CREATE TABLE gu.db.${format}sink (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.format.default'='$format',
                                'write.upsert.enabled'='true',
                                'write.upsert.key-columns'='id')""")
    val ckpt = Files.createTempDirectory(s"graft-upckpt-$format").toString
    spark.sql(s"INSERT INTO gu.db.${format}src VALUES (1, 'a1'), (2, 'b1')")
    runOnce(s"gu.db.${format}src", s"gu.db.${format}sink", ckpt)
    spark.sql(s"INSERT INTO gu.db.${format}src VALUES (1, 'a2'), (3, 'c1')")
    runOnce(s"gu.db.${format}src", s"gu.db.${format}sink", ckpt)
    assert(spark.sql(s"SELECT id, v FROM gu.db.${format}sink ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b1"), (3L, "c1")))
    val t = GraftTable.load(spark, s"$wh/db/${format}sink")
    val plan = t.newScan().planFiles()
    assert(plan.tasks.forall(_.file.fileFormat == format),
      s"data files must be $format")
    assert(plan.deleteFiles.exists(_._1.content == FileContent.EqualityDeletes))
  }

  test("ORC-format upsert: the key re-read rides the descriptor-backed ORC reader") {
    upsertIn(graft.format.FileFormats.Orc)
  }

  test("Avro-format upsert: the key re-read goes through the table scan") {
    upsertIn(graft.format.FileFormats.Avro)
  }

  test("readStream initial load applies merge-on-read deletes, then streams past the consumed overwrite") {
    wh
    spark.sql("CREATE TABLE gu.db.m1 (id BIGINT, v STRING)")
    spark.sql("""CREATE TABLE gu.db.m2 (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.upsert.enabled'='true',
                                'write.upsert.key-columns'='id')""")
    spark.sql("CREATE TABLE gu.db.m3 (id BIGINT, v STRING)")
    val ck1 = Files.createTempDirectory("graft-morck1").toString
    val ck2 = Files.createTempDirectory("graft-morck2").toString
    // two upsert epochs: id=1 has a superseded version under live deletes
    spark.sql("INSERT INTO gu.db.m1 VALUES (1, 'a1'), (2, 'b1')")
    runOnce("gu.db.m1", "gu.db.m2", ck1)
    spark.sql("INSERT INTO gu.db.m1 VALUES (1, 'a2')")
    runOnce("gu.db.m1", "gu.db.m2", ck1)
    // FRESH stream from the MoR table: the initial batch must be the
    // CURRENT state — a raw append-file read would resurrect 'a1' (and
    // the table head is an upsert/overwrite snapshot, so a naive
    // incremental re-plan of the consumed offset would crash every poll)
    runOnce("gu.db.m2", "gu.db.m3", ck2)
    assert(spark.sql("SELECT id, v FROM gu.db.m3 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b1")))
    // a plain append on m2 must stream through, past the consumed
    // overwrite snapshot the checkpoint offset points at
    spark.sql("INSERT INTO gu.db.m2 VALUES (3, 'c1')")
    runOnce("gu.db.m2", "gu.db.m3", ck2)
    assert(spark.sql("SELECT id, v FROM gu.db.m3 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b1"), (3L, "c1")))
  }

  test("caught-up stream survives a replace (compaction) head snapshot") {
    wh
    spark.sql("CREATE TABLE gu.db.c1 (id BIGINT, v STRING)")
    spark.sql("CREATE TABLE gu.db.c2 (id BIGINT, v STRING)")
    val ckpt = Files.createTempDirectory("graft-compck").toString
    spark.sql("INSERT INTO gu.db.c1 VALUES (1, 'a')")
    spark.sql("INSERT INTO gu.db.c1 VALUES (2, 'b')")
    runOnce("gu.db.c1", "gu.db.c2", ckpt)
    assert(spark.sql("SELECT count(*) FROM gu.db.c2").collect()(0).getLong(0) == 2)
    // head becomes a "replace" snapshot that appends no files: the end
    // offset must still be computable AND reachable under AvailableNow
    // (budgeted), without duplicating the compacted rows
    val r = graft.format.Actions
      .forTable(GraftTable.load(spark, s"$wh/db/c1")).rewriteDataFiles()
    assert(r.rewrittenFiles > 0, "fixture: compaction must have run")
    val q = spark.readStream.table("gu.db.c1").writeStream
      .option("checkpointLocation", ckpt)
      .option("max-bytes-per-trigger", "1")
      .trigger(Trigger.AvailableNow())
      .toTable("gu.db.c2")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM gu.db.c2").collect()(0).getLong(0) == 2,
      "compacted rows must not re-stream")
    // appends after the replace still flow
    spark.sql("INSERT INTO gu.db.c1 VALUES (3, 'c')")
    runOnce("gu.db.c1", "gu.db.c2", ckpt)
    assert(spark.sql("SELECT id FROM gu.db.c2 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("duplicate keys inside one epoch fail with the offending key") {
    wh
    spark.sql("CREATE TABLE gu.db.src3 (id BIGINT, v STRING)")
    spark.sql("""CREATE TABLE gu.db.dupsink (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.upsert.enabled'='true',
                                'write.upsert.key-columns'='id')""")
    spark.sql("INSERT INTO gu.db.src3 VALUES (7, 'a'), (7, 'b'), (8, 'c')")
    val ckpt = Files.createTempDirectory("graft-upckpt3").toString
    val ex = intercept[Exception] {
      runOnce("gu.db.src3", "gu.db.dupsink", ckpt)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m =>
      m.contains("duplicate key") && m.contains("id=7")))
  }

  test("upsert without key columns fails the epoch commit clearly") {
    wh
    spark.sql("CREATE TABLE gu.db.src2 (id BIGINT, v STRING)")
    spark.sql("""CREATE TABLE gu.db.badsink (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.upsert.enabled'='true')""")
    spark.sql("INSERT INTO gu.db.src2 VALUES (1, 'a')")
    val ckpt = Files.createTempDirectory("graft-upckpt2").toString
    val ex = intercept[Exception] {
      runOnce("gu.db.src2", "gu.db.badsink", ckpt)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("write.upsert.key-columns")))
  }
}
