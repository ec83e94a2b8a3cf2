package graft.format

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Differential check of every delete-file producer: position deletes from
  * `deletePositions` (few and many staged files), SQL merge-on-read DELETE,
  * `rewritePositionDeletes` and the equality→position conversion, and
  * equality deletes from `stageEqualityDeletes` (partition-scoped and
  * global). Each manifest entry must agree with its file: record count
  * with a read, size with a file-system stat, path bounds with the
  * canonical min and max of its rows (Java `String` order, the order
  * `DeleteIndex.posDeletesFor` range-tests in), and `referenced_data_file` set
  * exactly when the file targets one data file. The table's rows must be
  * the expected ones. */
class DeleteWriterSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-delwriter-wh").toString
    spark.conf.set("spark.sql.catalog.gdw", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdw.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdw.db")
    d
  }

  private def rows(n: Long): DataFrame =
    (0L until n).map(i => (i, i % 5, s"v$i")).toDF("id", "grp", "v")

  /** A v2 table of `n` rows over `files` data files, partitioned by `grp`
    * when `partitioned`. */
  private def table(name: String, n: Long = 200L, files: Int = 4,
      partitioned: Boolean = false,
      props: Map[String, String] = Map.empty): GraftTable = {
    val t = GraftTable.create(spark, freshLoc(name), rows(0).schema,
      b => if (partitioned) b.identity("grp") else b, props)
    GraftWrite.append(t, rows(n).repartition(files))
    GraftTable.load(spark, t.location)
  }

  private def ids(t: GraftTable): Seq[Long] =
    GraftTable.load(spark, t.location).toDF().select("id").as[Long].collect().sorted.toSeq

  private def liveDeletes(t: GraftTable): Seq[DataFile] =
    GraftTable.load(spark, t.location).newScan().planFiles().deleteFiles.map(_._1)
      .distinctBy(_.path)

  /** Delete files live after `body` that were not live before it. */
  private def added(t: GraftTable)(body: => Unit): Seq[DataFile] = {
    val before = liveDeletes(t).map(_.path).toSet
    body
    liveDeletes(t).filterNot(f => before.contains(f.path))
  }

  private def positionsOf(t: GraftTable, cond: org.apache.spark.sql.Column): DataFrame =
    t.toDF().filter(cond).select(col("_file").as("file_path"), col("_pos").as("pos"))

  /** Each entry agrees with its file's rows and size. */
  private def checkEntries(files: Seq[DataFile]): Unit = {
    assert(files.nonEmpty, "the producer staged no delete file")
    val conf = spark.sessionState.newHadoopConf()
    files.foreach { f =>
      assert(f.fileFormat === FileFormats.Parquet)
      val data = spark.read.parquet(f.path)
      assert(f.recordCount === data.count(), s"record count of ${f.path}")
      val hp = new Path(f.path)
      assert(f.fileSizeInBytes === hp.getFileSystem(conf).getFileStatus(hp).getLen,
        s"size of ${f.path}")
      if (f.content == FileContent.PositionDeletes) {
        val targets = data.select("file_path").as[String].collect()
          .map(ParquetIO.canonPath).distinct.toSeq
        assert(targets.nonEmpty)
        assert(f.lowerBounds.get(Deletes.PathFieldId) === Some(targets.min),
          s"lower path bound of ${f.path}")
        assert(f.upperBounds.get(Deletes.PathFieldId) === Some(targets.max),
          s"upper path bound of ${f.path}")
        assert(f.referencedDataFile ===
          (if (targets.size == 1) Some(targets.head) else None),
          s"referenced_data_file of ${f.path}")
      } else {
        assert(f.content === FileContent.EqualityDeletes)
        assert(f.referencedDataFile.isEmpty)
        assert(f.equalityIds.nonEmpty)
      }
    }
  }

  /** Run `body` and fail when a Spark job starts after the earliest of
    * `staged()`'s files was written: the job that writes the delete files
    * must also be the one that measures them. */
  private def noJobAfterWrite[T](staged: T => Seq[DataFile])(body: => T): T = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { starts.add(js.time); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try {
        val r = body
        // the listener bus is asynchronous: let it drain
        Thread.sleep(500)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    val conf = spark.sessionState.newHadoopConf()
    val written = staged(out).map { f =>
      val hp = new Path(f.path)
      hp.getFileSystem(conf).getFileStatus(hp).getModificationTime
    }
    assert(written.nonEmpty)
    val late = starts.asScala.filter(_ > written.min)
    assert(late.isEmpty, s"${late.size} Spark job(s) started after the delete files were written")
    out
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("an empty position set or key set commits one snapshot and deletes nothing") {
    val t = table("empty-sets", partitioned = true)
    val want = ids(t)
    def snaps = GraftTable.load(spark, t.location).snapshots.size
    val n0 = snaps
    Deletes.deletePositions(t, positionsOf(t, lit(false)))
    assert(snaps === n0 + 1)
    assert(ids(t) === want)
    // global (keys miss the partition source) and partition-scoped keys
    Deletes.deleteByEquality(GraftTable.load(spark, t.location),
      Seq.empty[Long].toDF("id"))
    assert(snaps === n0 + 2)
    Deletes.deleteByEquality(GraftTable.load(spark, t.location),
      Seq.empty[(Long, Long)].toDF("id", "grp"))
    assert(snaps === n0 + 3)
    assert(ids(t) === want)
    assert(liveDeletes(t).forall(_.recordCount == 0L))
  }

  test("deletePositions: a small set stages one file measured in its own task") {
    val t = table("dp-small")
    val files = added(t) {
      noJobAfterWrite[Unit](_ => liveDeletes(t)) {
        Deletes.deletePositions(t, positionsOf(t, col("id") % 3 === 0))
      }
    }
    assert(files.size === 1)
    checkEntries(files)
    assert(ids(t) === (0L until 200L).filterNot(_ % 3 == 0))
  }

  test("deletePositions: a large set stages disjoint ranges measured in their own tasks") {
    val t = table("dp-large", n = 2000L, files = 16)
    val files = withConfs("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      added(t) {
        noJobAfterWrite[Unit](_ => liveDeletes(t)) {
          Deletes.deletePositions(t, positionsOf(t, col("id") % 2 === 0))
        }
      }
    }
    assert(files.size > 4, s"expected more than 4 staged files, got ${files.size}")
    checkEntries(files)
    // range partitioning keeps the files' target ranges disjoint
    val ranges = files.map(f => (f.lowerBounds(Deletes.PathFieldId).toString,
      f.upperBounds(Deletes.PathFieldId).toString)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"overlapping ranges $a $b")
      case _ =>
    }
    assert(ids(t) === (0L until 2000L).filterNot(_ % 2 == 0))
  }

  test("SQL merge-on-read DELETE stages one measured file per task") {
    wh
    spark.sql("CREATE TABLE gdw.db.mor (id BIGINT, grp BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val t0 = GraftTable.load(spark, s"$wh/db/mor")
    GraftWrite.append(t0, rows(200L).repartition(4))
    val files = added(t0) {
      spark.sql("DELETE FROM gdw.db.mor WHERE id % 7 = 0")
    }
    checkEntries(files)
    assert(files.forall(_.content == FileContent.PositionDeletes))
    assert(ids(t0) === (0L until 200L).filterNot(_ % 7 == 0))
  }

  test("rewritePositionDeletes and the equality→position conversion keep rows and measure their files") {
    val t = table("rewrites", partitioned = true)
    Seq(0L, 1L, 2L).foreach { r =>
      val cur = GraftTable.load(spark, t.location)
      Deletes.deletePositions(cur, positionsOf(cur, col("id") % 11 === r))
    }
    val want = ids(t)
    val compacted = added(t) {
      assert(Actions.forTable(GraftTable.load(spark, t.location))
        .rewritePositionDeletes().rewrittenFiles === 3)
    }
    checkEntries(compacted)
    assert(ids(t) === want)

    Deletes.deleteByEquality(GraftTable.load(spark, t.location),
      Seq(5L, 6L, 7L, 150L).toDF("id"))
    val afterEq = ids(t)
    assert(afterEq === want.filterNot(Set(5L, 6L, 7L, 150L)))
    val converted = added(t) {
      assert(Actions.forTable(GraftTable.load(spark, t.location))
        .rewriteEqualityDeletes().rewrittenFiles === 1)
    }
    checkEntries(converted)
    assert(converted.forall(_.content == FileContent.PositionDeletes))
    assert(ids(t) === afterEq)
  }

  test("stageEqualityDeletes: partition-scoped and global key sets measure their files") {
    val t = table("eq", partitioned = true)
    val scoped = added(t) {
      Deletes.deleteByEquality(t, Seq((3L, 3L), (8L, 3L), (9L, 4L)).toDF("id", "grp"))
    }
    checkEntries(scoped)
    assert(scoped.map(_.partition("grp")).toSet === Set(3L, 4L))
    val global = withConfs("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      added(t) {
        noJobAfterWrite[Unit](_ => liveDeletes(t).filter(_.partition.isEmpty)) {
          Deletes.deleteByEquality(GraftTable.load(spark, t.location),
            (100L until 180L).toDF("id"))
        }
      }
    }
    assert(global.size > 4, s"expected more than 4 staged files, got ${global.size}")
    checkEntries(global)
    assert(global.forall(_.partition.isEmpty))
    // range partitioning on the key: disjoint key ranges per file
    val idField = FieldIds.nameToId(t.schema)("id")
    val ranges = global.map(f => (f.lowerBounds(idField).asInstanceOf[Long],
      f.upperBounds(idField).asInstanceOf[Long])).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"overlapping key ranges $a $b")
      case _ =>
    }
    assert(ids(t) === (0L until 200L).filterNot(i => Set(3L, 8L, 9L)(i) ||
      (i >= 100L && i < 180L)))
  }

  test("every delete producer honours write.parquet.compression-codec") {
    wh
    spark.sql("CREATE TABLE gdw.db.gz (id BIGINT, grp BIGINT, v STRING) " +
      "PARTITIONED BY (grp) TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.parquet.compression-codec'='gzip')")
    val loc = s"$wh/db/gz"
    def t = GraftTable.load(spark, loc)
    GraftWrite.append(t, rows(200L).repartition(4))
    def codecs(files: Seq[DataFile]): Set[CompressionCodecName] = {
      val conf = spark.sessionState.newHadoopConf()
      files.filter(_.recordCount > 0).flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.path), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
        finally r.close()
      }.toSet
    }
    val produced = Seq(
      "deletePositions" -> added(t)(Deletes.deletePositions(t, positionsOf(t, col("id") === 1L))),
      "SQL DELETE" -> added(t)(spark.sql("DELETE FROM gdw.db.gz WHERE id = 2")),
      "rewritePositionDeletes" -> added(t)(Actions.forTable(t).rewritePositionDeletes()),
      "global equality deletes" -> added(t)(Deletes.deleteByEquality(t, Seq(3L).toDF("id"))),
      "scoped equality deletes" -> added(t)(
        Deletes.deleteByEquality(t, Seq((4L, 4L)).toDF("id", "grp"))),
      "rewriteEqualityDeletes" -> added(t)(Actions.forTable(t).rewriteEqualityDeletes()))
    produced.foreach { case (what, files) =>
      assert(files.exists(_.recordCount > 0), s"$what staged no delete rows")
      assert(codecs(files) === Set(CompressionCodecName.GZIP), s"$what codec")
    }
    assert(ids(t) === (0L until 200L).filterNot(i => i >= 1L && i <= 4L))
  }

  test("a streaming append records its parquet files' split offsets") {
    wh
    spark.sql("CREATE TABLE gdw.db.ssrc (id BIGINT, grp BIGINT, v STRING)")
    spark.sql("CREATE TABLE gdw.db.ssink (id BIGINT, grp BIGINT, v STRING)")
    spark.sql("INSERT INTO gdw.db.ssrc VALUES (1, 1, 'a'), (2, 2, 'b'), (3, 3, 'c')")
    val q = spark.readStream.table("gdw.db.ssrc").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-dw-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .toTable("gdw.db.ssink")
    q.awaitTermination(60000)
    val files = GraftTable.load(spark, s"$wh/db/ssink").newScan().planFiles().tasks.map(_.file)
    assert(files.nonEmpty)
    files.foreach(f => assert(f.splitOffsets.nonEmpty, s"no split offsets on ${f.path}"))
    assert(spark.table("gdw.db.ssink").count() === 3L)
  }

  test("the merge-on-read delete writer accepts paths in the order Spark sorts them") {
    // `！` (U+FF01) sorts before `😀` (U+1F600) as UTF-8 bytes, Spark's
    // string order, but after it as UTF-16 code units, Java's `String`
    // order. A merge-on-read DELETE spanning the hive partitions `p=！` and
    // `p=😀` of an imported layout hands its one writer task rows in
    // Spark's order.
    wh
    val src = freshLoc("utf8-hive")
    Seq((0L, "！"), (1L, "😀"), (2L, "！"), (3L, "😀")).toDF("id", "p")
      .coalesce(1).write.partitionBy("p").parquet(src)
    GraftWrite.importParquet(spark, s"$wh/db/utf8order", src,
      Map("write.delete.mode" -> "merge-on-read"))
    val t = GraftTable.load(spark, s"$wh/db/utf8order")
    val paths = t.newScan().planFiles().tasks.map(ts => ParquetIO.canonPath(ts.file.path))
    val (bang, smile) = (paths.find(_.contains("p=！")).get, paths.find(_.contains("p=😀")).get)
    assert(smile < bang, "Java String order puts the supplementary character first")
    val files = added(t) {
      // one scan task reads both directories, so one writer sees both
      withConfs("spark.sql.files.minPartitionNum" -> "1") {
        spark.sql("DELETE FROM gdw.db.utf8order WHERE id IN (0, 1, 2)")
      }
    }
    checkEntries(files)
    assert(files.size === 1)
    val f = files.head
    assert(spark.read.parquet(f.path).as[(String, Long)].collect().toSeq
      .map { case (p, pos) => (ParquetIO.canonPath(p), pos) } ===
      Seq((bang, 0L), (bang, 1L), (smile, 0L)))
    // the bounds stay in the Java String order DeleteIndex.posDeletesFor tests in
    assert(f.lowerBounds(Deletes.PathFieldId) === smile)
    assert(f.upperBounds(Deletes.PathFieldId) === bang)
    assert(spark.sql("SELECT id, p FROM gdw.db.utf8order").as[(Long, String)]
      .collect().toSeq === Seq((3L, "😀")))
  }
}
