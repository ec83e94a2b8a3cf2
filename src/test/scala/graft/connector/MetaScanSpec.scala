package graft.connector

import graft.SparkSpec
import graft.format.{Commits, FileFormats, GraftTable, MetaTables, Stats}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Distributed metadata tables: `t$files`/`t$entries`/`t$all_*` must scan
  * as executor tasks over manifest groups (reference ManifestReadTask,
  * core/.../DataFilesTable.java), not as a driver-collected LocalRelation —
  * at 100 TB these relations hold millions of rows. */
class MetaScanSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-mswh").toString
    spark.conf.set("spark.sql.catalog.ms", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ms.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ms.db")
    d
  }

  test("t$entries runs as executor tasks over manifest groups") {
    wh
    // merge disabled so each append keeps its own manifest
    spark.sql("""CREATE TABLE ms.db.mscan (id BIGINT)
                 TBLPROPERTIES ('commit.manifest.min-count-to-merge'='1000')""")
    (1 to 10).foreach(i => spark.sql(s"INSERT INTO ms.db.mscan VALUES ($i)"))

    val df = spark.sql("SELECT * FROM ms.db.`mscan$entries`")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected a DSv2 batch scan, got:\n$plan")

    val tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = df.collect()
      assert(rows.length == 10)
      assert(rows.forall(_.getAs[String]("file_format") == FileFormats.Parquet))
      // listener events are async — poll
      val deadline = System.currentTimeMillis() + 10000
      while (tasks.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(tasks.get() >= 2,
        s"expected >=2 executor tasks for 10 manifests, saw ${tasks.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("files/all_* agree with table state; file_format reflects the format") {
    wh
    spark.sql("""CREATE TABLE ms.db.morc (id BIGINT)
                 TBLPROPERTIES ('write.format.default'='orc')""")
    spark.sql("INSERT INTO ms.db.morc VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE ms.db.morc VALUES (9)")

    val files = spark.sql("SELECT * FROM ms.db.`morc$files`").collect()
    assert(files.length == 1 && files.head.getAs[Long]("record_count") == 1)
    assert(files.head.getAs[String]("file_format") == FileFormats.Orc)

    // all_data_files spans both snapshots (set-wise; dups allowed like the
    // reference AllDataFilesTable). First insert wrote 2 files (2 input
    // partitions), the overwrite 1.
    val allPaths = spark.sql("SELECT DISTINCT file_path FROM ms.db.`morc$all_data_files`")
      .collect().map(_.getString(0)).toSet
    assert(allPaths.size == 3)

    // entries of the overwrite snapshot: the replaced manifest is dropped
    // from the manifest list, leaving the added file's entry
    val statuses = spark.sql("SELECT status FROM ms.db.`morc$entries`")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(statuses == Seq(1))

    // programmatic API agrees with the SQL surface
    val t = GraftTable.load(spark, s"$wh/db/morc")
    assert(MetaTables(t, "files").count() == 1)
    assert(MetaTables(t, "all_entries").count() >= 3)
  }

  test("data_files and delete_files split the files relation by content") {
    wh
    spark.sql("""CREATE TABLE ms.db.dd (id BIGINT)
                 TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO ms.db.dd SELECT id FROM range(6)")
    spark.sql("DELETE FROM ms.db.dd WHERE id = 2")

    val data = spark.sql("SELECT content FROM ms.db.`dd$data_files`").collect()
    assert(data.nonEmpty && data.forall(_.getInt(0) == 0))
    val dels = spark.sql("SELECT content FROM ms.db.`dd$delete_files`").collect()
    assert(dels.nonEmpty && dels.forall(_.getInt(0) != 0))
    // files = data + deletes
    assert(spark.sql("SELECT * FROM ms.db.`dd$files`").count() ==
      data.length + dels.length)
  }

  test("library and SQL read the same rows for every metadata table") {
    wh
    spark.sql("""CREATE TABLE ms.db.agree (id BIGINT, cat STRING)
                 PARTITIONED BY (cat)
                 TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("""INSERT INTO ms.db.agree
                 SELECT id, IF(id % 2 = 0, 'a', 'b') FROM range(10)""")
    spark.sql("DELETE FROM ms.db.agree WHERE id = 3") // parquet position delete
    val loc = s"$wh/db/agree"
    Commits.setProperties(GraftTable.load(spark, loc), Map("format-version" -> "3"))
    spark.sql("DELETE FROM ms.db.agree WHERE id = 4") // deletion vector
    Commits.createTag(GraftTable.load(spark, loc), "t1")
    Stats.analyzeAndCommit(GraftTable.load(spark, loc))
    val t = GraftTable.load(spark, loc)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    MetaTables.Names.foreach { n =>
      val lib = rows(MetaTables(t, n))
      assert(lib.nonEmpty, s"$n is empty")
      assert(lib === rows(spark.sql(s"SELECT * FROM ms.db.`agree$$$n`")), n)
    }
    // file-scale relations are DSv2 scans on both surfaces
    val plan = MetaTables(t, "files").queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && !plan.contains("LogicalRDD"),
      s"expected a DSv2 batch scan, got:\n$plan")
  }
}
