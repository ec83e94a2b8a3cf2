package graft.connector

import graft.SparkSpec
import graft.format.{GraftTable, GraftWrite}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import java.nio.file.Files

/** Scan identity: two reads of one graft table in one query are equal
  * scans with equal batches, so Spark's exchange reuse fires on them;
  * scans that read different rows stay unequal; and row-level operations,
  * whose scans equal only themselves, still replace exactly the files
  * they matched. */
class ScanReuseSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-reusewh").toString
    spark.conf.set("spark.sql.catalog.sr", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sr.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sr.db")
    d
  }

  /** A session of its own (suites share one session and run in
    * parallel), with broadcast joins off so joins plan as shuffles. */
  private def isoSession(): SparkSession = {
    wh
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.sr", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.sr.warehouse", wh)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** A table of three files: ids (1, 2), (3, 4) and (5, 6). */
  private def threeFiles(s: SparkSession, name: String, props: String = ""): Unit = {
    s.sql(s"CREATE TABLE sr.db.$name (id BIGINT, v STRING) $props")
    Seq("(1, 'a'), (2, 'b')", "(3, 'c'), (4, 'd')", "(5, 'e'), (6, 'f')")
      .foreach(vs => s.sql(
        s"INSERT INTO sr.db.$name SELECT /*+ COALESCE(1) */ * FROM VALUES $vs AS r(id, v)"))
  }

  private def files(name: String): Set[String] =
    GraftTable.load(spark, s"$wh/db/$name").newScan().planFiles().files.map(_.path).toSet

  private def scanOf(df: DataFrame): GraftScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[GraftScan]

  /** The final adaptive plan, after running the query. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("a self-join and a union of aggregates over one table reuse its exchange") {
    val s = isoSession()
    threeFiles(s, "reuse")
    val join = s.sql("""SELECT a.id, a.v, b.v AS w FROM sr.db.reuse a
                        JOIN sr.db.reuse b ON a.id = b.id""")
    val joinPlan = finalPlan(join)
    assert(joinPlan.contains("SortMergeJoin"), joinPlan)
    assert(joinPlan.contains("ReusedExchange"), joinPlan)
    assert(join.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "a", "a"), (2L, "b", "b"), (3L, "c", "c"), (4L, "d", "d"),
        (5L, "e", "e"), (6L, "f", "f")))
    val union = s.sql("""SELECT 'x' AS k, v, count(*) AS n FROM sr.db.reuse GROUP BY v
                         UNION ALL
                         SELECT 'y' AS k, v, count(*) AS n FROM sr.db.reuse GROUP BY v""")
    val unionPlan = finalPlan(union)
    assert(unionPlan.contains("ReusedExchange"), unionPlan)
    assert(union.collect().length == 12)
  }

  test("scans reading different rows are not equal") {
    val s = isoSession()
    threeFiles(s, "ident", "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val table = "sr.db.ident"
    def q(sql: String) = scanOf(s.sql(sql))
    val base = q(s"SELECT id, v FROM $table")
    val again = q(s"SELECT id, v FROM $table")
    assert(base == again && base.hashCode == again.hashCode)
    assert(base.toBatch == again.toBatch && base.toBatch.hashCode == again.toBatch.hashCode)
    assert(base.toBatch eq base.toBatch)

    val first = GraftTable.load(spark, s"$wh/db/ident").snapshots.head.snapshotId
    assert(q(s"SELECT id, v FROM $table VERSION AS OF $first") != base)
    assert(q(s"SELECT id FROM $table") != base)
    // both filters keep every file: only the pushed filter differs
    val gt = q(s"SELECT id, v FROM $table WHERE id > 0")
    val ge = q(s"SELECT id, v FROM $table WHERE id >= 1")
    assert(gt.scanPlan.tasks.size == 3 && ge.scanPlan.tasks.size == 3)
    assert(gt != ge && gt != base)

    s.sql(s"CALL sr.system.create_branch('db.ident', 'dev')")
    import s.implicits._
    GraftWrite.appendToBranch(GraftTable.load(spark, s"$wh/db/ident"), "dev",
      Seq((7L, "g")).toDF("id", "v"))
    assert(scanOf(s.read.option("branch", "dev").table(table).select("id", "v")) != base)

    // a merge-on-read DELETE adds a delete file and keeps every data file
    val beforeDelete = GraftTable.load(spark, s"$wh/db/ident").currentSnapshot.get.snapshotId
    s.sql(s"DELETE FROM $table WHERE id = 1")
    val deleted = q(s"SELECT id, v FROM $table")
    val undeleted = q(s"SELECT id, v FROM $table VERSION AS OF $beforeDelete")
    assert(deleted.scanPlan.files.map(_.path).toSet == undeleted.scanPlan.files.map(_.path).toSet)
    assert(deleted.scanPlan.deleteFiles.nonEmpty && undeleted.scanPlan.deleteFiles.isEmpty)
    assert(deleted != undeleted)
    assert(undeleted == base)
  }

  test("a read of a snapshot under its own schema is not the current read after a re-added column") {
    val s = isoSession()
    threeFiles(s, "readd")
    val table = "sr.db.readd"
    val snap = GraftTable.load(spark, s"$wh/db/readd").currentSnapshot.get.snapshotId
    // a schema change writes no snapshot: both reads plan the same files,
    // but the re-added `v` has a fresh field id the files do not carry
    s.sql(s"ALTER TABLE $table DROP COLUMN v")
    s.sql(s"ALTER TABLE $table ADD COLUMN v STRING")
    val current = scanOf(s.sql(s"SELECT id, v FROM $table"))
    val old = scanOf(s.sql(s"SELECT id, v FROM $table VERSION AS OF $snap"))
    assert(current.scanPlan.files.map(_.path).toSet == old.scanPlan.files.map(_.path).toSet)
    assert(current.readSchema == old.readSchema)
    assert(current != old)
    val except = s.sql(s"""SELECT id, v FROM $table VERSION AS OF $snap
                           EXCEPT SELECT id, v FROM $table""")
    assert(except.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e", 6L -> "f"))
  }

  test("copy-on-write MERGE and DELETE reading their own table replace only matched files") {
    val s = isoSession()
    threeFiles(s, "cowm")
    val before = files("cowm")
    s.sql("""MERGE INTO sr.db.cowm t
             USING (SELECT id FROM sr.db.cowm WHERE v = 'c') src ON t.id = src.id
             WHEN MATCHED THEN UPDATE SET t.v = 'C'""")
    assert(s.sql("SELECT id, v FROM sr.db.cowm").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "C", 4L -> "d", 5L -> "e", 6L -> "f"))
    val after = files("cowm")
    assert((before -- after).size == 1, "only the (3, 4) file is rewritten")
    assert((before & after).size == 2, "the unmatched files survive by reference")

    threeFiles(s, "cowd")
    val beforeDelete = files("cowd")
    // the IN subquery is not a pushable predicate: the row-level path runs,
    // and its runtime filter on _file selects the (5, 6) file
    s.sql("DELETE FROM sr.db.cowd WHERE id IN (SELECT id FROM sr.db.cowd WHERE v = 'e')")
    assert(s.sql("SELECT id FROM sr.db.cowd").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 6L))
    val afterDelete = files("cowd")
    assert((beforeDelete -- afterDelete).size == 1, "only the (5, 6) file is rewritten")
    assert((beforeDelete & afterDelete).size == 2, "the unmatched files survive by reference")
  }
}
