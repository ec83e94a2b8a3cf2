package graft.connector

import graft.SparkSpec
import graft.format._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Row lineage (iceberg v3 `_row_id` / `_last_updated_sequence_number`;
  * [[graft.format.Lineage]]): commit-time base assignment, the DSv2 read
  * surface (computed, stored, pre-v3-null), stability under MoR deletes,
  * and update semantics. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private var wh: String = _

  private def catalogTable(name: String, props: String = ""): String = {
    if (wh == null) {
      wh = Files.createTempDirectory("graft-lineage").toString
      spark.conf.set("spark.sql.catalog.lin", "graft.connector.GraftCatalog")
      spark.conf.set("spark.sql.catalog.lin.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lin.db")
    }
    spark.sql(s"""CREATE TABLE lin.db.$name (id BIGINT, v STRING)
                  TBLPROPERTIES ('format-version'='3'$props)""")
    s"lin.db.$name"
  }

  private def lineageOf(t: String): Map[Long, (Long, Long)] =
    spark.sql(s"SELECT id, _row_id, _last_updated_sequence_number FROM $t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("commit assigns per-file bases; scan computes base + position") {
    val t = catalogTable("basic")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(30)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'x' FROM range(20)")
    val rows = spark.sql(
      s"SELECT id, _row_id, _last_updated_sequence_number FROM $t").collect()
    assert(rows.length === 50)
    val rowIds = rows.map(_.getLong(1)).sorted
    assert(rowIds.toSeq === (0L until 50L), "ids are dense and collision-free")
    // second commit's rows carry the second sequence number
    val bySeq = rows.groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    assert(bySeq === Map(1L -> 30, 2L -> 20))
    // metadata records the advanced counter and per-file bases
    val gt = GraftTable.load(spark, s"$wh/db/basic")
    assert(gt.metadata.nextRowId === 50L)
    val files = gt.newScan().planFiles().tasks.map(_.file)
    assert(files.forall(_.firstRowId.exists(_ >= 0)))
    assert(files.map(f => (f.firstRowId.get, f.recordCount)).sortBy(_._1)
      .foldLeft(0L) { case (expect, (base, n)) =>
        assert(base === expect, "bases tile the id space"); base + n
      } === 50L)
  }

  test("MoR delete keeps surviving rows' identity") {
    val t = catalogTable("mordel",
      ", 'write.delete.mode'='merge-on-read'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(40)")
    val before = lineageOf(t)
    spark.sql(s"DELETE FROM $t WHERE id % 4 = 1")
    val after = lineageOf(t)
    assert(after.keySet === before.keySet.filterNot(_ % 4 == 1))
    after.foreach { case (id, lin) =>
      assert(lin === before(id), s"row $id must keep its lineage")
    }
  }

  test("MoR update: untouched rows stable, updated rows re-identified at the new sequence") {
    val t = catalogTable("morupd",
      ", 'write.delete.mode'='merge-on-read', 'write.merge.mode'='merge-on-read'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(20)")
    val before = lineageOf(t)
    spark.sql(s"""MERGE INTO $t t USING (SELECT 3 AS id, 'X' AS v) s
                  ON t.id = s.id
                  WHEN MATCHED THEN UPDATE SET t.v = s.v""")
    val after = lineageOf(t)
    assert(after.keySet === before.keySet)
    after.filterNot(_._1 == 3L).foreach { case (id, lin) =>
      assert(lin === before(id), s"untouched row $id must keep its lineage")
    }
    // the rewritten row is a delete+insert: fresh id from the advanced
    // counter, sequence of the MERGE commit
    assert(after(3L)._1 >= 20L, "updated row draws a fresh id")
    assert(after(3L)._2 > before(3L)._2, "updated row carries the new sequence")
  }

  test("rewriteDataFiles preserves row identity by materializing lineage") {
    val t = catalogTable("compact",
      ", 'write.delete.mode'='merge-on-read'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(25)")
    spark.sql(s"INSERT INTO $t SELECT id + 50, 'b' FROM range(25)")
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 2") // MoR: DVs stay live
    val before = lineageOf(t)
    val gt = GraftTable.load(spark, s"$wh/db/compact")
    val res = new Actions(gt).rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles >= 2 && res.addedFiles >= 1)
    // outputs are marked materialized; live deletes were applied in-flight
    val files = GraftTable.load(spark, s"$wh/db/compact")
      .newScan().planFiles().tasks.map(_.file)
    assert(files.forall(_.firstRowId.contains(Lineage.Materialized)))
    val after = lineageOf(t)
    assert(after === before, "compaction must not change any row's lineage")
    // a SECOND compaction round reads the stored columns back unchanged
    spark.sql(s"INSERT INTO $t SELECT id + 200, 'c' FROM range(5)")
    val before2 = lineageOf(t)
    new Actions(GraftTable.load(spark, s"$wh/db/compact"))
      .rewriteDataFiles(minInputFiles = 2)
    assert(lineageOf(t) === before2, "stored lineage copies through")
  }

  test("library lineageDF matches the DSv2 columns, across kinds and deletes") {
    val t = catalogTable("libsurf",
      ", 'write.delete.mode'='merge-on-read'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(30)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(10)")
    spark.sql(s"DELETE FROM $t WHERE id % 6 = 1") // live DVs
    val gt = GraftTable.load(spark, s"$wh/db/libsurf")
    // compact PART of the table so stored and computed files coexist
    new Actions(gt).rewriteDataFiles(minInputFiles = 1,
      filter = Exprs.gtEq("id", 100L))
    spark.sql(s"INSERT INTO $t SELECT id + 200, 'c' FROM range(5)")
    val viaSql = lineageOf(t)
    val viaLib = GraftTable.load(spark, s"$wh/db/libsurf").newScan().lineageDF()
      .select("id", Lineage.RowIdColumn, Lineage.LastUpdatedColumn)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaLib === viaSql,
      "library lineage surface must agree with the DSv2 metadata columns")
  }

  test("rewriteSorted preserves row identity (clustered rewrite materializes)") {
    val t = catalogTable("sortlin")
    spark.sql(s"INSERT INTO $t SELECT id * 7 % 40, concat('v', id) FROM range(40)")
    spark.sql(s"INSERT INTO $t SELECT id + 500, concat('b', id) FROM range(10)")
    val before = spark.sql(
      s"SELECT v, _row_id, _last_updated_sequence_number FROM $t")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gt = GraftTable.load(spark, s"$wh/db/sortlin")
    new Actions(gt).rewriteSorted(SortOrders.parse("id asc"))
    val t2 = GraftTable.load(spark, s"$wh/db/sortlin")
    assert(t2.newScan().planFiles().tasks
      .forall(_.file.firstRowId.contains(Lineage.Materialized)))
    val after = spark.sql(
      s"SELECT v, _row_id, _last_updated_sequence_number FROM $t")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(after === before, "sorted rewrite must not change any row's lineage")
  }

  test("lineage scans stay COLUMNAR on parquet (computed, stored, and under live DVs)") {
    val t = catalogTable("columnar",
      ", 'write.delete.mode'='merge-on-read'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(30)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(10)")
    def assertColumnar(tag: String): Unit = {
      val df = spark.sql(
        s"SELECT id, _row_id, _last_updated_sequence_number FROM $t")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"$tag: lineage scan must stay columnar:\n$plan")
    }
    assertColumnar("computed")
    val before = lineageOf(t)
    spark.sql(s"DELETE FROM $t WHERE id % 6 = 1") // live DVs + lineage
    assertColumnar("computed + DVs")
    val afterDel = lineageOf(t)
    assert(afterDel.keySet === before.keySet.filterNot(_ % 6 == 1))
    afterDel.foreach { case (id, lin) => assert(lin === before(id)) }
    // compact → stored lineage; reads stay columnar and unchanged
    new Actions(GraftTable.load(spark, s"$wh/db/columnar"))
      .rewriteDataFiles(minInputFiles = 1)
    assertColumnar("stored")
    assert(lineageOf(t) === afterDel)
  }

  test("ORC stored lineage with _pos and live MoR deletes (counter sits before stored columns)") {
    val t = catalogTable("orcstored",
      ", 'write.delete.mode'='merge-on-read', 'write.format.default'='orc'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(20)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(10)")
    val before = lineageOf(t)
    // compaction materializes the lineage columns physically in ORC outputs
    new Actions(GraftTable.load(spark, s"$wh/db/orcstored"))
      .rewriteDataFiles(minInputFiles = 2)
    val files = GraftTable.load(spark, s"$wh/db/orcstored")
      .newScan().planFiles().tasks.map(_.file)
    assert(files.nonEmpty && files.forall(f =>
      f.firstRowId.contains(Lineage.Materialized) &&
        f.fileFormat == FileFormats.Orc))
    assert(lineageOf(t) === before, "stored ORC lineage reads back unchanged")
    // `_pos` forces the ORC row-path counter scan on stored-lineage files:
    // the counter must land BETWEEN the data and stored columns, or _row_id
    // silently reads the file position instead
    val withPos = spark.sql(
      s"SELECT id, _pos, _row_id, _last_updated_sequence_number FROM $t")
      .collect()
    assert(withPos.map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      === before, "_row_id/_luseq must survive a _pos scan on stored ORC files")
    assert(withPos.map(_.getLong(1)).sorted.toSeq === (0L until 30L),
      "one compacted file: positions are dense from 0")
    // live row-level deletes target the compacted ORC files; survivors keep
    // their identity and the position lookup drops exactly the right rows
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 3")
    val after = lineageOf(t)
    assert(after.keySet === before.keySet.filterNot(_ % 5 == 3))
    after.foreach { case (id, lin) =>
      assert(lin === before(id), s"row $id must keep its lineage")
    }
    val posAfter = spark.sql(s"SELECT id, _pos, _row_id FROM $t").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(posAfter === after.view.mapValues(_._1).toMap)
  }

  test("Avro stored lineage with _pos and live MoR deletes") {
    val t = catalogTable("avrostored",
      ", 'write.delete.mode'='merge-on-read', 'write.format.default'='avro'")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(15)")
    spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(10)")
    val before = lineageOf(t)
    new Actions(GraftTable.load(spark, s"$wh/db/avrostored"))
      .rewriteDataFiles(minInputFiles = 2)
    val files = GraftTable.load(spark, s"$wh/db/avrostored")
      .newScan().planFiles().tasks.map(_.file)
    assert(files.nonEmpty && files.forall(f =>
      f.firstRowId.contains(Lineage.Materialized) &&
        f.fileFormat == FileFormats.Avro))
    assert(lineageOf(t) === before, "stored Avro lineage reads back unchanged")
    val withPos = spark.sql(
      s"SELECT id, _pos, _row_id, _last_updated_sequence_number FROM $t")
      .collect()
    assert(withPos.map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      === before, "_row_id/_luseq must survive a _pos scan on stored Avro files")
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 3")
    val after = lineageOf(t)
    assert(after.keySet === before.keySet.filterNot(_ % 5 == 3))
    after.foreach { case (id, lin) =>
      assert(lin === before(id), s"row $id must keep its lineage")
    }
  }

  test("branch DML keeps row identity stable and globally disjoint across lines") {
    val t = catalogTable("branching")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(20)")
    val mainBefore = lineageOf(t)
    val loc = s"$wh/db/branching"
    graft.format.Commits.createBranch(GraftTable.load(spark, loc), "work")
    val bt = s"lin.db.`branching.branch_work`"
    // branch append: fresh ids from the TABLE-global next-row-id counter
    spark.sql(s"INSERT INTO $bt SELECT id + 100, 'b' FROM range(10)")
    // branch MoR-ish update: carried-over rows keep identity, updated rows
    // re-identify at the branch commit's sequence (same contract as main)
    spark.sql(s"UPDATE $bt SET v = 'upd' WHERE id < 5")
    val branchAfter = lineageOf(bt)
    // main line is untouched by any of it
    assert(lineageOf(t) === mainBefore, "branch DML must not move main lineage")
    // carried-over branch rows (5 <= id < 20) keep their original identity
    (5L until 20L).foreach { id =>
      assert(branchAfter(id) === mainBefore(id),
        s"carried-over branch row $id lost its identity")
    }
    // updated rows carry a NEWER sequence than their originals
    (0L until 5L).foreach { id =>
      assert(branchAfter(id)._2 > mainBefore(id)._2,
        s"updated branch row $id kept a stale sequence")
    }
    // a later MAIN append must not reuse ids the BRANCH already assigned:
    // next-row-id is table-global, not per-line
    spark.sql(s"INSERT INTO $t SELECT id + 500, 'm' FROM range(10)")
    val mainAfter = lineageOf(t)
    val branchIds = branchAfter.values.map(_._1).toSet
    val newMainIds = mainAfter.filter(kv => kv._1 >= 500L).values.map(_._1).toSet
    assert(newMainIds.nonEmpty &&
      newMainIds.intersect(branchIds -- mainBefore.values.map(_._1)).isEmpty,
      "main append reused row ids assigned on the branch")
    // and every id within each line stays unique
    assert(branchAfter.values.map(_._1).toSet.size === branchAfter.size)
    assert(mainAfter.values.map(_._1).toSet.size === mainAfter.size)
  }

  test("concurrent main and branch appends never collide on row ids") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val t = catalogTable("racerows")
    spark.sql(s"INSERT INTO $t SELECT id, 'seed' FROM range(5)")
    val loc = s"$wh/db/racerows"
    graft.format.Commits.createBranch(GraftTable.load(spark, loc), "work")
    // 2 main + 2 branch writer threads × 3 appends each, all racing the
    // table-global next-row-id counter through CAS retries
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]
    (0 until 4).foreach { th =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          try (0 until 3).foreach { c =>
            val base = 100L + th * 30 + c * 10
            val df = spark.range(base, base + 10)
              .selectExpr("id", s"'t$th' AS v")
            val tt = GraftTable.load(spark, loc)
            if (th % 2 == 0) GraftWrite.append(tt, df)
            else GraftWrite.appendToBranch(tt, "work", df)
          } catch { case e: Throwable => errs.compareAndSet(null, e) }
        }
      })
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.get() == null, s"writer failed: ${errs.get()}")
    val mainIds = spark.sql(s"SELECT _row_id FROM $t")
      .collect().map(_.getLong(0))
    val branchIds = spark.sql(s"SELECT _row_id FROM lin.db.`racerows.branch_work`")
      .collect().map(_.getLong(0))
    // every row id assigned exactly once per line...
    assert(mainIds.distinct.length === mainIds.length)
    assert(branchIds.distinct.length === branchIds.length)
    // ...and the two lines share ONLY the 5 pre-branch seed rows' ids:
    // main-appended and branch-appended rows never reuse each other's
    val shared = mainIds.toSet.intersect(branchIds.toSet)
    assert(shared.size === 5,
      s"main/branch row-id overlap beyond the shared seed rows: $shared")
    assert(mainIds.length === 5 + 60 && branchIds.length === 5 + 60)
  }

  test("pre-v3 files read NULL lineage; files committed after the upgrade read values") {
    catalogTable("up0") // ensure the catalog exists
    spark.sql("CREATE TABLE lin.db.up (id BIGINT, v STRING)") // v2 default
    spark.sql("INSERT INTO lin.db.up SELECT id, concat('v', id) FROM range(10)")
    spark.sql("ALTER TABLE lin.db.up SET TBLPROPERTIES ('format-version'='3')")
    spark.sql("INSERT INTO lin.db.up SELECT id + 100, 'n' FROM range(5)")
    val rows = spark.sql(
      "SELECT id, _row_id, _last_updated_sequence_number FROM lin.db.up")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else Long.box(r.getLong(1)),
        if (r.isNullAt(2)) null else Long.box(r.getLong(2))))
    val (oldRows, newRows) = rows.partition(_._1 < 100L)
    assert(oldRows.length === 10 && oldRows.forall(r => r._2 == null && r._3 == null),
      "pre-v3 rows read NULL lineage")
    assert(newRows.length === 5 && newRows.forall(r => r._2 != null && r._3 != null))
    assert(newRows.map(_._2.longValue).sorted.toSeq === (0L until 5L))
  }
}
