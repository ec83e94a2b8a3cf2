package graft.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL-surface tests through the DSv2 catalog: DDL with hidden-partition
  * transforms, INSERT/OVERWRITE, time travel syntax, metadata tables,
  * ALTER TABLE evolution (reference spark3 integration scope:
  * SparkCatalog/SparkTable/TestSparkCatalogOperations surface). */
class CatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.g", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    d
  }

  test("CREATE TABLE + INSERT + SELECT round-trip with transforms") {
    wh
    spark.sql("""CREATE TABLE g.db.events (id BIGINT, data STRING, ts TIMESTAMP_NTZ)
                 PARTITIONED BY (days(ts), bucket(4, id))""")
    spark.sql("""INSERT INTO g.db.events VALUES
      (1, 'a', TIMESTAMP_NTZ'2024-03-01 10:00:00'),
      (2, 'b', TIMESTAMP_NTZ'2024-03-01 11:00:00'),
      (3, 'c', TIMESTAMP_NTZ'2024-03-02 09:00:00')""")
    assert(spark.sql("SELECT * FROM g.db.events").count() == 3)
    assert(spark.sql("SELECT data FROM g.db.events WHERE ts < TIMESTAMP_NTZ'2024-03-02 00:00:00' ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("DataFrame read options: snapshot-id, as-of-timestamp, branch") {
    wh
    spark.sql("CREATE TABLE g.db.ropt (id BIGINT)")
    spark.sql("INSERT INTO g.db.ropt VALUES (1)")
    val t = graft.format.GraftTable.load(spark, s"$wh/db/ropt")
    val snap1 = t.metadata.currentSnapshotId.get
    graft.format.Commits.createBranch(t, "b1")
    spark.sql("INSERT INTO g.db.ropt VALUES (2)")

    assert(spark.read.option("snapshot-id", snap1.toString)
      .table("g.db.ropt").count() == 1)
    assert(spark.read.option("branch", "b1").table("g.db.ropt").count() == 1)
    assert(spark.read.table("g.db.ropt").count() == 2)
    assert(spark.read.option("as-of-timestamp",
        System.currentTimeMillis().toString)
      .table("g.db.ropt").count() == 2)
  }

  test("INSERT appends create snapshots; VERSION AS OF + TIMESTAMP AS OF") {
    wh
    spark.sql("CREATE TABLE g.db.tt (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.tt VALUES (1, 'one')")
    spark.sql("INSERT INTO g.db.tt VALUES (2, 'two')")
    assert(spark.sql("SELECT * FROM g.db.tt").count() == 2)
    assert(spark.sql("SELECT * FROM g.db.tt VERSION AS OF 1").count() == 1)
    val t1 = spark.sql("SELECT committed_at FROM g.db.`tt$snapshots` ORDER BY snapshot_id")
      .collect().head.getTimestamp(0)
    assert(spark.sql(
      s"SELECT * FROM g.db.tt TIMESTAMP AS OF '${t1}'").count() == 1)
    val snaps = spark.sql("SELECT snapshot_id, operation FROM g.db.`tt$snapshots` ORDER BY snapshot_id")
      .collect()
    assert(snaps.length == 2)
    assert(snaps.forall(_.getString(1) == "append"))
  }

  test("INSERT OVERWRITE replaces content; TRUNCATE-style overwrite") {
    wh
    spark.sql("CREATE TABLE g.db.ow (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.ow VALUES (1, 'old'), (2, 'old2')")
    spark.sql("INSERT OVERWRITE g.db.ow VALUES (9, 'new')")
    val rows = spark.sql("SELECT id, v FROM g.db.ow").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 9)
  }

  test("dynamic partition overwrite through SQL") {
    wh
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql("""CREATE TABLE g.db.dyn (id BIGINT, part STRING)
                 PARTITIONED BY (identity(part))""")
    spark.sql("INSERT INTO g.db.dyn VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT OVERWRITE g.db.dyn VALUES (10, 'a')")
    val out = spark.sql("SELECT id, part FROM g.db.dyn ORDER BY id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b"), (10L, "a")))
  }

  test("ALTER TABLE: rename + add column visible in SQL") {
    wh
    spark.sql("CREATE TABLE g.db.evolve (id BIGINT, old_name STRING)")
    spark.sql("INSERT INTO g.db.evolve VALUES (1, 'x')")
    spark.sql("ALTER TABLE g.db.evolve RENAME COLUMN old_name TO new_name")
    spark.sql("ALTER TABLE g.db.evolve ADD COLUMN score DOUBLE")
    val df = spark.sql("SELECT id, new_name, score FROM g.db.evolve")
    val r = df.collect().head
    assert(r.getString(1) == "x" && r.isNullAt(2))
  }

  test("filter pushdown prunes partitions through SQL (plan-level)") {
    wh
    spark.sql("""CREATE TABLE g.db.pp (id BIGINT, ts TIMESTAMP_NTZ)
                 PARTITIONED BY (days(ts))""")
    (1 to 3).foreach(d => spark.sql(
      s"INSERT INTO g.db.pp VALUES ($d, TIMESTAMP_NTZ'2024-03-0$d 10:00:00')"))
    val plan = spark.sql(
      "SELECT * FROM g.db.pp WHERE ts >= TIMESTAMP_NTZ'2024-03-03 00:00:00'")
      .queryExecution.executedPlan.toString
    // pruned scan should reference exactly one data file
    val scanned = "part-[0-9]+".r.findAllIn(plan).size
    assert(spark.sql(
      "SELECT * FROM g.db.pp WHERE ts >= TIMESTAMP_NTZ'2024-03-03 00:00:00'").count() == 1)
  }

  test("metadata tables via SQL: files/history/partitions") {
    wh
    spark.sql("CREATE TABLE g.db.meta (id BIGINT)")
    spark.sql("INSERT INTO g.db.meta VALUES (1), (2)")
    assert(spark.sql("SELECT * FROM g.db.`meta$files`").count() >= 1)
    assert(spark.sql("SELECT * FROM g.db.`meta$history`").count() == 1)
    assert(spark.sql("SELECT record_count FROM g.db.`meta$partitions`")
      .collect().head.getLong(0) == 2)
  }

  test("DSv2 streaming: readStream.table -> writeStream.toTable, incremental batches") {
    wh
    spark.sql("CREATE TABLE g.db.src (id BIGINT, v STRING)")
    spark.sql("CREATE TABLE g.db.sink (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.src VALUES (1, 'a'), (2, 'b')")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = spark.readStream.table("g.db.src").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.db.sink")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT * FROM g.db.sink").count() == 2)
    // new append flows through a second incremental run from the checkpoint
    spark.sql("INSERT INTO g.db.src VALUES (3, 'c')")
    val q2 = spark.readStream.table("g.db.src").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.db.sink")
    q2.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM g.db.sink ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("DSv2 streaming honors max-bytes-per-trigger at file granularity") {
    wh
    spark.sql("CREATE TABLE g.db.srcb (id BIGINT, v STRING)")
    spark.sql("CREATE TABLE g.db.sinkb (id BIGINT, v STRING)")
    // seed so the stream starts from a consumed snapshot, then a multi-file
    // backlog: three inserts -> three files
    spark.sql("INSERT INTO g.db.srcb VALUES (0, 'seed')")
    val ckpt = Files.createTempDirectory("graft-ckptb").toString
    val q0 = spark.readStream.table("g.db.srcb").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.db.sinkb")
    q0.awaitTermination(60000)
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO g.db.srcb VALUES ($i, 'x$i')"))
    val q = spark.readStream
      .option("max-bytes-per-trigger", "1") // one file per micro-batch
      .table("g.db.srcb").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.db.sinkb")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM g.db.sinkb ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    // each budgeted batch committed its own epoch -> one sink snapshot per file
    import graft.format.GraftTable
    val sink = GraftTable.load(spark, s"$wh/db/sinkb")
    assert(sink.snapshots.size >= 4,
      s"expected >=4 epoch commits (1 seed + 3 sliced), got ${sink.snapshots.size}")
  }

  test("filters on renamed columns push down across schema generations") {
    wh
    spark.sql("CREATE TABLE g.db.renf (id BIGINT, old_v STRING)")
    spark.sql("INSERT INTO g.db.renf VALUES (1, 'keep'), (2, 'drop')")
    spark.sql("ALTER TABLE g.db.renf RENAME COLUMN old_v TO v")
    spark.sql("INSERT INTO g.db.renf VALUES (3, 'keep')")
    // filter on the NEW name must hit BOTH generations (old files store old_v)
    assert(spark.sql("SELECT id FROM g.db.renf WHERE v = 'keep' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("concurrent SQL inserts: optimistic commit keeps both") {
    wh
    spark.sql("CREATE TABLE g.db.conc (id BIGINT)")
    val t1 = new Thread(() => spark.sql("INSERT INTO g.db.conc VALUES (1), (2)"))
    val t2 = new Thread(() => spark.sql("INSERT INTO g.db.conc VALUES (3), (4), (5)"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(spark.sql("SELECT * FROM g.db.conc").count() == 5)
  }

  test("equality deletes apply inside SQL reads (row-path wrapper)") {
    wh
    spark.sql("CREATE TABLE g.db.eqd (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.eqd VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    import graft.format.{Deletes, GraftTable}
    import spark.implicits._
    val t = GraftTable.load(spark, s"$wh/db/eqd")
    Deletes.deleteByEquality(t, Seq(2L, 4L).toDF("id"))
    assert(spark.sql("SELECT id FROM g.db.eqd ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // rows appended AFTER the delete are unaffected (sequence gating)
    spark.sql("INSERT INTO g.db.eqd VALUES (2, 'new')")
    assert(spark.sql("SELECT id FROM g.db.eqd ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // projection that excludes the key column still filters correctly
    assert(spark.sql("SELECT v FROM g.db.eqd ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c", "new"))
  }

  test("equality deletes match NULL keys inside SQL reads") {
    wh
    spark.sql("CREATE TABLE g.db.eqn (k BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.eqn VALUES (1, 'a'), (NULL, 'b'), (2, 'c'), (NULL, 'd')")
    import graft.format.{Deletes, GraftTable}
    import spark.implicits._
    val t = GraftTable.load(spark, s"$wh/db/eqn")
    Deletes.deleteByEquality(t, Seq(None: Option[Long]).toDF("k"))
    assert(spark.sql("SELECT v FROM g.db.eqn ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c"))
  }

  test("position deletes apply inside SQL reads (row-index filter)") {
    wh
    spark.sql("CREATE TABLE g.db.posd (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.posd VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    import graft.format.{Deletes, GraftTable}
    import spark.implicits._
    val t = GraftTable.load(spark, s"$wh/db/posd")
    // positions of the even ids, via metadata columns over the table's files
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    val pos = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 2 === 0).select("file_path", "pos")
    Deletes.deletePositions(t, pos)
    assert(spark.sql("SELECT id FROM g.db.posd ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // a projection without the key column still filters by position
    assert(spark.sql("SELECT v FROM g.db.posd ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c"))
    // pushed filters compose with the position filter
    assert(spark.sql("SELECT id FROM g.db.posd WHERE id > 1 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // position + equality deletes compose in one read
    Deletes.deleteByEquality(t, Seq(3L).toDF("id"))
    assert(spark.sql("SELECT id FROM g.db.posd ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // rows appended after the deletes are unaffected
    spark.sql("INSERT INTO g.db.posd VALUES (2, 'back')")
    assert(spark.sql("SELECT v FROM g.db.posd ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "back"))
  }

  test("row-level deletes keep the scan columnar (batch-path delete filter)") {
    wh
    spark.sql("CREATE TABLE g.db.cvec (id BIGINT, v STRING)")
    // two files: one will carry deletes, one stays clean (zero-copy path)
    spark.sql("INSERT INTO g.db.cvec VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO g.db.cvec VALUES (10, 'x'), (11, 'y')")
    import graft.format.{Deletes, GraftTable}
    import spark.implicits._
    val t = GraftTable.load(spark, s"$wh/db/cvec")
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    val pos = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") === 2L).select("file_path", "pos")
    Deletes.deletePositions(t, pos)
    Deletes.deleteByEquality(t, Seq(11L).toDF("id"))

    // AQE wraps materialized stages in QueryStageExec, whose inner plan is
    // NOT a child — descend explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val df = spark.sql("SELECT id FROM g.db.cvec ORDER BY id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 10L))
    val bs = scans(df.queryExecution.executedPlan)
    assert(bs.nonEmpty, "no BatchScanExec in the executed plan")
    assert(bs.forall(_.supportsColumnar),
      "a live row-level delete de-vectorized the scan")
    // projection that EXCLUDES the equality key (widened read + projection
    // drop inside the batch filter) stays columnar and correct
    val dv = spark.sql("SELECT v FROM g.db.cvec ORDER BY v")
    assert(dv.collect().map(_.getString(0)).toSeq == Seq("a", "c", "x"))
    assert(scans(dv.queryExecution.executedPlan).forall(_.supportsColumnar))
    // rows appended after the deletes are unaffected and the scan stays columnar
    spark.sql("INSERT INTO g.db.cvec VALUES (11, 'back')")
    assert(spark.sql("SELECT v FROM g.db.cvec ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "back", "c", "x"))
  }

  test("VERSION AS OF reads the snapshot's own schema (pre-evolution)") {
    wh
    spark.sql("CREATE TABLE g.db.evot (id BIGINT, before STRING)")
    spark.sql("INSERT INTO g.db.evot VALUES (1, 'x')")
    spark.sql("ALTER TABLE g.db.evot RENAME COLUMN before TO after")
    spark.sql("ALTER TABLE g.db.evot ADD COLUMN extra DOUBLE")
    spark.sql("INSERT INTO g.db.evot VALUES (2, 'y', 0.5)")
    // current read: evolved schema over both generations
    assert(spark.sql("SELECT id, after FROM g.db.evot ORDER BY id").collect()
      .map(_.getString(1)).toSeq == Seq("x", "y"))
    // time travel: snapshot 1 exposes the ORIGINAL column name, no extra col
    val old = spark.sql("SELECT * FROM g.db.evot VERSION AS OF 1")
    assert(old.columns.toSeq == Seq("id", "before"))
    assert(old.collect().map(_.getString(1)).toSeq == Seq("x"))
  }

  test("nested evolution through SQL: rename/add/promote inside structs") {
    wh
    spark.sql("""CREATE TABLE g.db.nest (id BIGINT,
                 who STRUCT<name: STRING, num: INT>)""")
    spark.sql("INSERT INTO g.db.nest VALUES (1, named_struct('name', 'alice', 'num', 10))")
    spark.sql("ALTER TABLE g.db.nest RENAME COLUMN who.name TO full_name")
    spark.sql("ALTER TABLE g.db.nest ADD COLUMN who.zip INT")
    spark.sql("ALTER TABLE g.db.nest ALTER COLUMN who.num TYPE BIGINT")
    // old file reads through nested rename/add/promote by id
    val r = spark.sql("SELECT id, who.full_name, who.num, who.zip FROM g.db.nest").collect().head
    assert(r.getString(1) == "alice" && r.getLong(2) == 10L && r.isNullAt(3))
    // new generation writes the evolved struct; both generations align
    spark.sql("INSERT INTO g.db.nest VALUES (2, named_struct('full_name', 'bob', 'num', CAST(20 AS BIGINT), 'zip', 94000))")
    val out = spark.sql(
      "SELECT id, who.full_name, who.num, who.zip FROM g.db.nest ORDER BY id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("alice", "bob"))
    assert(out.map(_.getLong(2)).toSeq == Seq(10L, 20L))
    assert(out(0).isNullAt(3) && out(1).getInt(3) == 94000)
    // whole-struct select keeps target field names
    assert(spark.sql("SELECT who FROM g.db.nest WHERE id = 1").collect()
      .head.getStruct(0).getString(0) == "alice")
  }

  test("FunctionCatalog: system.bucket/days agree with partition placement") {
    wh
    // golden: bucket(16, 34) = (2017239379 & MaxInt) % 16 (TestBucketing)
    val b = spark.sql("SELECT g.system.bucket(16, CAST(34 AS INT)) AS b")
      .collect().head.getInt(0)
    assert(b == (2017239379 & Integer.MAX_VALUE) % 16)
    assert(spark.sql("SELECT g.system.bucket(16, CAST(34 AS BIGINT))")
      .collect().head.getInt(0) == b) // int/long hash agreement
    assert(spark.sql("SELECT g.system.days(TIMESTAMP_NTZ'2017-12-01 10:00:00')")
      .collect().head.getInt(0) == 17501)
    assert(spark.sql("SELECT g.system.truncate(5, 'abcdefg')")
      .collect().head.getString(0) == "abcde")
    // width-baked spelling resolves for positive widths only: truncate_0
    // would divide by zero on numeric inputs at eval time, so it must die
    // at resolution, not in a task
    assert(spark.sql("SELECT g.system.truncate_5('abcdefg')")
      .collect().head.getString(0) == "abcde")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT g.system.truncate_0('abcdefg')").collect()
    }
    assert(err.getMessage.toLowerCase.contains("truncate_0") ||
      err.getMessage.toLowerCase.contains("function"))
  }

  test("DSv2 decimal-bucketed table round-trips point predicates") {
    // the fanout writer hashes decimals by unscaled bytes (spec), and the
    // scan prunes by the same projection — a placement/pruning mismatch
    // (the library write path had exactly that bug) loses the row
    wh
    spark.sql("""CREATE TABLE g.db.decbkt (id BIGINT, amt DECIMAL(9,2))
                 PARTITIONED BY (bucket(8, amt))""")
    spark.range(64).selectExpr("id",
      "CAST(CAST(id AS DOUBLE) / 4 + 0.25 AS DECIMAL(9,2)) AS amt")
      .createOrReplaceTempView("decbkt_src")
    spark.sql("INSERT INTO g.db.decbkt SELECT * FROM decbkt_src")
    assert(spark.sql("SELECT COUNT(*) FROM g.db.decbkt")
      .collect().head.getLong(0) === 64L)
    (0L until 64L by 9L).foreach { id =>
      val v = java.math.BigDecimal.valueOf(id).divide(
        java.math.BigDecimal.valueOf(4)).add(new java.math.BigDecimal("0.25"))
        .setScale(2)
      val n = spark.sql(s"SELECT COUNT(*) FROM g.db.decbkt WHERE amt = $v")
        .collect().head.getLong(0)
      assert(n === 1L, s"amt=$v (id=$id) lost through the DSv2 decimal bucket path")
    }
    // and the SQL transform function agrees with where the rows landed:
    // grouping by the function must reproduce the partition populations
    val byFn = spark.sql("""SELECT g.system.bucket(8, amt) AS b, COUNT(*) AS n
      FROM g.db.decbkt GROUP BY 1 ORDER BY 1""").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    import graft.format.{GraftTable, MetaTables}
    val byPart = MetaTables(GraftTable.load(spark, s"$wh/db/decbkt"), "files")
      .selectExpr("partition['amt_bucket'] AS b", "record_count AS n")
      .collect().groupBy(_.getAs[Any](0).toString.toInt)
      .map { case (b, rs) => (b, rs.map(_.getLong(1)).sum) }.toSeq.sorted
    assert(byFn.toSeq === byPart,
      s"function-catalog buckets ${byFn.toSeq} != file placement $byPart")
  }

  test("writes cluster by partition transforms (write.distribution-mode=hash default)") {
    wh
    spark.sql("""CREATE TABLE g.db.clus (id BIGINT, part STRING)
                 PARTITIONED BY (identity(part))""")
    // many-task source: without hash distribution each of the source tasks
    // could open a writer per partition (tasks x partitions files); with
    // clustering each partition lands on one task -> at most one file per
    // partition value
    spark.range(0, 400, 1, 8)
      .selectExpr("id", "concat('p', CAST(id % 4 AS STRING)) AS part")
      .createOrReplaceTempView("clus_src")
    spark.sql("INSERT INTO g.db.clus SELECT id, part FROM clus_src")
    import graft.format.{GraftTable, MetaTables}
    val t = GraftTable.load(spark, s"$wh/db/clus")
    val nFiles = MetaTables(t, "files").count()
    assert(nFiles <= 4, s"expected <=1 file per partition, got $nFiles")
    assert(spark.sql("SELECT COUNT(*) FROM g.db.clus").collect().head.getLong(0) == 400)
    assert(spark.sql("SELECT COUNT(DISTINCT part) FROM g.db.clus").collect().head.getLong(0) == 4)
    // opt-out: write.distribution-mode=none keeps the unshuffled path
    spark.sql("""CREATE TABLE g.db.clusn (id BIGINT, part STRING)
                 PARTITIONED BY (identity(part))
                 TBLPROPERTIES ('write.distribution-mode'='none')""")
    spark.sql("INSERT INTO g.db.clusn SELECT id, part FROM clus_src")
    assert(spark.sql("SELECT COUNT(*) FROM g.db.clusn").collect().head.getLong(0) == 400)
  }

  test("DELETE FROM via SQL: metadata-only when provable, copy-on-write otherwise") {
    wh
    spark.sql("""CREATE TABLE g.db.del (id BIGINT, part STRING)
                 PARTITIONED BY (identity(part))""")
    spark.sql("INSERT INTO g.db.del VALUES (1,'a'),(2,'a'),(3,'b'),(4,'b')")
    // whole-partition predicate → metadata-only delete snapshot
    spark.sql("DELETE FROM g.db.del WHERE part = 'a'")
    assert(spark.sql("SELECT id FROM g.db.del ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 4L))
    import graft.format.GraftTable
    val t = GraftTable.load(spark, s"$wh/db/del")
    assert(t.currentSnapshot.get.operation == "delete")
    // row-level predicate → copy-on-write rewrite, rows gone
    spark.sql("DELETE FROM g.db.del WHERE id = 3")
    assert(spark.sql("SELECT id FROM g.db.del").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("metrics modes apply through SQL writes (TBLPROPERTIES)") {
    wh
    spark.sql("""CREATE TABLE g.db.mmode (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.metadata.metrics.default'='counts',
                                'write.metadata.metrics.column.v'='none')""")
    spark.sql("INSERT INTO g.db.mmode VALUES (1, 'abc'), (2, 'def')")
    import graft.format.{FieldIds, GraftTable}
    val t = GraftTable.load(spark, s"$wh/db/mmode")
    val files = t.newScan().planFiles().tasks.map(_.file)
    val idId = FieldIds.idOf(t.schema("id"))
    val vId = FieldIds.idOf(t.schema("v"))
    // counts mode: counts present (summed across files), bounds absent
    assert(files.map(_.valueCounts.getOrElse(idId, 0L)).sum == 2L)
    files.foreach { f =>
      assert(!f.lowerBounds.contains(idId) && !f.upperBounds.contains(idId))
      // none mode: nothing at all
      assert(!f.valueCounts.contains(vId) && !f.lowerBounds.contains(vId))
    }
  }

  test("catalog ops: list/drop/rename") {
    wh
    spark.sql("CREATE TABLE g.db.lister (id BIGINT)")
    assert(spark.sql("SHOW TABLES IN g.db").collect()
      .exists(_.getString(1) == "lister"))
    spark.sql("ALTER TABLE g.db.lister RENAME TO g.db.listed")
    assert(spark.sql("SELECT * FROM g.db.listed").count() == 0)
    spark.sql("DROP TABLE g.db.listed")
    assert(!spark.sql("SHOW TABLES IN g.db").collect()
      .exists(_.getString(1) == "listed"))
  }

  test("DROP NAMESPACE without CASCADE refuses a non-empty namespace") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.dropns")
    spark.sql("CREATE TABLE g.dropns.keepme (id BIGINT)")
    spark.sql("INSERT INTO g.dropns.keepme VALUES (1)")
    val e = intercept[Exception](spark.sql("DROP NAMESPACE g.dropns"))
    // Spark surfaces the catalog's NonEmptyNamespaceException as
    // SCHEMA_NOT_EMPTY
    assert(e.getMessage.toLowerCase.contains("contains objects") ||
      e.getMessage.toLowerCase.contains("not empty"), s"got: $e")
    // the table (and its data) must be untouched by the refused drop
    assert(spark.sql("SELECT * FROM g.dropns.keepme").count() == 1)
    // CASCADE is the explicit opt-in
    spark.sql("DROP NAMESPACE g.dropns CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN g").collect()
      .exists(_.getString(0) == "dropns"))
  }

  test("dropTable on a namespace directory answers false, never deletes it") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.guardns")
    spark.sql("CREATE TABLE g.guardns.inner (id BIGINT)")
    spark.sql("INSERT INTO g.guardns.inner VALUES (7)")
    val c = spark.sessionState.catalogManager.catalog("g")
      .asInstanceOf[GraftCatalog]
    // an identifier resolving to the NAMESPACE directory (not a table)
    val bogus = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], "guardns")
    assert(!c.dropTable(bogus), "a non-table directory must answer false")
    assert(spark.sql("SELECT * FROM g.guardns.inner").count() == 1,
      "the namespace and its tables must survive")
  }

  test("overwrite with an unconvertible condition is refused, not widened") {
    wh
    spark.sql("CREATE TABLE g.db.ovg (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.ovg VALUES (1, 'xa'), (2, 'b')")
    import spark.implicits._
    // `contains` translates to sources.StringContains, which the filter
    // bridge cannot convert — the pre-fix path silently dropped it,
    // widening the overwrite to a FULL-TABLE truncate
    val e = intercept[Exception] {
      Seq((9L, "xz")).toDF("id", "v").writeTo("g.db.ovg")
        .overwrite(org.apache.spark.sql.functions.col("v").contains("x"))
    }
    assert(e.getMessage.contains("cannot convert filter") ||
      e.getMessage.toLowerCase.contains("overwrite"), s"got: $e")
    assert(spark.sql("SELECT * FROM g.db.ovg").count() === 2,
      "a refused overwrite must leave the table untouched")
  }

  test("branch/tag identifier spelling: reads pin to the ref, appends advance it") {
    wh
    spark.sql("CREATE TABLE g.db.brt (id BIGINT)")
    spark.sql("INSERT INTO g.db.brt VALUES (1)")
    val t = graft.format.GraftTable.load(spark, s"$wh/db/brt")
    graft.format.Commits.createBranch(t, "dev")
    graft.format.Commits.createTag(GraftTable_load(s"$wh/db/brt"), "v1")
    spark.sql("INSERT INTO g.db.brt VALUES (2)") // main moves on
    // reads pin to the ref's snapshot (both spellings)
    assert(spark.sql("SELECT * FROM g.db.`brt.branch_dev`").count() === 1)
    assert(spark.sql("SELECT * FROM g.db.brt.branch_dev").count() === 1)
    assert(spark.sql("SELECT * FROM g.db.`brt.tag_v1`").count() === 1)
    // appends advance the BRANCH head; main stays untouched
    spark.sql("INSERT INTO g.db.`brt.branch_dev` VALUES (10)")
    assert(spark.sql("SELECT id FROM g.db.`brt.branch_dev` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 10L))
    assert(spark.sql("SELECT id FROM g.db.brt ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // tag writes are refused
    val e2 = intercept[Exception](
      spark.sql("INSERT INTO g.db.`brt.tag_v1` VALUES (9)"))
    assert(e2 != null)
    // a ref that doesn't exist stays NoSuchTable
    intercept[Exception](spark.sql("SELECT * FROM g.db.`brt.branch_nope`").collect())
    // row-level DML on a TAG / time-travel pin is refused — pre-guard,
    // DELETE FROM a TAG silently deleted MAIN rows (it read the pin but
    // committed against the live table)
    val e3 = intercept[Exception](
      spark.sql("DELETE FROM g.db.`brt.tag_v1` WHERE id = 1"))
    assert(e3.getMessage.toLowerCase.contains("not supported"), s"got $e3")
    // row-level DML on a BRANCH identifier reads the branch head and
    // commits the rewrite to the branch ref — main stays untouched
    spark.sql("UPDATE g.db.`brt.branch_dev` SET id = 99 WHERE id = 1")
    assert(spark.sql("SELECT id FROM g.db.`brt.branch_dev` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(10L, 99L))
    assert(spark.sql("SELECT id FROM g.db.brt ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L), "main must be untouched")
    // INSERT OVERWRITE against a branch truncates + rewrites the BRANCH
    // only (the overwrite commit reads the branch head's manifests and
    // advances the ref)
    spark.sql("INSERT OVERWRITE g.db.`brt.branch_dev` VALUES (9)")
    assert(spark.sql("SELECT id FROM g.db.`brt.branch_dev`").collect()
      .map(_.getLong(0)).toSeq === Seq(9L))
    assert(spark.sql("SELECT id FROM g.db.brt ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "main must survive a branch overwrite")
    // streaming a BRANCH identifier follows the BRANCH commit line (it
    // silently streamed main pre-guard; now it's a first-class source)
    val ck = Files.createTempDirectory("graft-brt-ck").toString
    val q = spark.readStream.table("g.db.`brt.branch_dev`").writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.db.brt_sink")
    q.awaitTermination()
    assert(spark.sql("SELECT id FROM g.db.brt_sink").collect()
      .map(_.getLong(0)).toSeq === Seq(9L),
      "the stream must surface the branch's rows, not main's")
    // streaming a TAG still refuses (a tag is a fixed snapshot, not a line)
    val e5 = intercept[Exception] {
      val ck2 = Files.createTempDirectory("graft-brt-ck2").toString
      spark.readStream.table("g.db.`brt.tag_v1`").writeStream
        .option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g.db.brt_sink_never")
    }
    assert(e5.getMessage.toLowerCase.contains("does not support"), s"got $e5")
  }

  test("row-level DML on a branch identifier commits to the ref, never main") {
    wh
    spark.sql("CREATE TABLE g.db.brdml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.brdml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val t = GraftTable_load(s"$wh/db/brdml")
    graft.format.Commits.createBranch(t, "work")
    spark.sql("INSERT INTO g.db.brdml VALUES (4, 'd')") // main moves on
    val mainBefore = GraftTable_load(s"$wh/db/brdml")
      .metadata.currentSnapshotId.get

    // copy-on-write DELETE against the branch head
    spark.sql("DELETE FROM g.db.`brdml.branch_work` WHERE id = 2")
    // copy-on-write UPDATE against the branch head
    spark.sql("UPDATE g.db.`brdml.branch_work` SET v = 'A' WHERE id = 1")
    // MERGE INTO the branch: one update, one insert
    spark.sql("""MERGE INTO g.db.`brdml.branch_work` tgt
      USING (SELECT * FROM VALUES (3L, 'C'), (9L, 'i') AS s(id, v)) src
      ON tgt.id = src.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql(
        "SELECT id, v FROM g.db.`brdml.branch_work` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "A"), (3L, "C"), (9L, "i")))
    // main: untouched rows AND untouched head
    assert(spark.sql("SELECT id FROM g.db.brdml ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L), "main rows changed")
    assert(GraftTable_load(s"$wh/db/brdml").metadata.currentSnapshotId.get
      === mainBefore, "main head moved")

    // merge-on-read DELETE against the branch (position deletes on the ref)
    spark.sql("ALTER TABLE g.db.brdml " +
      "SET TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
    spark.sql("DELETE FROM g.db.`brdml.branch_work` WHERE id = 3")
    assert(spark.sql("SELECT id FROM g.db.`brdml.branch_work` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 9L))
    assert(spark.sql("SELECT id FROM g.db.brdml ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L), "main rows changed")

    // fast-forward is still how branch work publishes: the branch head
    // does NOT descend from main's (both advanced), so it must refuse
    val head = GraftTable_load(s"$wh/db/brdml").metadata
      .refSnapshotId("work").get
    val e = intercept[Exception](graft.format.Commits.fastForward(
      GraftTable_load(s"$wh/db/brdml"), "main", head))
    assert(e.getMessage.contains("not a fast-forward"))

    // branch_main is main: DML through the branch_main spelling hits main
    spark.sql("DELETE FROM g.db.`brdml.branch_main` WHERE id = 4")
    assert(spark.sql("SELECT id FROM g.db.brdml ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT id FROM g.db.`brdml.branch_work` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 9L),
      "branch must not see main's delete")
  }

  test("dynamic partition overwrite on a branch replaces only the branch's partitions") {
    wh
    spark.sql("CREATE TABLE g.db.brdyn (id BIGINT, part STRING) PARTITIONED BY (part)")
    spark.sql("INSERT INTO g.db.brdyn VALUES (1, 'a'), (2, 'b')")
    graft.format.Commits.createBranch(GraftTable_load(s"$wh/db/brdyn"), "exp")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql("INSERT OVERWRITE g.db.`brdyn.branch_exp` VALUES (10, 'a'), (30, 'c')")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // branch: partition 'a' replaced, 'b' carried, 'c' added
    assert(spark.sql("SELECT id FROM g.db.`brdyn.branch_exp` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 10L, 30L))
    assert(spark.sql("SELECT id FROM g.db.brdyn ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L), "main must be untouched")
  }

  test("a branch stream surfaces branch appends and never main's") {
    wh
    spark.sql("CREATE TABLE g.db.brstr (id BIGINT)")
    spark.sql("INSERT INTO g.db.brstr VALUES (1)")
    graft.format.Commits.createBranch(GraftTable_load(s"$wh/db/brstr"), "live")
    val ck = Files.createTempDirectory("graft-brstr-ck").toString
    def drain(): Unit = {
      val q = spark.readStream.option("branch", "live").table("g.db.brstr")
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g.db.brstr_sink")
      q.awaitTermination()
    }
    drain() // initial load = the branch head's full state
    def sink() = spark.sql("SELECT id FROM g.db.brstr_sink ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(sink() === Seq(1L))
    spark.sql("INSERT INTO g.db.brstr VALUES (2)")               // main only
    spark.sql("INSERT INTO g.db.`brstr.branch_live` VALUES (3)") // branch
    drain()
    assert(sink() === Seq(1L, 3L),
      "the resumed stream must pick up the branch append and skip main's")
    // snapshot pins are refused for streams (they follow a line, not a
    // pin); the refusal surfaces through the streaming query's failure
    val e = intercept[Exception] {
      val ck2 = Files.createTempDirectory("graft-brstr-ck2").toString
      spark.readStream.option("snapshot-id", "1").table("g.db.brstr")
        .writeStream.option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g.db.brstr_sink_never")
        .awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("streaming reads do not support")),
      s"got $e")
  }

  test("streaming initial load null-fills columns added after the pinned snapshot") {
    // the stream declares the table's CURRENT schema; pre-fix the initial
    // load scanned with the snapshot's schema and Spark reinterpreted the
    // narrower rows positionally — a pre-ALTER row streamed with the new
    // BIGINT column holding string bytes (97 = 'a') instead of null.
    // DATA CORRUPTION class, both on main and branch streams.
    wh
    spark.sql("CREATE TABLE g.db.stsch (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.stsch VALUES (1, 'a')")
    graft.format.Commits.createBranch(GraftTable_load(s"$wh/db/stsch"), "dev")
    spark.sql("ALTER TABLE g.db.stsch ADD COLUMN w BIGINT")
    def drain(src: String, sink: String): Unit = {
      val ck = Files.createTempDirectory("graft-stsch-ck").toString
      spark.readStream.table(src).writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(sink).awaitTermination()
    }
    drain("g.db.stsch", "g.db.stsch_sink_main")
    assert(spark.sql("SELECT id, v, w FROM g.db.stsch_sink_main").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
      === Seq((1L, "a", true)), "main stream must null-fill the new column")
    drain("g.db.`stsch.branch_dev`", "g.db.stsch_sink_br")
    assert(spark.sql("SELECT id, v, w FROM g.db.stsch_sink_br").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
      === Seq((1L, "a", true)), "branch stream must null-fill the new column")
  }

  test("streaming appends resolve renamed columns by field id") {
    // a pre-rename append consumed after RENAME COLUMN must stream its
    // data — pre-fix, the per-format append scan read by NAME and the
    // renamed column silently nulled (silent data loss on resume)
    wh
    spark.sql("CREATE TABLE g.db.strn (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.strn VALUES (1, 'a')")
    val ck = Files.createTempDirectory("graft-strn-ck").toString
    def drain(): Unit =
      spark.readStream.table("g.db.strn").writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g.db.strn_sink").awaitTermination()
    drain()
    spark.sql("INSERT INTO g.db.strn VALUES (2, 'b')") // pre-rename, unconsumed
    spark.sql("ALTER TABLE g.db.strn RENAME COLUMN v TO vv")
    drain() // the restarted stream captures the rename generation
    spark.sql("INSERT INTO g.db.strn VALUES (3, 'c')") // post-rename append
    drain()
    // the SINK keeps its creation-time column name (v) — only the source
    // was renamed; what matters is that row 2's string survived
    assert(spark.sql("SELECT id, v FROM g.db.strn_sink ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "every generation's data must survive the rename")
  }

  test("streaming appends resolve renames by field id on ORC and Avro tables") {
    // the generation machinery is per-(format, generation) — prove the
    // non-parquet read paths get the same rename safety, not just parquet
    wh
    for (fmt <- Seq("orc", "avro")) {
      val tbl = s"strn_$fmt"
      spark.sql(s"""CREATE TABLE g.db.$tbl (id BIGINT, v STRING)
                    TBLPROPERTIES ('write.format.default'='$fmt')""")
      spark.sql(s"INSERT INTO g.db.$tbl VALUES (1, 'a')")
      val ck = Files.createTempDirectory(s"graft-$tbl-ck").toString
      def drain(): Unit =
        spark.readStream.table(s"g.db.$tbl").writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"g.db.${tbl}_sink").awaitTermination()
      drain()
      spark.sql(s"INSERT INTO g.db.$tbl VALUES (2, 'b')") // pre-rename, unconsumed
      spark.sql(s"ALTER TABLE g.db.$tbl RENAME COLUMN v TO vv")
      drain()
      spark.sql(s"INSERT INTO g.db.$tbl VALUES (3, 'c')") // post-rename
      drain()
      assert(spark.sql(s"SELECT id, v FROM g.db.${tbl}_sink ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"$fmt: every generation's data must survive the rename")
    }
  }

  test("streaming appends upcast int->long promotions on every format") {
    // pre-promotion files hold 4-byte ints; a stream draining them AFTER
    // the ALTER must upcast per file, per format
    wh
    for (fmt <- Seq("parquet", "orc", "avro")) {
      val tbl = s"stpr_$fmt"
      spark.sql(s"""CREATE TABLE g.db.$tbl (id INT, v STRING)
                    TBLPROPERTIES ('write.format.default'='$fmt')""")
      val ck = Files.createTempDirectory(s"graft-$tbl-ck").toString
      def drain(): Unit =
        spark.readStream.table(s"g.db.$tbl").writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"g.db.${tbl}_sink").awaitTermination()
      spark.sql(s"INSERT INTO g.db.$tbl VALUES (1, 'a')") // int file, unconsumed
      spark.sql(s"ALTER TABLE g.db.$tbl ALTER COLUMN id TYPE BIGINT")
      drain() // reads the int file under the promoted schema
      spark.sql(s"INSERT INTO g.db.$tbl VALUES (${1L << 40}, 'b')") // needs 8 bytes
      drain()
      assert(spark.sql(s"SELECT id, v FROM g.db.${tbl}_sink ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((1L, "a"), ((1L << 40), "b")),
        s"$fmt: promotion must upcast pre-promotion streamed files")
    }
  }

  test("streaming appends resolve NESTED renames by field id") {
    wh
    spark.sql("CREATE TABLE g.db.strnn (id BIGINT, info STRUCT<tag: STRING, n: BIGINT>)")
    spark.sql("INSERT INTO g.db.strnn VALUES (1, named_struct('tag', 'x', 'n', 5L))")
    val ck = Files.createTempDirectory("graft-strnn-ck").toString
    def drain(): Unit =
      spark.readStream.table("g.db.strnn").writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g.db.strnn_sink").awaitTermination()
    drain()
    spark.sql("INSERT INTO g.db.strnn VALUES (2, named_struct('tag', 'y', 'n', 6L))")
    spark.sql("ALTER TABLE g.db.strnn RENAME COLUMN info.tag TO label")
    drain() // the pre-rename append's nested string must survive
    assert(spark.sql("SELECT id, info.tag FROM g.db.strnn_sink ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "x"), (2L, "y")),
      "nested renamed field's data must survive the rename")
  }

  test("a running stream adopts a schema generation created mid-stream") {
    // ALTER ... RENAME while the query RUNS, then append: the new file
    // carries a schemaId unknown at query start. Pre-fix the batch fell
    // back to a query-start-name read — the renamed column's data silently
    // nulled until the next restart (the last documented residue of the
    // silent-null streaming bug class). The registry must adopt the
    // generation when planning the batch, without restart.
    wh
    spark.sql("CREATE TABLE g.db.stmid (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.stmid VALUES (1, 'a')")
    val ck = Files.createTempDirectory("graft-stmid-ck").toString
    val q = spark.readStream.table("g.db.stmid").writeStream
      .option("checkpointLocation", ck)
      .toTable("g.db.stmid_sink")
    try {
      q.processAllAvailable()
      spark.sql("ALTER TABLE g.db.stmid RENAME COLUMN v TO vv")
      spark.sql("INSERT INTO g.db.stmid VALUES (2, 'b')") // mid-stream gen
      q.processAllAvailable()
      // rename AGAIN mid-stream: a second unknown generation, and the
      // first one's read schema must stay frozen (not chase live names)
      spark.sql("ALTER TABLE g.db.stmid RENAME COLUMN vv TO vvv")
      spark.sql("INSERT INTO g.db.stmid VALUES (3, 'c')")
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT id, v FROM g.db.stmid_sink ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "mid-stream generations' data must survive without a restart")
  }

  test("a mid-stream ADD COLUMN does not corrupt the running stream's rows") {
    // the stream's row layout is FROZEN at query start; pre-fix the read
    // schemas were built from live metadata, so an ALTER landing between
    // a batch's plan and its factory creation emitted rows wider than the
    // declared schema (positional-misread class). With the frozen declared
    // schema, the post-ALTER file simply drops the new column.
    wh
    spark.sql("CREATE TABLE g.db.stadd (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.stadd VALUES (1, 'a')")
    val ck = Files.createTempDirectory("graft-stadd-ck").toString
    val q = spark.readStream.table("g.db.stadd").writeStream
      .option("checkpointLocation", ck)
      .toTable("g.db.stadd_sink")
    try {
      q.processAllAvailable()
      spark.sql("ALTER TABLE g.db.stadd ADD COLUMN w BIGINT")
      spark.sql("INSERT INTO g.db.stadd VALUES (2, 'b', 7)")
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT id, v FROM g.db.stadd_sink ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b")),
      "rows appended under a mid-stream wider schema must stream clean")
  }

  test("ALTER storm: many generations landing in ONE trigger stream clean") {
    // The single-ALTER adoption case is pinned above; this is the storm:
    // FOUR unknown generations (three renames + one ADD COLUMN, each with
    // its own append) land before the next trigger, so one planned batch
    // must register several fresh schema ids at once. The registry
    // appends ids in sorted order and freezes each generation's read
    // schema at registration — if group indexes (gi * formats + fi)
    // shifted, or a read chased live names, the value assertions below
    // would misread columns, not just miss rows.
    wh
    spark.sql("CREATE TABLE g.db.ststorm (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.ststorm VALUES (1, 'x1')")
    val ck = Files.createTempDirectory("graft-ststorm-ck").toString
    val q = spark.readStream.table("g.db.ststorm").writeStream
      .option("checkpointLocation", ck)
      .toTable("g.db.ststorm_sink")
    try {
      q.processAllAvailable()
      spark.sql("ALTER TABLE g.db.ststorm RENAME COLUMN v TO v2")
      spark.sql("INSERT INTO g.db.ststorm VALUES (2, 'x2')")
      spark.sql("ALTER TABLE g.db.ststorm RENAME COLUMN v2 TO v3")
      spark.sql("INSERT INTO g.db.ststorm VALUES (3, 'x3')")
      spark.sql("ALTER TABLE g.db.ststorm ADD COLUMN w BIGINT")
      spark.sql("INSERT INTO g.db.ststorm VALUES (4, 'x4', 44)")
      spark.sql("ALTER TABLE g.db.ststorm RENAME COLUMN v3 TO v4")
      spark.sql("INSERT INTO g.db.ststorm VALUES (5, 'x5', 55)")
      q.processAllAvailable() // ONE trigger adopts all four generations
    } finally q.stop()
    assert(spark.sql("SELECT id, v FROM g.db.ststorm_sink ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === (1 to 5).map(i => (i.toLong, s"x$i")),
      "every generation in the storm batch must stream its data")
  }

  test("ALTER storm: a concurrent writer racing live triggers streams clean") {
    // Nondeterministic interleaving stress: a writer thread fires
    // ALTER+INSERT pairs while the main thread keeps triggering, so
    // ALTERs land at arbitrary points inside a trigger — including
    // between latestOffset and planInputPartitions, the window the
    // generation registry exists for. The expected END STATE is exact:
    // every row's value must arrive under the query-start column name.
    wh
    spark.sql("CREATE TABLE g.db.strace (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.strace VALUES (0, 'x0')")
    val ck = Files.createTempDirectory("graft-strace-ck").toString
    val q = spark.readStream.table("g.db.strace").writeStream
      .option("checkpointLocation", ck)
      .toTable("g.db.strace_sink")
    val Rounds = 8
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        var cur = "v"
        (1 to Rounds).foreach { i =>
          val next = s"v_$i"
          spark.sql(s"ALTER TABLE g.db.strace RENAME COLUMN $cur TO $next")
          cur = next
          spark.sql(s"INSERT INTO g.db.strace VALUES ($i, 'x$i')")
        }
      } catch { case t: Throwable => failure.set(t) }
    })
    try {
      q.processAllAvailable()
      writer.start()
      // keep triggering while the storm runs so batches overlap ALTERs
      while (writer.isAlive) q.processAllAvailable()
      writer.join()
      q.processAllAvailable() // drain whatever the last race left behind
    } finally q.stop()
    assert(failure.get() == null, s"writer thread failed: ${failure.get()}")
    assert(spark.sql("SELECT id, v FROM g.db.strace_sink ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === (0 to Rounds).map(i => (i.toLong, s"x$i")),
      "a rename storm racing live triggers must not null or drop any row")
  }

  test("a stream backfills the initial default of files it reads after an ADD COLUMN") {
    // files written before ADD COLUMN ... DEFAULT but committed after the
    // stream started: the batch streaming them must carry the default, as
    // a batch read of the same table does
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE g.db.stdef (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('format-version'='3')")
    spark.sql("INSERT INTO g.db.stdef VALUES (1, 'a')")
    val loc = s"$wh/db/stdef"
    val staged = graft.format.GraftWrite.writeFiles(GraftTable_load(loc),
      Seq((2L, "b")).toDF("id", "v"))
    graft.format.SchemaUpdate(GraftTable_load(loc)).addColumn("w",
      org.apache.spark.sql.types.LongType, initialDefault = Some(7L)).commit()
    val ck = Files.createTempDirectory("graft-stdef-ck").toString
    val q = spark.readStream.table("g.db.stdef").writeStream
      .option("checkpointLocation", ck)
      .toTable("g.db.stdef_sink")
    try {
      q.processAllAvailable() // initial load
      graft.format.Commits.fastAppend(GraftTable_load(loc), staged)
      q.processAllAvailable() // the appended pre-ADD file
    } finally q.stop()
    def rows(sql: String) = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = Seq((1L, "a", 7L), (2L, "b", 7L))
    assert(rows("SELECT id, v, w FROM g.db.stdef ORDER BY id") === want)
    assert(rows("SELECT id, v, w FROM g.db.stdef_sink ORDER BY id") === want,
      "streamed rows must carry the initial default")
  }

  test("parquet micro-batches read columnar, as batch reads do") {
    wh
    spark.sql("CREATE TABLE g.db.stcol (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.stcol VALUES (1, 'a')")
    val stream = new GraftMicroBatchStream(spark, GraftTable_load(s"$wh/db/stcol"),
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    def columnar(start: org.apache.spark.sql.connector.read.streaming.Offset,
        end: org.apache.spark.sql.connector.read.streaming.Offset): Boolean = {
      val parts = stream.planInputPartitions(start, end)
      val factory = stream.createReaderFactory()
      assert(parts.nonEmpty)
      parts.forall(factory.supportColumnarReads)
    }
    val start = stream.initialOffset()
    val loaded = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(columnar(start, loaded), "the initial load reads columnar")
    spark.sql("INSERT INTO g.db.stcol VALUES (2, 'b')")
    val appended = stream.latestOffset(loaded,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(appended != loaded)
    assert(columnar(loaded, appended), "an appended slice reads columnar")
  }

  test("a stream over an imported hive layout streams its partition column in place") {
    // the imported files store `part` only in their directory names, so the
    // batch scan serves it as a partition constant after the data columns;
    // ADD COLUMN puts `w` after it, and the streamed rows must still carry
    // each value under its own column
    wh
    import spark.implicits._
    val src = Files.createTempDirectory("graft-imst-src").toString + "/t"
    Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "part")
      .write.partitionBy("part").parquet(src)
    graft.format.GraftWrite.importParquet(spark, s"$wh/db/imst", src)
    spark.sql("ALTER TABLE g.db.imst ADD COLUMN w BIGINT")
    val ck = Files.createTempDirectory("graft-imst-ck").toString
    val q = spark.readStream.table("g.db.imst").writeStream
      .option("checkpointLocation", ck)
      .toTable("g.db.imst_sink")
    try {
      q.processAllAvailable() // initial load: the imported files
      spark.sql("INSERT INTO g.db.imst VALUES (3, 'c', 'p1', 9)")
      q.processAllAvailable() // an appended file that stores `part`
    } finally q.stop()
    def rows(sql: String) = spark.sql(sql).collect().map(r => (r.getLong(0),
      r.getString(1), r.getString(2), Option(r.get(3)))).toSeq
    val want = Seq((1L, "a", "p1", None), (2L, "b", "p2", None), (3L, "c", "p1", Some(9L)))
    assert(rows("SELECT id, v, part, w FROM g.db.imst ORDER BY id") === want)
    assert(rows("SELECT id, v, part, w FROM g.db.imst_sink ORDER BY id") === want)
    // a second stream, on the row path: its initial load holds both kinds
    // of file in one batch
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try {
      val q2 = spark.readStream.table("g.db.imst").writeStream
        .option("checkpointLocation", Files.createTempDirectory("graft-imst-ck2").toString)
        .toTable("g.db.imst_sink_rows")
      try q2.processAllAvailable() finally q2.stop()
    } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(rows("SELECT id, v, part, w FROM g.db.imst_sink_rows ORDER BY id") === want)
  }

  test("a streaming write to a branch identifier advances the ref, not main") {
    wh
    spark.sql("CREATE TABLE g.db.brsink (id BIGINT)")
    spark.sql("INSERT INTO g.db.brsink VALUES (1)")
    graft.format.Commits.createBranch(GraftTable_load(s"$wh/db/brsink"), "ing")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    mem.addData(10L, 11L)
    val ck = Files.createTempDirectory("graft-brsink-ck").toString
    val q = mem.toDF().toDF("id").writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("g.db.`brsink.branch_ing`")
    q.awaitTermination()
    assert(spark.sql("SELECT id FROM g.db.`brsink.branch_ing` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 10L, 11L))
    assert(spark.sql("SELECT id FROM g.db.brsink ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L), "main must be untouched")
  }

  test("branch reads use the table's current schema; tags freeze theirs") {
    // Iceberg branch semantics: a branch follows the table's schema
    // evolution (reads resolve the CURRENT schema over the branch head's
    // files); only tags/time-travel freeze the snapshot schema. Pre-fix,
    // branch reads used the snapshot schema and branch DML after a main
    // ALTER crashed column resolution ("key not found: w").
    wh
    spark.sql("CREATE TABLE g.db.brsch (id BIGINT, v STRING)")
    spark.sql("INSERT INTO g.db.brsch VALUES (1, 'a'), (2, 'b')")
    graft.format.Commits.createBranch(GraftTable_load(s"$wh/db/brsch"), "dev")
    graft.format.Commits.createTag(GraftTable_load(s"$wh/db/brsch"), "v1")
    spark.sql("ALTER TABLE g.db.brsch ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO g.db.brsch VALUES (3, 'c', 30)")
    assert(spark.sql("SELECT * FROM g.db.`brsch.branch_dev`").columns.toSeq
      === Seq("id", "v", "w"), "branch must read the current schema")
    assert(spark.sql("SELECT * FROM g.db.`brsch.tag_v1`").columns.toSeq
      === Seq("id", "v"), "tag must freeze the snapshot schema")
    // DML on the branch touching the NEW column over pre-evolution files
    spark.sql("UPDATE g.db.`brsch.branch_dev` SET w = 7 WHERE id = 1")
    assert(spark.sql("SELECT w FROM g.db.`brsch.branch_dev` WHERE id = 1")
      .collect().head.getLong(0) === 7L)
    assert(spark.sql("SELECT id FROM g.db.brsch ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L), "main untouched")
  }

  test("metadata-only deletes work on a branch (bare DELETE included)") {
    // Spark never routes a TRUE-condition DELETE through the row-level
    // rewrite — it requires the metadata path, which pre-fix refused all
    // pinned relations, so `DELETE FROM t.branch_x` failed outright
    wh
    spark.sql("CREATE TABLE g.db.brmd (id BIGINT, part STRING) PARTITIONED BY (part)")
    spark.sql("INSERT INTO g.db.brmd VALUES (1, 'a'), (2, 'b')")
    graft.format.Commits.createBranch(GraftTable_load(s"$wh/db/brmd"), "x")
    spark.sql("INSERT INTO g.db.brmd VALUES (3, 'c')") // main moves on
    // whole-partition delete on the branch: metadata-only, on the REF
    spark.sql("DELETE FROM g.db.`brmd.branch_x` WHERE part = 'a'")
    assert(spark.sql("SELECT id FROM g.db.`brmd.branch_x`").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    val ops = GraftTable_load(s"$wh/db/brmd").metadata.snapshots
      .map(_.operation)
    assert(ops.count(_ == "delete") === 1, s"expected a metadata delete, got $ops")
    // bare DELETE truncates the branch; main keeps all three rows
    spark.sql("DELETE FROM g.db.`brmd.branch_x`")
    assert(spark.sql("SELECT * FROM g.db.`brmd.branch_x`").count() === 0)
    assert(spark.sql("SELECT id FROM g.db.brmd ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L), "main must be untouched")
  }

  test("branch DML conflict: a main commit between scan and write cannot bleed in") {
    wh
    spark.sql("CREATE TABLE g.db.brconf (id BIGINT)")
    spark.sql("INSERT INTO g.db.brconf VALUES (1), (2)")
    val t0 = GraftTable_load(s"$wh/db/brconf")
    graft.format.Commits.createBranch(t0, "iso")
    // DML on the branch reads ONLY branch-head files even after main
    // rewrites its own copy of the data
    spark.sql("DELETE FROM g.db.brconf WHERE id = 1") // main diverges
    spark.sql("UPDATE g.db.`brconf.branch_iso` SET id = 20 WHERE id = 2")
    assert(spark.sql("SELECT id FROM g.db.`brconf.branch_iso` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 20L))
    assert(spark.sql("SELECT id FROM g.db.brconf ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
  }

  private def GraftTable_load(loc: String) =
    graft.format.GraftTable.load(spark, loc)

  test("bare DELETE FROM truncates as a metadata-only delete") {
    wh
    spark.sql("CREATE TABLE g.db.bared (id BIGINT)")
    spark.sql("INSERT INTO g.db.bared VALUES (1), (2)")
    // Spark pushes the literal TRUE filter; pre-fix the bridge refused it
    // and Spark errored ("Cannot delete from table where [TRUE]")
    spark.sql("DELETE FROM g.db.bared")
    assert(spark.sql("SELECT * FROM g.db.bared").count() === 0)
    val op = spark.sql("SELECT operation FROM g.db.`bared$snapshots` " +
      "ORDER BY snapshot_id DESC LIMIT 1").collect().head.getString(0)
    assert(op === "delete", "a bare DELETE must be a metadata-only truncate")
  }

  test("nested-field filters scan and delete (unbindable refs stay Spark-side)") {
    wh
    spark.sql("CREATE TABLE g.db.nfil (id BIGINT, info STRUCT<tag: STRING, n: BIGINT>)")
    spark.sql("""INSERT INTO g.db.nfil VALUES
      (1, named_struct('tag', 'x', 'n', 5L)),
      (2, named_struct('tag', 'y', 'n', 6L)), (3, NULL)""")
    // Spark 4 pushes nested attribute references ("info.tag") through the
    // V1-Filter pushdown API; pre-fix the builder accepted them and scan
    // planning crashed with "cannot bind info.tag"
    assert(spark.sql("SELECT id FROM g.db.nfil WHERE info.tag = 'x'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // DELETE on a nested field routes to the row-level operation
    // (canDeleteWhere must answer false, not throw)
    spark.sql("DELETE FROM g.db.nfil WHERE info.tag = 'y'")
    assert(spark.sql("SELECT id FROM g.db.nfil ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // a top-level column whose NAME contains a dot still binds and pushes
    spark.sql("CREATE TABLE g.db.dotted (id BIGINT, `a.b` STRING)")
    spark.sql("INSERT INTO g.db.dotted VALUES (1, 'x'), (2, 'y')")
    assert(spark.sql("SELECT id FROM g.db.dotted WHERE `a.b` = 'x'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("NOT LIKE 'prefix%' plans, scans, and deletes with SQL null semantics") {
    wh
    spark.sql("CREATE TABLE g.db.nsw (id BIGINT, s STRING)")
    spark.sql("INSERT INTO g.db.nsw VALUES (1, 'px'), (2, 'qx'), (3, NULL)")
    // pre-fix this HUNG the planner: Not(startsWith) is irreducible in
    // rewriteNot and bind recursed on the unchanged node forever
    val rows = spark.sql(
      "SELECT id FROM g.db.nsw WHERE s NOT LIKE 'p%' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(2L), "NOT LIKE is never TRUE on NULL")
    // the residual-free delete path: strict evaluation refuses bare NOT,
    // so this routes to the row-level operation's three-valued logic —
    // the NULL row must survive
    spark.sql("DELETE FROM g.db.nsw WHERE s NOT LIKE 'p%'")
    assert(spark.sql("SELECT id FROM g.db.nsw ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L),
      "DELETE NOT LIKE must keep the NULL row")
    // and notStartsWith PRUNES: on a truncate-partitioned table the
    // all-'p' partition's file never reaches the NOT LIKE scan
    spark.sql("""CREATE TABLE g.db.nswp (id BIGINT, s STRING)
      PARTITIONED BY (truncate(1, s))""")
    spark.sql("INSERT INTO g.db.nswp VALUES (1, 'pa'), (2, 'pb')")
    spark.sql("INSERT INTO g.db.nswp VALUES (3, 'qa'), (4, 'qb')")
    val q = spark.sql("SELECT id FROM g.db.nswp WHERE s NOT LIKE 'p%'")
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("files=1"),
      s"NOT LIKE must prune the p-partition's file:\n$desc")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
    // LIKE 'p%' deletes are metadata-only on prefix-uniform partitions:
    // the strict truncate projection proves whole files, so no data file
    // is rewritten
    val before = spark.sql("SELECT file_path FROM g.db.`nswp$files`")
      .collect().map(_.getString(0)).toSet
    spark.sql("DELETE FROM g.db.nswp WHERE s LIKE 'q%'")
    val after = spark.sql("SELECT file_path FROM g.db.`nswp$files`")
      .collect().map(_.getString(0)).toSet
    assert(after.subsetOf(before) && after.size == before.size - 1,
      s"LIKE-prefix delete must drop one file and write none: $before -> $after")
    assert(spark.sql("SELECT id FROM g.db.nswp").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("DELETE WHERE NOT (a <=> v) deletes the NULL rows too") {
    wh
    spark.sql("CREATE TABLE g.db.nns (id BIGINT, a BIGINT)")
    spark.sql("INSERT INTO g.db.nns VALUES (1, 5), (2, 7), (3, NULL)")
    // SQL: NOT (a <=> 5) is TRUE for a=7 AND a=NULL (null-safe equality
    // is two-valued). The Eq conversion is only sound in positive
    // position — pre-fix the converted NotEq was never TRUE on null, so
    // depending on the evaluator the NULL row silently survived
    spark.sql("DELETE FROM g.db.nns WHERE NOT (a <=> 5)")
    assert(spark.sql("SELECT id FROM g.db.nns").collect()
      .map(_.getLong(0)).toSeq === Seq(1L),
      "NOT (a <=> 5) must delete both the 7 row and the NULL row")
  }

  test("DELETE WHERE NOT IN with a NULL literal deletes nothing") {
    wh
    spark.sql("CREATE TABLE g.db.nin (id BIGINT)")
    spark.sql("INSERT INTO g.db.nin VALUES (2), (3)")
    // SQL: `id NOT IN (1, NULL)` is never TRUE (FALSE or NULL for every
    // row). The null-dropping In conversion is only sound in positive
    // position — pre-fix it became NotIn([1]), the strict evaluator
    // proved the whole [2,3] file matched, and the metadata delete
    // dropped both rows
    spark.sql("DELETE FROM g.db.nin WHERE id NOT IN (1, NULL)")
    assert(spark.sql("SELECT * FROM g.db.nin").count() === 2,
      "NOT IN with a NULL literal must delete nothing")
    // the usual NOT IN (no nulls) still deletes
    spark.sql("DELETE FROM g.db.nin WHERE id NOT IN (2)")
    assert(spark.sql("SELECT id FROM g.db.nin").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("conflicting time-travel read options are rejected") {
    wh
    spark.sql("CREATE TABLE g.db.ttc (id BIGINT)")
    spark.sql("INSERT INTO g.db.ttc VALUES (1)")
    val snap = graft.format.GraftTable.load(spark, s"$wh/db/ttc")
      .currentSnapshot.get.snapshotId
    val e = intercept[Exception](
      spark.read.option("snapshot-id", snap.toString)
        .option("as-of-timestamp", "1234").table("g.db.ttc").collect())
    assert(e.getMessage.contains("conflicting time-travel"), s"got: $e")
    // a single option still works
    assert(spark.read.option("snapshot-id", snap.toString)
      .table("g.db.ttc").count() === 1)
  }

  test("ALTER COLUMN SET NOT NULL is refused, not silently ignored") {
    wh
    spark.sql("CREATE TABLE g.db.nn (id BIGINT, v STRING)")
    // Spark's analyzer refuses before the catalog sees it; the catalog's
    // own guard (this round) covers direct TableCatalog API callers
    val e = intercept[Exception](
      spark.sql("ALTER TABLE g.db.nn ALTER COLUMN v SET NOT NULL"))
    assert(e.getMessage.contains("SET NOT NULL") ||
      e.getMessage.contains("non-nullable"), s"got: $e")
    // DROP NOT NULL (make optional) still works
    spark.sql("ALTER TABLE g.db.nn ALTER COLUMN v DROP NOT NULL")
  }
}
