package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Metadata tables, maintenance actions, streaming sink/source, and v2
  * row-level deletes (reference test analogs: TestIcebergSourceTablesBase,
  * TestRewriteDataFilesAction, TestExpireSnapshotsAction,
  * TestRemoveOrphanFilesAction, TestRewriteManifestsAction,
  * StreamingWriter epoch dedup, Deletes.java application). */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  private def rows(n: Int, off: Int = 0) =
    (0 until n).map(i => ((off * 1000 + i).toLong, s"d-$off-$i",
      java.sql.Timestamp.valueOf(s"2024-02-0${off + 1} 08:00:00")))
      .toDF("id", "data", "ts")

  test("metadata tables: snapshots/history/files/entries/manifests/partitions") {
    val loc = freshLoc("meta")
    val t = GraftTable.create(spark, loc, rows(2).schema, _.day("ts"))
    GraftWrite.append(t, rows(2, 0).coalesce(1))
    GraftWrite.append(t, rows(3, 1).coalesce(1))
    assert(MetaTables(t, "snapshots").count() == 2)
    assert(MetaTables(t, "history").where(col("is_current_ancestor")).count() == 2)
    assert(MetaTables(t, "files").count() == 2)
    assert(MetaTables(t, "files").agg(sum("record_count")).as[Long].head() == 5)
    assert(MetaTables(t, "entries").count() == 2)
    assert(MetaTables(t, "manifests").count() == 2)
    val parts = MetaTables(t, "partitions").collect()
    assert(parts.length == 2)
    assert(MetaTables(t, "all_manifests").count() >= 2)
    assert(MetaTables(t, "snapshots").count() == 2)
  }

  test("scan summary: per-partition metrics with time-range + limit (ScanSummary.java:50-260)") {
    val loc = freshLoc("summ")
    val t = GraftTable.create(spark, loc, rows(2).schema, _.day("ts"))
    GraftWrite.append(t, rows(2, 0).coalesce(1))
    // strictly after snapshot 1's commit stamp (the after() bound is
    // inclusive, so equal-millisecond commits flaked)
    val betweenMillis = t.currentSnapshot.get.timestampMillis + 1
    Thread.sleep(5)
    GraftWrite.append(t, rows(3, 1).coalesce(1))
    val all = ScanSummary.of(t).build()
    assert(all.size == 2)
    assert(all.values.map(_.recordCount).sum == 5)
    val recent = ScanSummary.of(t).after(betweenMillis).build()
    assert(recent.size == 1 && recent.values.head.recordCount == 3)
    intercept[IllegalStateException] {
      ScanSummary.of(t).limit(1).throwIfLimited().build()
    }
  }

  test("rewriteDataFiles compacts small files and preserves rows") {
    val loc = freshLoc("compact")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    (0 until 4).foreach(i => GraftWrite.append(t, rows(2, i).coalesce(1)))
    assert(MetaTables(t, "files").count() == 4)
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles == 4)
    assert(res.addedFiles < 4)
    assert(t.toDF().count() == 8)
    assert(t.currentSnapshot.get.operation == "replace")
  }

  test("rewriteDataFiles submits ONE Spark job for all bins (RowDataRewriter)") {
    val loc = freshLoc("compact1job")
    val t = GraftTable.create(spark, loc, rows(2).schema, _.day("ts"))
    // two partitions with 4 and 2 small files → 2 bins, still one job
    (0 until 4).foreach(_ => GraftWrite.append(t, rows(2, 0).coalesce(1)))
    (0 until 2).foreach(_ => GraftWrite.append(t, rows(2, 1).coalesce(1)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
        // the listener bus is async — wait for it to drain
        val deadline = System.currentTimeMillis() + 5000
        while (jobs.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        Thread.sleep(300)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1, s"compaction submitted ${jobs.get()} jobs, expected 1")
    assert(res.rewrittenFiles == 6 && res.addedFiles == 2)
    assert(MetaTables(t, "files").count() == 2)
    assert(t.toDF().count() == 12)
    // partition tuples survive the rewrite: pruning still hits one file
    val plan = t.newScan()
      .filter(Exprs.equal("ts", java.sql.Timestamp.valueOf("2024-02-01 08:00:00")))
      .planFiles()
    assert(plan.tasks.size == 1, s"pruning after compaction: $plan")
  }

  test("rewriteDataFiles compacts across schema generations (rename in-flight)") {
    val loc = freshLoc("compactgen")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0).coalesce(1))
    GraftWrite.append(t, rows(2, 1).coalesce(1))
    SchemaUpdate(t).renameColumn("data", "payload").commit()
    GraftWrite.append(t, rows(2, 2).toDF("id", "payload", "ts").coalesce(1))
    GraftWrite.append(t, rows(2, 3).toDF("id", "payload", "ts").coalesce(1))
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    // each schema generation compacts within its own group: the old-gen bin
    // reads files with column `data` and writes `payload` in-flight
    assert(res.rewrittenFiles == 4 && res.addedFiles == 2)
    val out = t.toDF()
    assert(out.columns.contains("payload"))
    assert(out.count() == 8)
    assert(out.where(col("payload").startsWith("d-")).count() == 8)
    assert(out.where(col("id") === 0L).count() == 1)
  }

  test("rewriteDataFiles applies live deletes during rewrite (RowDataRewriter semantics)") {
    val loc = freshLoc("compactdel")
    val t = GraftTable.create(spark, loc, rows(4).schema)
    GraftWrite.append(t, rows(4, 0).coalesce(1)) // ids 0..3
    GraftWrite.append(t, rows(4, 1).coalesce(1)) // ids 1000..1003
    // equality-delete id 2; position-delete the first row of the file
    // holding ids 1000+ (path order is UUID-random — select by content)
    Deletes.deleteByEquality(t, Seq(2L).toDF("id"))
    val secondFile = spark.read
      .parquet(t.newScan().planFiles().tasks.map(_.file.path): _*)
      .where(col("id") === 1000L)
      .select(col("_metadata.file_path")).as[String].head()
    Deletes.deletePositions(t, Seq((secondFile, 0L)).toDF("file_path", "pos"))
    val before = t.toDF().select("id").as[Long].collect().sorted.toSeq
    assert(before == Seq(0L, 1L, 3L, 1001L, 1002L, 1003L))
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles == 2 && res.addedFiles == 1)
    // the deleted rows must NOT resurface in the rewritten files
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq == before)
  }

  test("rewriteDataFiles preserves NESTED renamed/promoted fields across generations") {
    val loc = freshLoc("compactnest")
    val df0 = Seq((1L, ("alice", 10)), (2L, ("bob", 20)))
      .toDF("id", "who")
      .select($"id", $"who".cast("struct<name:string,num:int>").as("who"))
    val t = GraftTable.create(spark, loc, df0.schema)
    GraftWrite.append(t, df0.coalesce(1))
    GraftWrite.append(t,
      Seq((3L, ("carol", 30))).toDF("id", "who")
        .select($"id", $"who".cast("struct<name:string,num:int>").as("who"))
        .coalesce(1))
    SchemaUpdate(t).renameColumn("who.name", "full_name")
      .updateColumnType("who.num", org.apache.spark.sql.types.LongType).commit()
    // both old-generation files compact under the EVOLVED schema: the
    // nested rename must map back to the file's nested name by id
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles == 2 && res.addedFiles == 1)
    val out = t.toDF()
    assert(out.count() == 3)
    assert(out.select($"who.full_name").as[String].collect().sorted.toSeq ==
      Seq("alice", "bob", "carol"),
      "nested rename lost values through compaction")
    assert(out.select($"who.num").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L))
  }

  test("rewriteManifests clusters into fewer manifests") {
    val loc = freshLoc("rwm")
    val t = GraftTable.create(spark, loc, rows(1).schema,
      properties = Map(Commits.ManifestMinMergeCount -> "100"))
    (0 until 5).foreach(i => GraftWrite.append(t, rows(1, i % 3).coalesce(1)))
    assert(MetaTables(t, "manifests").count() == 5)
    Actions.forTable(t).rewriteManifests(entriesPerManifest = 100)
    assert(MetaTables(t, "manifests").count() == 1)
    assert(t.toDF().count() == 5)
  }

  test("rewriteManifests keeps post-promotion 8-byte bounds exact") {
    val loc = freshLoc("rwm-promo")
    val df0 = (0 until 5).map(i => (i, s"a-$i")).toDF("k", "data") // k INT
    val t0 = GraftTable.create(spark, loc, df0.schema,
      properties = Map(Commits.ManifestMinMergeCount -> "100"))
    GraftWrite.append(t0, df0.coalesce(1))
    // PURE promotion: no new field ids, so the widest-id schema pick TIES
    // between the pre- and post-promotion schemas — the stale
    // rewriteManifests copy resolved the tie to the narrow one
    SchemaUpdate(GraftTable.load(spark, loc))
      .updateColumnType("k", org.apache.spark.sql.types.LongType).commit()
    val big = 3000000000L // > Int.MaxValue: the 8-byte bound decodes to a
                          // NEGATIVE int through a 4-byte branch
    GraftWrite.append(GraftTable.load(spark, loc),
      Seq((big, "big-0"), (big + 7, "big-1")).toDF("k", "data").coalesce(1))
    val written = Actions.forTable(GraftTable.load(spark, loc))
      .rewriteManifests(entriesPerManifest = 100)
    assert(written >= 1)
    val t = GraftTable.load(spark, loc)
    // bounds survived the decode→re-encode round trip: metrics pruning
    // still plans exactly the big-value file (pre-fix the rewrite stamped
    // it with truncated negative bounds and this filter pruned it away)
    val plan = t.newScan().filter(Exprs.equal("k", big)).planFiles()
    assert(plan.tasks.size === 1,
      s"big-value file lost to corrupted bounds: ${plan.tasks.size} tasks")
    assert(t.newScan().filter(Exprs.equal("k", big)).toDF().count() === 1)
    assert(t.toDF().count() === 7)
  }

  test("rewriteManifests runs entry processing as executor tasks (RewriteManifestsAction:186-246)") {
    val loc = freshLoc("rwmdist")
    val t = GraftTable.create(spark, loc, rows(1).schema, _.day("ts"),
      properties = Map(Commits.ManifestMinMergeCount -> "100"))
    // three day-partitions, two single-entry manifests each
    (0 until 6).foreach(i => GraftWrite.append(t, rows(1, i % 3).coalesce(1)))
    assert(MetaTables(t, "manifests").count() == 6)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val written =
      try {
        val w = Actions.forTable(t).rewriteManifests(entriesPerManifest = 2)
        // the listener bus is async — wait for it to drain
        val deadline = System.currentTimeMillis() + 5000
        while (tasks.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        Thread.sleep(300)
        w
      } finally spark.sparkContext.removeSparkListener(listener)
    // read stage + range-sorted write stage both run as Spark tasks
    assert(tasks.get() >= 2, s"expected executor tasks, got ${tasks.get()}")
    assert(written >= 3 && written < 6, s"expected ~3 clustered manifests, wrote $written")
    assert(MetaTables(t, "manifests").count() == written)
    assert(t.toDF().count() == 6)
    // range clustering keeps manifest summaries prunable: one day's filter
    // must NOT read every rewritten manifest
    val plan = t.newScan()
      .filter(Exprs.equal("ts", java.sql.Timestamp.valueOf("2024-02-01 08:00:00")))
      .planFiles()
    assert(plan.manifestsScanned < written, s"manifest pruning after rewrite: $plan")
    assert(plan.tasks.size == 2, s"expected the 2 day-1 files: $plan")
  }

  test("expireSnapshots action physically deletes dead files") {
    val loc = freshLoc("expire")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    val deadPaths = MetaTables(t, "files").select("file_path").as[String].collect()
    GraftWrite.overwriteAll(t, rows(2, 1))
    val res = Actions.forTable(t).expireSnapshots(System.currentTimeMillis() + 1000)
    assert(res.expiredSnapshots == 1)
    assert(res.deletedFiles > 0)
    deadPaths.foreach(p => assert(!Files.exists(java.nio.file.Paths.get(p)), p))
    assert(t.toDF().count() == 2)
  }

  test("expireSnapshots never orphans files shared between main and a DML'd branch") {
    // branch CoW DML rewrites the branch's copy of fileA; main still
    // references fileA, and the branch's BASE snapshot (kept as branch
    // ancestry) does too. An expire that dropped either protection would
    // physically delete a file a live reader needs.
    val loc = freshLoc("brexpire")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0).coalesce(1)) // snap1: fileA (shared)
    val fileA = MetaTables(t, "files").select("file_path").as[String].collect().toSet
    Commits.createBranch(t, "work")
    GraftWrite.append(t, rows(2, 1).coalesce(1)) // snap2 (main): fileB
    val fileB = MetaTables(t, "files").select("file_path").as[String]
      .collect().toSet -- fileA
    // branch CoW DELETE: rewrites fileA on the BRANCH line only
    val staged = GraftWrite.writeFiles(t,
      t.newScan().useRef("work").toDF().filter(col("id") =!= 0L))
    Commits.rewriteFiles(t, fileA, staged,
      baseSnapshotId = t.metadata.refSnapshotId("work"), branch = Some("work"))
    // main rewrite makes snap2 expirable (fileB dies with it)
    GraftWrite.overwriteAll(t, rows(3, 2))
    val res = Actions.forTable(t).expireSnapshots(System.currentTimeMillis() + 1000)
    assert(res.expiredSnapshots >= 1)
    // fileA is gone from BOTH heads, but the branch's base snapshot is
    // branch ancestry — it must survive the expire physically
    fileA.foreach(p => assert(Files.exists(java.nio.file.Paths.get(p)),
      s"shared file deleted by expire: $p"))
    // fileB was only ever on main's expired line — it must die
    fileB.foreach(p => assert(!Files.exists(java.nio.file.Paths.get(p)),
      s"dead main file survived expire: $p"))
    // both lines still read correctly
    assert(t.toDF().count() == 3)
    assert(t.newScan().useRef("work").toDF().select("id").as[Long]
      .collect().toSet == Set(1L))
  }

  test("maintenance on main never disturbs a DML'd branch (compact/manifests/orphans)") {
    // item: a branch with CoW DML holds files main has never heard of;
    // every maintenance action that walks "the table" must treat branch
    // reachability as live — compaction must not pull branch files into
    // main, manifest rewrite must leave the branch's manifest list alone,
    // and the orphan scan must not classify branch-only files as garbage.
    val loc = freshLoc("brmaint")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0).coalesce(1)) // snap1: fileA (shared)
    val fileA = MetaTables(t, "files").select("file_path").as[String].collect().toSet
    Commits.createBranch(t, "work")
    // branch CoW DELETE of id==0: the branch head now holds a file main
    // has never referenced
    val staged = GraftWrite.writeFiles(t,
      t.newScan().useRef("work").toDF().filter(col("id") =!= 0L))
    Commits.rewriteFiles(t, fileA, staged,
      baseSnapshotId = t.metadata.refSnapshotId("work"), branch = Some("work"))
    val branchFiles = staged.map(_.path).toSet
    def branchIds() = t.newScan().useRef("work").toDF()
      .select("id").as[Long].collect().toSet
    assert(branchIds() == Set(1L))

    // main keeps evolving: two more small files → compaction bait
    GraftWrite.append(t, rows(2, 1).coalesce(1))
    GraftWrite.append(t, rows(2, 2).coalesce(1))

    val rw = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    assert(rw.rewrittenFiles >= 2, "main compaction should have fired")
    assert(t.toDF().count() == 6, "main rows must survive compaction")
    assert(branchIds() == Set(1L), "branch read broken by main compaction")
    branchFiles.foreach(p => assert(Files.exists(java.nio.file.Paths.get(p)),
      s"main compaction deleted a branch file: $p"))
    // branch scan must still plan ONLY its own files (no main leak-in)
    assert(t.newScan().useRef("work").planFiles().tasks
      .map(_.file.path).toSet == branchFiles)

    val merged = Actions.forTable(t).rewriteManifests(entriesPerManifest = 100)
    assert(merged >= 0)
    assert(branchIds() == Set(1L), "branch read broken by manifest rewrite")

    val res = Actions.forTable(t).removeOrphanFiles(System.currentTimeMillis() + 1000)
    branchFiles.foreach(p => assert(Files.exists(java.nio.file.Paths.get(p)),
      s"orphan scan deleted a live branch file: $p"))
    assert(!res.deletedOrphans.exists(branchFiles.contains))
    assert(branchIds() == Set(1L), "branch read broken by orphan removal")
    assert(t.toDF().count() == 6, "main rows lost to maintenance")
  }

  test("removeOrphanFiles deletes unreferenced files only") {
    val loc = freshLoc("orphan")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    // stage files that never get committed → orphans
    GraftWrite.writeFiles(t, rows(3, 1))
    val res = Actions.forTable(t).removeOrphanFiles(System.currentTimeMillis() + 1000)
    assert(res.deletedOrphans.nonEmpty)
    assert(t.toDF().count() == 2) // live data untouched
  }

  test("streaming epoch commit is idempotent (StreamingWriter:60-68)") {
    val loc = freshLoc("stream")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    assert(Streaming.commitEpoch(t, rows(2, 0), epochId = 0))
    assert(Streaming.commitEpoch(t, rows(3, 1), epochId = 1))
    // replay of epoch 1 must be a no-op
    assert(!Streaming.commitEpoch(t, rows(3, 1), epochId = 1))
    assert(t.toDF().count() == 5)
    assert(t.snapshots.size == 2)
  }

  test("Complete-mode epoch commit carries the summary: replays are deduped") {
    val loc = freshLoc("complete-replay")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    assert(Streaming.commitEpoch(t, rows(2, 0), epochId = 5, complete = true))
    val snaps = GraftTable.load(spark, loc).snapshots.size
    // the overwrite snapshot must carry the epoch summary — without it a
    // replayed Complete epoch re-runs the whole truncate-and-rewrite and
    // emits a duplicate changelog downstream
    assert(!Streaming.commitEpoch(GraftTable.load(spark, loc), rows(2, 0),
      epochId = 5, complete = true))
    assert(GraftTable.load(spark, loc).snapshots.size == snaps)
    assert(GraftTable.load(spark, loc).toDF().count() == 2)
  }

  test("structured streaming end-to-end: readStream -> graft sink commits epochs") {
    val loc = freshLoc("sstream")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, java.sql.Timestamp)]
    mem.addData((1L, "a", java.sql.Timestamp.valueOf("2024-02-01 00:00:00")),
      (2L, "b", java.sql.Timestamp.valueOf("2024-02-01 01:00:00")))
    val q = Streaming.writeTo(
      mem.toDF().toDF("id", "data", "ts").writeStream
        .option("checkpointLocation", s"$loc-ckpt"), t)
      .start()
    q.processAllAvailable()
    mem.addData((3L, "c", java.sql.Timestamp.valueOf("2024-02-01 02:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(t.toDF().count() == 3)
    assert(t.snapshots.nonEmpty)
    assert(t.snapshots.forall(_.summary.contains(Streaming.EpochKey)))
  }

  test("incremental source yields append batches exactly once") {
    val loc = freshLoc("src")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    GraftWrite.append(t, rows(2, 0))
    val src = Streaming.incrementalSource(t)
    assert(src.nextBatch().get.count() == 2) // initial load
    assert(src.nextBatch().isEmpty) // caught up
    GraftWrite.append(t, rows(3, 1))
    GraftWrite.append(t, rows(1, 2))
    assert(src.nextBatch().get.count() == 4) // both new appends, once
    assert(src.nextBatch().isEmpty)
  }

  test("incremental source honors the batch size budget (MicroBatches:112-123)") {
    val loc = freshLoc("budget")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    GraftWrite.append(t, rows(1, 0))
    val src = Streaming.incrementalSource(t,
      startSnapshotId = Some(t.currentSnapshot.get.snapshotId),
      maxBytesPerBatch = 1L) // one FILE per batch
    GraftWrite.append(t, rows(2, 1).coalesce(1))
    GraftWrite.append(t, rows(3, 2).coalesce(1))
    assert(src.nextBatch().get.count() == 2) // budget splits the backlog
    assert(src.nextBatch().get.count() == 3)
    assert(src.nextBatch().isEmpty)
  }

  test("incremental source slices WITHIN a snapshot at file offsets (MicroBatches:41-123)") {
    val loc = freshLoc("fileslice")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    GraftWrite.append(t, rows(1, 0))
    val src = Streaming.incrementalSource(t,
      startSnapshotId = Some(t.currentSnapshot.get.snapshotId),
      maxBytesPerBatch = 1L)
    // ONE snapshot of several files (repartition by id → hash layout)
    GraftWrite.append(t, rows(4, 1).repartition(4, col("id")))
    val nFiles = t.newScan()
      .appendsBetween(t.currentSnapshot.get.snapshotId - 1,
        t.currentSnapshot.get.snapshotId)
      .planFiles().tasks.size
    assert(nFiles >= 2, s"need a multi-file snapshot, got $nFiles")
    val batches = Iterator.continually(src.nextBatch())
      .takeWhile(_.isDefined).map(_.get.count()).toSeq
    assert(batches.size == nFiles,
      s"expected $nFiles single-file batches, got $batches")
    assert(batches.sum == 4)
    // a later append still flows after the partial-snapshot drain
    GraftWrite.append(t, rows(2, 2).coalesce(1))
    assert(src.nextBatch().get.count() == 2)
    assert(src.nextBatch().isEmpty)
  }

  test("null partition values round-trip and isNull filters prune") {
    val loc = freshLoc("nullpart")
    val df = Seq((1L, Option("x")), (2L, Option("y")), (3L, None))
      .toDF("id", "k")
    val t = GraftTable.create(spark, loc, df.schema, _.identity("k"))
    GraftWrite.append(t, df.coalesce(1))
    assert(t.toDF().count() == 3)
    assert(t.toDF().where(col("k").isNull).select("id").as[Long].collect().toSeq == Seq(3L))
    val plan = t.newScan().filter(Exprs.isNull("k")).planFiles()
    assert(plan.tasks.size == 1, s"null-partition pruning failed: $plan")
    assert(t.newScan().filter(Exprs.equal("k", "x")).planFiles().tasks.size == 1)
    assert(t.newScan().filter(Exprs.isNull("k")).toDF().count() == 1)
  }

  test("equality deletes hide matching rows from older files (Deletes.java:128)") {
    val loc = freshLoc("eqdel")
    val t = GraftTable.create(spark, loc, rows(4).schema)
    GraftWrite.append(t, rows(4, 0))
    Deletes.deleteByEquality(t, Seq(1L, 3L).toDF("id"))
    val left = t.toDF().select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(0L, 2L))
    // rows appended AFTER the delete are not affected
    GraftWrite.append(t, Seq((1L, "new", java.sql.Timestamp.valueOf("2024-02-05 00:00:00")))
      .toDF("id", "data", "ts"))
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("equality deletes match NULL keys (null-safe semantics)") {
    val loc = freshLoc("eqnull")
    val df = Seq((Option(1L), "a"), (None: Option[Long], "b"),
      (Option(2L), "c"), (None: Option[Long], "d")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t, df.coalesce(1))
    // delete where k IS NULL — null must match null, not vanish
    Deletes.deleteByEquality(t, Seq(None: Option[Long]).toDF("k"))
    assert(t.toDF().select("v").as[String].collect().sorted.toSeq == Seq("a", "c"))
    // and non-null keys still behave
    Deletes.deleteByEquality(t, Seq(1L).toDF("k"))
    assert(t.toDF().select("v").as[String].collect().toSeq == Seq("c"))
  }

  test("position deletes remove exact rows (PositionStreamDeleteFilter)") {
    val loc = freshLoc("posdel")
    val t = GraftTable.create(spark, loc, rows(5).schema)
    GraftWrite.append(t, rows(5, 0).coalesce(1))
    val targets = t.newScan().toDF()
      .select(col("_file"), col("_pos"))
      .where(col("_pos").isin(1, 3))
    Deletes.deletePositions(t, targets)
    assert(t.toDF().count() == 3)
  }

  test("copy-on-write deleteWhere applies live deletes during the rewrite") {
    val loc = freshLoc("cowdel")
    val t = GraftTable.create(spark, loc, rows(6).schema)
    GraftWrite.append(t, rows(6, 0).coalesce(1)) // ids 0..5
    // hide id 2 via equality delete, then COW-delete id 4 (non-provable)
    Deletes.deleteByEquality(t, Seq(2L).toDF("id"))
    Deletes.deleteWhere(t, Exprs.equal("id", 4L))
    // id 2 must NOT resurface in the rewritten file
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 5L))
  }

  test("copy-on-write deleteWhere falls back when not provable") {
    val loc = freshLoc("cow")
    val t = GraftTable.create(spark, loc, rows(6).schema)
    GraftWrite.append(t, rows(6, 0).coalesce(1))
    Deletes.deleteWhere(t, Exprs.equal("id", 2L))
    assert(t.toDF().count() == 5)
    assert(t.toDF().where(col("id") === 2L).count() == 0)
  }

  test("rewriteFiles refuses when a delete landed since the base snapshot") {
    val loc = freshLoc("rw-conflict")
    val t = GraftTable.create(spark, loc, rows(4).schema)
    GraftWrite.append(t, rows(4).coalesce(1))
    val base = t.currentSnapshot.map(_.snapshotId)
    val victim = t.newScan().planFiles().files.head.path

    // concurrent APPEND: allowed — appends don't change delete state
    GraftWrite.append(t, rows(4, 1).coalesce(1))
    val staged = GraftWrite.writeFiles(t, rows(4).coalesce(1))
    Commits.rewriteFiles(t, Set(victim), staged, base)
    assert(t.toDF().count() === 8)

    // concurrent DELETE commit: the rewrite's outputs were produced
    // against the base delete state — refuse instead of resurrecting rows
    val base2 = t.currentSnapshot.map(_.snapshotId)
    val victim2 = t.newScan().planFiles().files.head.path
    val staged2 = GraftWrite.writeFiles(t, rows(4).coalesce(1))
    Deletes.deleteByEquality(t, Seq(1000L).toDF("id"))
    val e = intercept[ValidationException](
      Commits.rewriteFiles(t, Set(victim2), staged2, base2))
    assert(e.getMessage.contains("delete files"))
  }

  test("rewriteFiles refuses when a replaced file was concurrently removed") {
    val loc = freshLoc("rw-missing")
    val t = GraftTable.create(spark, loc, rows(4).schema)
    GraftWrite.append(t, rows(4).coalesce(1))
    GraftWrite.append(GraftTable.load(spark, loc), rows(4, 1).coalesce(1))
    val t1 = GraftTable.load(spark, loc)
    val victim = t1.newScan().planFiles().files.head.path
    val staged = GraftWrite.writeFiles(t1, rows(4).coalesce(1))
    // a concurrent metadata-only DELETE removes the victim through a DATA
    // manifest — invisible to the newer-delete-manifest check; silently
    // skipping the absent path would re-add its carried-over rows from
    // the rewrite output (resurrection)
    Commits.deleteByFilter(GraftTable.load(spark, loc),
      Exprs.lt("id", 1000L)) // strict: covers whole files at this layout
    val e = intercept[ValidationException](
      Commits.rewriteFiles(GraftTable.load(spark, loc), Set(victim), staged))
    assert(e.getMessage.contains("missing required files"))
  }

  test("rowDelta refuses position deletes whose targets were rewritten away") {
    val loc = freshLoc("rd-conflict")
    val t = GraftTable.create(spark, loc, rows(4).schema)
    GraftWrite.append(t, rows(4).coalesce(1))
    GraftWrite.append(t, rows(4, 1).coalesce(1))
    val base = t.currentSnapshot.map(_.snapshotId)
    val target = t.newScan().planFiles().files.head.path
    // stage a position-delete file targeting `target`
    val pos = Seq((target, 0L)).toDF("file_path", "pos")
    // concurrent compaction replaces every file
    Actions.forTable(t).rewriteDataFiles(minInputFiles = 1)
    // committing the stale delete must refuse, not silently no-op
    val staged = {
      val dir = java.nio.file.Files.createTempDirectory("rd-del").toString
      pos.coalesce(1).write.parquet(dir + "/d")
      t.ops.io.list(dir + "/d", ".parquet").map(_.path)
    }
    val files = staged.map { p =>
      val fm = Metrics.fromParquetFooter(p, t.schema)
      DataFile(path = p, content = FileContent.PositionDeletes,
        recordCount = fm.recordCount, fileSizeInBytes = fm.fileSize)
    }
    val e = intercept[ValidationException](
      Commits.rowDelta(t, Nil, files, base))
    assert(e.getMessage.contains("replaced since"))
    // without a base (explicit opt-out) the commit goes through
    Commits.rowDelta(t, Nil, files)
  }

  test("rewriteSorted range-clusters files so stats pruning bites") {
    val loc = freshLoc("sortrw")
    val d = (0 until 400).map(i => (i.toLong, s"d-$i",
        java.sql.Timestamp.valueOf("2024-02-01 08:00:00")))
      .toDF("id", "data", "ts")
    val t = GraftTable.create(spark, loc, d.schema)
    // interleaved appends: every file's id range spans the whole key space
    GraftWrite.append(t, d.filter(col("id") % 2 === 0).repartition(2))
    GraftWrite.append(t, d.filter(col("id") % 2 === 1).repartition(2))
    val before = t.newScan().filter(Exprs.lt("id", 10L)).planFiles()
    assert(before.filesTotal == 4 && before.filesScanned == 4,
      "unsorted: every file overlaps the probe range")
    val total = t.newScan().planFiles().tasks.map(_.file.fileSizeInBytes).sum
    val res = Actions.forTable(t)
      .rewriteSorted(SortOrders.parse("id asc"), targetSizeBytes = total / 3 + 1)
    assert(res.rewrittenFiles == 4 && res.addedFiles == 3)
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ==
      (0L until 400L))
    val after = t.newScan().filter(Exprs.lt("id", 10L)).planFiles()
    assert(after.filesTotal == 3)
    assert(after.filesScanned == 1,
      "range-clustered: one file owns the probe's key slice")
  }

  test("removeOrphanFiles lists partition prefixes as executor tasks") {
    val loc = freshLoc("orphdist")
    val t = GraftTable.create(spark, loc, rows(2).schema, _.day("ts"))
    GraftWrite.append(t, rows(2, 0).coalesce(1)) // day 02-01
    GraftWrite.append(t, rows(2, 1).coalesce(1)) // day 02-02
    // junk inside a PARTITION directory: only the distributed per-prefix
    // recursion can find it (the driver sees one level: the day dirs)
    val partDir = java.nio.file.Paths.get(
      t.newScan().planFiles().tasks.head.file.path).getParent
    val junk = partDir.resolve("zz-junk.parquet")
    java.nio.file.Files.write(junk, Array[Byte](9))
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try Actions.forTable(t).removeOrphanFiles(System.currentTimeMillis() + 60000)
      finally {
        // listener events are async — poll (same as MetaScanSpec)
        val deadline = System.currentTimeMillis() + 10000
        while (tasks.get() < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(res.deletedOrphans.map(p =>
      java.nio.file.Paths.get(p).getFileName.toString) == Seq("zz-junk.parquet"))
    assert(!java.nio.file.Files.exists(junk))
    assert(t.toDF().count() == 4, "live files survive")
    assert(tasks.get() >= 2,
      s"expected executor tasks for 2 partition prefixes, saw ${tasks.get()}")
  }

  test("rewriteZOrdered prunes on BOTH dimensions after the rewrite") {
    val loc = freshLoc("zorder")
    // 64x64 grid scattered round-robin: before the rewrite every file
    // spans the full range of both x and y
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val t = GraftTable.create(spark, loc, grid.schema)
    GraftWrite.append(t, grid.repartition(4))
    val total = t.newScan().planFiles().tasks.map(_.file.fileSizeInBytes).sum
    val res = Actions.forTable(t)
      .rewriteZOrdered(Seq("x", "y"), targetSizeBytes = total / 4 + 1)
    assert(res.rewrittenFiles == 4 && res.addedFiles == 4)
    assert(t.toDF().count() == 64 * 64)
    // a narrow probe on EITHER dimension must skip files now
    val px = t.newScan().filter(Exprs.lt("x", 8L)).planFiles()
    assert(px.filesTotal == 4 && px.filesScanned < 4,
      s"x probe scanned ${px.filesScanned}/4")
    val py = t.newScan().filter(Exprs.lt("y", 8L)).planFiles()
    assert(py.filesScanned < 4, s"y probe scanned ${py.filesScanned}/4")
    // the 2-d corner probe benefits from BOTH dimensions: it reads no more
    // files than either 1-d probe and stays below a full scan (exactly 1
    // when the sampled range boundaries land on the quadrant edges, 2 when
    // a boundary splits the corner block — both are correctly clustered)
    val pxy = t.newScan()
      .filter(Exprs.and(Exprs.lt("x", 8L), Exprs.lt("y", 8L))).planFiles()
    assert(pxy.filesScanned <= math.min(px.filesScanned, py.filesScanned) &&
      pxy.filesScanned <= 2, s"corner probe scanned ${pxy.filesScanned}/4")
  }

  test("rewriteSorted applies live deletes and keeps hidden partitions") {
    val loc = freshLoc("sortrwdel")
    val t = GraftTable.create(spark, loc, rows(4).schema, _.day("ts"))
    GraftWrite.append(t, rows(4, 0).coalesce(1)) // day 02-01, ids 0..3
    GraftWrite.append(t, rows(4, 1).coalesce(1)) // day 02-02, ids 1000..1003
    Deletes.deleteByEquality(t, Seq(2L, 1001L).toDF("id"))
    val before = t.toDF().select("id").as[Long].collect().sorted.toSeq
    assert(before == Seq(0L, 1L, 3L, 1000L, 1002L, 1003L))
    val res = Actions.forTable(t).rewriteSorted(SortOrders.parse("id desc"))
    assert(res.rewrittenFiles == 2)
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq == before,
      "deleted rows must not resurface after the sorted rewrite")
    // partition layout survives: day pruning still works post-rewrite
    val pruned = t.newScan()
      .filter(Exprs.lt("ts", java.sql.Timestamp.valueOf("2024-02-02 00:00:00")))
      .planFiles()
    assert(pruned.filesScanned < pruned.filesTotal)
    // the equality-delete file went dangling and was dropped in-commit
    assert(t.newScan().planFiles().deleteFiles.isEmpty)
  }

  test("rewriteEqualityDeletes converts eq deletes to position deletes") {
    val loc = freshLoc("eq2pos")
    val t = GraftTable.create(spark, loc, rows(4).schema)
    GraftWrite.append(t, rows(4, 0).coalesce(1)) // ids 0..3
    Deletes.deleteByEquality(t, Seq(1L).toDF("id"))
    GraftWrite.append(t, rows(4, 1).coalesce(1)) // ids 1000..1003, NEWER than the delete
    Deletes.deleteByEquality(t, Seq(3L, 1002L).toDF("id"))
    // a key that also appears in a NEWER file: only the older occurrence dies
    val before = t.toDF().select("id").as[Long].collect().sorted.toSeq
    assert(before == Seq(0L, 2L, 1000L, 1001L, 1003L))

    val res = Actions.forTable(t).rewriteEqualityDeletes()
    assert(res.rewrittenFiles == 2, "both eq-delete files converted")
    assert(res.addedFiles >= 1)
    val delsAfter = t.newScan().planFiles().deleteFiles
    assert(delsAfter.nonEmpty &&
      delsAfter.forall(_._1.content == FileContent.PositionDeletes),
      "only position deletes remain")
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq == before,
      "visible rows unchanged by the conversion")
    // the conversion is a replace commit: CDC emits nothing for it
    val ch = Changes.between(t,
      from = Some(t.snapshots.init.last.snapshotId))
    assert(ch.count() === 0)
    // and the position deletes now compact further
    val sizes = Actions.forTable(t).rewritePositionDeletes()
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq == before)
  }

  test("rewriteEqualityDeletes converts eq deletes on ORC and Avro tables") {
    for (fmt <- Seq(FileFormats.Orc, FileFormats.Avro)) {
      val t = GraftTable.create(spark, freshLoc(s"eq2pos-$fmt"), rows(4).schema,
        properties = Map("write.format.default" -> fmt))
      GraftWrite.append(t, rows(4, 0).coalesce(1)) // ids 0..3
      Deletes.deleteByEquality(t, Seq(1L).toDF("id"))
      GraftWrite.append(t, rows(4, 1).coalesce(1)) // ids 1000..1003
      Deletes.deleteByEquality(t, Seq(3L, 1002L).toDF("id"))
      assert(t.newScan().planFiles().files.forall(_.fileFormat == fmt))
      val before = t.toDF().collect().map(_.toString).sorted.toSeq
      assert(before.size === 5)

      val res = Actions.forTable(t).rewriteEqualityDeletes()
      assert(res.rewrittenFiles === 2, s"$fmt: both eq-delete files converted")
      assert(res.addedFiles >= 1, s"$fmt: position deletes staged")
      val delsAfter = t.newScan().planFiles().deleteFiles
      assert(delsAfter.nonEmpty &&
        delsAfter.forall(_._1.content == FileContent.PositionDeletes),
        s"$fmt: only position deletes remain")
      assert(t.toDF().collect().map(_.toString).sorted.toSeq === before,
        s"$fmt: visible rows unchanged by the conversion")
    }
  }

  test("steady-state CDC lifecycle: 100 upsert commits converge under maintenance") {
    // the long-lived streaming-upsert table, end to end: 100 RowDelta
    // epochs (the exact commit shape the upsert sink produces — data file
    // + equality-delete file per epoch), then the standard maintenance
    // pair. Convergence contract: ZERO live equality deletes, at most one
    // DV per data file, unchanged query answers, and a bounded plan.
    val df0 = Seq((0L, 0L)).toDF("id", "epoch")
    val t = GraftTable.create(spark, freshLoc("cdclife"), df0.schema,
      properties = Map("format-version" -> "3")) // DV mode
    val keys = 25
    val epochs = 100
    (0 until epochs).foreach { e =>
      // each epoch upserts 5 rotating keys — every key is rewritten ~20x
      val batch = (0 until 5).map(i => (((e * 5 + i) % keys).toLong, e.toLong))
        .toDF("id", "epoch").coalesce(1)
      val dataFiles = GraftWrite.writeFiles(t, batch)
      val delFiles = Deletes.stageEqualityDeletes(t, batch.select("id"))
      Commits.rowDelta(t, dataFiles, delFiles)
    }
    def expected: Map[Long, Long] = (0 until epochs).flatMap(e =>
      (0 until 5).map(i => ((e * 5 + i) % keys).toLong -> e.toLong)).toMap
    def state(): Map[Long, Long] = {
      // newest epoch wins per key — the upsert contract
      t.toDF().groupBy("id").agg(max("epoch").as("epoch"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val plan0 = t.newScan().planFiles()
    val eq0 = plan0.deleteFiles.count(_._1.content == FileContent.EqualityDeletes)
    assert(eq0 >= epochs - 1, "one live eq-delete set per epoch pre-maintenance")
    val want = expected
    assert(state() === want)

    // maintenance pass 1: every eq delete becomes a positional mask
    val conv = Actions.forTable(t).rewriteEqualityDeletes()
    assert(conv.rewrittenFiles === eq0)
    val plan1 = t.newScan().planFiles()
    assert(plan1.deleteFiles.forall(_._1.content == FileContent.PositionDeletes),
      "zero live equality deletes after conversion")
    assert(state() === want)

    // maintenance pass 2: DVs merge to ONE per data file
    Actions.forTable(t).rewritePositionDeletes()
    val plan2 = t.newScan().planFiles()
    val dvPerFile = plan2.deleteFiles.map(_._1)
      .filter(_.content == FileContent.PositionDeletes)
      .groupBy(_.referencedDataFile)
    assert(dvPerFile.forall(_._2.size == 1),
      s"one DV per data file, got ${dvPerFile.view.mapValues(_.size).toMap}")
    assert(plan2.deleteFiles.size <= plan2.tasks.size,
      "bounded plan: no more delete entries than data files")
    assert(state() === want)

    // optional final compaction: the table returns to a delete-free,
    // few-file steady state with row lineage preserved
    Actions.forTable(t).rewriteDataFiles(
      targetSizeBytes = 512L * 1024 * 1024, minInputFiles = 2)
    val plan3 = t.newScan().planFiles()
    assert(plan3.deleteFiles.isEmpty, "compaction retires every delete")
    assert(plan3.tasks.size < 5, s"compacted to few files: ${plan3.tasks.size}")
    assert(state() === want)
    info(s"epochs=$epochs keys=$keys | pre: files=${plan0.tasks.size} " +
      s"eqDeletes=$eq0 | post-convert: deletes=${plan1.deleteFiles.size} | " +
      s"post-merge: deletes=${plan2.deleteFiles.size} | " +
      s"post-compaction: files=${plan3.tasks.size} deletes=0")
  }

  test("rewriteEqualityDeletes drops eq deletes older than all live data") {
    val loc = freshLoc("eq2posold")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0).coalesce(1))
    Deletes.deleteByEquality(t, Seq(0L).toDF("id"))
    // drop the only older data file: the eq delete now targets nothing
    Commits.deleteByFilter(t, Exprs.lt("id", 100L))
    GraftWrite.append(t, rows(2, 1).coalesce(1))
    assert(t.newScan().planFiles().deleteFiles.nonEmpty)
    val res = Actions.forTable(t).rewriteEqualityDeletes()
    assert(res == Actions.RewriteResult(1, 0))
    assert(t.newScan().planFiles().deleteFiles.isEmpty)
    assert(t.toDF().count() === 2)
  }

  test("rewriteEqualityDeletes: null keys and no-op cases") {
    val loc = freshLoc("eq2posnull")
    val t = GraftTable.create(spark, loc,
      Seq((Option(1L), "a")).toDF("k", "v").schema)
    assert(Actions.forTable(t).rewriteEqualityDeletes() ==
      Actions.RewriteResult(0, 0))
    GraftWrite.append(t, Seq((Option(1L), "a"), (None: Option[Long], "b"),
      (Option(3L), "c")).toDF("k", "v").coalesce(1))
    Deletes.deleteByEquality(t, Seq(None: Option[Long]).toDF("k"))
    val before = t.toDF().select("v").as[String].collect().sorted.toSeq
    assert(before == Seq("a", "c"), "null key matches null-safely")
    val res = Actions.forTable(t).rewriteEqualityDeletes()
    assert(res.rewrittenFiles == 1)
    assert(t.toDF().select("v").as[String].collect().sorted.toSeq == before)
    assert(t.newScan().planFiles().deleteFiles
      .forall(_._1.content == FileContent.PositionDeletes))
  }

  test("verifyFileSizes flags understated, overstated, and missing files") {
    val loc = freshLoc("verify-sizes")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(4, 0).coalesce(1))
    val t1 = GraftTable.load(spark, loc)
    assert(Actions.forTable(t1).verifyFileSizes().isEmpty)
    // ingest "legacy" descriptors: one understating a REAL file's size
    // (the silent-truncation shape — split planning would skip its row
    // groups), one pointing at a file that does not exist
    val real = t1.newScan().planFiles().tasks.head.file
    val bad = Seq(
      real.copy(path = real.path, fileSizeInBytes = 1L),
      real.copy(path = s"$loc/data/ghost.parquet"))
    Commits.fastAppend(GraftTable.load(spark, loc), bad)
    val mm = Actions.forTable(GraftTable.load(spark, loc)).verifyFileSizes()
      .map(x => (x.path, x.recorded, x.actual))
    assert(mm.size === 2)
    val under = mm.find(_._1 == real.path).get
    assert(under._2 === 1L && under._3 > 1L)
    val ghost = mm.find(_._1.endsWith("ghost.parquet")).get
    assert(ghost._3 === -1L)
  }

  test("verify_file_sizes procedure surfaces mismatches through SQL") {
    val wh = freshLoc("verify-wh")
    spark.conf.set("spark.sql.catalog.vfs", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vfs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vfs.db")
    spark.sql("CREATE TABLE vfs.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO vfs.db.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("CALL vfs.system.verify_file_sizes('db.t')").count() === 0)
    val t = GraftTable.load(spark, s"$wh/db/t")
    val real = t.newScan().planFiles().tasks.head.file
    Commits.fastAppend(t, Seq(real.copy(fileSizeInBytes = 3L)))
    val out = spark.sql("CALL vfs.system.verify_file_sizes('db.t')").collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 3L && out.head.getLong(2) > 3L)
  }
}
