package graft.connector

import graft.SparkSpec
import graft.format._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.Files

/** Per-TASK position-delete attachment (reference DeleteFileIndex +
  * FileScanTask.deletes(), core/.../DeleteFileIndex.java): each scan task
  * must carry ONLY the delete files / DV slices that can reference its data
  * file — never the whole scan's delete set — so executor delete I/O is
  * bounded by the executor's own tasks. */
class DeleteScopeSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  /** The DSv2 batch partitions of a full-table scan, with their scopes —
    * bin-packed MoR partitions flatten to their file-granular subs (each
    * sub carries its own scope; the task boundary is the pack). */
  private def partitions(t: GraftTable): Seq[GroupedPartition] = {
    val b = new GraftScanBuilder(spark, t, t.newScan(),
      CaseInsensitiveStringMap.empty())
    b.build().toBatch.planInputPartitions().toSeq.flatMap {
      case gp: GroupedPartition => Seq(gp)
      case mp: MultiFilePartition => mp.subs
      case other => fail(s"expected GroupedPartition, got ${other.getClass}")
    }
  }

  /** Delete rows at the given predicate via per-file deletePositions calls
    * — one single-target delete file per data file. */
  private def deletePerFile(t: GraftTable,
      cond: org.apache.spark.sql.Column): Unit = {
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    paths.foreach { p =>
      val pos = spark.read.parquet(p)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"), col("id"))
        .filter(cond).select("file_path", "pos")
      if (pos.count() > 0) Deletes.deletePositions(t, pos)
    }
  }

  test("parquet position deletes: each task carries only its own delete file") {
    val df = (0L until 90L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("scope-pq"), df.schema)
    GraftWrite.append(t, df.repartition(3))
    deletePerFile(t, col("id") % 9 === 0)
    val dels = t.newScan().planFiles().deleteFiles.map(_._1).distinctBy(_.path)
    assert(dels.size === 3)
    // write-time target metadata landed in the manifest: single-target
    // files carry referenced_data_file + exact canonical path bounds
    dels.foreach { d =>
      assert(d.referencedDataFile.isDefined, s"no referenced file on ${d.path}")
      assert(d.lowerBounds.get(Deletes.PathFieldId) ===
        d.upperBounds.get(Deletes.PathFieldId))
      assert(d.fullBoundIds.contains(Deletes.PathFieldId))
    }
    val byTarget = dels.map(d =>
      ParquetIO.canonPath(d.referencedDataFile.get) -> d.path).toMap
    val parts = partitions(t)
    assert(parts.size === 3)
    parts.foreach { p =>
      val scope = p.posScope.getOrElse(fail(s"no posScope on ${p.dataFile}"))
      assert(scope.dvs.isEmpty)
      assert(scope.paths === Seq(byTarget(p.dataFile.get)),
        s"task for ${p.dataFile.get} must carry exactly its own delete file")
    }
    // and the scan is still correct
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 90L).filterNot(_ % 9 == 0))
  }

  test("deletion vectors: each task carries only its own DV slice") {
    val df = (0L until 80L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("scope-dv"), df.schema,
      properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.repartition(4))
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    val pos = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 5 === 0).select("file_path", "pos")
    Deletes.deletePositions(t, pos)
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
    assert(dels.nonEmpty && dels.forall(_.fileFormat === FileFormats.Puffin))
    val parts = partitions(t)
    assert(parts.size === 4)
    parts.foreach { p =>
      val scope = p.posScope.getOrElse(fail(s"no posScope on ${p.dataFile}"))
      assert(scope.paths.isEmpty)
      assert(scope.dvs.size === 1, s"expected one DV slice for ${p.dataFile}")
      assert(scope.dvs.head.referenced === p.dataFile.get,
        "task must carry only the DV slice referencing its own file")
    }
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 80L).filterNot(_ % 5 == 0))
  }

  test("multi-target delete file attaches by path range, scan stays correct") {
    val df = (0L until 60L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("scope-multi"), df.schema)
    GraftWrite.append(t, df.repartition(3))
    // one deletePositions call spanning ALL files → one multi-target file
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    val pos = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 4 === 0).select("file_path", "pos")
    Deletes.deletePositions(t, pos)
    val dels = t.newScan().planFiles().deleteFiles.map(_._1).distinctBy(_.path)
    assert(dels.size === 1)
    val d = dels.head
    assert(d.referencedDataFile.isEmpty, "multi-target must not claim one file")
    val lo = d.lowerBounds(Deletes.PathFieldId).asInstanceOf[String]
    val hi = d.upperBounds(Deletes.PathFieldId).asInstanceOf[String]
    assert(lo < hi)
    // every task inside the range gets the delete file; correctness holds
    partitions(t).foreach { p =>
      val scope = p.posScope.getOrElse(fail(s"no posScope on ${p.dataFile}"))
      assert(scope.paths === Seq(d.path))
    }
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 60L).filterNot(_ % 4 == 0))
  }

  test("binary partition tuples: eq-delete key sets attach by tuple CONTENT (DSv2 scope)") {
    // binary partition values ride tuples as Array[Byte]; the DSv2 scan's
    // tuple -> delete-paths index must match them by CONTENT — a
    // hash/equality on the raw arrays misses every content-equal tuple
    // and silently detaches the key set (rows resurrect)
    val df = Seq(
      (1L, Array[Byte](1, 1, 7)),
      (2L, Array[Byte](2, 2, 7)),
      (3L, Array[Byte](1, 1, 9))).toDF("id", "b")
    val t = GraftTable.create(spark, freshLoc("scope-eqbin"), df.schema,
      _.truncate("b", 2))
    GraftWrite.append(t, df.repartition(2))
    Deletes.deleteByEquality(t, Seq(Tuple1(Array[Byte](1, 1, 7))).toDF("b"))
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
      .filter(_.content == FileContent.EqualityDeletes).distinctBy(_.path)
    assert(dels.nonEmpty && dels.forall(_.partition.nonEmpty),
      "partition-scoped staging must carry the binary tuple")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val taskFiles = t.newScan().planFiles().tasks
        .map(ft => ParquetIO.canonPath(ft.file.path) -> ft.file).toMap
      val parts = partitions(t)
      assert(parts.nonEmpty)
      var carrying = 0
      parts.foreach { p =>
        val files = p.inner match {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.map(f => ParquetIO.canonPath(f.filePath.toPath.toString)).toSeq
          case other => fail(s"expected FilePartition, got ${other.getClass}")
        }
        val expected = dels.filter(d => files.exists { fp =>
          val dfl = taskFiles(fp)
          java.util.Arrays.equals(
            dfl.partition("b_trunc").asInstanceOf[Array[Byte]],
            d.partition("b_trunc").asInstanceOf[Array[Byte]]) &&
            Deletes.eqBoundsCanHit(d, dfl, t.schema)
        }).map(_.path).sorted
        if (expected.nonEmpty) carrying += 1
        val scopePaths = p.eqScope.map(_.flatten.sorted)
          .getOrElse(dels.map(_.path).sorted) // None = un-narrowed full set
        assert(scopePaths === expected,
          s"task over $files must attach binary tuples by content")
      }
      assert(carrying > 0, "the [1,1] partition's task must carry the delete")
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // library-path end to end: the matching row is gone, the rest stay
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
  }

  test("partition-clustered equality deletes: per-partition files, per-task key-set scope") {
    val df = (0L until 60L).map(i => (i, i % 3, s"v$i")).toDF("id", "grp", "v")
    val t = GraftTable.create(spark, freshLoc("scope-eq"), df.schema,
      _.identity("grp"))
    GraftWrite.append(t, df)
    // upsert-shaped keys: (grp, id) — grp is the partition source, so the
    // staging fans out one eq-delete file PER PARTITION with its tuple
    val keys = Seq((0L, 0L), (0L, 3L), (1L, 7L)).toDF("grp", "id")
    Deletes.deleteByEquality(t, keys)
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
      .filter(_.content == FileContent.EqualityDeletes).distinctBy(_.path)
    assert(dels.size === 2, "one eq-delete file per touched partition")
    assert(dels.forall(_.partition.nonEmpty), "files must carry their tuple")
    assert(dels.map(_.partition("grp")).toSet === Set(0L, 1L))
    val delByGrp = dels.map(d => d.partition("grp") -> d.path).toMap
    // plan-time pruning: a partition-filtered scan carries ONLY that
    // partition's delete entries (the empty-tuple bypass is not taken)
    val prunedPlan = t.newScan().filter(Exprs.equal("grp", 0L)).planFiles()
    assert(prunedPlan.deleteFiles.map(_._1.path).distinct ===
      Seq(delByGrp(0L)), "scan of grp=0 must not plan grp=1's delete file")
    assert(t.newScan().filter(Exprs.equal("grp", 2L)).planFiles()
      .deleteFiles.isEmpty, "untouched partition plans no delete files")
    // per-task scope: with one file per Spark partition, each task's key
    // sources narrow to exactly the delete files its partition AND key
    // ranges admit — the index must agree with the reference predicate
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val taskFiles = t.newScan().planFiles().tasks
        .map(ft => ParquetIO.canonPath(ft.file.path) -> ft.file).toMap
      val parts = partitions(t)
      assert(parts.nonEmpty)
      parts.foreach { p =>
        val files = p.inner match {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.map(f => ParquetIO.canonPath(f.filePath.toPath.toString)).toSeq
          case other => fail(s"expected FilePartition, got ${other.getClass}")
        }
        val expected = dels.filter(d => files.exists { fp =>
          val df = taskFiles(fp)
          df.partition("grp") == d.partition("grp") &&
            Deletes.eqBoundsCanHit(d, df, t.schema)
        }).map(_.path).sorted
        val scopePaths = p.eqScope.map(_.flatten.sorted)
          .getOrElse(dels.map(_.path).sorted) // None = un-narrowed full set
        assert(scopePaths === expected,
          s"task over $files must carry exactly the admissible key sets")
      }
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // correctness end-to-end
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 60L).filterNot(Set(0L, 3L, 7L)))
  }

  test("keys that don't determine the partition stay partition-global") {
    val df = (0L until 30L).map(i => (i, i % 3, s"v$i")).toDF("id", "grp", "v")
    val t = GraftTable.create(spark, freshLoc("scope-eqg"), df.schema,
      _.identity("grp"))
    GraftWrite.append(t, df)
    Deletes.deleteByEquality(t, Seq(5L, 11L).toDF("id"))
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
      .filter(_.content == FileContent.EqualityDeletes).distinctBy(_.path)
    assert(dels.size === 1 && dels.head.partition.isEmpty,
      "id alone cannot be partition-scoped")
    // the global file survives every partition-filtered plan
    assert(t.newScan().filter(Exprs.equal("grp", 2L)).planFiles()
      .deleteFiles.map(_._1.path) === Seq(dels.head.path))
    // the file applies partition-globally, but KEY-RANGE scoping still
    // drops the set from tasks whose files cannot contain keys 5/11
    val idF = FieldIds.nameToId(t.schema)("id")
    val ranges = t.newScan().planFiles().tasks.map(ft =>
      ParquetIO.canonPath(ft.file.path) ->
        (ft.file.lowerBounds(idF).asInstanceOf[Long],
         ft.file.upperBounds(idF).asInstanceOf[Long])).toMap
    partitions(t).foreach { p =>
      val paths = p.inner match {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(f => ParquetIO.canonPath(f.filePath.toPath.toString)).toSeq
        case other => fail(s"expected FilePartition, got ${other.getClass}")
      }
      val overlaps = paths.exists { dp =>
        val (lo, hi) = ranges(dp); lo <= 11L && 5L <= hi
      }
      if (overlaps) assert(p.eqScope.isEmpty, "overlapping task keeps the set")
      else assert(p.eqScope.exists(_.flatten.isEmpty),
        "a task whose files cannot contain the keys must not load the set")
    }
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 30L).filterNot(Set(5L, 11L)))
  }

  test("cross-spec equality deletes stay conservative: old-generation rows never resurrect") {
    // data written under spec 0 (identity grp); the spec then evolves to
    // identity grp2 and the upsert keys cluster on grp2 — the delete files
    // carry NEW-spec tuples, which are NOT comparable with the old files'
    // tuples, so scoping must keep the sets for every old-generation task
    val df = (0L until 40L).map(i => (i, i % 2, i % 4, s"v$i"))
      .toDF("id", "grp", "grp2", "v")
    val t = GraftTable.create(spark, freshLoc("scope-xspec"), df.schema,
      _.identity("grp"))
    GraftWrite.append(t, df)
    Commits.updateSpec(t)(_.identity("grp2"))
    val t2 = GraftTable.load(spark, t.location)
    Deletes.deleteByEquality(t2, Seq((0L, 4L), (1L, 9L)).toDF("grp2", "id"))
    val dels = t2.newScan().planFiles().deleteFiles.map(_._1)
      .filter(_.content == FileContent.EqualityDeletes)
    assert(dels.nonEmpty && dels.forall(d =>
      d.partition.contains("grp2") && d.specId == t2.metadata.defaultSpecId))
    // the deletes apply to OLD-spec files despite the tuple mismatch
    assert(t2.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 40L).filterNot(Set(4L, 9L)))
    // and an old-spec partition-filtered scan still carries them
    assert(t2.newScan().filter(Exprs.equal("grp", 0L)).toDF()
      .select("id").as[Long].collect().sorted.toSeq ===
      (0L until 40L).filter(_ % 2 == 0).filterNot(Set(4L)))
  }

  test("cross-spec deleteWhere on the new partition column keeps eq deletes") {
    // data under spec 0 (identity grp), spec evolves to identity(grp2),
    // eq deletes staged with {grp2: …} tuples. A copy-on-write DELETE
    // filtered on grp2 projects that filter onto the DELETE's spec and
    // would tuple-prune the grp2=0 key set — while the spec-0 data files
    // (projected AlwaysTrue under identity(grp)) survive and still hold
    // rows masked by it. planFiles must keep tuple-pruned deletes whenever
    // any kept data file is of a different spec, or the rewrite
    // resurrects the masked rows at a newer sequence number.
    val df = (0L until 40L).map(i => (i, i % 2, i % 4, s"v$i"))
      .toDF("id", "grp", "grp2", "v")
    val t = GraftTable.create(spark, freshLoc("scope-xspec-cow"), df.schema,
      _.identity("grp"))
    GraftWrite.append(t, df)
    Commits.updateSpec(t)(_.identity("grp2"))
    val t2 = GraftTable.load(spark, t.location)
    Deletes.deleteByEquality(t2, Seq((0L, 4L), (1L, 9L)).toDF("grp2", "id"))
    Deletes.deleteWhere(GraftTable.load(spark, t.location),
      Exprs.equal("grp2", 1L))
    val t3 = GraftTable.load(spark, t.location)
    assert(t3.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 40L).filterNot(i => i % 4 == 1).filterNot(_ == 4L),
      "id=4 (grp2=0, masked by the tuple-pruned eq delete) must not resurrect")
  }

  test("cross-spec deleteWhere survives summary pruning of the delete manifest") {
    // same shape as the entry-level test, but the keys are confined to ONE
    // partition: the delete manifest's grp2 summary is [0,0], so a grp2=1
    // filter prunes the WHOLE manifest at summary level — before its
    // entries can reach the entry-level tuplePruned guard. planFiles must
    // force a summary-pruned delete manifest back in whenever a
    // possibly-matching data manifest of another spec survives.
    val df = (0L until 40L).map(i => (i, i % 2, i % 4, s"v$i"))
      .toDF("id", "grp", "grp2", "v")
    val t = GraftTable.create(spark, freshLoc("scope-xspec-mf"), df.schema,
      _.identity("grp"))
    GraftWrite.append(t, df)
    Commits.updateSpec(t)(_.identity("grp2"))
    val t2 = GraftTable.load(spark, t.location)
    Deletes.deleteByEquality(t2, Seq((0L, 4L), (0L, 8L)).toDF("grp2", "id"))
    Deletes.deleteWhere(GraftTable.load(spark, t.location),
      Exprs.equal("grp2", 1L))
    val t3 = GraftTable.load(spark, t.location)
    assert(t3.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 40L).filterNot(i => i % 4 == 1).filterNot(Set(4L, 8L)),
      "ids 4/8 (grp2=0, masked by the summary-pruned manifest) must not resurrect")
  }

  test("key-range scoping: an eq delete attaches only to tasks that can contain its keys") {
    val t = GraftTable.create(spark, freshLoc("scope-eqb"),
      Seq((0L, "v")).toDF("id", "v").schema)
    // three files with DISJOINT id ranges: [0,100), [100,200), [200,300)
    (0 until 3).foreach { b =>
      GraftWrite.append(t, (b * 100 until b * 100 + 100)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    // keys land entirely inside the middle file's range
    Deletes.deleteByEquality(t, Seq(105L, 150L).toDF("id"))
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
      .filter(_.content == FileContent.EqualityDeletes)
    assert(dels.size === 1 && dels.head.partition.isEmpty)
    val idField = FieldIds.nameToId(t.schema)("id")
    assert(dels.head.lowerBounds.get(idField).contains(105L) &&
      dels.head.upperBounds.get(idField).contains(150L),
      "staged eq-delete files must record key-column bounds")
    // the LIBRARY plan must KEEP the entry even under a filter no key can
    // satisfy — whole-file consumers (deleteWhere CoW, row-level ops) read
    // beyond the filter and a pruned delete would resurrect masked rows
    assert(t.newScan().filter(Exprs.gtEq("id", 200L)).planFiles()
      .deleteFiles.map(_._1.path) === Seq(dels.head.path))
    // the DSv2 scan re-applies the full filter as residual, so IT prunes
    // the entry when no key can satisfy the filter — and keeps it otherwise
    def dsv2Plan(f: org.apache.spark.sql.sources.Filter): ScanPlan = {
      val b = new GraftScanBuilder(spark, t, t.newScan(),
        CaseInsensitiveStringMap.empty())
      b.pushFilters(Array(f))
      b.build().asInstanceOf[GraftScan].scanPlan
    }
    assert(dsv2Plan(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 200L))
      .deleteFiles.isEmpty, "keys 105/150 cannot hit any row with id >= 200")
    assert(dsv2Plan(org.apache.spark.sql.sources.LessThanOrEqual("id", 160L))
      .deleteFiles.map(_._1.path) === Seq(dels.head.path))
    // scan-time: only the middle file's task carries the key source.
    // 64 KB + the default 4 MB open cost → one (unsplit) file per task
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val ranges = t.newScan().planFiles().tasks.map(ft =>
        ParquetIO.canonPath(ft.file.path) ->
          ft.file.lowerBounds(idField).asInstanceOf[Long]).toMap
      val parts = partitions(t)
      assert(parts.size === 3)
      parts.foreach { p =>
        val lo = p.inner match {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            ranges(ParquetIO.canonPath(fp.files.head.filePath.toPath.toString))
          case other => fail(s"expected FilePartition, got ${other.getClass}")
        }
        if (lo == 100L)
          assert(p.eqScope.isEmpty,
            "the overlapping task keeps the (un-narrowed) group config")
        else
          assert(p.eqScope.exists(_.flatten.isEmpty),
            s"task over [$lo,${lo + 99}] must not load the key set")
      }
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 300L).filterNot(Set(105L, 150L)))
  }

  test("a global key set stages as range-disjoint files that scope per task") {
    val t = GraftTable.create(spark, freshLoc("scope-eqsplit"),
      Seq((0L, "v")).toDF("id", "v").schema)
    // three files with DISJOINT id ranges: [0,100), [100,200), [200,300)
    (0 until 3).foreach { b =>
      GraftWrite.append(t, (b * 100 until b * 100 + 100)
        .map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    // keys span the whole domain; with coalescing off and 3 shuffle
    // partitions the range repartition stages 3 SORTED, DISJOINT files
    // (at scale AQE sizes this split instead — the point is the staging
    // never funnels a GDPR-size key set through one task)
    val priorCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try Deletes.deleteByEquality(t, (0L until 300L by 7L).toDF("id"))
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", priorCoalesce)
      spark.conf.set("spark.sql.shuffle.partitions", priorShuffle)
    }
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
      .filter(_.content == FileContent.EqualityDeletes)
    assert(dels.size === 3, "range staging must split the key set")
    val idField = FieldIds.nameToId(t.schema)("id")
    val ranges = dels.map(d => (d.lowerBounds(idField).asInstanceOf[Long],
      d.upperBounds(idField).asInstanceOf[Long])).sorted
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, "ranges must be disjoint")
      case _ =>
    }
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 300L).filterNot(_ % 7 == 0))
    // per-task scope: each data file attaches ONLY the delete files whose
    // key range overlaps its id range
    val byPath = dels.map(d => d.path ->
      (d.lowerBounds(idField).asInstanceOf[Long],
        d.upperBounds(idField).asInstanceOf[Long])).toMap
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val taskRanges = t.newScan().planFiles().tasks.map(ft =>
        ParquetIO.canonPath(ft.file.path) ->
          ft.file.lowerBounds(idField).asInstanceOf[Long]).toMap
      partitions(t).foreach { p =>
        val lo = p.inner match {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            taskRanges(ParquetIO.canonPath(fp.files.head.filePath.toPath.toString))
          case other => fail(s"expected FilePartition, got ${other.getClass}")
        }
        val expected = byPath.collect {
          case (path, (dlo, dhi)) if dlo <= lo + 99 && lo <= dhi => path
        }.toSet
        p.eqScope match {
          case Some(scoped) => assert(scoped.flatten.toSet.subsetOf(expected),
            s"task over [$lo,${lo + 99}] must attach only overlapping key files")
          case None => fail("expected a narrowed eq scope per task")
        }
      }
      // under-attachment would resurrect rows in THIS task layout too
      assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
        (0L until 300L).filterNot(_ % 7 == 0))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("MoR scans keep Spark's bin-packing: many small deleted files, few tasks") {
    val df = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("scope-pack"), df.schema,
      properties = Map("format-version" -> "3"))
    // 20 tiny files; DVs land on every one of them
    GraftWrite.append(t, df.repartition(20))
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    assert(paths.size === 20)
    val pos = spark.read.parquet(paths: _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 4 === 0).select("file_path", "pos")
    Deletes.deletePositions(t, pos)
    val b = new GraftScanBuilder(spark, t, t.newScan(),
      CaseInsensitiveStringMap.empty())
    val parts = b.build().toBatch.planInputPartitions().toSeq
    assert(parts.size < 20,
      s"per-file delete scoping must not undo bin-packing: ${parts.size} tasks")
    val subs = parts.flatMap {
      case mp: MultiFilePartition => mp.subs
      case gp: GroupedPartition => Seq(gp)
      case other => fail(s"unexpected partition ${other.getClass}")
    }
    assert(subs.size === 20, "every file keeps its own scoped sub")
    assert(subs.forall(s => s.posScope.exists(_.dvs.size == 1)))
    // the concatenating reader still answers exactly
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 200L).filterNot(_ % 4 == 0))
  }

  for (fmt <- Seq(FileFormats.Orc, FileFormats.Avro))
  test(s"small position-deleted $fmt files bin-pack into few tasks") {
    // position reads keep each file whole, but Spark still packs whole
    // small files: one task concatenates per-file delete-scoped subs
    val df = (0L until 200L).map(i => (i, i * 0.5)).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc(s"scope-pack-$fmt"), df.schema,
      properties = Map("write.format.default" -> fmt))
    GraftWrite.append(t, df.repartition(10))
    val files = t.newScan().planFiles().tasks.map(_.file)
    assert(files.size >= 8 && files.forall(_.fileFormat == fmt))
    Deletes.deletePositions(t, t.toDF().filter(col("id") % 4 === 0)
      .select(col("_file").as("file_path"), col("_pos").as("pos")))
    val reloaded = GraftTable.load(spark, t.location)
    val b = new GraftScanBuilder(spark, reloaded, reloaded.newScan(),
      CaseInsensitiveStringMap.empty())
    val parts = b.build().toBatch.planInputPartitions().toSeq
    assert(parts.size < files.size,
      s"per-file delete scoping must not undo bin-packing: ${parts.size} tasks")
    val subs = parts.flatMap {
      case mp: MultiFilePartition => mp.subs
      case gp: GroupedPartition => Seq(gp)
      case other => fail(s"unexpected partition ${other.getClass}")
    }
    assert(subs.size === files.size, "every file keeps its own scoped sub")
    assert(subs.forall(_.posScope.isDefined))
    val want = (0L until 200L).filterNot(_ % 4 == 0).map(i => (i, i * 0.5))
    assert(reloaded.toDF().select("id", "v").as[(Long, Double)].collect()
      .sortBy(_._1).toSeq === want)
  }

  test("legacy delete file without target metadata resolves exactly via one read") {
    val df = (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("scope-legacy"), df.schema)
    GraftWrite.append(t, df.repartition(2))
    val files = t.newScan().planFiles().tasks.map(_.file.path).sorted
    // hand-stage a delete file targeting ONLY the first data file and
    // commit it WITHOUT target metadata (an old writer's manifest entry)
    val target = files.head
    val positions = spark.read.parquet(target)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 3 === 0).select("file_path", "pos")
      .orderBy("file_path", "pos")
    val stagedDir = t.locations.newDataLocation("legacy-del")
    positions.coalesce(1).write.parquet(stagedDir)
    val staged = t.ops.io.list(stagedDir, ".parquet").head
    val path = staged.path
    val n = spark.read.parquet(path).count()
    // legacy = missing TARGET metadata (referenced file, path bounds) —
    // the size must still be the real one: manifests are the source of
    // truth for read split planning (reference manifests require
    // file_size_in_bytes and trust it the same way)
    Commits.rowDelta(t, Nil, Seq(DataFile(path = path,
      content = FileContent.PositionDeletes, recordCount = n,
      fileSizeInBytes = staged.size, schemaId = t.metadata.currentSchemaId,
      specId = t.metadata.defaultSpecId)))
    val canonTarget = ParquetIO.canonPath(target)
    partitions(t).foreach { p =>
      val scope = p.posScope.getOrElse(fail(s"no posScope on ${p.dataFile}"))
      if (p.dataFile.get == canonTarget)
        assert(scope.paths === Seq(path), "target task must carry the file")
      else
        assert(scope.paths.isEmpty,
          "non-target task must not carry the legacy delete file")
    }
    assert(t.toDF().count() === 40L - n)
  }

  test("compaction bins ship only their partition's delete sets") {
    val loc = freshLoc("scope-compact")
    val df = (0L until 80L).map(i => (i % 2, i, s"v$i")).toDF("grp", "id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema, _.identity("grp"))
    // two appends → two files per partition (so bins merge per partition)
    GraftWrite.append(t0, df.filter(col("id") < 40).repartition(1))
    GraftWrite.append(GraftTable.load(spark, loc),
      df.filter(col("id") >= 40).repartition(1))
    // keys determine the partition → one PARTITION-SCOPED eq file per grp
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq((0L, 4L), (1L, 9L)).toDF("grp", "id"))
    // plus one single-target position-delete file per data file
    // hits both parities → position deletes exist in both partitions
    deletePerFile(GraftTable.load(spark, loc),
      col("id") % 10 === 6 || col("id") % 10 === 7)
    val before = GraftTable.load(spark, loc).newScan().planFiles()
    val eqByGrp: Map[Any, Seq[String]] = before.deleteFiles
      .filter(_._1.content == FileContent.EqualityDeletes).map(_._1)
      .groupBy(_.partition("grp")).map { case (g, fs) => g -> fs.map(_.path) }
    assert(eqByGrp.size === 2 && eqByGrp.values.forall(_.size == 1))
    val posByGrp: Map[Long, Set[String]] = before.deleteFiles
      .filter(_._1.content == FileContent.PositionDeletes).map(_._1)
      .groupBy(d => ParquetIO.canonPath(d.referencedDataFile.get))
      .map { case (target, fs) =>
        val task = before.tasks.find(ts =>
          ParquetIO.canonPath(ts.file.path) == target).get
        task.file.partition("grp").asInstanceOf[Long] -> fs.map(_.path).toSet
      }.groupBy(_._1).map { case (g, m) => g -> m.values.flatten.toSet }
    val res = Actions.forTable(GraftTable.load(spark, loc))
      .rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles === 4 && res.addedFiles === 2)
    // correctness: both delete kinds applied during the rewrite
    val expected = (0L until 80L)
      .filterNot(i => i == 4L || i == 9L || i % 10 == 6 || i % 10 == 7)
    assert(GraftTable.load(spark, loc).toDF()
      .select("id").as[Long].collect().sorted.toSeq === expected)
    // hygiene: every delete file became dangling with the rewrite
    assert(GraftTable.load(spark, loc).newScan().planFiles()
      .deleteFiles.isEmpty)
    // the scoping itself, pinned through the executor caches: no loaded
    // key set or position set may MIX the two partitions' delete files —
    // an unscoped plan ships every partition's sets to every bin
    val eq0 = eqByGrp(0L).head
    val eq1 = eqByGrp(1L).head
    val eqKeys = DeleteKeyCache.cache.keys
    assert(eqKeys.exists(_.contains(eq0)) && eqKeys.exists(_.contains(eq1)),
      "compaction must have loaded both partitions' key sets")
    assert(!eqKeys.exists(k => k.contains(eq0) && k.contains(eq1)),
      "a bin task loaded BOTH partitions' eq-delete sets — unscoped plan")
    val posKeys = PosDeleteCache.cache.keys
    for (p0 <- posByGrp(0L); p1 <- posByGrp(1L))
      assert(!posKeys.exists(k => k.contains(p0) && k.contains(p1)),
        "a bin task loaded BOTH partitions' position deletes — unscoped plan")
  }

  test("library toDF over live eq + position deletes is one GraftScan: no anti-join, no job, one plan") {
    val df0 = (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("libread-shape"), df0.schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    GraftWrite.append(t, df0.coalesce(1))
    Deletes.deleteByEquality(t, Seq(3L).toDF("id"))
    deletePerFile(t, col("id") === 5L)
    val plan0 = t.newScan().planFiles()
    assert(plan0.deleteFiles.map(_._1.content).toSet ===
      Set(FileContent.EqualityDeletes, FileContent.PositionDeletes))

    // listener-bus events arrive in order: once a marker job's start is
    // seen, every job started before it has been seen too
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sparkListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val events = new java.util.concurrent.ConcurrentLinkedQueue[ScanEvent]()
    val scanListener = Listeners.register(e => { events.add(e); () })
    spark.sparkContext.addSparkListener(sparkListener)
    val (df, sparkPlan) =
      try {
        val d = t.newScan().toDF()
        (d, d.queryExecution.sparkPlan)
      } finally Listeners.unregister(scanListener)
    spark.sparkContext.setJobGroup("libread-marker", "marker")
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!jobGroups.contains("libread-marker") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(sparkListener)
    assert(jobGroups.toArray.toSeq === Seq("libread-marker"),
      "building and planning a library read must run no Spark job")
    assert(events.size === 1, s"one library read plans once: $events")

    val scans = sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size === 1 && scans.head.scan.isInstanceOf[GraftScan],
      s"expected one BatchScanExec over GraftScan:\n$sparkPlan")
    val antiJoins = sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antiJoins.isEmpty, s"deletes must apply inside the scan:\n$sparkPlan")
    assert(df.select("id").as[Long].collect().sorted.toSeq ===
      ((0L until 10L).filterNot(Set(3L, 5L))))
  }
}
