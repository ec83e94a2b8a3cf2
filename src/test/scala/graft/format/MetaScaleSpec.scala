package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Metadata-path-at-scale proof: a synthetic 100,000-file / 1,000-manifest
  * / 1,000-snapshot tree (metadata ONLY — data paths are fabricated, no
  * data I/O anywhere) driving planFiles, manifest-list pruning, the
  * distributed metadata tables, rewriteManifests, a deep changelog plan,
  * and the manifest codec's byte win. Ceilings are ~4× the measured local
  * numbers — they exist to catch a scale regression (an accidental
  * driver-side O(files) loop or plan blow-up), not to benchmark the
  * machine. Measured numbers are recorded in COVERAGE.md each round.
  *
  * The reference's own headline is exactly this path (site/docs/
  * performance.md:20-29: plan multi-petabyte tables from a single node
  * using metadata only).
  */
class MetaScaleSpec extends SparkSpec {
  import spark.implicits._

  private val ManifestCount = 1000
  private val FilesPerManifest = 100
  private val Cats = 100 // manifests cluster by cat: 10 manifests per cat
  private val ListedSnapshots = 60 // trailing snapshots with real list files

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Build the fixture: manifests written in ONE distributed job; manifest
    * lists only for the trailing snapshots (older list paths are phantom —
    * nothing here reads them); one fabricated 1,000-snapshot metadata
    * commit. Construction itself is part of the proof: the 100k-entry tree
    * must come up in seconds without the driver serializing every entry. */
  private lazy val table: GraftTable = {
    val loc = s"${sys.props("java.io.tmpdir")}/graft-metascale/t"
    val base = Seq.empty[(Long, String, Double)].toDF("id", "cat", "v")
    val t = GraftTable.recreate(spark, loc, base.schema, _.identity("cat"))
    val m1 = t.metadata
    val schema = m1.schema
    val spec = m1.spec
    val types = t.partTypesOf(m1)(m1.defaultSpecId)
    val typesMap = types.toMap
    val idFieldId = FieldIds.nameToId(schema)("id")
    val io = t.ops.io
    val filesPer = FilesPerManifest
    val manifestsPerCat = ManifestCount / Cats

    val descriptors = spark.sparkContext
      .parallelize(0 until ManifestCount, 64)
      .map { mi =>
        val cat = s"c${mi / manifestsPerCat}"
        val entries = (0 until filesPer).map { fi =>
          val id = (mi.toLong * filesPer + fi) * 100L
          ManifestEntry(EntryStatus.Added, mi + 1L, mi + 1L,
            DataFile(
              path = s"$loc/data/cat=$cat/f-$mi-$fi.parquet",
              partition = Map("cat" -> cat),
              recordCount = 100L,
              fileSizeInBytes = 32L << 20,
              valueCounts = Map(idFieldId -> 100L),
              nullValueCounts = Map(idFieldId -> 0L),
              lowerBounds = Map(idFieldId -> id),
              upperBounds = Map(idFieldId -> (id + 99L))))
        }
        val path = s"$loc/metadata/manifest-scale-$mi" +
          MetaCodec.ext(MetaCodec.Gzip)
        val bytes = MetaCodec.encode(
          Model.manifestToJson(entries, schema, typesMap), MetaCodec.Gzip)
        io.writeBytes(path, bytes)
        Commits.buildManifestFile(path, bytes.length.toLong, 0, entries,
          mi + 1L, spec, types)
      }.collect().toSeq

    // trailing manifest lists: snapshot k sees manifests 0 until k
    val now = System.currentTimeMillis()
    def listPath(k: Int) = s"$loc/metadata/snap-scale-$k" +
      MetaCodec.ext(MetaCodec.Gzip)
    ((ManifestCount - ListedSnapshots + 1) to ManifestCount).foreach { k =>
      io.writeBytes(listPath(k), MetaCodec.encode(
        Model.manifestListToJson(descriptors.take(k), t.partTypesOf(m1)),
        MetaCodec.Gzip))
    }
    val snapshots = (1 to ManifestCount).map { k =>
      Snapshot(k.toLong, if (k == 1) None else Some(k - 1L), k.toLong,
        now - (ManifestCount - k) * 1000L, "append", listPath(k),
        Map("schema-id" -> m1.currentSchemaId.toString))
    }
    val m2 = m1.copy(
      lastSequenceNumber = ManifestCount.toLong,
      lastUpdatedMillis = now,
      currentSnapshotId = Some(ManifestCount.toLong),
      snapshots = snapshots,
      snapshotLog = snapshots.map(s =>
        SnapshotLogEntry(s.timestampMillis, s.snapshotId)))
    t.ops.commit(1, m2)
    t
  }

  test("planFiles plans 100k files from metadata in bounded time") {
    table.metadata // materialize the lazy fixture OUTSIDE the timing
    val (plan, secs) = timed(table.newScan().planFiles())
    assert(plan.tasks.size === ManifestCount * FilesPerManifest)
    assert(plan.deleteFiles.isEmpty)
    info(f"planFiles full (cold): $secs%.2f s for ${plan.tasks.size} files")
    assert(secs < 20.0, f"full planFiles took $secs%.1f s")
    // manifests are immutable → the parse cache makes repeat planning
    // (query loops, changelogs) metadata-I/O-free
    val (plan2, hot) = timed(table.newScan().planFiles())
    assert(plan2.tasks.size === plan.tasks.size)
    info(f"planFiles full (hot): $hot%.2f s")
    assert(hot < secs / 2 && hot < 5.0, f"hot planFiles took $hot%.2f s")
  }

  test("a 100k-file append rolls into bounded manifests, written in executors") {
    val loc = s"${sys.props("java.io.tmpdir")}/graft-metascale/roll"
    val base = Seq.empty[(Long, String)].toDF("id", "v")
    val t = GraftTable.recreate(spark, loc, base.schema)
    val idFieldId = FieldIds.nameToId(t.schema)("id")
    val descs = (0 until 100000).map { i =>
      DataFile(path = f"$loc/data/f-$i%06d.parquet",
        recordCount = 100L, fileSizeInBytes = 32L << 20,
        lowerBounds = Map(idFieldId -> i.toLong * 100L),
        upperBounds = Map(idFieldId -> (i.toLong * 100L + 99L)))
    }
    val (_, secs) = timed(Commits.fastAppendDistributed(t, descs))
    info(f"distributed 100k-file append: $secs%.2f s")
    assert(secs < 60.0, f"append took $secs%.1f s")
    val m = t.metadata
    val mfs = t.readManifestList(m, m.currentSnapshot.get)
    assert(mfs.size >= 2,
      s"100k entries must roll past the 8 MB target (got ${mfs.size})")
    assert(mfs.size <= 64, s"roll produced ${mfs.size} manifests")
    assert(mfs.map(_.addedFilesCount).sum === 100000)
    // the rolled tree plans whole and metrics-prunes to one file
    val (plan, planSecs) = timed(t.newScan().planFiles())
    assert(plan.tasks.size === 100000)
    assert(planSecs < 20.0)
    val (pruned, _) = timed(t.newScan().filter(Exprs.and(
      Exprs.gtEq("id", 5000000L), Exprs.lt("id", 5000100L))).planFiles())
    assert(pruned.tasks.size === 1)
  }

  test("manifest-list pruning narrows a partition filter to 1% of manifests") {
    val (plan, secs) = timed(
      table.newScan().filter(Exprs.equal("cat", "c5")).planFiles())
    assert(plan.tasks.size === FilesPerManifest * (ManifestCount / Cats))
    // the manifest-list stage must have pruned, not post-filtered: scanned
    // counter tracks manifests actually parsed
    assert(plan.manifestsScanned <= ManifestCount / Cats,
      s"parsed ${plan.manifestsScanned} manifests for a 10-manifest filter")
    info(f"planFiles pruned: $secs%.2f s, ${plan.manifestsScanned} manifests parsed")
    assert(secs < 5.0)
  }

  test("metrics pruning keeps a selective id filter to one file per manifest-range") {
    val (plan, _) = timed(
      table.newScan().filter(Exprs.and(
        Exprs.gtEq("id", 5000000L), Exprs.lt("id", 5000100L))).planFiles())
    assert(plan.tasks.size === 1, "id bounds must isolate a single file")
  }

  test("entries metadata table streams 100k entries through executors") {
    val (n, secs) = timed(MetaTables(table, "entries").count())
    assert(n === ManifestCount * FilesPerManifest)
    info(f"entries count: $secs%.2f s")
    assert(secs < 30.0)
  }

  test("partitions metadata table aggregates the distributed relation") {
    val (rows, secs) = timed(MetaTables(table, "partitions")
      .select("partition.cat", "record_count", "file_count").collect())
    assert(rows.length === Cats)
    assert(rows.map(_.getLong(1)).sum === 100L * ManifestCount * FilesPerManifest)
    assert(rows.map(_.getLong(2)).sum === ManifestCount * FilesPerManifest)
    info(f"partitions: $secs%.2f s for ${rows.length} partitions")
    assert(secs < 30.0)
  }

  test("a 40-commit changelog over the deep history builds a bounded plan") {
    val fromId = ManifestCount - 40L
    val (df, secs) = timed(
      Changes.between(table, from = Some(fromId), maxPlanWidth = 8))
    val nodes = df.queryExecution.analyzed.collect { case n => n }.size
    info(f"changelog build: $secs%.2f s, $nodes plan nodes")
    assert(nodes < 60, s"changelog plan has $nodes nodes")
    assert(secs < 30.0)
  }

  test("gzip manifests are several times smaller than plain JSON") {
    val m = table.metadata
    val mfs = table.readManifestList(m, m.currentSnapshot.get).take(100)
    val gzBytes = mfs.map(_.length).sum
    val plainBytes = mfs.map { mf =>
      MetaCodec.decode(table.ops.io.readBytes(mf.path))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    }.sum
    info(f"manifest bytes: gzip $gzBytes%d vs plain $plainBytes%d " +
      f"(${plainBytes.toDouble / gzBytes}%.1fx)")
    assert(gzBytes * 3 < plainBytes,
      s"expected >3x byte win, got gzip=$gzBytes plain=$plainBytes")
  }

  test("avro manifests beat JSON on bytes and parse time at 10k entries") {
    val m = table.metadata
    val schema = m.schema
    val typesMap = table.partTypesOf(m)(m.defaultSpecId).toMap
    val idFieldId = FieldIds.nameToId(schema)("id")
    val entries = (0 until 10000).map { i =>
      ManifestEntry(EntryStatus.Added, 1L, 1L, DataFile(
        path = s"data/cat=c${i % Cats}/f-$i.parquet",
        partition = Map("cat" -> s"c${i % Cats}"),
        recordCount = 100L, fileSizeInBytes = 32L << 20,
        valueCounts = Map(idFieldId -> 100L),
        nullValueCounts = Map(idFieldId -> 0L),
        lowerBounds = Map(idFieldId -> i * 100L),
        upperBounds = Map(idFieldId -> (i * 100L + 99L))))
    }
    val avro = MetaCodec.writeManifest(entries, schema, typesMap, MetaCodec.Avro)
    val gz = MetaCodec.writeManifest(entries, schema, typesMap, MetaCodec.Gzip)
    val plain = MetaCodec.writeManifest(entries, schema, typesMap, MetaCodec.None_)
    def parseMedian(bytes: Array[Byte]): Double = {
      val runs = (1 to 5).map { _ =>
        val (r, s) = timed(MetaCodec.readManifest(bytes, schema, typesMap))
        assert(r.size === entries.size)
        s
      }
      runs.sorted.apply(runs.size / 2)
    }
    val (ta, tg, tp) = (parseMedian(avro), parseMedian(gz), parseMedian(plain))
    info(f"bytes: avro ${avro.length}%d, json.gz ${gz.length}%d, " +
      f"json ${plain.length}%d (json/avro ${plain.length.toDouble / avro.length}%.1fx)")
    info(f"parse median: avro $ta%.3f s, json.gz $tg%.3f s, json $tp%.3f s")
    assert(avro.length * 4 < plain.length,
      s"expected >4x byte win over plain JSON, avro=${avro.length} plain=${plain.length}")
    // the honest claim is parse cost, not just bytes: binary decode must at
    // least match the Jackson tree walk (it is typically several× faster —
    // the 2x allowance only absorbs CI timer noise)
    assert(ta < tg * 2 && ta < tp * 2,
      f"avro parse $ta%.3f s vs json.gz $tg%.3f s / json $tp%.3f s")
  }

  test("10k DV entries round-trip the manifest codec and plan driver-cheap") {
    val m = table.metadata
    val schema = m.schema
    val typesMap = table.partTypesOf(m)(m.defaultSpecId).toMap
    // one DV per data file across 100 puffin containers — the shape a
    // heavy merge-on-read table settles into after maintenance
    val entries = (0 until 10000).map { i =>
      ManifestEntry(EntryStatus.Added, 2L, 2L, DataFile(
        path = s"metadata/dv-${i / 100}.puffin",
        content = FileContent.PositionDeletes,
        recordCount = 1000L, fileSizeInBytes = 1L << 20,
        fileFormat = FileFormats.Puffin,
        referencedDataFile = Some(s"data/f-$i.parquet"),
        contentOffset = Some((i % 100) * 10000L),
        contentSizeInBytes = Some(9999L)))
    }
    val bytes = MetaCodec.writeManifest(entries, schema, typesMap, MetaCodec.Avro)
    val (back, parseS) = timed(MetaCodec.readManifest(bytes, schema, typesMap))
    assert(back === entries)
    // target detection and slice planning are pure manifest reads: zero
    // file I/O, bounded driver time for 10k vectors
    val files = back.map(_.file)
    val conf = spark.sessionState.newHadoopConf()
    val (targets, targetS) = timed(files.flatMap(DeleteIndex.targetsOf(_, conf)).toSet)
    assert(targets.size === 10000)
    val (slices, sliceS) = timed(Dvs.slicesOf(files))
    assert(slices.size === 10000)
    // per-TASK attachment bound: with 10k DVs live, a task's delete scope
    // is exactly ITS file's one slice — executor delete I/O is one ranged
    // read per task, not O(total DV bytes) per executor (the scan asks
    // this same index per task, zero file I/O for DVs)
    val (scopeS) = {
      val t0 = System.nanoTime()
      val index = DeleteIndex(back.map(e => (e.file, e.sequenceNumber)), schema, conf)
      val dvByTarget = (p: String) => index.posDeletesFor(p).dvs
      val parquetOf = (p: String) => index.posDeletesFor(p).paths
      (0 until 10000).foreach { i =>
        val p = ParquetIO.canonPath(s"data/f-$i.parquet")
        assert(dvByTarget(p).size === 1)
        assert(parquetOf(p).isEmpty)
      }
      (System.nanoTime() - t0) / 1e9
    }
    info(f"10k DV entries: manifest ${bytes.length / 1024} KB, " +
      f"parse $parseS%.3f s, targets $targetS%.3f s, slices $sliceS%.3f s, " +
      f"per-task scoping $scopeS%.3f s")
    assert(parseS < 5 && targetS < 2 && sliceS < 2 && scopeS < 2)
  }

  test("10k partition-local equality-delete entries round-trip and scope driver-cheap") {
    val m = table.metadata
    val schema = m.schema
    val typesMap = table.partTypesOf(m)(m.defaultSpecId).toMap
    val keyId = FieldIds.nameToId(schema)("id")
    // 100 partition-local eq-delete files per partition across 100 cats —
    // the shape a partition-clustered streaming upsert accumulates before
    // maintenance converges it
    val entries = (0 until 10000).map { i =>
      ManifestEntry(EntryStatus.Added, 2L, 2L, DataFile(
        path = s"deletes/eq-$i.parquet",
        content = FileContent.EqualityDeletes,
        partition = Map("cat" -> s"c${i % Cats}"),
        recordCount = 1000L, fileSizeInBytes = 1L << 20,
        schemaId = m.currentSchemaId, specId = m.defaultSpecId,
        equalityIds = Seq(keyId)))
    }
    val bytes = MetaCodec.writeManifest(entries, schema, typesMap, MetaCodec.Avro)
    val (back, parseS) = timed(MetaCodec.readManifest(bytes, schema, typesMap))
    assert(back === entries)
    // the scan-side scoping shape: one pass builds tuple→paths, then each
    // of 100k tasks resolves its partition's delete subset with map
    // lookups — never an O(live delete files) walk per task
    val files = back.map(_.file)
    val (_, scopeS) = timed {
      val byTuple = files.groupBy(_.partition)
        .map { case (t, fs) => t -> fs.map(_.path) }
      (0 until 100000).foreach { i =>
        val part = Map[String, Any]("cat" -> s"c${i % Cats}")
        val hits = byTuple(part)
        assert(hits.size === 100)
      }
      // the index must agree with the reference predicate on hits, spec
      // mismatches (conservative keep) and the empty-tuple bypass
      val d = files.head
      assert(Deletes.eqDeleteCanHit(d.specId, d.partition, d.specId, d.partition))
      assert(!Deletes.eqDeleteCanHit(d.specId, d.partition, d.specId,
        Map("cat" -> "other")))
      assert(Deletes.eqDeleteCanHit(d.specId, d.partition, d.specId + 1,
        Map("cat" -> "other")), "cross-spec pairings keep the delete")
      assert(Deletes.eqDeleteCanHit(d.specId, Map.empty, d.specId,
        Map("cat" -> "other")), "partition-global files always apply")
    }
    info(f"10k eq-delete entries: manifest ${bytes.length / 1024} KB, " +
      f"parse $parseS%.3f s, 100k-task scoping $scopeS%.3f s")
    assert(parseS < 5 && scopeS < 2)
  }

  test("a summary-pruned cross-spec delete manifest is forced back in at 10k-entry scale") {
    // the round-12 resurrection shape, pinned at metadata scale: 10k
    // eq-delete entries under an EVOLVED spec, a partition filter whose
    // summary prunes their whole manifest — planFiles must force the
    // manifest back in (cross-spec tuples are incomparable) and keep every
    // entry, in bounded time (no O(files×deletes) re-walk)
    val loc = s"${sys.props("java.io.tmpdir")}/graft-metascale/xspec"
    val base = Seq.empty[(Long, String, String, Double)]
      .toDF("id", "cat", "cat2", "v")
    val t = GraftTable.recreate(spark, loc, base.schema, _.identity("cat"))
    val dataFiles = (0 until 1000).map { i =>
      DataFile(
        path = s"$loc/data/cat=c${i % 10}/f-$i.parquet",
        partition = Map("cat" -> s"c${i % 10}"),
        recordCount = 100L, fileSizeInBytes = 32L << 20)
    }
    Commits.fastAppend(t, dataFiles)
    Commits.updateSpec(t)(_.identity("cat2"))
    val t2 = GraftTable.load(spark, loc)
    val keyId = FieldIds.nameToId(t2.schema)("id")
    val delFiles = (0 until 10000).map { i =>
      DataFile(
        path = s"$loc/deletes/eq-$i.parquet",
        content = FileContent.EqualityDeletes,
        partition = Map("cat2" -> "z0"),
        recordCount = 10L, fileSizeInBytes = 1L << 20,
        schemaId = t2.metadata.currentSchemaId,
        specId = t2.metadata.defaultSpecId,
        equalityIds = Seq(keyId))
    }
    Commits.rowDelta(t2, Nil, delFiles)
    val t3 = GraftTable.load(spark, loc)
    // cat2='zz-none' fails the delete manifest's [z0,z0] summary; spec-0
    // data manifests project the filter to AlwaysTrue and all survive
    val (plan, secs) = timed(
      t3.newScan().filter(Exprs.equal("cat2", "zz-none")).planFiles())
    assert(plan.tasks.size === 1000)
    assert(plan.deleteFiles.size === 10000,
      "every cross-spec delete entry must survive the summary-pruned manifest")
    info(f"cross-spec forced re-read: plan $secs%.3f s")
    assert(secs < 10)
  }

  test("DSv2 batch planning over 100k files is bounded (no O(files²) index walk)") {
    // the connector path: GraftScanBuilder → GraftFileIndex → Spark
    // FileScan partition planning. PartitioningAwareFileIndex.allFiles()
    // consults leafFiles/leafDirToChildrenFiles once PER ROOT PATH — an
    // uncached index makes that O(files²) Path normalization (hours at
    // 100k files; caught at 1,500 delete files costing 9 s per job).
    // The cached index must plan 100k files in seconds.
    import graft.connector.GraftScanBuilder
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    table.metadata // materialize the fixture outside the timing
    val b = new GraftScanBuilder(spark, table, table.newScan(),
      CaseInsensitiveStringMap.empty())
    val batch = b.build().toBatch
    val (parts, secs) = timed(batch.planInputPartitions())
    info(f"DSv2 planInputPartitions over 100k files: $secs%.2f s, ${parts.length} partitions")
    assert(parts.length > 0)
    assert(secs < 60.0, f"DSv2 planning took $secs%.1f s")
  }

  test("DSv2 MoR planning: 100k data files x 5k global eq-deletes stays bounded") {
    // the composed worst case for the round-14 planning machinery: a
    // 100k-file table with 5,000 live GLOBAL equality-delete files (above
    // the linear-sweep cap → interval index) planned through the DSv2
    // batch path — per-task narrowing must stay O(log deletes + hits) per
    // task across ~tens of thousands of tasks, with per-set canonical maps
    // and the per-task scope cache keeping repeat planning free
    import graft.connector.{GraftScanBuilder, GroupedPartition, MultiFilePartition}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val loc = s"${sys.props("java.io.tmpdir")}/graft-metascale/morwide"
    val base = Seq.empty[(Long, String)].toDF("id", "v")
    val t = GraftTable.recreate(spark, loc, base.schema)
    val idF = FieldIds.nameToId(t.schema)("id")
    val dataDescs = (0 until 100000).map { i =>
      DataFile(path = f"$loc/data/f-$i%06d.parquet",
        recordCount = 100L, fileSizeInBytes = 32L << 20,
        nullValueCounts = Map(idF -> 0L),
        lowerBounds = Map(idF -> i.toLong * 100L),
        upperBounds = Map(idF -> (i.toLong * 100L + 99L)))
    }
    Commits.fastAppendDistributed(t, dataDescs)
    val t2 = GraftTable.load(spark, loc)
    val dels = (0 until 5000).map { j =>
      DataFile(path = s"$loc/deletes/eq-$j.parquet",
        content = FileContent.EqualityDeletes,
        recordCount = 5L, fileSizeInBytes = 1L << 10,
        schemaId = t2.metadata.currentSchemaId,
        specId = t2.metadata.defaultSpecId,
        nullValueCounts = Map(idF -> 0L),
        lowerBounds = Map(idF -> j.toLong * 2000L),
        upperBounds = Map(idF -> (j.toLong * 2000L + 4L)),
        equalityIds = Seq(idF))
    }
    Commits.rowDelta(t2, Nil, dels)
    val t3 = GraftTable.load(spark, loc)
    val b = new GraftScanBuilder(spark, t3, t3.newScan(),
      CaseInsensitiveStringMap.empty())
    val batch = b.build().toBatch
    val (parts, secs) = timed(batch.planInputPartitions())
    info(f"100k x 5k MoR planning: $secs%.2f s, ${parts.length} partitions")
    assert(secs < 60.0, f"MoR planning took $secs%.1f s")
    // repeat planning rides the per-task scope cache
    val (_, hot) = timed(batch.planInputPartitions())
    info(f"repeat planning: $hot%.2f s")
    assert(hot < secs, "repeat planning must not redo narrowing")
    // spot-check narrowing quality: each delete range overlaps exactly one
    // data file, so no task may carry more than a handful of delete paths
    val sample = parts.take(200).flatMap {
      case gp: GroupedPartition => Seq(gp)
      case mp: MultiFilePartition => mp.subs
      case _ => Nil
    }
    assert(sample.nonEmpty)
    sample.foreach { p =>
      p.eqScope.foreach(scope => assert(scope.flatten.size <= 16,
        s"task carries ${scope.flatten.size} delete files; narrowing failed"))
    }
  }

  test("over-cap partition-scoped equality deletes keep key-range narrowing via the interval index") {
    // 2,000 partition-scoped eq-delete descriptors live in ONE partition —
    // above the 1,024 linear-sweep cap, the per-task candidate set used to
    // warn and skip key-range narrowing entirely (a perf cliff: every c0
    // task attached all 2,000 key sets). The per-scan interval index must
    // keep narrowing on: each task attaches exactly the delete files whose
    // key ranges overlap its own files', in bounded plan time.
    import graft.connector.{GraftScanBuilder, GroupedPartition, MultiFilePartition}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val loc = s"${sys.props("java.io.tmpdir")}/graft-metascale/eqscoped"
    val base = Seq.empty[(Long, String, String)].toDF("id", "cat", "v")
    val t = GraftTable.recreate(spark, loc, base.schema, _.identity("cat"))
    val idF = FieldIds.nameToId(t.schema)("id")
    // 100 data files in cat=c0 with disjoint 100-wide id ranges
    val dataFiles = (0 until 100).map { i =>
      DataFile(path = s"$loc/data/cat=c0/f-$i.parquet",
        partition = Map("cat" -> "c0"),
        recordCount = 100L, fileSizeInBytes = 32L << 20,
        nullValueCounts = Map(idF -> 0L),
        lowerBounds = Map(idF -> i * 100L),
        upperBounds = Map(idF -> (i * 100L + 99L)))
    }
    Commits.fastAppend(t, dataFiles)
    val t2 = GraftTable.load(spark, loc)
    // 2,000 scoped eq-delete descriptors, 5-wide disjoint key ranges
    val dels = (0 until 2000).map { i =>
      DataFile(path = s"$loc/deletes/eq-$i.parquet",
        content = FileContent.EqualityDeletes,
        partition = Map("cat" -> "c0"),
        recordCount = 5L, fileSizeInBytes = 1L << 10,
        schemaId = t2.metadata.currentSchemaId,
        specId = t2.metadata.defaultSpecId,
        nullValueCounts = Map(idF -> 0L),
        lowerBounds = Map(idF -> i * 5L),
        upperBounds = Map(idF -> (i * 5L + 4L)),
        equalityIds = Seq(idF))
    }
    Commits.rowDelta(t2, Nil, dels)
    val t3 = GraftTable.load(spark, loc)
    val fileOf = t3.newScan().planFiles().tasks
      .map(ft => ParquetIO.canonPath(ft.file.path) -> ft.file).toMap
    val b = new GraftScanBuilder(spark, t3, t3.newScan(),
      CaseInsensitiveStringMap.empty())
    val (parts, secs) = timed(b.build().toBatch.planInputPartitions().toSeq)
    info(f"over-cap scoped planning: $secs%.3f s, ${parts.size} tasks")
    assert(secs < 10.0, f"planning with 2000 scoped deletes took $secs%.1f s")
    val grouped = parts.flatMap {
      case gp: GroupedPartition => Seq(gp)
      case mp: MultiFilePartition => mp.subs
      case other => fail(s"unexpected partition ${other.getClass}")
    }
    assert(grouped.nonEmpty)
    grouped.foreach { p =>
      val taskFiles = p.inner match {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(f =>
            fileOf(ParquetIO.canonPath(f.filePath.toPath.toString))).toSeq
        case other => fail(s"expected FilePartition, got ${other.getClass}")
      }
      val expected = dels.filter(d =>
        taskFiles.exists(df => Deletes.eqBoundsCanHit(d, df, t3.schema)))
        .map(_.path).sorted
      val scope = p.eqScope.getOrElse(fail("narrowing must stay ON above the cap"))
      assert(scope.flatten.sorted === expected,
        s"task over ${taskFiles.map(_.path)} must narrow to its overlapping deletes")
      assert(scope.flatten.size < 500,
        s"narrowed scope still carries ${scope.flatten.size} of 2000 files")
    }
  }

  test("cross-spec over-cap scoped deletes still narrow by key range") {
    // the trickiest interaction: 2,000 delete files partition-scoped
    // under an EVOLVED spec (tuples incomparable with the data files'
    // spec → the whole set is a candidate for every task) AND above the
    // linear-sweep cap. Key-range narrowing is tuple-independent, so the
    // interval index must still cut each task's set to the exact
    // eqBoundsCanHit answer — never the other way (dropping a delete a
    // cross-spec row needs would resurrect it).
    import graft.connector.{GraftScanBuilder, GroupedPartition, MultiFilePartition}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val loc = s"${sys.props("java.io.tmpdir")}/graft-metascale/xspeccap"
    val base = Seq.empty[(Long, String, String)].toDF("id", "cat", "cat2")
    val t = GraftTable.recreate(spark, loc, base.schema, _.identity("cat"))
    val idF = FieldIds.nameToId(t.schema)("id")
    val dataFiles = (0 until 50).map { i =>
      DataFile(path = s"$loc/data/cat=c0/f-$i.parquet",
        partition = Map("cat" -> "c0"),
        recordCount = 100L, fileSizeInBytes = 32L << 20,
        nullValueCounts = Map(idF -> 0L),
        lowerBounds = Map(idF -> i * 200L),
        upperBounds = Map(idF -> (i * 200L + 199L)))
    }
    Commits.fastAppend(t, dataFiles)
    Commits.updateSpec(t)(_.identity("cat2"))
    val t2 = GraftTable.load(spark, loc)
    val dels = (0 until 2000).map { j =>
      DataFile(path = s"$loc/deletes/eq-$j.parquet",
        content = FileContent.EqualityDeletes,
        partition = Map("cat2" -> "z0"), // evolved-spec tuple
        recordCount = 5L, fileSizeInBytes = 1L << 10,
        schemaId = t2.metadata.currentSchemaId,
        specId = t2.metadata.defaultSpecId,
        nullValueCounts = Map(idF -> 0L),
        lowerBounds = Map(idF -> j * 5L),
        upperBounds = Map(idF -> (j * 5L + 4L)),
        equalityIds = Seq(idF))
    }
    Commits.rowDelta(t2, Nil, dels)
    val t3 = GraftTable.load(spark, loc)
    val fileOf = t3.newScan().planFiles().tasks
      .map(ft => ParquetIO.canonPath(ft.file.path) -> ft.file).toMap
    val b = new GraftScanBuilder(spark, t3, t3.newScan(),
      CaseInsensitiveStringMap.empty())
    val (parts, secs) = timed(b.build().toBatch.planInputPartitions().toSeq)
    info(f"cross-spec over-cap planning: $secs%.2f s, ${parts.size} tasks")
    assert(secs < 10.0)
    val grouped = parts.flatMap {
      case gp: GroupedPartition => Seq(gp)
      case mp: MultiFilePartition => mp.subs
      case other => fail(s"unexpected partition ${other.getClass}")
    }
    assert(grouped.nonEmpty)
    grouped.foreach { p =>
      val taskFiles = p.inner match {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.map(f =>
            fileOf(ParquetIO.canonPath(f.filePath.toPath.toString))).toSeq
        case other => fail(s"expected FilePartition, got ${other.getClass}")
      }
      val expected = dels.filter(d =>
        taskFiles.exists(df => Deletes.eqBoundsCanHit(d, df, t3.schema)))
        .map(_.path).sorted
      val scope = p.eqScope.getOrElse(fail("narrowing must stay ON"))
      assert(scope.flatten.sorted === expected,
        "cross-spec tasks must narrow to exactly the key-range-admissible deletes")
      assert(scope.flatten.size < 200,
        s"scope still carries ${scope.flatten.size} of 2000 cross-spec files")
    }
  }

  test("rewriteManifests compacts 1000 manifests distributed; plan unchanged") {
    val (written, secs) = timed(
      Actions.forTable(table).rewriteManifests(entriesPerManifest = 1000))
    // range partitioning samples boundaries, so each output holds UP TO
    // 1000 entries: expect ~100-200 manifests, a 5-10x compaction
    assert(written >= ManifestCount * FilesPerManifest / 1000 &&
      written <= 2 * ManifestCount * FilesPerManifest / 1000,
      s"unexpected manifest count $written")
    info(f"rewriteManifests: $secs%.2f s → $written manifests")
    assert(secs < 120.0)
    val plan = table.newScan().planFiles()
    assert(plan.tasks.size === ManifestCount * FilesPerManifest)
    val pruned = table.newScan().filter(Exprs.equal("cat", "c5")).planFiles()
    assert(pruned.tasks.size === FilesPerManifest * (ManifestCount / Cats))
  }
}
