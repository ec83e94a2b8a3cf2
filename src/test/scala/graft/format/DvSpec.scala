package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap
import java.nio.file.Files

/** Deletion vectors (iceberg v3 / puffin): container codec, format-version
  * plumbing, DV write paths (deletePositions, MoR SQL, eq-conversion,
  * compaction), and every read path applying them (library scan, DSv2 SQL,
  * ORC row-path, rewrite actions). */
class DvSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  private def bm(vals: Long*): Roaring64NavigableMap = {
    val b = new Roaring64NavigableMap()
    vals.foreach(b.addLong)
    b
  }

  // ---- puffin container + DV blob codec ----

  test("puffin: round-trip blobs through the container and footer") {
    val payloadA = Puffin.dvBlobPayload(bm(0L, 5L, 1L << 33))
    val payloadB = Puffin.dvBlobPayload(bm(7L))
    val (bytes, metas) = Puffin.write(Seq(
      (Puffin.DvBlobType, Nil, 11L, 3L, payloadA, Map("referenced-data-file" -> "/a")),
      (Puffin.DvBlobType, Nil, 11L, 3L, payloadB, Map("referenced-data-file" -> "/b"))))
    assert(bytes.startsWith(Puffin.Magic))
    assert(bytes.endsWith(Puffin.Magic))
    val parsed = Puffin.readFooter(bytes)
    assert(parsed === metas)
    assert(parsed.map(_.properties("referenced-data-file")) === Seq("/a", "/b"))
    val back = Puffin.dvFromBlobPayload(
      bytes.slice(parsed.head.offset.toInt,
        (parsed.head.offset + parsed.head.length).toInt))
    assert(back.contains(0L) && back.contains(5L) && back.contains(1L << 33))
    assert(back.getLongCardinality === 3L)
  }

  test("property: random position sets round-trip the DV blob codec exactly") {
    val rnd = new scala.util.Random(41)
    (0 until 50).foreach { trial =>
      val n = rnd.nextInt(2000)
      val positions = Seq.fill(n)(rnd.nextLong(1L << rnd.nextInt(40)).abs).distinct
      val in = bm(positions: _*)
      val out = Puffin.dvFromBlobPayload(Puffin.dvBlobPayload(in))
      assert(out.getLongCardinality === in.getLongCardinality, s"trial $trial")
      positions.foreach(p => assert(out.contains(p), s"trial $trial lost $p"))
      assert(!out.contains(Long.MaxValue - 1), s"trial $trial phantom")
    }
  }

  test("puffin: DV blob CRC and magic corruption are detected") {
    val payload = Puffin.dvBlobPayload(bm(1L, 2L, 3L))
    val flipped = payload.clone(); flipped(10) = (flipped(10) ^ 0x7).toByte
    intercept[IllegalArgumentException](Puffin.dvFromBlobPayload(flipped))
    val badMagic = payload.clone(); badMagic(4) = 0x00
    intercept[IllegalArgumentException](Puffin.dvFromBlobPayload(badMagic))
  }

  test("scale: a 10M-position DV is compact to store, fast to load and probe") {
    val bm = new Roaring64NavigableMap()
    val rnd = new java.util.Random(7)
    var i = 0
    while (i < 10_000_000) {
      bm.addLong(math.abs(rnd.nextLong()) % 2_000_000_000L); i += 1
    }
    val n = bm.getLongCardinality
    val payload = Puffin.dvBlobPayload(bm)
    // worst-case-ish random density: ~2.2 B/position vs 8 B/position for
    // the sorted-long-array representation DVs replaced
    assert(payload.length < 4L * n, s"${payload.length} B for $n positions")
    val t0 = System.nanoTime()
    val back = Puffin.dvFromBlobPayload(payload)
    val loadMs = (System.nanoTime() - t0) / 1e6
    assert(back.getLongCardinality === n)
    var hits = 0L
    val t1 = System.nanoTime()
    var j = 0
    while (j < 1_000_000) { if (back.contains(j * 2003L)) hits += 1; j += 1 }
    val probeMs = (System.nanoTime() - t1) / 1e6
    info(f"positions=$n payload=${payload.length / 1048576.0}%.1f MB " +
      f"load=$loadMs%.0f ms probe(1M)=$probeMs%.0f ms hits=$hits")
    // generous ceilings — this guards against accidental O(n) probes or a
    // non-portable serialization fallback, not micro-regressions
    assert(loadMs < 5000, s"DV deserialization took $loadMs ms")
    assert(probeMs < 5000, s"1M membership probes took $probeMs ms")
  }

  test("DV ranged-read retry: transient IO faults ride out, hard faults propagate") {
    // succeeds on the third attempt
    var calls = 0
    val got = Dvs.retryTransient(attempts = 3) {
      calls += 1
      if (calls < 3) throw new java.io.IOException(s"transient $calls")
      42
    }
    assert(got === 42 && calls === 3)
    // exhausted attempts propagate the last failure
    var hard = 0
    val e = intercept[java.io.IOException] {
      Dvs.retryTransient(attempts = 3) {
        hard += 1
        throw new java.io.IOException(s"persistent $hard")
      }
    }
    assert(hard === 3 && e.getMessage === "persistent 3")
    // non-IO failures (corrupt blob CRC) do NOT retry
    var bad = 0
    intercept[IllegalArgumentException] {
      Dvs.retryTransient(attempts = 3) {
        bad += 1
        Puffin.dvFromBlobPayload(Array.fill[Byte](16)(7))
      }
    }
    assert(bad === 1, "corruption must not retry")
  }

  // ---- format-version plumbing ----

  test("format-version: create at 3, upgrade 2->3, refuse downgrade") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val t3 = GraftTable.create(spark, freshLoc("fv3"), df.schema,
      properties = Map("format-version" -> "3"))
    assert(t3.metadata.formatVersion === 3)
    assert(!t3.metadata.properties.contains("format-version"))
    val t2 = GraftTable.create(spark, freshLoc("fv2"), df.schema)
    assert(t2.metadata.formatVersion === 2)
    Commits.setProperties(t2, Map("format-version" -> "3", "k" -> "v"))
    assert(t2.metadata.formatVersion === 3)
    assert(t2.metadata.properties.get("k").contains("v"))
    intercept[IllegalArgumentException](
      Commits.setProperties(t2, Map("format-version" -> "2")))
    intercept[IllegalArgumentException](
      GraftTable.create(spark, freshLoc("fv4"), df.schema,
        properties = Map("format-version" -> "4")))
  }

  // ---- DV write + read paths ----

  private def idsOf(t: GraftTable): Seq[Long] =
    t.toDF().select("id").as[Long].collect().sorted.toSeq

  private def deleteWherePos(t: GraftTable, cond: org.apache.spark.sql.Column): Unit = {
    val paths = t.newScan().planFiles().tasks.map(_.file.path)
    val pos = spark.read.parquet(paths: _*)
      .withColumn("fp", col("_metadata.file_path"))
      .withColumn("rp", col("_metadata.row_index"))
      .filter(cond).select("fp", "rp")
    Deletes.deletePositions(t, pos)
  }

  test("v3 deletePositions writes DVs; library scan applies them") {
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvlib"), df.schema,
      properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.repartition(3))
    deleteWherePos(t, col("id") % 7 === 0)
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
    assert(dels.nonEmpty)
    assert(dels.forall(_.fileFormat === FileFormats.Puffin))
    assert(dels.forall(f => f.referencedDataFile.isDefined &&
      f.contentOffset.isDefined && f.contentSizeInBytes.isDefined))
    assert(dels.map(_.recordCount).sum === 15L) // 0,7,...,98
    assert(idsOf(t) === (0L until 100L).filter(_ % 7 != 0))
    // manifest codec round-trips the DV address (avro is the default codec)
    val t2 = GraftTable.load(spark, t.location)
    val dels2 = t2.newScan().planFiles().deleteFiles.map(_._1)
    assert(dels2.toSet === dels.toSet)
  }

  test("v3 DSv2 SQL scan applies DVs; two DV commits on one file union") {
    val wh = Files.createTempDirectory("graft-dvwh").toString
    spark.conf.set("spark.sql.catalog.dvc", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvc.db")
    spark.sql("""CREATE TABLE dvc.db.t (id BIGINT, v STRING)
                 TBLPROPERTIES ('format-version'='3')""")
    spark.sql("INSERT INTO dvc.db.t SELECT id, concat('v', id) FROM range(50)")
    val t = GraftTable.load(spark, s"$wh/db/t")
    deleteWherePos(t, col("id") < 5)
    deleteWherePos(t, col("id") >= 45) // second DV generation, same files
    val got = spark.sql("SELECT id FROM dvc.db.t ORDER BY id")
      .as[Long].collect().toSeq
    assert(got === (5L until 45L))
    // both DV generations are live (union semantics pre-compaction)
    val gens = t.newScan().planFiles().deleteFiles.map(_._1.path).distinct
    assert(gens.size === 2)
  }

  test("v3 MoR MERGE/DELETE SQL writes DVs, not parquet deletes") {
    val wh = Files.createTempDirectory("graft-dvm").toString
    spark.conf.set("spark.sql.catalog.dvm", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvm.db")
    spark.sql("""CREATE TABLE dvm.db.t (id BIGINT, v STRING)
                 TBLPROPERTIES ('format-version'='3',
                                'write.delete.mode'='merge-on-read',
                                'write.merge.mode'='merge-on-read')""")
    spark.sql("INSERT INTO dvm.db.t SELECT id, concat('v', id) FROM range(20)")
    val before = GraftTable.load(spark, s"$wh/db/t")
      .newScan().planFiles().files.map(_.path).toSet
    spark.sql("DELETE FROM dvm.db.t WHERE id % 4 = 1")
    spark.sql("""MERGE INTO dvm.db.t t USING (SELECT 2 AS id, 'X' AS v) s
                 ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET t.v = s.v
                 WHEN NOT MATCHED THEN INSERT *""")
    val t = GraftTable.load(spark, s"$wh/db/t")
    val plan = t.newScan().planFiles()
    assert(before.subsetOf(plan.files.map(_.path).toSet), "MoR must not rewrite")
    val dels = plan.deleteFiles.map(_._1)
    assert(dels.nonEmpty && dels.forall(_.fileFormat === FileFormats.Puffin))
    val rows = spark.sql("SELECT id, v FROM dvm.db.t WHERE id IN (1,2,3)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((2L, "X"), (3L, "v3")))
    assert(spark.sql("SELECT count(*) FROM dvm.db.t").as[Long].head() === 15L)
  }

  test("v3 mixed legacy parquet position deletes + DVs apply together") {
    val df = (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvmix"), df.schema)
    GraftWrite.append(t, df.repartition(2))
    deleteWherePos(t, col("id") < 4) // v2: parquet position-delete file
    Commits.setProperties(t, Map("format-version" -> "3"))
    deleteWherePos(t, col("id") >= 36) // v3: DV
    val fmts = t.newScan().planFiles().deleteFiles.map(_._1.fileFormat).distinct.sorted
    assert(fmts === Seq(FileFormats.Parquet, FileFormats.Puffin))
    assert(idsOf(t) === (4L until 36L))
    // compaction of the delete files merges BOTH kinds into one DV per
    // data file and restores the spec's one-DV invariant
    val res = Actions.forTable(t).rewritePositionDeletes()
    assert(res.rewrittenFiles >= 2) // the parquet file + >=1 puffin file
    val after = t.newScan().planFiles().deleteFiles.map(_._1)
    assert(after.forall(_.fileFormat === FileFormats.Puffin))
    assert(after.map(_.referencedDataFile).distinct.size === after.size)
    assert(after.map(_.path).distinct.size === 1)
    assert(idsOf(t) === (4L until 36L))
    // already compact now: second run is a no-op
    assert(Actions.forTable(t).rewritePositionDeletes() === Actions.RewriteResult(0, 0))
  }

  test("v3 DVs on ORC data files apply via the row-path scan") {
    val df = (0L until 30L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvorc"), df.schema,
      properties = Map("format-version" -> "3",
        "write.format.default" -> "orc"))
    GraftWrite.append(t, df.coalesce(1))
    // locate positions through the library scan's own (_file,_pos) dual:
    // ORC files carry no parquet row-index metadata, so delete by reading
    // all rows and picking ordinals 0..4 of the single file
    val file = t.newScan().planFiles().tasks.head.file.path
    val pos = (0L until 5L).map(p => (file, p)).toDF("file_path", "pos")
    Deletes.deletePositions(t, pos)
    assert(t.newScan().planFiles().deleteFiles
      .forall(_._1.fileFormat === FileFormats.Puffin))
    assert(idsOf(t) === (5L until 30L))
  }

  test("partition-pruned scans still apply partition-global delete files") {
    val df = (0L until 40L)
      .map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("id", "cat", "v")
    val t = GraftTable.create(spark, freshLoc("dvpart"), df.schema,
      _.identity("cat"), properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.repartition(2))
    deleteWherePos(t, col("id") < 2) // DV: one row in each partition
    Deletes.deleteByEquality(t, Seq(4L).toDF("id")) // eq delete, cat=a
    // a partition-filtered scan prunes to cat=a files, but the delete
    // files carry an EMPTY (global) partition tuple — they must survive
    // pruning or ids 0 and 4 resurrect
    val plan = t.newScan().filter(Exprs.equal("cat", "a")).planFiles()
    assert(plan.deleteFiles.size >= 2, "global delete files were pruned away")
    val got = t.newScan().filter(Exprs.equal("cat", "a")).toDF()
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (0L until 40L).filter(i => i % 2 == 0 && i != 0 && i != 4))
    // same through SQL pushdown (the DSv2 planFiles path)
    val wh = Files.createTempDirectory("graft-dvp").toString
    spark.conf.set("spark.sql.catalog.dvp", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvp.db")
    spark.sql("""CREATE TABLE dvp.db.t (id BIGINT, cat STRING, v STRING)
                 PARTITIONED BY (cat)
                 TBLPROPERTIES ('format-version'='3',
                                'write.delete.mode'='merge-on-read')""")
    spark.sql("""INSERT INTO dvp.db.t
                 SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END,
                        concat('v', id) FROM range(20)""")
    spark.sql("DELETE FROM dvp.db.t WHERE id IN (0, 2)")
    val sqlGot = spark.sql("SELECT id FROM dvp.db.t WHERE cat = 'a' ORDER BY id")
      .as[Long].collect().toSeq
    assert(sqlGot === (0L until 20L).filter(i => i % 2 == 0 && i != 0 && i != 2))
  }

  test("position_deletes metadata table lists parquet and DV positions") {
    val df = (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvmeta"), df.schema)
    GraftWrite.append(t, df.coalesce(1))
    deleteWherePos(t, col("id") === 2L) // v2: parquet delete
    Commits.setProperties(t, Map("format-version" -> "3"))
    deleteWherePos(t, col("id") === 7L) // v3: DV
    val rows = MetaTables(t, "position_deletes")
      .select("pos", "delete_file_path").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows.map(_._1) === Seq(2L, 7L))
    assert(rows(0)._2.endsWith(".parquet"))
    assert(rows(1)._2.endsWith(".puffin"))
    val dataFiles = MetaTables(t, "position_deletes")
      .select("file_path").distinct().collect().map(_.getString(0)).toSet
    val live = t.newScan().planFiles().files.map(f => ParquetIO.canonPath(f.path)).toSet
    assert(dataFiles.subsetOf(live))
    // all_delete_files: both delete generations (parquet + puffin DV),
    // every snapshot; all_files: data + deletes
    val kinds = MetaTables(t, "all_delete_files")
      .select("file_format").distinct().collect().map(_.getString(0)).toSet
    assert(kinds === Set(FileFormats.Parquet, FileFormats.Puffin))
    assert(MetaTables(t, "all_files").count() >=
      MetaTables(t, "all_delete_files").count() + 1)
    // SQL surface rides the distributed PosDeleteScanTable (one task per
    // delete file / DV blob), never a driver collect
    val wh = Files.createTempDirectory("graft-dvpd").toString
    spark.conf.set("spark.sql.catalog.dvpd", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvpd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvpd.db")
    spark.sql("""CREATE TABLE dvpd.db.pd (id BIGINT, v STRING)
                 TBLPROPERTIES ('format-version'='3',
                                'write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO dvpd.db.pd SELECT id, concat('v', id) FROM range(10)")
    spark.sql("DELETE FROM dvpd.db.pd WHERE id IN (3, 4)")
    val sqlRows = spark.sql(
      """SELECT file_path, pos, delete_file_path
         FROM dvpd.db.`pd$position_deletes`""").collect()
    assert(sqlRows.length === 2)
    assert(sqlRows.forall(_.getString(2).endsWith(".puffin")))
    val liveSql = GraftTable.load(spark, s"$wh/db/pd").newScan().planFiles()
      .files.map(f => ParquetIO.canonPath(f.path)).toSet
    assert(sqlRows.map(_.getString(0)).toSet.subsetOf(liveSql))
  }

  test("where-scoped compaction rewrites only matching files, keeps foreign deletes") {
    val df = (0L until 40L)
      .map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("id", "cat", "v")
    val t = GraftTable.create(spark, freshLoc("dvscope"), df.schema,
      _.identity("cat"), properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.filter(col("cat") === "a").repartition(2))
    GraftWrite.append(t, df.filter(col("cat") === "b").repartition(2))
    // delete one row in partition b — its DV targets an out-of-scope file
    deleteWherePos(t, col("id") === 1L)
    val before = t.newScan().planFiles()
    val bFiles = before.tasks.filter(_.file.partition("cat") == "b")
      .map(_.file.path).toSet
    // compact ONLY partition a
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 1,
      filter = Exprs.equal("cat", "a"))
    assert(res.rewrittenFiles >= 2 && res.addedFiles >= 1)
    val after = t.newScan().planFiles()
    // partition b files untouched, and the DV targeting them SURVIVES
    // (hygiene judged against the full live set, not the scoped plan)
    assert(after.tasks.filter(_.file.partition("cat") == "b")
      .map(_.file.path).toSet === bFiles)
    assert(after.deleteFiles.nonEmpty, "out-of-scope DV must not be dropped")
    val got = t.toDF().select("id").as[Long].collect().sorted.toSeq
    assert(got === (0L until 40L).filterNot(_ == 1L))
    // SQL spelling of the same scope
    val wh = Files.createTempDirectory("graft-dvsc").toString
    spark.conf.set("spark.sql.catalog.dvsc", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvsc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvsc.db")
    spark.sql("""CREATE TABLE dvsc.db.s (id BIGINT, cat STRING)
                 PARTITIONED BY (cat)""")
    spark.sql("""INSERT INTO dvsc.db.s
                 SELECT id, CASE WHEN id < 5 THEN 'x' ELSE 'y' END
                 FROM range(10)""")
    spark.sql("INSERT INTO dvsc.db.s VALUES (100, 'x'), (101, 'y')")
    val sres = spark.sql("""CALL dvsc.system.rewrite_data_files(
        table => 'db.s', min_input_files => 1, where => "cat = 'x'")""")
      .collect().head
    assert(sres.getInt(0) >= 2) // both x files rewritten, y untouched
    val st = GraftTable.load(spark, s"$wh/db/s")
    val counts = st.newScan().planFiles().tasks
      .groupBy(_.file.partition("cat")).view.mapValues(_.size).toMap
    assert(counts("x") === 1 && counts("y") === 2)
    intercept[IllegalArgumentException] {
      spark.sql("""CALL dvsc.system.rewrite_data_files(
          table => 'db.s', where => 'length(cat) > 0')""").collect()
    }
    // coerced literals parse too: `id < 200` on BIGINT analyzes as
    // id < cast(200), which must not be refused as unsupported
    val r2 = spark.sql("""CALL dvsc.system.rewrite_data_files(
        table => 'db.s', min_input_files => 1,
        where => 'id >= 0 AND id < 200 AND id IN (0,1,2,3,4,100,101)')""")
      .collect().head
    assert(r2.getInt(0) >= 1)
  }

  test("delete-file-threshold compaction rewrites delete-burdened files") {
    val df = (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvthresh"), df.schema,
      properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.coalesce(1)) // ONE size-compact file
    deleteWherePos(t, col("id") === 2L) // DV generation 1
    deleteWherePos(t, col("id") === 5L) // DV generation 2
    Deletes.deleteByEquality(t, Seq(9L).toDF("id")) // + an eq delete
    // size-based compaction skips a single file...
    assert(Actions.forTable(t).rewriteDataFiles() === Actions.RewriteResult(0, 0))
    // ...but three live delete files on it cross the threshold
    val res = Actions.forTable(t).rewriteDataFiles(deleteFileThreshold = 3)
    assert(res.rewrittenFiles === 1 && res.addedFiles === 1)
    val after = t.newScan().planFiles()
    assert(after.deleteFiles.isEmpty, "deletes must compact away")
    assert(idsOf(t) === (0L until 20L).filterNot(Set(2L, 5L, 9L)))
    // below-threshold pressure still skips
    deleteWherePos(t, col("id") === 0L)
    assert(Actions.forTable(t).rewriteDataFiles(deleteFileThreshold = 3)
      === Actions.RewriteResult(0, 0))
  }

  test("delete-file-threshold counts only the deletes that can apply to a file") {
    // three equality deletes scoped to partition cat=a, or keyed on ids
    // outside the cat=b file's range, must not push that file over the
    // threshold
    def check(name: String, deleteKey: Long => org.apache.spark.sql.DataFrame): Unit = {
      val rows = (0L until 10L).flatMap(i => Seq((i, "a"), (i + 100L, "b")))
      val t = GraftTable.create(spark, freshLoc(name),
        rows.toDF("id", "cat").schema, _.identity("cat"))
      GraftWrite.append(t, rows.toDF("id", "cat").coalesce(1))
      def fileOfB = t.newScan().planFiles().tasks
        .filter(_.file.partition == Map("cat" -> "b")).map(_.file.path)
      val b = fileOfB
      (1L to 3L).foreach(i => Deletes.deleteByEquality(t, deleteKey(i)))
      assert(Actions.forTable(t).rewriteDataFiles(deleteFileThreshold = 3)
        === Actions.RewriteResult(1, 1), name)
      assert(fileOfB === b, s"$name: the cat=b file carries no delete")
      assert(t.toDF().count() === 17L, name)
    }
    check("thresh-part", i => Seq((i, "a")).toDF("id", "cat"))
    check("thresh-range", i => Seq(i).toDF("id"))
  }

  test("delete-file-threshold rewrites the burdened file, not a clean file " +
      "binned with it") {
    // one file of ids 0-9 carrying three equality deletes, one clean file of
    // ids 100-109: too few files to merge by width, so only the burdened
    // file qualifies, and the clean one must stay as it is
    val t = GraftTable.create(spark, freshLoc("thresh-clean"),
      Seq(0L).toDF("id").schema)
    GraftWrite.append(t, (0L until 10L).toDF("id").coalesce(1))
    val burdened = t.newScan().planFiles().tasks.map(_.file.path).toSet
    GraftWrite.append(t, (100L until 110L).toDF("id").coalesce(1))
    val clean = t.newScan().planFiles().tasks.map(_.file.path).toSet -- burdened
    assert(burdened.size === 1 && clean.size === 1)
    (1L to 3L).foreach(i => Deletes.deleteByEquality(t, Seq(i).toDF("id")))
    assert(Actions.forTable(t).rewriteDataFiles(minInputFiles = 3,
      deleteFileThreshold = 3) === Actions.RewriteResult(1, 1))
    val after = t.newScan().planFiles().tasks.map(_.file.path).toSet
    assert(clean.subsetOf(after), "the clean file was rewritten")
    assert(burdened.intersect(after).isEmpty, "the burdened file was kept")
    assert(idsOf(t) === (0L until 10L).filterNot(Set(1L, 2L, 3L)) ++ (100L until 110L))
  }

  test("concurrent DV commits union without lost deletes") {
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvconc"), df.schema,
      properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.coalesce(1))
    val file = t.newScan().planFiles().tasks.head.file.path
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val tt = GraftTable.load(spark, t.location)
            // all eight commits target the SAME data file: every one must
            // survive the CAS retries and union at read time
            Deletes.deletePositions(tt,
              Seq((file, i.toLong * 3)).toDF("file_path", "pos"))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val t2 = GraftTable.load(spark, t.location)
    assert(t2.snapshots.size === 9) // append + 8 delete commits, none lost
    val masked = (0 until 8).map(_.toLong * 3).toSet
    assert(idsOf(t2) === (0L until 100L).filterNot(masked))
  }

  test("expiry physically deletes DV containers once no snapshot needs them") {
    val df = (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvexpire"), df.schema,
      properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.coalesce(1))
    deleteWherePos(t, col("id") === 3L)
    val puffin = t.newScan().planFiles().deleteFiles.map(_._1.path).distinct
    assert(puffin.size === 1)
    def exists(p: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(s"file://$p").getPath))
    assert(exists(puffin.head))
    // compaction materializes the DV away; expiry then reclaims the bytes
    Actions.forTable(t).rewriteDataFiles(minInputFiles = 1)
    assert(exists(puffin.head), "still referenced by historical snapshots")
    val res = Actions.forTable(t).expireSnapshots(System.currentTimeMillis() + 1000)
    assert(res.expiredSnapshots >= 2)
    assert(!exists(puffin.head), "expired DV container must be deleted")
    assert(idsOf(t) === (0L until 20L).filterNot(_ == 3L))
  }

  test("aborted delta writes clean up staged DV containers") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dvabort"), df.schema,
      properties = Map("format-version" -> "3"))
    val path = t.locations.newDataLocation("stage") + "/dv-abort.puffin"
    val dvFiles = Dvs.writePuffin(path, Seq(("/data/x.parquet", bm(1L, 2L))),
      0, 0, spark.sessionState.newHadoopConf())
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(s"file://$path").getPath)))
    val bw = new graft.connector.GraftDeltaBatchWrite(t)
    bw.abort(Array(
      graft.connector.GraftDeltaWriterFactory.DeltaTaskFiles(Nil, Nil, dvFiles)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(s"file://$path").getPath)))
  }

  test("v3 equality-delete conversion and data compaction work under DVs") {
    val df = (0L until 30L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, freshLoc("dveq"), df.schema,
      properties = Map("format-version" -> "3"))
    GraftWrite.append(t, df.repartition(2))
    Deletes.deleteByEquality(t, Seq(3L, 9L).toDF("id"))
    deleteWherePos(t, col("id") === 12L)
    val conv = Actions.forTable(t).rewriteEqualityDeletes()
    assert(conv.rewrittenFiles === 1)
    val dels = t.newScan().planFiles().deleteFiles.map(_._1)
    assert(dels.forall(_.content == FileContent.PositionDeletes))
    assert(dels.exists(_.fileFormat == FileFormats.Puffin))
    assert(idsOf(t) === (0L until 30L).filterNot(Set(3L, 9L, 12L)))
    // full compaction reads THROUGH the DVs and drops them as dangling
    Actions.forTable(t).rewriteDataFiles(minInputFiles = 1)
    val plan = t.newScan().planFiles()
    assert(plan.deleteFiles.isEmpty)
    assert(idsOf(t) === (0L until 30L).filterNot(Set(3L, 9L, 12L)))
  }
}
