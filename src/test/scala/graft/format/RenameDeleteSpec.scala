package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Key-column RENAME vs row-level deletes (reference resolves delete
  * columns by field id — core/.../deletes/Deletes.java:128 over the id
  * lookup of the schema the file was written with): equality-delete files
  * staged BEFORE a rename physically carry the OLD column names. Every
  * reader of those files must resolve the key columns via the file's
  * staged schemaId (Deletes.eqKeyFileNames), because Spark's parquet
  * source name-matches and silently NULL-FILLS absent requested columns —
  * which would turn the anti-join into "delete the null-keyed rows" and
  * resurrect every intended delete. */
class RenameDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  /** id 0..99; eq-delete ids {3,7} by the ORIGINAL column name; rename
    * id→ident; returns the reloaded table. */
  private def renamedTable(name: String): (GraftTable, String) = {
    val loc = freshLoc(name)
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.repartition(2))
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(3L, 7L).toDF("id"))
    SchemaUpdate(GraftTable.load(spark, loc))
      .renameColumn("id", "ident").commit()
    (GraftTable.load(spark, loc), loc)
  }

  test("library scan applies pre-rename equality deletes after key rename") {
    val (t, _) = renamedTable("ren-lib")
    val ids = t.newScan().toDF().select("ident").as[Long].collect().sorted
    assert(ids.length === 98)
    assert(!ids.contains(3L) && !ids.contains(7L))
    // rows NOT named by the deletes all survive — null-fill would have
    // dropped nothing here (no null keys), so also prove a MIXED scan:
    // a post-rename delete under the NEW name coexists with the old set
    Deletes.deleteByEquality(t, Seq(11L).toDF("ident"))
    val t2 = GraftTable.load(spark, t.location)
    val ids2 = t2.newScan().toDF().select("ident").as[Long].collect().sorted
    assert(ids2.length === 97)
    assert(!ids2.contains(11L) && !ids2.contains(3L) && !ids2.contains(7L))
  }

  test("drop + re-add a column: old values stay dead (fresh field id)") {
    // DROP COLUMN w then ADD COLUMN w must read NULL everywhere: the
    // re-added column gets a fresh field id, and files written while the
    // OLD w existed still physically carry a column named `w` under the
    // old id. Resolving the new id against those generations must null-
    // fill, never fall back to the same-NAME column (which would
    // resurrect the dropped data — round-20 workload-fuzz finding in the
    // DSv2 generation scan's id→file-name mapping).
    val wh = freshLoc("readd-wh")
    spark.conf.set("spark.sql.catalog.ra", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ra.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ra.db")
    spark.sql("CREATE TABLE ra.db.t (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql("ALTER TABLE ra.db.t ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO ra.db.t VALUES (1, 'a', 85L), (2, 'b', 94L)")
    spark.sql("ALTER TABLE ra.db.t DROP COLUMN w")
    spark.sql("INSERT INTO ra.db.t (id, cat) VALUES (3, 'c')")
    spark.sql("ALTER TABLE ra.db.t ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO ra.db.t VALUES (4, 'd', 7L)")
    val rows = spark.sql("SELECT id, w FROM ra.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
    assert(rows === Seq((1L, None), (2L, None), (3L, None), (4L, Some(7L))),
      s"got $rows")
    // filters on the re-added column must not rebind to the dead data
    assert(spark.sql("SELECT id FROM ra.db.t WHERE w = 85").collect().isEmpty)
    assert(spark.sql("SELECT count(*) FROM ra.db.t WHERE w IS NULL")
      .collect()(0).getLong(0) === 3L)
  }

  test("drop + re-add: compaction and streaming must not resurrect dead values") {
    // Compaction is worse than a wrong scan: the rewrite READS the old
    // generation under the current schema and MATERIALIZES what it reads,
    // so a name rebind makes the resurrection physical and permanent
    // (round-20 fuzz seed 112: drop w, re-add w, compact → w=62 reappears).
    // Streaming's per-generation read schema resolves the same way.
    val wh = freshLoc("readdc-wh")
    spark.conf.set("spark.sql.catalog.rc", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rc.db")
    spark.sql("CREATE TABLE rc.db.t (id BIGINT, cat STRING)")
    spark.sql("ALTER TABLE rc.db.t ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO rc.db.t VALUES (1, 'a', 85L)")
    spark.sql("INSERT INTO rc.db.t VALUES (2, 'b', 94L)")
    spark.sql("ALTER TABLE rc.db.t DROP COLUMN w")
    spark.sql("ALTER TABLE rc.db.t ADD COLUMN w BIGINT")
    val res = Actions.forTable(GraftTable.load(spark, s"$wh/db/t"))
      .rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles >= 2)
    val rows = spark.sql("SELECT id, w FROM rc.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toSeq
    assert(rows === Seq((1L, true), (2L, true)),
      s"compaction resurrected dropped-column values: $rows")
    // streaming initial load walks the pre-compaction generations too if
    // started from scratch — read the table as a stream and check w
    val ckpt = Files.createTempDirectory("graft-readd-ckpt").toString
    val q = spark.readStream.table("rc.db.t").writeStream
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("readd_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val srows = spark.sql("SELECT id, w FROM readd_mem ORDER BY id").collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).toSeq
    assert(srows === Seq((1L, true), (2L, true)),
      s"streaming read resurrected dropped-column values: $srows")
  }

  test("nested drop + re-add: old values stay dead at struct levels too") {
    // the nested twin (Types.fileSideType): a dropped-then-re-added struct
    // FIELD gets a fresh id; generations whose struct still carries the
    // same-named dead field must null-fill, not rebind by name
    val wh = freshLoc("readdn-wh")
    spark.conf.set("spark.sql.catalog.rn", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rn.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rn.db")
    spark.sql("""CREATE TABLE rn.db.t
                 (id BIGINT, who STRUCT<name: STRING, num: BIGINT>)""")
    spark.sql("INSERT INTO rn.db.t VALUES (1, named_struct('name', 'a', 'num', 85L))")
    spark.sql("ALTER TABLE rn.db.t DROP COLUMN who.num")
    spark.sql("ALTER TABLE rn.db.t ADD COLUMN who.num BIGINT")
    spark.sql("INSERT INTO rn.db.t VALUES (2, named_struct('name', 'b', 'num', 7L))")
    val rows = spark.sql("SELECT id, who.num FROM rn.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
    assert(rows === Seq((1L, None), (2L, Some(7L))),
      s"nested re-add read dead values: $rows")
    // and compaction must not materialize them either. The two files sit in
    // different schema generations (compaction groups by schemaId), so
    // minInputFiles=1 to force both through the rewrite reader.
    val res = Actions.forTable(GraftTable.load(spark, s"$wh/db/t"))
      .rewriteDataFiles(minInputFiles = 1)
    assert(res.rewrittenFiles >= 2)
    val rows2 = spark.sql("SELECT id, who.num FROM rn.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
    assert(rows2 === Seq((1L, None), (2L, Some(7L))),
      s"nested compaction resurrected dead values: $rows2")
  }

  test("DSv2 scan applies pre-rename equality deletes after key rename") {
    val wh = freshLoc("ren-wh")
    spark.conf.set("spark.sql.catalog.rd", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rd.db")
    val loc = s"$wh/db/t"
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.repartition(2))
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(3L, 7L).toDF("id"))
    SchemaUpdate(GraftTable.load(spark, loc))
      .renameColumn("id", "ident").commit()
    val ids = spark.sql("SELECT ident FROM rd.db.t ORDER BY ident")
      .as[Long].collect()
    assert(ids.length === 98)
    assert(!ids.contains(3L) && !ids.contains(7L))
  }

  test("compaction applies pre-rename equality deletes after key rename") {
    val (t, loc) = renamedTable("ren-compact")
    val r = Actions.forTable(t).rewriteDataFiles()
    assert(r.rewrittenFiles > 0)
    val t2 = GraftTable.load(spark, loc)
    // compacted files carry a newer sequence — the eq set no longer
    // attaches, so the rows must be PHYSICALLY gone
    assert(t2.newScan().planFiles().deleteFiles.isEmpty ||
      t2.newScan().toDF().count() === 98)
    val ids = t2.newScan().toDF().select("ident").as[Long].collect()
    assert(ids.length === 98)
    assert(!ids.contains(3L) && !ids.contains(7L))
  }

  test("rewrite_equality_deletes converts pre-rename sets after key rename") {
    val (t, loc) = renamedTable("ren-rewrite-eq")
    val r = Actions.forTable(t).rewriteEqualityDeletes()
    assert(r.rewrittenFiles > 0)
    val t2 = GraftTable.load(spark, loc)
    assert(t2.newScan().planFiles().deleteFiles
      .forall(_._1.content != FileContent.EqualityDeletes))
    val ids = t2.newScan().toDF().select("ident").as[Long].collect()
    assert(ids.length === 98)
    assert(!ids.contains(3L) && !ids.contains(7L))
  }

  test("eqKeyFileNames fails loudly when a key id resolves in no schema") {
    val (t, _) = renamedTable("ren-badid")
    val bogus = DataFile(path = "/nope/del.parquet",
      content = FileContent.EqualityDeletes, schemaId = 999,
      equalityIds = Seq(12345))
    val e = intercept[IllegalStateException] {
      Deletes.eqKeyFileNames(t.metadata.schemas, t.metadata.schema, bogus)
    }
    assert(e.getMessage.contains("12345"))
  }

  test("eq deletes survive key-column type promotion (int→long), all paths") {
    val wh = freshLoc("prom-wh")
    spark.conf.set("spark.sql.catalog.pr", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pr.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pr.db")
    val loc = s"$wh/db/t"
    val df = (0 until 100).map(i => (i, s"v$i")).toDF("id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.repartition(2))
    // staged while the key is INT — the delete file physically holds int32
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(3, 7).toDF("id"))
    // scan BEFORE the promotion so the executor-side DeleteKeyCache is
    // warm with Integer-typed key tuples — the post-promotion scan below
    // must NOT be served that stale set (the cache key carries the key
    // types; a paths-only key would probe Vector[Long] against cached
    // Vector[Integer] and silently resurrect both deletes)
    val pre = spark.sql("SELECT id FROM pr.db.t").count()
    assert(pre === 98)
    SchemaUpdate(GraftTable.load(spark, loc))
      .updateColumnType("id", LongType).commit()
    // library scan: loaded keys must still match the (now long) data side
    val t1 = GraftTable.load(spark, loc)
    val lib = t1.newScan().toDF().select("id").as[Long].collect().sorted
    assert(lib.length === 98 && !lib.contains(3L) && !lib.contains(7L))
    // DSv2 scan (executor-side DeleteKeyCache, canonicalValue probe)
    val dsv2 = spark.sql("SELECT id FROM pr.db.t ORDER BY id").as[Long].collect()
    assert(dsv2.length === 98 && !dsv2.contains(3L) && !dsv2.contains(7L))
    // a post-promotion delete (long keys) coexists with the int-staged set
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq(11L).toDF("id"))
    val both = GraftTable.load(spark, loc).newScan().toDF()
      .select("id").as[Long].collect()
    assert(both.length === 97 && !both.contains(11L) && !both.contains(3L))
    // compaction reads through the mixed-type delete sets too
    val r = Actions.forTable(GraftTable.load(spark, loc)).rewriteDataFiles()
    assert(r.rewrittenFiles > 0)
    val after = GraftTable.load(spark, loc).newScan().toDF()
      .select("id").as[Long].collect()
    assert(after.sorted.toSeq === both.sorted.toSeq)
  }

  test("eq deletes survive key-column type promotion (float→double)") {
    val loc = freshLoc("prom-fd")
    val df = (0 until 50).map(i => (i.toLong, i.toFloat)).toDF("id", "score")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.repartition(2))
    // staged while the key is FLOAT — the delete file physically holds f32
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(3.0f, 7.0f).toDF("score"))
    SchemaUpdate(GraftTable.load(spark, loc))
      .updateColumnType("score", DoubleType).commit()
    val ids = GraftTable.load(spark, loc).newScan().toDF()
      .select("id").as[Long].collect().sorted
    assert(ids.length === 48 && !ids.contains(3L) && !ids.contains(7L))
    // a post-promotion delete (double keys) coexists with the f32 set
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(11.0d).toDF("score"))
    val both = GraftTable.load(spark, loc).newScan().toDF()
      .select("id").as[Long].collect()
    assert(both.length === 47 && !both.contains(11L) && !both.contains(3L))
  }

  test("truncate-partitioned key survives int→long promotion: pruning + values") {
    val loc = freshLoc("prom-trunc")
    val df1 = (0 until 100).map(i => (i, s"a$i")).toDF("k", "v")
    val t0 = GraftTable.create(spark, loc, df1.schema, _.truncate("k", 10))
    GraftWrite.append(t0, df1.repartition(2))
    SchemaUpdate(GraftTable.load(spark, loc))
      .updateColumnType("k", LongType).commit()
    GraftWrite.append(GraftTable.load(spark, loc),
      (100L until 200L).map(i => (i, s"b$i")).toDF("k", "v").repartition(2))
    val t = GraftTable.load(spark, loc)
    // range filter crossing both generations: partition tuples staged as
    // 4-byte ints AND 8-byte longs must prune under ONE widened ordering
    val scan = t.newScan()
      .filter(Exprs.and(Exprs.gtEq("k", 42L), Exprs.lt("k", 158L)))
    val got = scan.toDF().select("k").as[Long].collect().sorted
    assert(got.toSeq === (42L until 158L))
    val all = t.newScan().planFiles().tasks.size
    val pruned = scan.planFiles().tasks.size
    assert(pruned < all, s"truncate pruning inert after promotion ($pruned/$all)")
  }

  test("DSv2 scan fails loudly when an eq-delete file lacks its key column") {
    val wh = freshLoc("ren-strict-wh")
    spark.conf.set("spark.sql.catalog.rs", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rs.db")
    val loc = s"$wh/db/t"
    val df = (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.coalesce(1))
    // a "delete" file carrying the WRONG column entirely — a reader that
    // silently null-fills would simply drop zero rows and report success
    val badDir = s"$loc/data/bad-del"
    Seq(5L).toDF("other").coalesce(1).write.parquet(badDir)
    val part = new java.io.File(badDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val t1 = GraftTable.load(spark, loc)
    val keyId = FieldIds.nameToId(t1.metadata.schema)("id")
    val desc = DataFile(path = part.getAbsolutePath,
      content = FileContent.EqualityDeletes,
      recordCount = 1L, fileSizeInBytes = part.length(),
      schemaId = t1.metadata.currentSchemaId, equalityIds = Seq(keyId))
    Commits.rowDelta(t1, Nil, Seq(desc))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM rs.db.t").count()
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("required column")),
      s"expected a required-column failure, got: $e")
  }

  test("library scan fails loudly when an eq-delete file lacks its key column") {
    // twin of the DSv2 test above through a library read: toDF() plans
    // the same DSv2 scan, whose DeleteKeyCache loads each delete file with
    // ParquetIO.readAll(requireAll) — a reader that null-filled the absent
    // key column would build an all-null key set, delete the null-keyed
    // rows and drop every intended delete, so the load must fail loudly
    val loc = freshLoc("lib-strict")
    val df = (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.coalesce(1))
    val badDir = s"$loc/data/bad-del"
    Seq(5L).toDF("other").coalesce(1).write.parquet(badDir)
    val part = new java.io.File(badDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val t1 = GraftTable.load(spark, loc)
    val keyId = FieldIds.nameToId(t1.metadata.schema)("id")
    val desc = DataFile(path = part.getAbsolutePath,
      content = FileContent.EqualityDeletes,
      recordCount = 1L, fileSizeInBytes = part.length(),
      schemaId = t1.metadata.currentSchemaId, equalityIds = Seq(keyId))
    Commits.rowDelta(t1, Nil, Seq(desc))
    val e = intercept[Exception] {
      GraftTable.load(spark, loc).newScan().toDF().count()
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: causes(x.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("required column")),
      s"expected a required-column failure, got: $e")
  }

  test("bounds decode at promoted width after a later schema drops the max-id column") {
    // schema 0: (a int id1, b string id2); schema 1 DROPS b (max id
    // regresses); schema 2 promotes a to long. A decode schema picked for
    // id coverage alone would be schema 0 and read post-promotion 8-byte
    // bounds for `a` at the 4-byte branch — the low 32 bits of 3e9 decode
    // as a NEGATIVE bound and stats pruning wrongly prunes the file
    val loc = freshLoc("prom-drop")
    val df = Seq((1, "x"), (2, "y")).toDF("a", "b")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.coalesce(1))
    SchemaUpdate(GraftTable.load(spark, loc)).deleteColumn("b").commit()
    SchemaUpdate(GraftTable.load(spark, loc))
      .updateColumnType("a", LongType).commit()
    GraftWrite.append(GraftTable.load(spark, loc),
      Seq(Tuple1(3000000000L)).toDF("a").coalesce(1))
    val t = GraftTable.load(spark, loc)
    assert(t.newScan().toDF().count() === 3)
    val hit = t.newScan().filter(Exprs.gtEq("a", 2500000000L)).toDF()
      .select("a").as[Long].collect()
    assert(hit.toSeq === Seq(3000000000L),
      "post-promotion bounds decoded at the narrow width — file pruned away")
  }

  test("equality deletes with NULL keys delete exactly the null-keyed rows") {
    // iceberg equality-delete semantics: a NULL in the delete key matches
    // NULL in the data (null-safe equality), unlike SQL `=`. The library
    // path anti-joins with <=>; the DSv2 row and columnar paths probe
    // canonicalValue tuples where null rides as null — pin all of them,
    // plus the survivors (a naive `=` join would delete nothing for the
    // null key, a null-fill bug would delete every null-keyed row even
    // without a delete naming them).
    val wh = freshLoc("nullkey-wh")
    spark.conf.set("spark.sql.catalog.nk", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.nk.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS nk.db")
    val loc = s"$wh/db/t"
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"),
      (None, "d"), (Some(5L), "e")).toDF("id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.repartition(2))
    // delete key set: NULL and 5 — must remove b, d, e; keep a, c
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq[Option[Long]](None, Some(5L)).toDF("id"))
    val t = GraftTable.load(spark, loc)
    val lib = t.newScan().toDF().select("v").as[String].collect().sorted
    assert(lib.toSeq === Seq("a", "c"),
      s"library scan null-key delete wrong: ${lib.toSeq}")
    val dsv2 = spark.sql("SELECT v FROM nk.db.t ORDER BY v")
      .as[String].collect()
    assert(dsv2.toSeq === Seq("a", "c"),
      s"DSv2 scan null-key delete wrong: ${dsv2.toSeq}")
  }

  test("double equality-delete key 0.0 deletes -0.0 rows on BOTH scan paths") {
    // Spark's =/<=> say -0.0 == 0.0, but the DSv2 key probe compares
    // BOXED values (java.lang.Double.equals says they differ) — without
    // -0.0 normalization in canonicalValue, the library anti-join deleted
    // the -0.0 row while the DSv2 scan resurrected it: the same table
    // answered differently per path. Both must agree with SQL semantics.
    val wh = freshLoc("negz-wh")
    spark.conf.set("spark.sql.catalog.nz", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.nz.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS nz.db")
    val loc = s"$wh/db/t"
    val df = Seq((1L, -0.0d), (2L, 1.5d), (3L, 0.0d)).toDF("id", "d")
    val t0 = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t0, df.repartition(2))
    Deletes.deleteByEquality(GraftTable.load(spark, loc), Seq(0.0d).toDF("d"))
    val t = GraftTable.load(spark, loc)
    val lib = t.newScan().toDF().select("id").as[Long].collect().sorted
    assert(lib.toSeq === Seq(2L),
      s"library path must delete both zero rows, kept: ${lib.toSeq}")
    val dsv2 = spark.sql("SELECT id FROM nz.db.t ORDER BY id").as[Long].collect()
    assert(dsv2.toSeq === Seq(2L),
      s"DSv2 path must agree with the library path, kept: ${dsv2.toSeq}")
  }

  test("readAll(requireAll) fails loudly on a delete file missing its columns") {
    val dir = Files.createTempDirectory("graft-reqcols")
    val p = s"$dir/other.parquet"
    Seq((1L, "x")).toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(p)
    val part = new java.io.File(p).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val conf = spark.sessionState.newHadoopConf()
    def load(cols: Seq[String]): Int = {
      var n = 0
      ParquetIO.readAll(part, StructType(cols.map(StructField(_, StringType))),
        conf, requireAll = true, what = "position-delete file")(_ => n += 1)
      n
    }
    val e = intercept[IllegalStateException](load(Seq("file_path", "pos")))
    assert(e.getMessage.contains("file_path"))
    // present columns pass, case-insensitively
    assert(load(Seq("B")) === 1)
  }
}
