package graft.connector

import graft.SparkSpec
import graft.format.{FieldIds, GraftTable}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Declared write sort order + range distribution: files must come out
  * internally sorted with tight, non-overlapping bounds. */
class WriteOrderSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-ordwh").toString
    spark.conf.set("spark.sql.catalog.go", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.go.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS go.db")
    d
  }

  test("fanout writer caps open files and spills to new files on overflow") {
    // every open parquet writer buffers a row group: a task fed
    // interleaved partitions must BOUND its open writers (close the
    // oldest, reopen on re-encounter) rather than hold one per distinct
    // tuple — unbounded fanout is an executor OOM at scale. Rows must
    // survive the churn exactly.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import graft.format.{FileFormats, ParquetIO, Transforms}
    val dir = Files.createTempDirectory("graft-fanoutcap").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", LongType)))
    val idSchema = FieldIds.assignFresh(schema)
    val fields = Seq(GraftBatchWrite.SpecField("p", 1, Transforms.IdentityT,
      LongType))
    val factory = new GraftWriterFactory(schema, idSchema, fields, dir,
      graft.format.HadoopFileIO.broadcastConf(spark, ParquetIO.writeConf(spark)),
      Map.empty, FileFormats.Parquet, Map("write.max-open-writers" -> "2"))
    val w = factory.createWriter(0, 0L)
    (0 until 40).foreach { i =>
      w.write(new GenericInternalRow(Array[Any](i.toLong, (i % 4).toLong)))
    }
    val files = w.commit().asInstanceOf[GraftBatchWrite.TaskFiles].files
    assert(files.map(_.metrics.recordCount).sum === 40L)
    assert(files.map(_.partition).toSet.size === 4, "every tuple present")
    assert(files.size > 4, "cap 2 with 4 interleaved tuples must spill")
    val back = spark.read.parquet(files.map(_.path): _*)
    assert(back.count() === 40L)
    assert(back.groupBy("p").count().collect().forall(_.getLong(1) == 10L),
      "no row lost or duplicated across the writer churn")
  }

  test("fanout writer: clustered input opens exactly one file per tuple") {
    // the hot path routes rows through a reused positional key with a
    // last-tuple fast path — partition-clustered input (what the library
    // write path guarantees via its task-local sort) must open exactly one
    // writer per tuple, even under a cap tighter than the tuple count
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import graft.format.{FileFormats, ParquetIO, Transforms}
    val dir = Files.createTempDirectory("graft-fanoutclustered").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", LongType)))
    val idSchema = FieldIds.assignFresh(schema)
    val fields = Seq(GraftBatchWrite.SpecField("p", 1, Transforms.IdentityT,
      LongType))
    val factory = new GraftWriterFactory(schema, idSchema, fields, dir,
      graft.format.HadoopFileIO.broadcastConf(spark, ParquetIO.writeConf(spark)),
      Map.empty, FileFormats.Parquet, Map("write.max-open-writers" -> "2"))
    val w = factory.createWriter(0, 0L)
    (0 until 40).foreach { i => // clustered: 10-row runs of p = 0,1,2,3
      w.write(new GenericInternalRow(Array[Any](i.toLong, (i / 10).toLong)))
    }
    val files = w.commit().asInstanceOf[GraftBatchWrite.TaskFiles].files
    assert(files.size === 4, s"clustered input must not churn writers: $files")
    assert(files.map(_.partition).toSet.size === 4)
    assert(files.map(_.metrics.recordCount).toSet === Set(10L))
  }

  test("fanout writer: binary partition tuples route by content, not reference") {
    // truncate[w] on BINARY yields Array[Byte] partition values; the
    // positional key must compare them by content or every row would open
    // (and churn) its own writer
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import graft.format.{FileFormats, ParquetIO, Transforms}
    val dir = Files.createTempDirectory("graft-fanoutbin").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("b", BinaryType)))
    val idSchema = FieldIds.assignFresh(schema)
    val fields = Seq(GraftBatchWrite.SpecField("b_trunc", 1,
      Transforms.TruncateT(2), BinaryType))
    val factory = new GraftWriterFactory(schema, idSchema, fields, dir,
      graft.format.HadoopFileIO.broadcastConf(spark, ParquetIO.writeConf(spark)),
      Map.empty, FileFormats.Parquet, Map.empty)
    val w = factory.createWriter(0, 0L)
    (0 until 20).foreach { i => // alternating tuples: each row's array is a
      // FRESH allocation, so reference equality would never hit
      val tag = (i % 2).toByte
      w.write(new GenericInternalRow(Array[Any](i.toLong,
        Array[Byte](tag, tag, i.toByte))))
    }
    val files = w.commit().asInstanceOf[GraftBatchWrite.TaskFiles].files
    assert(files.size === 2, s"content-equal binary tuples must share a writer: ${files.size}")
    assert(files.map(_.metrics.recordCount).toSet === Set(10L))
  }

  test("fanout routing agrees with Transform.apply across mixed types (property)") {
    // the writer's positional key (content hash/equality, UTF8String and
    // byte-array lanes, copy-on-store) must group rows EXACTLY as the
    // canonical Transform.apply kernel does — a merge of distinct tuples
    // or a split of equal ones here is the placement/pruning split-brain
    // class. Random rows over every routable type family, nulls included,
    // values drawn from small pools so tuples collide across rows.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.format.{FileFormats, ParquetIO, Transforms}
    val rnd = new scala.util.Random(2020)
    val dec = DecimalType(38, 30)
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("s", StringType),
      StructField("d", dec), StructField("b", BinaryType),
      StructField("i", IntegerType)))
    val idSchema = FieldIds.assignFresh(schema)
    val fields = Seq(
      GraftBatchWrite.SpecField("lb", 0, Transforms.BucketT(4), LongType),
      GraftBatchWrite.SpecField("si", 1, Transforms.IdentityT, StringType),
      GraftBatchWrite.SpecField("dt", 2, Transforms.TruncateT(7), dec),
      GraftBatchWrite.SpecField("bt", 3, Transforms.TruncateT(2), BinaryType),
      GraftBatchWrite.SpecField("ib", 4, Transforms.BucketT(3), IntegerType))
    val strPool = Array(null, "", "a", "héllo✓", "k=v/x")
    val decPool = Array[String](null, "0.000000000000000000000000000001",
      "1.000000000000000000123456789012", "-7.5")
    val binPool = Array(null, Array.empty[Byte], Array[Byte](1),
      Array[Byte](1, 2, 9), Array[Byte](1, 2, 3, 4))
    val rows = (0 until 400).map { _ =>
      val l: Any = if (rnd.nextInt(5) == 0) null else rnd.nextInt(6).toLong
      val s = strPool(rnd.nextInt(strPool.length))
      val ds = decPool(rnd.nextInt(decPool.length))
      val b = binPool(rnd.nextInt(binPool.length))
      val i: Any = if (rnd.nextInt(5) == 0) null else rnd.nextInt(5)
      (l, s, ds, b, i)
    }
    // oracle: route each row by Transform.apply over the canonical values
    def norm(m: Map[String, Any]): Map[String, Any] = m.map {
      case (k, v: Array[Byte]) => k -> v.toSeq
      case (k, v) => k -> v
    }
    val expected = rows.groupBy { case (l, s, ds, b, i) =>
      norm(Map(
        "lb" -> Transforms.BucketT(4).apply(l, LongType),
        "si" -> s,
        "dt" -> Transforms.TruncateT(7).apply(
          if (ds == null) null
          else new java.math.BigDecimal(ds).setScale(30), dec),
        "bt" -> Transforms.TruncateT(2).apply(b, BinaryType),
        "ib" -> Transforms.BucketT(3).apply(i, IntegerType)))
    }.view.mapValues(_.size.toLong).toMap
    val dir = Files.createTempDirectory("graft-fanoutprop").toString
    val factory = new GraftWriterFactory(schema, idSchema, fields, dir,
      graft.format.HadoopFileIO.broadcastConf(spark, ParquetIO.writeConf(spark)),
      Map.empty, FileFormats.Parquet, Map("write.max-open-writers" -> "3"))
    val w = factory.createWriter(0, 0L)
    rows.foreach { case (l, s, ds, b, i) =>
      w.write(new GenericInternalRow(Array[Any](
        l,
        if (s == null) null else UTF8String.fromString(s),
        if (ds == null) null
        else org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(ds).setScale(30)),
        b, i)))
    }
    val files = w.commit().asInstanceOf[GraftBatchWrite.TaskFiles].files
    val got = files.groupBy(f => norm(f.partition))
      .view.mapValues(_.map(_.metrics.recordCount).sum).toMap
    assert(got.keySet === expected.keySet,
      s"tuple sets diverge:\nonly-writer=${got.keySet -- expected.keySet}\nonly-oracle=${expected.keySet -- got.keySet}")
    expected.foreach { case (k, n) =>
      assert(got(k) === n, s"tuple $k: writer=${got(k)} oracle=$n")
    }
    assert(files.map(_.metrics.recordCount).sum === 400L)
  }

  test("fanout writer: void spec fields never touch the row") {
    // the eq-delete stager builds SpecFields from key columns only — a
    // void (tombstoned) partition field gets a placeholder ordinal whose
    // srcType may not describe the actual column; routing must emit null
    // without reading the row through that accessor
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import graft.format.{FileFormats, ParquetIO, Transforms}
    val dir = Files.createTempDirectory("graft-fanoutvoid").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    val idSchema = FieldIds.assignFresh(schema)
    // deliberately mismatched srcType: a StringType accessor on a LongType
    // column would read garbage (or crash) if the void branch touched it
    val fields = Seq(
      GraftBatchWrite.SpecField("dead", 0, Transforms.VoidT, StringType),
      GraftBatchWrite.SpecField("p", 0, Transforms.BucketT(2), LongType))
    val factory = new GraftWriterFactory(schema, idSchema, fields, dir,
      graft.format.HadoopFileIO.broadcastConf(spark, ParquetIO.writeConf(spark)),
      Map.empty, FileFormats.Parquet, Map.empty)
    val w = factory.createWriter(0, 0L)
    (0 until 10).foreach { i =>
      w.write(new GenericInternalRow(Array[Any](i.toLong)))
    }
    val files = w.commit().asInstanceOf[GraftBatchWrite.TaskFiles].files
    assert(files.map(_.metrics.recordCount).sum === 10L)
    assert(files.forall(_.partition("dead") == null), "void field must be null")
    assert(files.map(_.partition("p")).toSet === Set(0, 1))
  }

  test("write.sort-order sorts rows within every data file") {
    wh
    spark.sql("""CREATE TABLE go.db.sorted (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.sort-order'='id desc')""")
    // shuffled input: without the declared order these files arrive unsorted
    spark.sql("""INSERT INTO go.db.sorted
      SELECT id, concat('v', id) FROM range(1000) ORDER BY hash(id)""")
    val t = GraftTable.load(spark, s"$wh/db/sorted")
    val files = t.newScan().planFiles().tasks.map(_.file.path)
    assert(files.nonEmpty)
    files.foreach { p =>
      val ids = spark.read.parquet(p).select("id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sortBy(-_)), s"file not desc-sorted: $p")
    }
  }

  test("library writes honor the declared null order: 'id asc nulls-last'") {
    import graft.format.{GraftWrite, SortOrders}
    val dir = Files.createTempDirectory("graft-nullslast").toString
    // two input tasks, each holding nulls among its ids
    val src = spark.range(0, 40, 1, 2)
      .selectExpr("IF(id % 4 = 0, NULL, id) AS id", "concat('v', id) AS v")
    val t = GraftTable.create(spark, dir, src.schema,
      properties = Map(SortOrders.PropertyKey -> "id asc nulls-last"))
    GraftWrite.append(t, src)
    val files = t.newScan().planFiles().tasks.map(_.file.path)
    assert(files.nonEmpty)
    files.foreach { p =>
      val ids = spark.read.parquet(p).select("id").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      assert(ids.contains(None), s"no nulls in $p")
      val (vals, nulls) = ids.span(_.isDefined)
      assert(nulls.forall(_.isEmpty), s"a null sorts before a value in $p: $ids")
      assert(vals.flatten === vals.flatten.sorted, s"values unsorted in $p: $ids")
    }
  }

  test("library write honors write.distribution-mode=hash: one file per partition") {
    // the library append path (GraftWrite.writeFiles) matches the DSv2
    // INSERT path's hash distribution: each partition value shuffles to
    // exactly ONE task, so a partitioned append writes one file per
    // partition instead of tasks × touched-partitions — and the rows
    // round-trip exactly
    import graft.format.GraftWrite
    val dirNone = Files.createTempDirectory("graft-distnone").toString
    val dirHash = Files.createTempDirectory("graft-disthash").toString
    // 4 input tasks, each holding ALL 3 partition values (interleaved)
    val src = spark.range(0, 120, 1, 4)
      .selectExpr("id", "id % 3 AS p")
    val tNone = GraftTable.create(spark, dirNone, src.schema, _.identity("p"))
    GraftWrite.append(tNone, src)
    val tHash = GraftTable.create(spark, dirHash, src.schema, _.identity("p"),
      properties = Map(GraftWrite.DistributionModeKey -> "hash"))
    GraftWrite.append(tHash, src)
    val filesNone = GraftTable.load(spark, dirNone).newScan().planFiles().tasks.size
    val filesHash = GraftTable.load(spark, dirHash).newScan().planFiles().tasks.size
    assert(filesNone === 12, s"none layout: tasks(4) x partitions(3), got $filesNone")
    assert(filesHash === 3, s"hash layout: one file per partition, got $filesHash")
    val got = GraftTable.load(spark, dirHash).toDF()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (0L until 120L).map(i => (i, i % 3)))
  }

  test("range distribution yields non-overlapping file bounds") {
    wh
    spark.sql("""CREATE TABLE go.db.ranged (id BIGINT, v STRING)
                 TBLPROPERTIES ('write.distribution-mode'='range',
                                'write.sort-order'='id')""")
    // AQE would coalesce this tiny shuffle to one partition; hold it open
    // so the range layout is observable at spec scale
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try spark.sql("""INSERT INTO go.db.ranged
      SELECT id, concat('v', id) FROM range(1000) ORDER BY hash(id)""")
    finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
    val t = GraftTable.load(spark, s"$wh/db/ranged")
    val idField = FieldIds.nameToId(t.metadata.schema)("id")
    val bounds = t.newScan().planFiles().tasks.map(_.file)
      .map(f => (f.lowerBounds(idField).asInstanceOf[Long],
        f.upperBounds(idField).asInstanceOf[Long]))
      .sortBy(_._1)
    assert(bounds.size > 1, "range shuffle should produce multiple files")
    bounds.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: $bounds")
      case _ =>
    }
    assert(spark.sql("SELECT count(*) FROM go.db.ranged").collect()(0).getLong(0) == 1000)
  }

  test("rewrite_data_files sort_by => 'declared' compacts into the declared order") {
    wh
    spark.sql("""CREATE TABLE go.db.resort (id BIGINT)
                 TBLPROPERTIES ('write.sort-order'='id desc')""")
    // bypass the sorted write path so the files start unsorted
    val t = GraftTable.load(spark, s"$wh/db/resort")
    import spark.implicits._
    graft.format.GraftWrite.append(t,
      spark.range(100).select((rand(7) * 1000).cast("long").as("id")).coalesce(1))
    spark.sql("""CALL go.system.rewrite_data_files(table => 'db.resort',
                   sort_by => 'declared')""")
    val t2 = GraftTable.load(spark, s"$wh/db/resort")
    t2.newScan().planFiles().tasks.map(_.file.path).foreach { p =>
      val ids = spark.read.parquet(p).select("id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sortBy(-_)), s"compacted file not desc-sorted: $p")
    }
    assert(spark.sql("SELECT count(*) FROM go.db.resort").collect()(0).getLong(0) == 100)
  }

  test("rewrite_data_files sort_by keeps the null order, declared or explicit") {
    wh
    spark.sql("""CREATE TABLE go.db.resortnulls (id BIGINT)
                 TBLPROPERTIES ('write.sort-order'='id asc nulls-last')""")
    val t = GraftTable.load(spark, s"$wh/db/resortnulls")
    graft.format.GraftWrite.append(t, spark.range(0, 40, 1, 1)
      .selectExpr("IF(id % 4 = 0, NULL, (id * 7) % 40) AS id"))
    def nullsLast(spec: String, last: Boolean): Unit = {
      spark.sql(s"""CALL go.system.rewrite_data_files(table => 'db.resortnulls',
                     sort_by => '$spec')""")
      GraftTable.load(spark, s"$wh/db/resortnulls").newScan().planFiles().tasks
        .map(_.file.path).foreach { p =>
          val nulls = spark.read.parquet(p).select("id").collect().map(_.isNullAt(0)).toSeq
          assert(nulls.contains(true) && nulls.contains(false), s"$spec: $p")
          val want = if (last) nulls.sortBy(n => n) else nulls.sortBy(n => !n)
          assert(nulls === want, s"$spec: nulls misplaced in $p")
        }
    }
    nullsLast("declared", last = true)
    nullsLast("id asc nulls-first", last = false)
    nullsLast("id desc nulls-last", last = true)
    assert(spark.sql("SELECT count(*) FROM go.db.resortnulls").collect()(0).getLong(0) == 40)
  }

  test("compaction's arranged order beats a conflicting declared sort order") {
    // clusterByPartition=false means the CALLER owns the row order: a
    // declared write.sort-order must not re-sort (and re-scramble) the
    // arrangement a sorted/z-order rewrite built — here the declared
    // order (id desc) directly conflicts with the rewrite's (id asc), so
    // any write-side sort leak is observable as desc files
    wh
    spark.sql("""CREATE TABLE go.db.arrwins (id BIGINT)
                 TBLPROPERTIES ('write.sort-order'='id desc')""")
    val t = GraftTable.load(spark, s"$wh/db/arrwins")
    import spark.implicits._
    graft.format.GraftWrite.append(t,
      spark.range(200).select((rand(11) * 1000).cast("long").as("id")).coalesce(1))
    val res = graft.format.Actions.forTable(GraftTable.load(spark, s"$wh/db/arrwins"))
      .rewriteSorted(graft.format.SortOrders.parse("id asc")) // explicit ASC, against the declared DESC
    assert(res.addedFiles > 0)
    val t2 = GraftTable.load(spark, s"$wh/db/arrwins")
    t2.newScan().planFiles().tasks.map(_.file.path).foreach { p =>
      val ids = spark.read.parquet(p).select("id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted),
        s"declared desc order re-scrambled the rewrite's asc arrangement: $p")
    }
    assert(spark.sql("SELECT count(*) FROM go.db.arrwins").collect()(0).getLong(0) == 200)
  }

  test("an unknown sort column fails the write, not the read") {
    wh
    spark.sql("""CREATE TABLE go.db.badsort (id BIGINT)
                 TBLPROPERTIES ('write.sort-order'='nope')""")
    intercept[Exception](spark.sql("INSERT INTO go.db.badsort VALUES (1)"))
    assert(spark.sql("SELECT * FROM go.db.badsort").count() == 0)
  }
}
