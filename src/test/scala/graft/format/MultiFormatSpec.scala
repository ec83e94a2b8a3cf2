package graft.format

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC + Avro data-file sources (reference orc/.../ORC.java,
  * core/.../avro/Avro.java + ProjectionDatumReader). IO-level roundtrips
  * here; table-level coverage in the table/scan tests below. */
class MultiFormatSpec extends SparkSpec {

  private def tmp(ext: String): String =
    java.nio.file.Files.createTempDirectory("mf").toString + "/f." + ext

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("price", DecimalType(12, 2)),
    StructField("day", DateType),
    StructField("ts", TimestampType),
    StructField("tags", ArrayType(StringType)),
    StructField("vec", ArrayType(FloatType, containsNull = false)),
    StructField("flag", BooleanType)))

  private def row(id: Long, name: String, price: String, day: Int,
      ts: Long, tags: Seq[String], vec: Seq[Float], flag: Boolean): InternalRow = {
    val r = new GenericInternalRow(8)
    r.update(0, id)
    r.update(1, if (name == null) null else UTF8String.fromString(name))
    r.update(2, if (price == null) null
      else org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(price), 12, 2))
    r.update(3, day)
    r.update(4, ts)
    r.update(5, if (tags == null) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tags.map(t => if (t == null) null else UTF8String.fromString(t)).toArray[Any]))
    r.update(6, new org.apache.spark.sql.catalyst.util.GenericArrayData(
      vec.map(x => x: Any).toArray))
    r.update(7, flag)
    r
  }

  private val rows = Seq(
    row(1L, "alpha", "10.50", 19000, 1700000000000000L, Seq("a", "b"), Seq(1f, 2f), flag = true),
    row(2L, null, "3.25", 19001, 1700000001000000L, Seq("c", null), Seq(0.5f), flag = false),
    row(3L, "gamma", null, 19002, 1700000002000000L, null, Seq(-1f, 4f), flag = true))

  private def conf = spark.sessionState.newHadoopConf()

  test("orc io roundtrip with projection and rename-safe subset read") {
    val path = tmp("orc")
    val w = OrcIO.openWriter(path, schema, conf)
    try rows.foreach(w.write) finally w.close()

    // full roundtrip
    val got = collection.mutable.ArrayBuffer[Seq[Any]]()
    OrcIO.readAll(path, schema, conf) { r =>
      got += Seq(r.getLong(0),
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getDecimal(2, 12, 2).toJavaBigDecimal.toPlainString,
        r.getInt(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getArray(5).numElements(),
        r.getArray(6).toFloatArray().toSeq, r.getBoolean(7))
    }
    assert(got.size === 3)
    assert(got(0) === Seq(1L, "alpha", "10.50", 19000, 1700000000000000L, 2, Seq(1f, 2f), true))
    assert(got(1)(1) === null)
    assert(got(2)(2) === null)

    // projected subset, reordered
    val proj = StructType(Seq(schema("name"), schema("id")))
    val names = collection.mutable.ArrayBuffer[(Any, Long)]()
    OrcIO.readAll(path, proj, conf) { r =>
      names += ((if (r.isNullAt(0)) null else r.getUTF8String(0).toString, r.getLong(1)))
    }
    assert(names.toSeq === Seq(("alpha", 1L), (null, 2L), ("gamma", 3L)))

    // column absent from the file reads as null (schema evolution add)
    val withNew = StructType(Seq(schema("id"), StructField("added", StringType)))
    var sawNull = false
    OrcIO.readAll(path, withNew, conf)(r => sawNull |= r.isNullAt(1))
    assert(sawNull)
  }

  test("orc footer metrics carry bounds and null counts") {
    val path = tmp("orc")
    val ids = FieldIds.assignFresh(schema)
    val w = OrcIO.openWriter(path, schema, conf)
    try rows.foreach(w.write) finally w.close()
    val fm = OrcIO.footerMetrics(path, ids, conf)
    assert(fm.recordCount === 3)
    val idOf = FieldIds.nameToId(ids)
    assert(fm.lowerBounds(idOf("id")) === 1L)
    assert(fm.upperBounds(idOf("id")) === 3L)
    assert(fm.nullValueCounts(idOf("name")) === 1L)
    assert(fm.lowerBounds(idOf("name")) === "alpha")
    assert(fm.lowerBounds(idOf("day")) === 19000)
    assert(fm.upperBounds(idOf("day")) === 19002)
    assert(fm.lowerBounds(idOf("ts")) === 1700000000000000L)
    assert(fm.upperBounds(idOf("ts")) === 1700000002000000L)
    assert(fm.lowerBounds(idOf("price")) === new java.math.BigDecimal("3.25"))
    assert(fm.upperBounds(idOf("price")) === new java.math.BigDecimal("10.50"))
    assert(fm.splitOffsets.nonEmpty)
  }

  test("avro io roundtrip with projection, promotion, and added column") {
    val path = tmp("avro")
    val w = AvroIO.openWriter(path, schema, conf)
    try rows.foreach(w.write) finally w.close()
    assert(w.count === 3)

    val got = collection.mutable.ArrayBuffer[Seq[Any]]()
    AvroIO.readAll(path, schema, conf) { r =>
      got += Seq(r.getLong(0),
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getDecimal(2, 12, 2).toJavaBigDecimal.toPlainString,
        r.getInt(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getArray(5).numElements(),
        r.getArray(6).toFloatArray().toSeq, r.getBoolean(7))
    }
    assert(got.size === 3)
    assert(got(0) === Seq(1L, "alpha", "10.50", 19000, 1700000000000000L, 2, Seq(1f, 2f), true))
    assert(got(1)(1) === null)
    assert(got(2)(5) === null)

    // projection skips unread fields; order comes from the reader schema
    val proj = StructType(Seq(schema("name"), schema("id")))
    val names = collection.mutable.ArrayBuffer[(Any, Long)]()
    AvroIO.readAll(path, proj, conf) { r =>
      names += ((if (r.isNullAt(0)) null else r.getUTF8String(0).toString, r.getLong(1)))
    }
    assert(names.toSeq === Seq(("alpha", 1L), (null, 2L), ("gamma", 3L)))

    // nullable column absent from the writer schema reads as its null default
    val withNew = StructType(Seq(schema("id"), StructField("added", StringType)))
    var sawNull = false
    AvroIO.readAll(path, withNew, conf)(r => sawNull |= r.isNullAt(1))
    assert(sawNull)
  }

  test("avro handles short/byte columns and sanitizes non-avro column names") {
    val path = tmp("avro")
    val odd = StructType(Seq(
      StructField("my-col", ShortType, nullable = false),
      StructField("2col", ByteType, nullable = false),
      StructField("col.x", StringType)))
    val w = AvroIO.openWriter(path, odd, conf)
    try (0 until 3).foreach { i =>
      val r = new GenericInternalRow(3)
      r.update(0, (i + 100).toShort)
      r.update(1, i.toByte)
      r.update(2, UTF8String.fromString(s"v$i"))
      w.write(r)
    } finally w.close()
    val got = collection.mutable.ArrayBuffer[(Short, Byte, String)]()
    AvroIO.readAll(path, odd, conf) { r =>
      got += ((r.getShort(0), r.getByte(1), r.getUTF8String(2).toString))
    }
    assert(got.toSeq === Seq((100.toShort, 0.toByte, "v0"),
      (101.toShort, 1.toByte, "v1"), (102.toShort, 2.toByte, "v2")))
    // sanitization keeps distinct common names distinct
    assert(AvroIO.sanitize("my-col") !== AvroIO.sanitize("my_col"))
    assert(AvroIO.sanitize("ok_name") === "ok_name")
    // …but is NOT injective in general: colliding names fail fast with
    // both columns named, instead of mis-resolving by sanitized name
    val colliding = StructType(Seq(
      StructField("a%", StringType), StructField("a_x25", StringType)))
    val e = intercept[IllegalArgumentException](AvroIO.avroSchema(colliding))
    assert(e.getMessage.contains("a%") && e.getMessage.contains("a_x25"))
  }

  // ---- table-level coverage ----
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name")
    java.nio.file.Files.delete(d)
    d.toString
  }

  private def sample(n: Int, dayOffset: Int = 0) =
    (0 until n).map(i => (i.toLong + dayOffset * 1000L, s"data-$i",
      java.sql.Timestamp.valueOf(s"2024-01-${dayOffset + 1} 10:0${i % 6}:00")))
      .toDF("id", "data", "ts")

  test("orc table: append + scan + stats pruning (library path)") {
    val loc = freshLoc("orct")
    val t = GraftTable.create(spark, loc, sample(4).schema,
      properties = Map("write.format.default" -> "orc"))
    GraftWrite.append(t, sample(4, 0))
    GraftWrite.append(t, sample(4, 1))
    val files = t.newScan().planFiles().files
    assert(files.nonEmpty && files.forall(_.fileFormat == FileFormats.Orc))
    assert(files.forall(_.path.endsWith(".orc")))
    assert(t.toDF().count() === 8)
    assert(t.toDF().select("data").as[String].collect().sorted.head === "data-0")
    // ORC footer stats drive file pruning exactly like parquet
    val all = t.newScan().planFiles().tasks.size
    val pruned = t.newScan().filter(Exprs.gt("id", 900L)).planFiles()
    assert(pruned.tasks.size < all, s"orc stats pruning failed: $pruned")
    assert(t.newScan().filter(Exprs.gt("id", 900L)).toDF().count() === 4)
  }

  test("avro table: append + scan; no stats means no file elimination") {
    val loc = freshLoc("avrot")
    val t = GraftTable.create(spark, loc, sample(4).schema,
      properties = Map("write.format.default" -> "avro"))
    GraftWrite.append(t, sample(4, 0))
    GraftWrite.append(t, sample(4, 1))
    val files = t.newScan().planFiles().files
    assert(files.nonEmpty && files.forall(_.fileFormat == FileFormats.Avro))
    assert(files.forall(_.path.endsWith(".avro")))
    assert(files.forall(_.recordCount > 0))
    assert(t.toDF().count() === 8)
    // residual filtering still correct without stats
    assert(t.newScan().filter(Exprs.gt("id", 900L)).toDF().count() === 4)
    assert(t.toDF().select("data").as[String].collect().sorted.head === "data-0")
  }

  test("avro byte-range splits cover every row exactly once") {
    // the Avro group's splits are Spark's own: a small maxPartitionBytes
    // cuts one multi-block container file into byte ranges, each reader
    // syncs to the first block after its range start, and the final split
    // reads to end of file
    val loc = freshLoc("avrosplit")
    val df = (0 until 5000).map(i => (i.toLong, s"row-$i-" + (i * 7919L).toString * 8))
      .toDF("id", "pad")
    val t = GraftTable.create(spark, loc, df.schema,
      properties = Map("write.format.default" -> "avro"))
    GraftWrite.append(t, df.coalesce(1))
    val file = t.newScan().planFiles().files match {
      case Seq(f) => f
      case other => fail(s"expected one avro file, got ${other.size}")
    }
    val size = file.fileSizeInBytes
    // a private session: the split size must not leak into other suites
    val iso = spark.newSession()
    iso.conf.set("spark.sql.files.maxPartitionBytes", (size / 7).toString)
    val scan = new graft.connector.GraftScanBuilder(iso, t, t.newScan(),
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    val avro = scan match {
      case g: graft.connector.GraftScan => g.groups match {
        case Seq(a: graft.connector.GraftAvroScan) => a
        case other => fail(s"expected one GraftAvroScan group, got $other")
      }
      case other => fail(s"expected a GraftScan, got $other")
    }
    val splits = avro.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files.toSeq
      case other => fail(s"expected FilePartitions, got ${other.getClass}")
    }.sortBy(_.start)
    assert(splits.size > 1, s"expected multiple splits for $size bytes")
    assert(splits.head.start === 0L)
    splits.sliding(2).foreach { case Seq(a, b) =>
      assert(a.start + a.length === b.start, s"splits must tile the file: $a, $b")
    }
    assert(splits.last.start > 0L && splits.last.start + splits.last.length === size,
      s"the final split must end at the end of the file: ${splits.last}")
    val factory = avro.createReaderFactory()
    def read(pf: org.apache.spark.sql.execution.datasources.PartitionedFile): Seq[Long] = {
      val r = factory.createReader(
        org.apache.spark.sql.execution.datasources.FilePartition(0, Array(pf)))
      val ids = collection.mutable.ArrayBuffer[Long]()
      try while (r.next()) ids += r.get().getLong(0)
      finally r.close()
      ids.toSeq
    }
    val ids = splits.flatMap(read)
    assert(ids.size === 5000, s"rows lost or duplicated across splits: ${ids.size}")
    assert(ids.sorted === (0L until 5000L))
    // a split that reaches the recorded file size reads to end of file,
    // even when the recorded size falls short of the bytes on disk
    val last = splits.last
    val short = last.copy(length = last.length / 2,
      fileSize = last.start + last.length / 2)
    assert(read(short) === read(last))
  }

  test("avro library scan plants a pruned DSv2 batch scan") {
    // library reads plan through the DSv2 GraftScan: its one group is an
    // InternalRow-direct GraftAvroScan (no external-Row RDD), with the read
    // schema pruned to consumed columns so Avro's resolving decoder skips
    // the rest without decoding
    val loc = freshLoc("avroplan")
    val t = GraftTable.create(spark, loc, sample(3).schema,
      properties = Map("write.format.default" -> "avro"))
    GraftWrite.append(t, sample(3))
    val df = t.newScan().select("data").toDF()
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size === 1, s"expected one batch scan:\n${df.queryExecution.sparkPlan}")
    val groups = scans.head.scan match {
      case g: graft.connector.GraftScan => g.groups
      case other => fail(s"expected a GraftScan, got $other")
    }
    groups match {
      case Seq(avro: graft.connector.GraftAvroScan) =>
        assert(avro.readSchema().fieldNames.toSeq === Seq("data"),
          "projection must prune the avro decode to the consumed column")
      case other => fail(s"expected one GraftAvroScan group, got $other")
    }
    assert(df.as[String].collect().sorted.toSeq === Seq("data-0", "data-1", "data-2"))
  }

  test("partitioned orc and avro tables route rows to partition files") {
    for (fmt <- Seq("orc", "avro")) {
      val loc = freshLoc(s"part-$fmt")
      val t = GraftTable.create(spark, loc, sample(4).schema, _.day("ts"),
        properties = Map("write.format.default" -> fmt))
      GraftWrite.append(t, sample(4, 0).union(sample(4, 1)).union(sample(4, 2)))
      val all = t.newScan().planFiles()
      assert(all.tasks.nonEmpty)
      assert(all.files.forall(_.partition.nonEmpty), s"$fmt partition tuples missing")
      // partition pruning works off the tuple (no column stats needed)
      val plan = t.newScan()
        .filter(Exprs.equal("ts", "2024-01-02 10:00:00")).planFiles()
      assert(plan.tasks.size < all.tasks.size, s"$fmt partition pruning failed")
      assert(t.newScan().filter(Exprs.equal("ts", "2024-01-02 10:00:00"))
        .toDF().count() === 1)
    }
  }

  test("equality deletes apply on orc and avro tables") {
    for (fmt <- Seq("orc", "avro")) {
      val loc = freshLoc(s"eqdel-$fmt")
      val t = GraftTable.create(spark, loc, sample(5).schema,
        properties = Map("write.format.default" -> fmt))
      GraftWrite.append(t, sample(5))
      Deletes.deleteByEquality(t, Seq(1L, 3L).toDF("id"))
      assert(t.toDF().select("id").as[Long].collect().sorted.toSeq
        === Seq(0L, 2L, 4L), s"$fmt equality delete failed")
    }
  }

  test("position deletes apply on orc tables (row-path position counter)") {
    val loc = freshLoc("posdel-orc")
    val t = GraftTable.create(spark, loc, sample(5).schema,
      properties = Map("write.format.default" -> "orc"))
    GraftWrite.append(t, sample(5).coalesce(1))
    val target = t.newScan().planFiles().files.head.path
    Deletes.deletePositions(t, Seq((target, 0L), (target, 3L)).toDF("file_path", "pos"))
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 4L))
    // untargeted rows in a second (parquet) generation are untouched, and
    // the mixed scan still applies the ORC group's positions
    Commits.setProperties(t, Map("write.format.default" -> "parquet"))
    GraftWrite.append(t, sample(5, 1).coalesce(1))
    assert(t.toDF().count() === 8)
  }

  test("position deletes apply on avro tables (unsplit row-path counter)") {
    val loc = freshLoc("posdel-avro")
    val t = GraftTable.create(spark, loc, sample(5).schema,
      properties = Map("write.format.default" -> "avro"))
    GraftWrite.append(t, sample(5).coalesce(1))
    val target = t.newScan().planFiles().files.head.path
    Deletes.deletePositions(t, Seq((target, 0L), (target, 3L)).toDF("file_path", "pos"))
    assert(t.toDF().select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 4L))
    // an untargeted avro file in a later commit keeps its byte-range splits
    // and is untouched by the delete
    GraftWrite.append(t, sample(5, 1).coalesce(1))
    assert(t.toDF().count() === 8)
  }

  test("mixed-format table: parquet + orc + avro files scan as one table") {
    val loc = freshLoc("mixed")
    val t = GraftTable.create(spark, loc, sample(3).schema)
    GraftWrite.append(t, sample(3, 0)) // parquet
    Commits.setProperties(t, Map("write.format.default" -> "orc"))
    GraftWrite.append(t, sample(3, 1)) // orc
    Commits.setProperties(t, Map("write.format.default" -> "avro"))
    GraftWrite.append(t, sample(3, 2)) // avro
    val fmts = t.newScan().planFiles().files.map(_.fileFormat).distinct.sorted
    assert(fmts === Seq("avro", "orc", "parquet"))
    assert(t.toDF().count() === 9)
    assert(t.toDF().select("id").as[Long].collect().sorted.take(3).toSeq
      === Seq(0L, 1L, 2L))
    // compaction migrates everything to the current default format (avro)
    val res = Actions.forTable(t).rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles >= 3)
    val after = t.newScan().planFiles().files
    assert(after.forall(_.fileFormat == FileFormats.Avro),
      s"expected avro after compaction: ${after.map(_.fileFormat)}")
    assert(t.toDF().count() === 9)
  }

  test("metadata-only rename reads across orc and avro generations by field id") {
    for (fmt <- Seq("orc", "avro")) {
      val loc = freshLoc(s"rename-$fmt")
      val t = GraftTable.create(spark, loc, sample(3).schema,
        properties = Map("write.format.default" -> fmt))
      GraftWrite.append(t, sample(3, 0))
      SchemaUpdate(t).renameColumn("data", "payload").commit()
      GraftWrite.append(t,
        sample(3, 1).withColumnRenamed("data", "payload"))
      val df = t.toDF()
      assert(df.columns.contains("payload") && !df.columns.contains("data"))
      assert(df.count() === 6)
      assert(df.select("payload").as[String].collect()
        .count(_.startsWith("data-")) === 6, s"$fmt rename misread")
    }
  }

  test("orc import: hive-partitioned layout referenced in place with pruning") {
    val loc = freshLoc("orcimp")
    val src = loc + "-src"
    import org.apache.spark.sql.functions.{col => c}
    sample(4, 0).union(sample(4, 1))
      .withColumn("bucket", (c("id") % 2).cast("string"))
      .write.partitionBy("bucket").orc(src)
    val t = GraftWrite.importOrc(spark, loc, src)
    val files = t.newScan().planFiles().files
    assert(files.nonEmpty && files.forall(_.fileFormat == FileFormats.Orc))
    assert(files.forall(_.path.startsWith(src)), "files must be referenced in place")
    assert(t.toDF().count() === 8)
    // the partition column is served from directory tuples
    assert(t.toDF().select("bucket").distinct().count() === 2)
    val all = t.newScan().planFiles().tasks.size
    // directory values re-infer as ints (Spark partition inference)
    val pruned = t.newScan().filter(Exprs.equal("bucket", 1)).planFiles()
    assert(pruned.tasks.size < all, "imported orc partition pruning failed")
    // ORC footer stats recorded at import prune on data columns too
    val statsPruned = t.newScan().filter(Exprs.gt("id", 900L)).planFiles()
    assert(statsPruned.tasks.size < all, "imported orc stats pruning failed")
  }

  test("avro import: header-schema discovery + hive partition dirs") {
    val loc = freshLoc("avroimp")
    val src = loc + "-src"
    val dataSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    def writeFile(sub: String, ids: Seq[Long]): Unit = {
      val dir = java.nio.file.Paths.get(src, sub)
      java.nio.file.Files.createDirectories(dir)
      val w = AvroIO.openWriter(s"$dir/part-0.avro", dataSchema, conf)
      try ids.foreach { i =>
        val r = new GenericInternalRow(2)
        r.update(0, i); r.update(1, UTF8String.fromString(s"v$i"))
        w.write(r)
      } finally w.close()
    }
    writeFile("cat=a", Seq(1L, 2L))
    writeFile("cat=b", Seq(3L))
    val t = GraftWrite.importAvro(spark, loc, src)
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "cat"))
    assert(t.newScan().planFiles().files.forall(_.fileFormat == FileFormats.Avro))
    val rows = t.toDF().orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(2)).toSeq === Seq("a", "a", "b"))
    // partition pruning on the imported identity tuple
    val all = t.newScan().planFiles().tasks.size
    val pruned = t.newScan().filter(Exprs.equal("cat", "b")).planFiles()
    assert(pruned.tasks.size < all)
  }

  test("avro import rejects heterogeneous writer schemas at import time") {
    val loc = freshLoc("avroimp-div")
    val src = loc + "-src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def writeFile(name: String, schema: StructType): Unit = {
      val w = AvroIO.openWriter(s"$src/$name", schema, conf)
      try {
        val r = new GenericInternalRow(schema.length)
        schema.indices.foreach(i => r.update(i, 1L))
        w.write(r)
      } finally w.close()
    }
    val a = StructType(Seq(StructField("id", LongType, nullable = false)))
    val b = StructType(Seq(StructField("other", LongType, nullable = false)))
    writeFile("part-0.avro", a)
    writeFile("part-1.avro", b)
    val e = intercept[IllegalArgumentException](
      GraftWrite.importAvro(spark, loc, src))
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("write.<fmt>.compression-codec reaches the written files") {
    def fileOf(t: GraftTable): String = t.newScan().planFiles().files.head.path
    // parquet: gzip lands in the column-chunk metadata
    val pLoc = freshLoc("codec-p")
    val pT = GraftTable.create(spark, pLoc, sample(3).schema,
      properties = Map("write.parquet.compression-codec" -> "gzip"))
    GraftWrite.append(pT, sample(3))
    val pReader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(fileOf(pT)), conf))
    try {
      val codecs = pReader.getFooter.getBlocks.get(0).getColumns
        .asInstanceOf[java.util.List[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]]
      assert(codecs.get(0).getCodec.toString.toLowerCase.contains("gzip"))
    } finally pReader.close()
    // orc: zlib in the file tail
    val oLoc = freshLoc("codec-o")
    val oT = GraftTable.create(spark, oLoc, sample(3).schema,
      properties = Map("write.format.default" -> "orc",
        "write.orc.compression-codec" -> "zlib"))
    GraftWrite.append(oT, sample(3))
    val oReader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(fileOf(oT)),
      org.apache.orc.OrcFile.readerOptions(conf))
    try assert(oReader.getCompressionKind ===
      org.apache.orc.CompressionKind.ZLIB) finally oReader.close()
    // avro: deflate in the container header
    val aLoc = freshLoc("codec-a")
    val aT = GraftTable.create(spark, aLoc, sample(3).schema,
      properties = Map("write.format.default" -> "avro",
        "write.avro.compression-codec" -> "deflate"))
    GraftWrite.append(aT, sample(3))
    val aReader = new org.apache.avro.file.DataFileReader[Any](
      new org.apache.avro.mapred.FsInput(
        new org.apache.hadoop.fs.Path(fileOf(aT)), conf),
      new org.apache.avro.generic.GenericDatumReader[Any]())
    try assert(aReader.getMetaString("avro.codec") === "deflate")
    finally aReader.close()
    // all three still read back correctly
    assert(pT.toDF().count() === 3)
    assert(oT.toDF().count() === 3)
    assert(aT.toDF().count() === 3)
  }

  test("data file JSON round-trips the file format") {
    val ids = FieldIds.assignFresh(schema)
    val f = DataFile(path = "/x/f.orc", recordCount = 7, fileSizeInBytes = 100,
      fileFormat = FileFormats.Orc)
    val json = Model.dataFileToJson(f, ids, Map.empty)
    val back = Model.dataFileFromJson(json, ids, Map.empty)
    assert(back.fileFormat === FileFormats.Orc)
    // absent file-format in old metadata defaults to parquet
    val legacy = Model.dataFileToJson(f.copy(fileFormat = FileFormats.Parquet), ids, Map.empty)
    assert(!legacy.has("file-format"))
    assert(Model.dataFileFromJson(legacy, ids, Map.empty).fileFormat === FileFormats.Parquet)
  }
}
