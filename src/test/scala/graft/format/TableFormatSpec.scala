package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** End-to-end table format semantics: commits, snapshot isolation, time
  * travel, incremental reads, pruning, metadata-only deletes, schema
  * evolution, WAP — mirroring the reference's core test fixtures
  * (core/src/test/.../TableTestBase.java pattern + TestFilteredScan,
  * TestSnapshotSelection, TestIncrementalDataTableScan, TestWapWorkflow). */
class TableFormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    Files.delete(d)
    d.toString
  }

  private def rows(n: Int, dayOffset: Int = 0) =
    (0 until n).map(i => (i.toLong + dayOffset * 1000L, s"data-$i",
      java.sql.Timestamp.valueOf(s"2024-01-${dayOffset + 1} 10:0${i % 6}:00")))
      .toDF("id", "data", "ts")

  test("create + append + scan round-trip") {
    val loc = freshLoc("basic")
    val t = GraftTable.create(spark, loc, rows(5).schema)
    GraftWrite.append(t, rows(5))
    assert(t.toDF().count() == 5)
    assert(t.currentSnapshot.get.operation == "append")
    assert(t.toDF().select("data").as[String].collect().sorted.head == "data-0")
  }

  test("partitioned write: hidden day partitioning + file pruning") {
    val loc = freshLoc("days")
    val t = GraftTable.create(spark, loc, rows(4).schema, _.day("ts"))
    GraftWrite.append(t, rows(4, 0).union(rows(4, 1)).union(rows(4, 2)))
    val all = t.newScan().planFiles()
    assert(all.tasks.nonEmpty)
    // filter on the SOURCE column prunes derived day partitions
    val scan = t.newScan().filter(Exprs.equal("ts", "2024-01-02 10:00:00"))
    val plan = scan.planFiles()
    assert(plan.tasks.size < all.tasks.size, s"pruning failed: $plan")
    val df = scan.toDF()
    assert(df.count() == 1)
    // source column survives in data files (hidden partitioning)
    assert(df.columns.contains("ts"))
  }

  test("bucket partitioning: equality filters prune to matching buckets (TestBucketingProjection)") {
    val loc = freshLoc("bucket")
    val df = spark.range(256).selectExpr("id", "concat('d', id) as data",
      "timestamp'2024-01-01 00:00:00' as ts")
    val t = GraftTable.create(spark, loc, df.schema, _.bucket("id", 8))
    GraftWrite.append(t, df.repartition(2))
    val all = t.newScan().planFiles().tasks.size
    val point = t.newScan().filter(Exprs.equal("id", 7L)).planFiles()
    assert(point.tasks.size < all, s"bucket pruning failed: ${point.tasks.size}/$all")
    assert(t.newScan().filter(Exprs.equal("id", 7L)).toDF().count() == 1)
    val in = t.newScan().filter(Exprs.in("id", Seq(7L, 9L, 100L))).planFiles()
    assert(in.tasks.size < all)
    assert(t.newScan().filter(Exprs.in("id", Seq(7L, 9L, 100L))).toDF().count() == 3)
  }

  test("bucket partitioning on DECIMAL: write placement agrees with pruning") {
    // the write path derives the bucket via Transform.column while the
    // pruning evaluators project Eq predicates via Transform.apply
    // (hashDecimal over unscaled bytes) — if the two disagree, the file
    // holding the matching row is pruned away and the row is LOST
    val loc = freshLoc("bucketdec")
    val df = spark.range(64).selectExpr("id",
      "CAST(CAST(id AS DOUBLE) / 4 + 0.25 AS DECIMAL(9,2)) AS amt")
    val t = GraftTable.create(spark, loc, df.schema, _.bucket("amt", 8))
    GraftWrite.append(t, df.repartition(2))
    assert(t.toDF().count() === 64)
    // every row must be findable by a point predicate on its own value
    (0L until 64L by 7L).foreach { id =>
      val v = new java.math.BigDecimal(id).divide(new java.math.BigDecimal(4))
        .add(new java.math.BigDecimal("0.25")).setScale(2)
      val n = t.newScan().filter(Exprs.equal("amt", v)).toDF().count()
      assert(n === 1L, s"amt=$v (id=$id) lost by bucket placement/pruning disagreement")
    }
  }

  test("bucket partitioning on DECIMAL(38,30): high-scale placement agrees with pruning") {
    // scale > 18 used to round through the udf's (38,18) input coercion:
    // the written bucket diverged from the bucket Eq-pruning projects
    // into, and the point predicate silently lost the row
    val loc = freshLoc("bucketdec30")
    val df = spark.range(32).selectExpr("id",
      "CAST(CAST(id AS DECIMAL(38,30)) / 7 AS DECIMAL(38,30)) AS amt")
    val t = GraftTable.create(spark, loc, df.schema, _.bucket("amt", 8))
    GraftWrite.append(t, df.repartition(2))
    assert(t.toDF().count() === 32)
    val probe = t.toDF().select("id", "amt").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1))
    probe.filter(_._1 % 5 == 0).foreach { case (id, v) =>
      val n = t.newScan().filter(Exprs.equal("amt", v)).toDF().count()
      assert(n === 1L, s"amt=$v (id=$id) lost by high-scale bucket placement")
    }
  }

  test("BucketT.column agrees with BucketT.apply on every bucketable type") {
    // the write path derives buckets via `column`; pruning, the DSv2
    // fanout writer and the SQL function catalog all go through `apply` —
    // any disagreement silently loses rows to pruning (the decimal case
    // above was real). Pin kernel agreement per type, negatives and
    // nulls included.
    import spark.implicits._
    import org.apache.spark.sql.Row
    val t = Transforms.BucketT(512)
    def check(dt: org.apache.spark.sql.types.DataType,
              df: org.apache.spark.sql.DataFrame, canon: Row => Any): Unit = {
      val out = df.select(col("v"), t.column(col("v"), dt).as("b")).collect()
      assert(out.nonEmpty)
      out.foreach { r =>
        val expected = if (r.isNullAt(0)) null else t.apply(canon(r), dt)
        assert(r.get(1) == expected, s"$dt value=${r.get(0)}: " +
          s"column gave ${r.get(1)}, apply gives $expected")
      }
    }
    import org.apache.spark.sql.types._
    check(LongType, Seq[Option[Long]](Some(0L), Some(-1L), Some(42L),
      Some(Long.MinValue), None).toDF("v"), _.getLong(0))
    check(IntegerType, Seq[Option[Int]](Some(0), Some(-7), Some(Int.MaxValue),
      None).toDF("v"), _.getInt(0))
    check(StringType, Seq(Some(""), Some("abc"), Some("héllo✓"), None)
      .toDF("v"), _.getString(0))
    check(DoubleType, Seq[Option[Double]](Some(0.0), Some(-2.5), Some(1e300),
      None).toDF("v"), _.getDouble(0))
    check(FloatType, Seq[Option[Float]](Some(0.5f), Some(-3.25f), None)
      .toDF("v"), _.getFloat(0))
    check(DecimalType(9, 2),
      Seq("10.25", "-10.25", "0.00", null).toDF("s")
        .selectExpr("CAST(s AS DECIMAL(9,2)) AS v"),
      _.getDecimal(0))
    // scale > 18: Spark's udf BigDecimal coercion to (38,18) would ROUND
    // these before hashing — the string-fed udf must not
    check(DecimalType(38, 30),
      Seq("1.000000000000000000123456789012",
        "-0.000000000000000000000000000001", "0.000000100000000000000000000000",
        null).toDF("s").selectExpr("CAST(s AS DECIMAL(38,30)) AS v"),
      _.getDecimal(0))
    // precision - scale > 20: the (38,18) coercion would OVERFLOW to null
    check(DecimalType(30, 2),
      Seq("12345678901234567890123456.78", "-999999999999999999999999.99",
        null).toDF("s").selectExpr("CAST(s AS DECIMAL(30,2)) AS v"),
      _.getDecimal(0))
    check(BinaryType,
      Seq(Some(Array[Byte](1, 2, 3)), Some(Array.empty[Byte]), None)
        .toDF("v"), _.getAs[Array[Byte]](0))
    check(DateType,
      Seq("2024-06-01", "1969-12-31", "1901-02-03", null).toDF("s")
        .selectExpr("CAST(s AS DATE) AS v"),
      r => r.getDate(0).toLocalDate.toEpochDay.toInt)
    check(TimestampNTZType,
      Seq("2024-06-01 10:30:00", "1969-12-31 23:59:59.999999", null)
        .toDF("s").selectExpr("CAST(s AS TIMESTAMP_NTZ) AS v"),
      r => {
        val ldt = r.getAs[java.time.LocalDateTime](0)
        val i = ldt.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      })
    check(TimestampType,
      Seq("2024-06-01 10:30:00", "1969-12-31 23:59:59.999999", null)
        .toDF("s").selectExpr("CAST(s AS TIMESTAMP) AS v"),
      r => {
        val i = r.getTimestamp(0).toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      })
  }

  test("identity string partitions survive hostile values (slash, equals, unicode)") {
    import spark.implicits._
    // partition values that would break naive `k=v` path layouts: path
    // separators, key-value separators, percent-escapes, spaces, unicode,
    // empty string. The round trip (write -> recorded tuple -> point
    // predicate pruning -> residual) must keep every row findable.
    val hostile = Seq("a/b", "k=v", "100%", "sp ace", "héllo✓", "", "..",
      "dot.", "col:on", "#hash")
    val loc = freshLoc("hostilepart")
    val df = hostile.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "part")
    val t = GraftTable.create(spark, loc, df.schema, _.identity("part"))
    GraftWrite.append(t, df.repartition(2))
    assert(t.toDF().count() === hostile.size.toLong)
    hostile.foreach { s =>
      val n = t.newScan().filter(Exprs.equal("part", s)).toDF().count()
      assert(n === 1L, s"partition value '$s' lost in the layout round trip")
    }
    // NULL partition value: the tuple carries null, findable via IS NULL
    // and invisible to every equality partition above
    GraftWrite.append(GraftTable.load(spark, loc),
      Seq((100L, Option.empty[String])).toDF("id", "part"))
    val t2 = GraftTable.load(spark, loc)
    assert(t2.newScan().filter(Exprs.isNull("part")).toDF().count() === 1L)
    assert(t2.newScan().filter(Exprs.equal("part", "a/b")).toDF().count() === 1L)
    assert(t2.toDF().count() === hostile.size + 1L)
    // compaction rewrites ride the same writer: tuples (hostile strings
    // AND null) must survive the rewrite byte-for-byte
    Actions.forTable(t2).rewriteDataFiles(minInputFiles = 1)
    val t3 = GraftTable.load(spark, loc)
    assert(t3.toDF().count() === hostile.size + 1L)
    hostile.foreach { s =>
      assert(t3.newScan().filter(Exprs.equal("part", s)).toDF().count() === 1L,
        s"partition value '$s' lost through compaction")
    }
    assert(t3.newScan().filter(Exprs.isNull("part")).toDF().count() === 1L)
  }

  test("appendsBetween over an expired ancestor fails loudly, never skips") {
    // the ancestor walk stops silently at a missing (expired) parent — an
    // incremental consumer spanning the gap must get an error, not a
    // result with a hole (reference: SnapshotUtil.snapshotIdsBetween
    // throws "Cannot determine history"). `from` itself being expired is
    // legal: it is the exclusive bound.
    val loc = freshLoc("expinc")
    val t0 = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t0, rows(2, 0))
    GraftWrite.append(GraftTable.load(spark, loc), rows(2, 1))
    GraftWrite.append(GraftTable.load(spark, loc), rows(2, 2))
    val pre = GraftTable.load(spark, loc)
    val Seq(s1, s2, s3) = pre.snapshots.map(_.snapshotId)
    // sanity before expiry: the full range reads both increments
    assert(pre.newScan().appendsBetween(s1, s3).toDF().count() === 4)
    Actions.forTable(pre).expireSnapshots(System.currentTimeMillis() + 1000,
      retainLast = 1) // drops s1 and s2 from history
    val t = GraftTable.load(spark, loc)
    val e = intercept[IllegalStateException] {
      t.newScan().appendsBetween(s1, s3).toDF().count()
    }
    assert(e.getMessage.contains("expired"), e.getMessage)
    // exclusive lower bound expired, range content intact: still readable
    assert(t.newScan().appendsBetween(s2, s3).toDF().count() === 2)
  }

  test("appendsBetween from a rolled-back (non-ancestor) snapshot fails loudly") {
    // after a rollback + new commits, a consumer whose last-seen snapshot
    // sits on the abandoned line must get an error, not a quietly-plausible
    // increment (reference parity: IncrementalDataTableScan.java:147-148)
    val loc = freshLoc("divinc")
    val t0 = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t0, rows(2, 0))
    GraftWrite.append(GraftTable.load(spark, loc), rows(2, 1))
    val pre = GraftTable.load(spark, loc)
    val Seq(s1, s2) = pre.snapshots.map(_.snapshotId)
    Commits.rollbackTo(pre, s1)
    GraftWrite.append(GraftTable.load(spark, loc), rows(2, 2))
    val t = GraftTable.load(spark, loc)
    val s3 = t.metadata.currentSnapshotId.get
    val e = intercept[IllegalArgumentException] {
      t.newScan().appendsBetween(s2, s3).toDF().count()
    }
    assert(e.getMessage.contains("not an ancestor"), e.getMessage)
    // a retained-line bound still reads: exactly the post-rollback append
    assert(t.newScan().appendsBetween(s1, s3).toDF().count() === 2)
  }

  test("float/double partition sources are rejected at spec build") {
    // IEEE -0.0 == 0.0 and NaN != NaN make hash/identity placement on
    // float/double diverge from SQL equality (a -0.0 row lands in a
    // different bucket than Eq(0.0) pruning keeps) — iceberg bans them as
    // partition sources; so do we, at spec build time
    import spark.implicits._
    val df = Seq((1L, 2.5d, 1.5f)).toDF("id", "d", "f")
    Seq[PartitionSpec.Builder => PartitionSpec.Builder](
      _.bucket("d", 8), _.identity("d"), _.truncate("d", 10),
      _.bucket("f", 8), _.identity("f")
    ).foreach { sb =>
      val e = intercept[IllegalArgumentException] {
        GraftTable.create(spark, freshLoc("fdban"), df.schema, sb)
      }
      assert(e.getMessage.contains("not allowed"), e.getMessage)
    }
    // void stays legal on any type (spec evolution tombstones)
    GraftTable.create(spark, freshLoc("fdvoid"), df.schema,
      _.add("d", Transforms.VoidT, "d_void"))
  }

  test("binary partition tuples: pruning and partition-scoped eq-delete apply by CONTENT") {
    import spark.implicits._
    // binary partition values ride tuples as Array[Byte]: every tuple
    // comparison on the apply path must be content-based — a reference
    // (Map ==) compare silently skips the delete (rows resurrect)
    val loc = freshLoc("binpart")
    val rows = Seq(
      (1L, Array[Byte](1, 1, 7)),
      (2L, Array[Byte](2, 2, 7)),
      (3L, Array[Byte](1, 1, 9))).toDF("id", "b")
    val t = GraftTable.create(spark, loc, rows.schema, _.truncate("b", 2))
    GraftWrite.append(t, rows.repartition(2))
    val back = GraftTable.load(spark, loc)
    assert(back.toDF().count() === 3)
    // point predicate on the binary SOURCE column round-trips the
    // base64-encoded tuple and the projection
    assert(back.newScan().filter(Exprs.equal("b", Array[Byte](1, 1, 7)))
      .toDF().count() === 1)
    // key set includes the partition source -> partition-SCOPED staging:
    // the delete file carries the binary tuple and must attach to the
    // content-equal data partition
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(Tuple1(Array[Byte](1, 1, 7))).toDF("b"))
    val after = GraftTable.load(spark, loc)
    assert(after.toDF().count() === 2,
      "binary-partition-scoped eq delete must apply by tuple CONTENT")
    assert(after.toDF().filter(col("id") === 1L).count() === 0)
    // dynamic overwrite must REPLACE the content-equal binary partition
    // (a reference-compared touched-set keeps the old files: duplicates)
    GraftWrite.overwriteDynamic(GraftTable.load(spark, loc),
      Seq((9L, Array[Byte](1, 1, 5))).toDF("id", "b")) // tuple [1,1] again
    val od = GraftTable.load(spark, loc)
    assert(od.toDF().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 9L),
      "dynamic overwrite must drop the old [1,1] partition files")
  }

  test("astral-plane string bounds must not prune high-BMP predicates (UTF-8 order)") {
    import spark.implicits._
    // "😀" (U+1F600) sorts ABOVE "\uffff" in UTF-8/codepoint
    // order — the order parquet bounds and Spark comparisons use — but
    // BELOW it in Java's UTF-16 String order. An evaluator on the Java
    // order "proves" the file all-below the literal and silently LOSES
    // the matching row (inclusive), or wrongly metadata-deletes (strict).
    val loc = freshLoc("astral")
    val astral = "\ud83d\ude00" // U+1F600
    val df = Seq(astral, "plain").toDF("s")
    val t = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t, df.coalesce(1))
    val back = GraftTable.load(spark, loc)
    val got = back.newScan().filter(Exprs.gt("s", "\uffff")).toDF().count()
    assert(got === back.toDF().filter(col("s") > "\uffff").count(),
      "scan must agree with Spark's own comparison")
    assert(got === 1L, "s > U+FFFF must find the astral row")
    // strict lane (powers metadata-only DELETE): must NOT claim the file
    // all-below U+FFFF — the astral row is above it
    val f = back.newScan().planFiles().tasks.head.file
    val below = Exprs.bind(Exprs.lt("s", "\uffff"), back.metadata.schema)
    assert(!Evaluators.strictMetrics(below, f),
      "strict must not prove all-rows-below for a file holding an astral row")
    // startsWith: a high-BMP prefix must survive astral upper bounds
    val loc2 = freshLoc("astralsw")
    val df2 = Seq("\uffffabc", astral + "x").toDF("s")
    val t2 = GraftTable.create(spark, loc2, df2.schema)
    GraftWrite.append(t2, df2.coalesce(1))
    val back2 = GraftTable.load(spark, loc2)
    assert(back2.newScan().filter(Exprs.startsWith("s", "\uffff"))
      .toDF().count() === 1L,
      "startsWith(U+FFFF) must find its row under an astral upper bound")
  }

  test("NaN and Infinity doubles survive bounds, manifests and pruning") {
    import spark.implicits._
    // NaN poisons parquet min/max: the footer omits them, bounds come
    // back EMPTY, and pruning must stay conservative (never drop the
    // file); residual evaluation follows Spark's semantics (NaN greater
    // than everything, NaN = NaN true)
    val locN = freshLoc("nanmix")
    val dfN = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.5).toDF("d")
    val tN = GraftTable.create(spark, locN, dfN.schema)
    GraftWrite.append(tN, dfN.coalesce(1))
    val backN = GraftTable.load(spark, locN)
    assert(backN.toDF().count() === 5)
    val fN = backN.newScan().planFiles().tasks.map(_.file)
    assert(fN.forall(f => f.lowerBounds.isEmpty && f.upperBounds.isEmpty),
      s"NaN-poisoned stats must be omitted, got ${fN.map(_.lowerBounds)}")
    // Spark says NaN > 1.0: the scan must agree with Spark's own filter
    assert(backN.newScan().filter(Exprs.gt("d", 1.0)).toDF().count() ===
      backN.toDF().filter(col("d") > 1.0).count())
    assert(backN.toDF().filter(org.apache.spark.sql.functions.isnan(col("d")))
      .count() === 1)
    // ±Infinity WITHOUT NaN: real Inf bounds must round-trip through the
    // manifest encoding and prune correctly (the gt(MaxValue) file keeps
    // its +Inf row)
    val locI = freshLoc("infbounds")
    val dfI = Seq(Double.NegativeInfinity, -1.0, 2.0,
      Double.PositiveInfinity).toDF("d")
    val tI = GraftTable.create(spark, locI, dfI.schema)
    GraftWrite.append(tI, dfI.coalesce(1))
    val backI = GraftTable.load(spark, locI)
    val fI = backI.newScan().planFiles().tasks.map(_.file)
    assert(fI.exists(_.upperBounds.values.exists(
      _ == Double.PositiveInfinity)), s"Inf upper bound lost: $fI")
    assert(fI.exists(_.lowerBounds.values.exists(
      _ == Double.NegativeInfinity)), s"-Inf lower bound lost: $fI")
    assert(backI.newScan().filter(Exprs.gt("d", 0.0)).toDF().count() === 2)
    assert(backI.newScan().filter(Exprs.gt("d", Double.MaxValue))
      .toDF().count() === 1, "+Inf row must survive gt(MaxValue) pruning")
  }

  test("-0.0 metrics bounds must not prune +0.0 point predicates (IEEE equality)") {
    import spark.implicits._
    // IEEE (and Spark's =) says -0.0 == 0.0, but a total-order comparator
    // says -0.0 < 0.0: a file whose upper bound is -0.0 would be pruned
    // for `d = 0.0` while its -0.0 row MATCHES the residual — a lost row
    val loc = freshLoc("negzero")
    val df = Seq(-5.0, -0.0).toDF("d") // upper bound is -0.0
    val t = GraftTable.create(spark, loc, df.schema)
    GraftWrite.append(t, df.coalesce(1))
    assert(t.newScan().filter(Exprs.equal("d", 0.0)).toDF().count() === 1L,
      "d = 0.0 must find the -0.0 row (IEEE equal)")
    assert(t.newScan().filter(Exprs.equal("d", -0.0)).toDF().count() === 1L)
    assert(t.newScan().filter(Exprs.ltEq("d", 0.0)).toDF().count() === 2L)
    // float lane too
    val locF = freshLoc("negzerof")
    val dfF = Seq(-5.0f, -0.0f).toDF("f")
    val tF = GraftTable.create(spark, locF, dfF.schema)
    GraftWrite.append(tF, dfF.coalesce(1))
    assert(tF.newScan().filter(Exprs.equal("f", 0.0f)).toDF().count() === 1L)
  }

  test("TruncateT.column agrees with TruncateT.apply across types") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val t = Transforms.TruncateT(10)
    def agree(dt: DataType, df: org.apache.spark.sql.DataFrame,
              canon: Row => Any): Unit = {
      df.select(col("v"), t.column(col("v"), dt).as("o")).collect().foreach { r =>
        val expected = if (r.isNullAt(0)) null else t.apply(canon(r), dt)
        val got = r.get(1)
        val same = (got, expected) match {
          case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
          case (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
            a.compareTo(b) == 0
          case _ => got == expected
        }
        assert(same, s"truncate[10]($dt) value=${r.get(0)}: column=$got apply=$expected")
      }
    }
    agree(LongType, Seq[Option[Long]](Some(0L), Some(-1L), Some(-10L),
      Some(42L), None).toDF("v"), _.getLong(0))
    agree(IntegerType, Seq[Option[Int]](Some(7), Some(-7), None).toDF("v"),
      _.getInt(0))
    agree(StringType, Seq(Some("abcdefghijkl"), Some("héllo✓"), Some(""),
      None).toDF("v"), _.getString(0))
    agree(DecimalType(9, 2), Seq("10.25", "-10.25", "0.07", null).toDF("s")
      .selectExpr("CAST(s AS DECIMAL(9,2)) AS v"), _.getDecimal(0))
    // beyond the (38,18) udf-coercion envelope: scale > 18 (would round)
    // and precision - scale > 20 (would overflow to null)
    agree(DecimalType(38, 30),
      Seq("1.000000000000000000123456789012",
        "-0.000000000000000000000000000001", null).toDF("s")
        .selectExpr("CAST(s AS DECIMAL(38,30)) AS v"), _.getDecimal(0))
    agree(DecimalType(30, 2),
      Seq("12345678901234567890123456.78", "-999999999999999999999999.99",
        null).toDF("s").selectExpr("CAST(s AS DECIMAL(30,2)) AS v"),
      _.getDecimal(0))
    agree(BinaryType, Seq(Some(Array.tabulate[Byte](20)(_.toByte)),
      Some(Array[Byte](1)), None).toDF("v"), _.getAs[Array[Byte]](0))
  }

  test("TimeT.column agrees with TimeT.apply across types, pre-epoch included") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val vals = Seq("2024-06-01 10:30:00", "1969-12-31 23:59:59",
      "1969-07-20 20:17:40", "1900-02-28 05:00:00", null)
    def agree(t: Transform, dt: DataType,
              df: org.apache.spark.sql.DataFrame, canon: Row => Any): Unit = {
      df.select(col("v"), t.column(col("v"), dt).as("o")).collect().foreach { r =>
        val expected = if (r.isNullAt(0)) null else t.apply(canon(r), dt)
        assert(r.get(1) == expected,
          s"${t.name}($dt) value=${r.get(0)}: column=${r.get(1)} apply=$expected")
      }
    }
    val tsDf = vals.toDF("s").selectExpr("CAST(s AS TIMESTAMP) AS v")
    val ntzDf = vals.toDF("s").selectExpr("CAST(s AS TIMESTAMP_NTZ) AS v")
    val dateDf = vals.toDF("s").selectExpr("CAST(s AS DATE) AS v")
    def tsMicros(r: Row): Any = {
      val i = r.getTimestamp(0).toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def ntzMicros(r: Row): Any = {
      val i = r.getAs[java.time.LocalDateTime](0)
        .toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def days(r: Row): Any = r.getDate(0).toLocalDate.toEpochDay.toInt
    Seq(Transforms.YearT, Transforms.MonthT, Transforms.DayT,
        Transforms.HourT).foreach { t =>
      agree(t, TimestampType, tsDf, tsMicros)
      agree(t, TimestampNTZType, ntzDf, ntzMicros)
      if (t != Transforms.HourT) agree(t, DateType, dateDf, days)
    }
  }

  test("time-transform write derivation is session-timezone-free (non-UTC session)") {
    // placement goes through Transform.column, pruning through
    // Transform.apply (UTC micros). The old year()/datediff/cast
    // derivations evaluated in the SESSION zone: a New York session
    // writing 2024-01-02T00:30Z derived day ordinal for Jan 1 while the
    // pruning evaluator projects Jan 2 — the row was lost to any point
    // predicate. The derivation must be zone-free.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.session.timeZone", "America/New_York")
    val loc = freshLoc("tzfree")
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampType)))
    val rows = java.util.Arrays.asList(
      Row(1L, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-02T00:30:00Z"))),
      Row(2L, java.sql.Timestamp.from(
        java.time.Instant.parse("1969-12-31T23:00:00Z")))) // pre-epoch floor
    val df = iso.createDataFrame(rows, schema)
    val t = GraftTable.create(iso, loc, schema, _.day("ts"))
    GraftWrite.append(t, df)
    assert(t.toDF().count() === 2)
    assert(t.newScan().filter(Exprs.equal("ts", "2024-01-02 00:30:00"))
      .toDF().count() === 1,
      "post-epoch row lost: day partition derived in session zone")
    assert(t.newScan().filter(Exprs.equal("ts", "1969-12-31 23:00:00"))
      .toDF().count() === 1,
      "pre-epoch row lost: day ordinal must floor, zone-free")
  }

  test("time travel: useSnapshot + asOfTime (TestSnapshotSelection)") {
    val loc = freshLoc("tt")
    val t = GraftTable.create(spark, loc, rows(3).schema)
    GraftWrite.append(t, rows(3, 0))
    val s1 = t.currentSnapshot.get
    Thread.sleep(5)
    val betweenMillis = System.currentTimeMillis()
    Thread.sleep(5)
    GraftWrite.append(t, rows(3, 1))
    assert(t.toDF().count() == 6)
    assert(t.newScan().useSnapshot(s1.snapshotId).toDF().count() == 3)
    assert(t.newScan().asOfTime(betweenMillis).toDF().count() == 3)
  }

  test("incremental appendsBetween reads only ADDED files (TestIncrementalDataTableScan)") {
    val loc = freshLoc("incr")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    val s1 = t.currentSnapshot.get.snapshotId
    GraftWrite.append(t, rows(3, 1))
    val s2 = t.currentSnapshot.get.snapshotId
    GraftWrite.append(t, rows(4, 2))
    val s3 = t.currentSnapshot.get.snapshotId
    assert(t.newScan().appendsBetween(s1, s2).toDF().count() == 3)
    assert(t.newScan().appendsBetween(s1, s3).toDF().count() == 7)
    assert(t.newScan().appendsBetween(s2, s3).toDF().count() == 4)
  }

  test("incremental scan rejects overwrites in range (IncrementalDataTableScan.snapshotsWithin)") {
    val loc = freshLoc("incov")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    val s1 = t.currentSnapshot.get.snapshotId
    GraftWrite.overwriteAll(t, rows(2, 1))
    val s2 = t.currentSnapshot.get.snapshotId
    GraftWrite.append(t, rows(2, 2))
    val s3 = t.currentSnapshot.get.snapshotId
    intercept[UnsupportedOperationException] {
      t.newScan().appendsBetween(s1, s3).planFiles()
    }
    // a range past the overwrite works
    assert(t.newScan().appendsBetween(s2, s3).planFiles().tasks.nonEmpty)
  }

  test("metadata-only delete: whole partitions drop; partial raises (ManifestFilterManager:215-222)") {
    val loc = freshLoc("del")
    val t = GraftTable.create(spark, loc, rows(4).schema, _.day("ts"))
    // coalesce(1): multi-row files, so a 1-row predicate is a PARTIAL match
    GraftWrite.append(t, rows(4, 0).union(rows(4, 1)).coalesce(1))
    // whole-partition delete via strict day projection
    Commits.deleteByFilter(t, Exprs.lt("ts", "2024-01-02"))
    assert(t.toDF().count() == 4)
    // partial-file delete must refuse (some but not all rows match)
    intercept[ValidationException] {
      Commits.deleteByFilter(t, Exprs.equal("id", 1001L))
    }
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val loc = freshLoc("dyn")
    val t = GraftTable.create(spark, loc, rows(4).schema, _.day("ts"))
    GraftWrite.append(t, rows(4, 0).union(rows(4, 1)))
    // overwrite day 2 with 2 new rows
    GraftWrite.overwriteDynamic(t, rows(2, 1))
    assert(t.toDF().count() == 6)
    assert(t.newScan().filter(Exprs.gtEq("ts", "2024-01-02")).toDF().count() == 2)
  }

  test("overwrite by filter validates + replaces") {
    val loc = freshLoc("ovr")
    val t = GraftTable.create(spark, loc, rows(4).schema, _.day("ts"))
    GraftWrite.append(t, rows(4, 0).union(rows(4, 1)))
    GraftWrite.overwrite(t, rows(1, 0), Exprs.lt("ts", "2024-01-02"))
    assert(t.toDF().count() == 5)
  }

  test("rollback restores a previous snapshot") {
    val loc = freshLoc("rb")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    val s1 = t.currentSnapshot.get.snapshotId
    GraftWrite.append(t, rows(2, 1))
    assert(t.toDF().count() == 4)
    Commits.rollbackTo(t, s1)
    assert(t.toDF().count() == 2)
  }

  test("WAP: staged append is invisible until cherry-picked (TestWapWorkflow)") {
    val loc = freshLoc("wap")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    val files = GraftWrite.writeFiles(t, rows(3, 1))
    val (_, stagedId) = Commits.stageAppend(t, files, wapId = "audit-1")
    assert(t.toDF().count() == 2, "staged snapshot must not be current")
    Commits.cherrypick(t, stagedId)
    assert(t.toDF().count() == 5)
  }

  test("schema evolution: rename + add + promote are metadata-only; old files still read") {
    val loc = freshLoc("evo")
    val t = GraftTable.create(spark, loc, rows(3).schema)
    GraftWrite.append(t, rows(3, 0))
    SchemaUpdate(t).renameColumn("data", "payload").addColumn("score", DoubleType)
      .updateColumnType("id", LongType).commit()
    val df = t.toDF()
    assert(df.columns.toSeq == Seq("id", "payload", "ts", "score"))
    assert(df.where($"payload" === "data-1").count() == 1)
    assert(df.select("score").distinct().collect().map(_.get(0)).toSeq == Seq(null))
    // new writes use the new schema; both generations align by field id
    GraftWrite.append(t, Seq((100L, "p-new", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 0.5))
      .toDF("id", "payload", "ts", "score"))
    assert(t.toDF().count() == 4)
    assert(t.toDF().where($"payload" === "p-new").select("score").as[Double].head() == 0.5)
  }

  test("nested schema evolution: addColumn(parent), nested rename/promote by id (UpdateSchema.java:63-129)") {
    val loc = freshLoc("nestevo")
    val df0 = Seq((1L, ("alice", 10, "a1")), (2L, ("bob", 20, "b2")))
      .toDF("id", "who")
      .select($"id", $"who".cast("struct<name:string,num:int,addr:string>").as("who"))
    val t = GraftTable.create(spark, loc, df0.schema)
    GraftWrite.append(t, df0.coalesce(1))
    // nested rename + nested promote + add INSIDE the struct + add nested struct
    SchemaUpdate(t)
      .renameColumn("who.name", "full_name")
      .updateColumnType("who.num", LongType)
      .addColumn("who", "zip", IntegerType)
      .addColumn("geo", new StructType()
        .add("lat", DoubleType).add("lon", DoubleType))
      .commit()
    val out1 = t.toDF()
    assert(out1.schema("who").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("full_name", "num", "addr", "zip"))
    assert(out1.schema("who").dataType.asInstanceOf[StructType]("num").dataType == LongType)
    // old file reads through the rename/promote/add by id
    assert(out1.select($"who.full_name").as[String].collect().sorted.toSeq ==
      Seq("alice", "bob"))
    assert(out1.select($"who.num").as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    assert(out1.select($"who.zip").collect().forall(_.isNullAt(0)))
    assert(out1.select($"geo").collect().forall(_.isNullAt(0)))
    // write with the NEW schema; generations align
    val df1 = Seq((3L, ("carol", 30L, "c3", 94000), (1.5, 2.5)))
      .toDF("id", "who", "geo")
      .select($"id",
        $"who".cast("struct<full_name:string,num:bigint,addr:string,zip:int>").as("who"),
        $"geo".cast("struct<lat:double,lon:double>").as("geo"))
    GraftWrite.append(t, df1.coalesce(1))
    val out2 = t.toDF()
    assert(out2.count() == 3)
    assert(out2.where($"who.zip" === 94000).select($"who.full_name").as[String].head() == "carol")
    assert(out2.where($"id" === 1L).select($"who.num").as[Long].head() == 10L)
    assert(out2.where($"id" === 3L).select($"geo.lat").as[Double].head() == 1.5)
    // nested delete: addr disappears from both generations
    SchemaUpdate(t).deleteColumn("who.addr").commit()
    val out3 = t.toDF()
    assert(out3.schema("who").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("full_name", "num", "zip"))
    assert(out3.count() == 3)
  }

  test("partition values with '+', '%', '=' round-trip through dir encoding") {
    // '+' is the trap: the Hive escaper leaves it LITERAL, so a
    // URLDecoder-based dir decode turns it into a space — the tuple then
    // mismatches, pruning drops the partition, and per-partition delete
    // files stop attaching
    val loc = freshLoc("dirs-esc")
    val df = Seq(("a+b", 1L), ("a b", 2L), ("50%off", 3L), ("x=y", 4L))
      .toDF("cat", "id")
    val t0 = GraftTable.create(spark, loc, df.schema, _.identity("cat"))
    GraftWrite.append(t0, df.repartition(1))
    val plan = GraftTable.load(spark, loc).newScan().planFiles()
    assert(plan.tasks.map(_.file.partition("cat")).toSet ===
      Set("a+b", "a b", "50%off", "x=y"))
    val hit = GraftTable.load(spark, loc).newScan()
      .filter(Exprs.equal("cat", "a+b")).toDF().select("id").as[Long].collect()
    assert(hit.toSeq === Seq(1L), "partition pruning must keep the '+' value")
    // the partition-scoped eq-delete stager shares the decode: the staged
    // tuple must match the data tuple or the delete never applies
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(("a+b", 1L)).toDF("cat", "id"))
    assert(GraftTable.load(spark, loc).toDF().count() === 3)
    assert(GraftTable.load(spark, loc).newScan()
      .filter(Exprs.equal("cat", "a+b")).toDF().count() === 0)
  }

  test("deleteColumn refuses partition sources and eq-delete key columns") {
    import org.apache.spark.sql.functions.col
    val loc = freshLoc("delguard")
    val df = (0L until 20L).map(i => (i % 2, i, s"v$i")).toDF("grp", "id", "v")
    val t0 = GraftTable.create(spark, loc, df.schema, _.identity("grp"))
    GraftWrite.append(t0, df.repartition(1))
    // a partition source cannot be deleted: partTypesOf resolves every
    // spec source on every manifest read — the commit would permanently
    // brick the table
    val e1 = intercept[IllegalArgumentException](
      SchemaUpdate(GraftTable.load(spark, loc)).deleteColumn("grp").commit())
    assert(e1.getMessage.contains("partition field"), s"got: $e1")
    assert(GraftTable.load(spark, loc).toDF().count() === 20,
      "refused delete must leave the table readable")
    // a column carrying live equality-delete keys cannot be deleted
    Deletes.deleteByEquality(GraftTable.load(spark, loc),
      Seq(3L, 7L).toDF("id"))
    val e2 = intercept[IllegalArgumentException](
      SchemaUpdate(GraftTable.load(spark, loc)).deleteColumn("id").commit())
    assert(e2.getMessage.contains("equality-delete"), s"got: $e2")
    assert(GraftTable.load(spark, loc).toDF().count() === 18)
    // once the deletes convert to position deletes, the delete succeeds
    Actions.forTable(GraftTable.load(spark, loc)).rewriteEqualityDeletes()
    SchemaUpdate(GraftTable.load(spark, loc)).deleteColumn("id").commit()
    val out = GraftTable.load(spark, loc).toDF()
    assert(out.columns.toSeq === Seq("grp", "v"))
    assert(out.count() === 18)
    // unreferenced columns still delete freely
    SchemaUpdate(GraftTable.load(spark, loc)).deleteColumn("v").commit()
    assert(GraftTable.load(spark, loc).toDF().columns.toSeq === Seq("grp"))
  }

  test("randomized nested evolution: old file reads unchanged through any rename/move/promote sequence") {
    val rnd = new scala.util.Random(42)
    val loc = freshLoc("evoprop")
    // two-level schema, values derived from field POSITION at write time
    val df0 = Seq((11, (21, 31L, (41, "s51")), "s61"))
      .toDF("a", "b", "c")
      .select(col("a"),
        col("b").cast("struct<x:int,y:bigint,z:struct<p:int,q:string>>").as("b"),
        col("c"))
    val t = GraftTable.create(spark, loc, df0.schema)
    GraftWrite.append(t, df0.coalesce(1))
    // expected value per FIELD ID (ids assigned depth-first at create)
    val sch0 = t.schema
    def idAt(path: String*): Int = {
      var st = sch0
      var f: StructField = null
      path.foreach { n =>
        f = st(n)
        f.dataType match { case s: StructType => st = s; case _ => () }
      }
      FieldIds.idOf(f)
    }
    var expected: Map[Int, Any] = Map(
      idAt("a") -> 11, idAt("b", "x") -> 21, idAt("b", "y") -> 31L,
      idAt("b", "z", "p") -> 41, idAt("b", "z", "q") -> "s51", idAt("c") -> "s61")

    // dotted paths of all leaves + the structs, recomputed per step
    def leafPaths(st: StructType, prefix: String = ""): Seq[(String, StructField)] =
      st.fields.toSeq.flatMap { f =>
        val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => leafPaths(s, p)
          case _ => Seq(p -> f)
        }
      }

    (0 until 20).foreach { step =>
      val sch = t.schema
      val leaves = leafPaths(sch)
      val (path, field) = leaves(rnd.nextInt(leaves.size))
      rnd.nextInt(3) match {
        case 0 => // rename to a fresh name
          SchemaUpdate(t).renameColumn(path, s"r${step}_${field.name}").commit()
        case 1 => // move within its parent: first / before / after a sibling
          val parent = path.split('.').init.toSeq
          val parentSt = parent.foldLeft(t.schema)((s, n) =>
            s(n).dataType.asInstanceOf[StructType])
          val siblings = parentSt.fieldNames.filterNot(_ == field.name)
          if (siblings.isEmpty || rnd.nextBoolean())
            SchemaUpdate(t).moveFirst(path).commit()
          else {
            val ref = (parent :+ siblings(rnd.nextInt(siblings.length))).mkString(".")
            if (rnd.nextBoolean()) SchemaUpdate(t).moveBefore(path, ref).commit()
            else SchemaUpdate(t).moveAfter(path, ref).commit()
          }
        case 2 => // promote when possible, else rename
          field.dataType match {
            case IntegerType =>
              SchemaUpdate(t).updateColumnType(path, LongType).commit()
              val id = FieldIds.idOf(field)
              expected = expected.updated(id,
                expected(id).asInstanceOf[Int].toLong)
            case _ =>
              SchemaUpdate(t).renameColumn(path, s"r${step}_${field.name}").commit()
          }
      }
      // the ORIGINAL file must read correctly under the evolved schema:
      // every leaf value matches its field id's expected value
      val read = leafPaths(t.schema).map { case (p, f) =>
        FieldIds.idOf(f) ->
          t.toDF().select(col(p)).collect().head.get(0)
      }.toMap
      assert(read == expected, s"step $step diverged: $read vs $expected")
    }
  }

  test("scan listeners observe filter, projection, and pruning counts (Listeners.java)") {
    val loc = freshLoc("events")
    val t = GraftTable.create(spark, loc, rows(2).schema, _.day("ts"))
    GraftWrite.append(t, rows(2, 0).coalesce(1))
    GraftWrite.append(t, rows(2, 1).coalesce(1))
    val seen = collection.mutable.ArrayBuffer[ScanEvent]()
    val l = Listeners.register(e => seen.synchronized { seen += e; () })
    try {
      t.newScan()
        .filter(Exprs.equal("ts", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
        .select("id")
        .planFiles()
    } finally Listeners.unregister(l)
    assert(seen.size == 1, s"expected one event, got ${seen.size}")
    val e = seen.head
    assert(e.tableLocation == loc)
    assert(e.snapshotId == t.currentSnapshot.get.snapshotId)
    assert(e.projection == Seq("id"))
    assert(e.filter != AlwaysTrue)
    // two day-partition manifests; the filter prunes to day 1's
    assert(e.manifestsTotal == 2 && e.manifestsScanned == 1, e.toString)
    assert(e.filesTotal == 2 && e.filesScanned == 1, e.toString)
    // unregistered: later scans emit nothing
    t.newScan().planFiles()
    assert(seen.size == 1)
  }

  test("commit listeners observe each created snapshot after the swap") {
    val loc = freshLoc("commitevents")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    val seen = collection.mutable.ArrayBuffer[CommitEvent]()
    val l = Listeners.registerCommit(e => seen.synchronized { seen += e; () })
    try {
      GraftWrite.append(t, rows(2, 0).coalesce(1))
      GraftWrite.append(t, rows(3, 1).coalesce(1))
      // a snapshot-less commit (properties) emits nothing
      Commits.setProperties(t, Map("k" -> "v"))
      // copy-on-write delete emits exactly one overwrite event
      Deletes.deleteWhere(t, Exprs.equal("id", 1L))
    } finally Listeners.unregisterCommit(l)
    assert(seen.map(_.operation) === Seq("append", "append", "overwrite"))
    assert(seen.map(_.snapshotId) === t.snapshots.map(_.snapshotId))
    assert(seen.forall(_.tableLocation == loc))
    assert(seen.head.summary.contains("added-records") ||
      seen.head.summary.nonEmpty)
    val before = seen.size
    GraftWrite.append(t, rows(1, 4).coalesce(1))
    assert(seen.size == before, "unregistered listener must not fire")
  }

  test("a throwing commit listener propagates but never duplicates the commit") {
    val loc = freshLoc("commitlistenerthrow")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    val l = Listeners.registerCommit(
      _ => throw new RuntimeException("audit hook down"))
    try {
      intercept[RuntimeException](GraftWrite.append(t, rows(2, 0).coalesce(1)))
    } finally Listeners.unregisterCommit(l)
    // the swap was durable BEFORE the listener fired, and the retry loop
    // must not treat the listener failure as a lost CAS and re-commit
    assert(t.snapshots.size == 1, "duplicate commit from listener failure")
    assert(t.toDF().count() == 2)
  }

  test("allowIncompatibleChanges gates required columns (UpdateSchema.java:47)") {
    val loc = freshLoc("incompat")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    // both incompatible changes are refused without the opt-in
    intercept[IllegalArgumentException] {
      SchemaUpdate(t).requireColumn("data").commit()
    }
    intercept[IllegalArgumentException] {
      SchemaUpdate(t).addColumn("must", StringType, nullable = false).commit()
    }
    assert(t.schema("data").nullable)
    // with the opt-in both commit, and existing data still reads
    SchemaUpdate(t).allowIncompatibleChanges().requireColumn("data").commit()
    assert(!t.schema("data").nullable)
    SchemaUpdate(t).allowIncompatibleChanges()
      .addColumn("must", StringType, nullable = false).commit()
    assert(!t.schema("must").nullable)
    assert(t.toDF().count() == 2)
  }

  test("metrics modes: none/counts/truncate(N)/full per column (MetricsModes.java)") {
    val loc = freshLoc("mmodes")
    val longStr = "abcdefghijklmnopqrstuvwxyz" // 26 chars > truncate(16)
    val df = Seq((1L, longStr, "keep")).toDF("id", "big", "small")
    val t = GraftTable.create(spark, loc, df.schema, identity, properties = Map(
      Metrics.DefaultModeKey -> "full",
      (Metrics.ColumnModeKeyPrefix + "id") -> "none",
      (Metrics.ColumnModeKeyPrefix + "small") -> "counts"))
    GraftWrite.append(t, df.coalesce(1))
    val f = t.newScan().planFiles().tasks.head.file
    val sch = t.schema
    val idId = FieldIds.idOf(sch("id"))
    val bigId = FieldIds.idOf(sch("big"))
    val smallId = FieldIds.idOf(sch("small"))
    // none: no counts, no bounds
    assert(!f.valueCounts.contains(idId) && !f.lowerBounds.contains(idId))
    // counts: counts but no bounds
    assert(f.valueCounts.get(smallId).contains(1L) && !f.lowerBounds.contains(smallId))
    // full: untruncated bound survives past 16 chars
    assert(f.lowerBounds.get(bigId).contains(longStr))
    assert(f.upperBounds.get(bigId).contains(longStr))
    // truncate(4): bounds shrink and upper increments
    val t2 = GraftTable.create(spark, freshLoc("mmodes4"), df.schema, identity,
      properties = Map(Metrics.DefaultModeKey -> "truncate(4)"))
    GraftWrite.append(t2, df.coalesce(1))
    val f2 = t2.newScan().planFiles().tasks.head.file
    assert(f2.lowerBounds(FieldIds.idOf(t2.schema("big"))) == "abcd")
    assert(f2.upperBounds(FieldIds.idOf(t2.schema("big"))) == "abce")
    // stats pruning still fires with full bounds
    assert(t.newScan().filter(Exprs.equal("big", "zzz")).planFiles().tasks.isEmpty)
    // and bad mode strings fail fast
    intercept[IllegalArgumentException](Metrics.parseMode("bogus"))
  }

  test("expire snapshots reports orphaned files") {
    val loc = freshLoc("exp")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    GraftWrite.append(t, rows(2, 0))
    GraftWrite.overwriteAll(t, rows(2, 1)) // first snapshot's files now dead
    val (_, orphans) = Commits.expireSnapshots(t, System.currentTimeMillis() + 1000)
    assert(t.snapshots.size == 1)
    assert(orphans.nonEmpty)
    assert(t.toDF().count() == 2)
  }

  test("concurrent commits: optimistic retry preserves both appends (TestTransaction-style)") {
    val loc = freshLoc("cas")
    val t = GraftTable.create(spark, loc, rows(1).schema)
    val files1 = GraftWrite.writeFiles(t, rows(2, 0))
    val files2 = GraftWrite.writeFiles(t, rows(3, 1))
    val t1 = new Thread(() => Commits.fastAppend(t, files1))
    val t2 = new Thread(() => Commits.fastAppend(t, files2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(t.toDF().count() == 5)
    assert(t.snapshots.size == 2)
  }

  test("commit stress: 8 concurrent writers, 3 commits each, nothing lost") {
    val loc = freshLoc("stress")
    // 8-way contention: a writer can lose many consecutive races, so a
    // high-contention deployment raises the retry property (the documented
    // knob — commitTransaction's default 4 matches the reference's
    // COMMIT_NUM_RETRIES and is sized for light contention)
    val t = GraftTable.create(spark, loc, rows(1).schema,
      properties = Map("commit.retry.num-retries" -> "25"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { w =>
      new Thread(() => {
        try (0 until 3).foreach { i =>
          GraftWrite.append(t, rows(2, 0)
            .withColumn("id", col("id") + lit(w * 1000L + i * 100L)))
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent commit failed: ${errors.peek()}")
    // every append survived (24 commits x 2 rows), snapshots chain linearly
    assert(t.toDF().count() == 48)
    assert(t.snapshots.size == 24)
    val m = t.metadata
    assert(m.ancestors().size == 24, "snapshot chain is not linear")
    val parents = t.snapshots.flatMap(_.parentId)
    assert(parents.distinct.size == parents.size, "two snapshots share a parent")
  }

  test("stats pruning on unpartitioned files (InclusiveMetricsEvaluator)") {
    val loc = freshLoc("stats")
    val t = GraftTable.create(spark, loc, rows(2).schema)
    // two appends → at least 2 files with disjoint id ranges
    GraftWrite.append(t, Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "data", "ts").coalesce(1))
    GraftWrite.append(t, Seq((100L, "b", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("id", "data", "ts").coalesce(1))
    val all = t.newScan().planFiles().tasks.size
    val pruned = t.newScan().filter(Exprs.gt("id", 50L)).planFiles()
    assert(pruned.tasks.size < all)
    assert(t.newScan().filter(Exprs.gt("id", 50L)).toDF().count() == 1)
  }

  test("transaction: multi-op single commit is atomic (BaseTransaction)") {
    val loc = freshLoc("txn")
    val t = GraftTable.create(spark, loc, rows(4).schema, _.day("ts"))
    GraftWrite.append(t, rows(4, 0).coalesce(1))
    val before = t.ops.currentVersion()
    GraftTransaction.begin(t)
      .appendData(rows(4, 1).coalesce(1))
      .deleteByFilter(Exprs.lt("ts", "2024-01-02"))
      .commit()
    // exactly one metadata version published for two snapshots
    assert(t.ops.currentVersion() == before + 1)
    assert(t.snapshots.size == 3)
    assert(t.toDF().count() == 4)
    assert(t.toDF().select("id").as[Long].collect().min == 1000L)
  }

  test("write.sort-order clusters rows so range splits prune (SortOrder contract)") {
    val loc = freshLoc("sort")
    val df = spark.range(1000).selectExpr("id", "concat('d', id) as data",
      "timestamp'2024-01-01 00:00:00' as ts")
    val t = GraftTable.create(spark, loc, df.schema,
      properties = Map(SortOrders.PropertyKey -> "id desc"))
    GraftWrite.append(t, df.repartition(2))
    // rows within each file must be descending by id
    val files = t.newScan().planFiles().tasks.map(_.file.path)
    files.foreach { p =>
      val ids = spark.read.parquet(p).select("id").collect().map(_.getLong(0))
      assert(ids.zip(ids.drop(1)).forall { case (a, b) => a >= b }, s"unsorted: $p")
    }
  }

  test("merge append compacts manifests past min-count") {
    val loc = freshLoc("merge")
    val t = GraftTable.create(spark, loc, rows(1).schema,
      properties = Map(Commits.ManifestMinMergeCount -> "3"))
    (0 until 5).foreach(i => GraftWrite.append(t, rows(1, i)))
    assert(t.toDF().count() == 5)
    val manifests = t.newScan().planFiles().manifestsTotal
    assert(manifests <= 3, s"expected merged manifests, got $manifests")
  }
}
