package graft.format

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** orc-core's DoubleTreeReader/FloatTreeReader run a per-batch
  * repeated-value detection with Java `==` (verified against the installed
  * orc-core 2.2.2 bytecode): every value is stored into the vector, then
  * `isRepeating` is set when all values compare equal — and `0.0 == -0.0`
  * is true, so a batch holding only zeros of MIXED sign collapses to the
  * first zero's sign in every Java consumer of the flag (the mapred row
  * materializer and Spark's own vectorized OrcColumnVector; plain
  * `spark.read.orc` exhibits the bug, ORC C++ does not — the file bytes
  * are correct). Round-20 workload-fuzz seed 149: a z-order compaction of
  * a merge-on-read ORC table read `-0.0` as `+0.0` and MATERIALIZED the
  * flip into the rewritten file.
  *
  * Graft's mitigation: OrcIO wraps the orc-core RecordReader with
  * ZeroSignScrubReader (clears the misfired flag — the true values are
  * still in the vector), and every graft read of an ORC double/float
  * column routes through that row path (the DSv2 batch scan — library
  * reads included — and the streaming source). Scans projecting no
  * floating-point leaf keep Spark's vectorized OrcScan. */
class OrcZeroSignSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private val NegZero = bits(-0.0)
  private val PosZero = bits(0.0)

  private def roundTrip(vals: Seq[Option[Double]]): Seq[Option[Long]] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = StructType(Seq(StructField("v", DoubleType, nullable = true)))
    val p = Files.createTempDirectory("graft-ozs").toString + "/t.orc"
    val w = OrcIO.openWriter(p, schema, conf)
    vals.foreach(v => w.write(InternalRow(v.map(Double.box).orNull)))
    w.close()
    val it = OrcIO.open(p, schema, conf)
    val out = Seq.newBuilder[Option[Long]]
    var r = it.read()
    while (r != null) {
      out += (if (r.isNullAt(0)) None else Some(bits(r.getDouble(0))))
      r = it.read()
    }
    it.close()
    out.result()
  }

  test("OrcIO round-trips mixed-sign zero batches bit-exactly") {
    assert(roundTrip(Seq(Some(0.0), Some(-0.0))) ===
      Seq(Some(PosZero), Some(NegZero)))
    assert(roundTrip(Seq(Some(-0.0), Some(0.0))) ===
      Seq(Some(NegZero), Some(PosZero)))
    // nulls interleaved: the scrub must not disturb the null mask
    assert(roundTrip(Seq(None, Some(0.0), Some(-0.0), None)) ===
      Seq(None, Some(PosZero), Some(NegZero), None))
    assert(roundTrip(Seq(Some(0.0), None, Some(-0.0))) ===
      Seq(Some(PosZero), None, Some(NegZero)))
    // genuinely repeating batches stay correct with the flag cleared
    assert(roundTrip(Seq(Some(0.0), Some(0.0), Some(0.0))) ===
      Seq.fill(3)(Some(PosZero)))
    assert(roundTrip(Seq.fill(5)(None)) === Seq.fill(5)(Option.empty[Long]))
    // larger than one read batch (1024): every batch all-zeros mixed-sign
    val big = (0 until 3000).map(i => Some(if (i % 2 == 0) 0.0 else -0.0))
    assert(roundTrip(big) ===
      (0 until 3000).map(i => Some(if (i % 2 == 0) PosZero else NegZero)))
    // NaN and ordinary values: detection loop already non-repeating
    assert(roundTrip(Seq(Some(Double.NaN), Some(0.0), Some(-0.0))) ===
      Seq(Some(bits(Double.NaN)), Some(PosZero), Some(NegZero)))
  }

  test("OrcIO round-trips random hostile double columns bit-exactly (property)") {
    // seeded property over the hostile pool: any mixture of ±0.0, NaN,
    // ±Inf, subnormals, normals and NULLs, at any length (including
    // multi-batch), must round-trip with exact bit patterns — the scrub
    // must never fire on a batch whose values it cannot restore
    val rng = new scala.util.Random(20260817L)
    val pool: Array[Double] = Array(0.0, -0.0, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE,
      1.5, -1.5, 1e300, -1e300)
    (1 to 60).foreach { i =>
      val n = rng.nextInt(if (i % 10 == 0) 2600 else 40)
      // bias some runs to all-zero columns (the hazard shape)
      val zeroOnly = rng.nextBoolean()
      val vals: Seq[Option[Double]] = Seq.fill(n) {
        if (rng.nextInt(8) == 0) None
        else if (zeroOnly) Some(if (rng.nextBoolean()) 0.0 else -0.0)
        else Some(pool(rng.nextInt(pool.length)))
      }
      val got = roundTrip(vals)
      val want = vals.map(_.map(bits))
      assert(got === want, s"iteration $i (n=$n zeroOnly=$zeroOnly)")
    }
  }

  test("OrcIO round-trips float and nested double mixed zeros") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = StructType(Seq(
      StructField("f", FloatType, nullable = true),
      StructField("s", StructType(Seq(
        StructField("d", DoubleType, nullable = true))), nullable = true),
      StructField("a", ArrayType(DoubleType, containsNull = true),
        nullable = true)))
    val p = Files.createTempDirectory("graft-ozs2").toString + "/t.orc"
    val w = OrcIO.openWriter(p, schema, conf)
    def arr(vs: Double*) =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.toArray)
    w.write(InternalRow(0.0f, InternalRow(0.0), arr(0.0, -0.0)))
    w.write(InternalRow(-0.0f, InternalRow(-0.0), arr(-0.0, 0.0)))
    w.close()
    val it = OrcIO.open(p, schema, conf)
    val r1 = it.read().copy(); val r2 = it.read().copy()
    assert(it.read() == null); it.close()
    def fbits(f: Float) = java.lang.Float.floatToRawIntBits(f)
    assert(fbits(r1.getFloat(0)) === fbits(0.0f))
    assert(fbits(r2.getFloat(0)) === fbits(-0.0f))
    assert(bits(r1.getStruct(1, 1).getDouble(0)) === PosZero)
    assert(bits(r2.getStruct(1, 1).getDouble(0)) === NegZero)
    assert(r1.getArray(2).toDoubleArray().map(bits).toSeq ===
      Seq(PosZero, NegZero))
    assert(r2.getArray(2).toDoubleArray().map(bits).toSeq ===
      Seq(NegZero, PosZero))
  }

  test("DSv2 ORC scan and z-order compaction preserve mixed-sign zeros") {
    val wh = Files.createTempDirectory("graft-ozswh").toString
    spark.conf.set("spark.sql.catalog.oz", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.oz.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS oz.db")
    spark.sql("""CREATE TABLE oz.db.t (id BIGINT, cat STRING, v DOUBLE)
                 TBLPROPERTIES ('write.format.default'='orc',
                   'write.delete.mode'='merge-on-read')""")
    // one file whose v column is exactly {+0.0, -0.0}: the seed-149 shape
    spark.sql("""INSERT INTO oz.db.t VALUES
      (1, 'a', CAST('0.0' AS DOUBLE)), (2, 'a', CAST('-0.0' AS DOUBLE))""")
    spark.sql("INSERT INTO oz.db.t VALUES (3, 'b', CAST('-0.0' AS DOUBLE))")
    def scanBits(): Map[Long, Long] =
      spark.sql("SELECT id, v FROM oz.db.t").collect()
        .map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
    val expect = Map(1L -> PosZero, 2L -> NegZero, 3L -> NegZero)
    assert(scanBits() === expect, "DSv2 scan must not collapse zero signs")
    // MoR delete (live position deletes force the row path anyway) then a
    // z-order rewrite: the compaction reader feeds the fanout writer — a
    // collapsed read here becomes PERMANENT
    spark.sql("INSERT INTO oz.db.t VALUES (4, 'c', 1.5)")
    spark.sql("DELETE FROM oz.db.t WHERE id = 4")
    val t = GraftTable.load(spark, s"$wh/db/t")
    val res = Actions.forTable(t).rewriteZOrdered(Seq("id", "cat"))
    assert(res.rewrittenFiles >= 2)
    assert(scanBits() === expect, "compaction must not materialize the flip")
    // library scan path agrees
    val lib = GraftTable.load(spark, s"$wh/db/t").newScan().toDF()
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
    assert(lib === expect)
  }

  test("ORC -0.0 footer bounds must not prune +0.0 point predicates") {
    // the parquet twin lives in TableFormatSpec; ORC bounds come from
    // DoubleColumnStatistics instead of parquet footers, so pin the lane
    val loc = Files.createTempDirectory("graft-ozsb").toString + "/t"
    val df = {
      import spark.implicits._
      Seq(-5.0, -0.0).toDF("d")
    }
    val t = GraftTable.create(spark, loc, df.schema,
      properties = Map("write.format.default" -> "orc"))
    GraftWrite.append(t, df.coalesce(1))
    assert(t.newScan().filter(Exprs.equal("d", 0.0)).toDF().count() === 1L,
      "d = 0.0 must find the -0.0 row (IEEE equal)")
    assert(t.newScan().filter(Exprs.ltEq("d", 0.0)).toDF().count() === 2L)
  }

  test("streaming ORC source preserves mixed-sign zeros") {
    val wh = Files.createTempDirectory("graft-ozstwh").toString
    spark.conf.set("spark.sql.catalog.ozs", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ozs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ozs.db")
    spark.sql("""CREATE TABLE ozs.db.t (id BIGINT, v DOUBLE)
                 TBLPROPERTIES ('write.format.default'='orc')""")
    spark.sql("""INSERT INTO ozs.db.t VALUES
      (1, CAST('0.0' AS DOUBLE)), (2, CAST('-0.0' AS DOUBLE))""")
    val ckpt = Files.createTempDirectory("graft-ozs-ckpt").toString
    val q = spark.readStream.table("ozs.db.t").writeStream
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ozs_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT id, v FROM ozs_mem").collect()
      .map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
    assert(got === Map(1L -> PosZero, 2L -> NegZero))
  }
}
