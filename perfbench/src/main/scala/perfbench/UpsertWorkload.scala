package perfbench

import graft.format.{Actions, Commits, DataFile, Deletes, GraftTable, GraftWrite}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `upsert`: a merge-on-read orders table under a seeded DML stream. The
  * table starts with TPC-H sf0.1's 150,000 orders. Each cycle runs one of
  * each of: a batch append (`GraftWrite.writeFiles` +
  * `Commits.mergeAppend`), a SQL MERGE upsert, an equality delete
  * (`Deletes.stageEqualityDeletes` + `Commits.rowDelta`) and a SQL
  * DELETE WHERE, in that order, then one maintenance step (compaction
  * of data, position and equality deletes, then snapshot expiry). Every op
  * ends with a verifying read, checked against the benchmark's own
  * key -> row model. Reads stay small, so writes and delete application
  * dominate. */
final class UpsertWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import UpsertWorkload._

  private var input = ""
  private var setups = 0
  private var table = ""
  private var loc = ""
  private val model = new Model
  /** Every file seen under the table, with its size; and the ones set-up made. */
  private val written = mutable.HashMap.empty[String, Long]
  private var setupFiles = Set.empty[String]
  private var ingested = 0L
  /** Live data files before a traced maintenance step, to count what it rewrote. */
  private var liveBefore = Map.empty[String, Long]

  /** Writes the initial orders as parquet: O_CUSTKEY as in TPC-H (spec
    * 4.2.3: customers whose key is a multiple of three have no orders). */
  override def makeInputs(dir: String): Unit = {
    input = s"$dir/orders"
    val rng = Common.rng(seed, Common.DataStream)
    model.clear()
    (0 until InitRows).foreach(_ => newOrder(rng))
    val (cust, price) = model.snapshot()
    import spark.implicits._
    spark.range(InitRows).map(i => (i + 1, cust(i.toInt), price(i.toInt), 1L))
      .toDF(Schema.fieldNames.toIndexedSeq: _*).write.parquet(input)
  }

  def setup(dir: String): Unit = {
    setups += 1
    val cat = Common.catalog(spark, s"upsert$setups", s"$dir/tables")
    table = s"$cat.db.orders"
    loc = s"$dir/tables/db/orders"
    model.restore()
    written.clear(); ingested = 0L
    spark.sql(s"CREATE TABLE $table (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_totalprice BIGINT, o_version BIGINT) PARTITIONED BY (bucket(8, o_orderkey)) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
    GraftWrite.append(GraftTable.load(spark, loc), spark.read.parquet(input))
    Common.files(loc).foreach(f => written(f.getPath) = f.length)
    setupFiles = written.keySet.toSet
  }

  private def newOrder(rng: java.util.Random): Row = {
    val c = rng.nextInt(Customers * 2 / 3)
    val cust = c / 2 * 3 + c % 2 + 1L
    val price = 100L + rng.nextInt(1000000)
    Row(model.insert(cust, price), cust, price, 1L)
  }

  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, Schema)

  def cycle: Int = Cycle.size + 1
  override def warmupCycles: Int = 2

  /** The order is fixed: each kind then meets the same table state (how
    * far from the last maintenance it runs) whatever the seed. */
  def kindOf(i: Int): String = (Cycle :+ "maint")(i % cycle)

  override def untimedKinds: Set[String] = Set("maint")

  private def load(t: Clock): GraftTable = Common.load(t, spark, loc)

  /** A commit through the library; a commit that throws is counted. */
  private def commit[A](t: Clock)(body: => A): A =
    try t.span("format.commit")(body)
    catch { case e: Exception => tr.add("format.commit.failures", 1); throw e }

  private def write(t: Clock, g: GraftTable, rows: DataFrame): Seq[DataFile] = {
    val files = t.span("format.write")(GraftWrite.writeFiles(g, rows))
    tr.add("format.write.files", files.size)
    tr.add("format.write.bytes", files.map(_.fileSizeInBytes).sum.toDouble)
    files
  }

  /** Draws the op's input and applies it to the model, then returns the
    * op: the statement, then the verifying read, checked against the
    * model's totals. */
  def op(i: Int): Clock => (() => Option[String]) = {
    val rng = Common.rng(seed, Common.OpStream, i)
    val kind = kindOf(i)
    val body: Clock => Unit = kind match {
      case "append" =>
        val rows = frame((0 until AppendRows).map(_ => newOrder(rng)))
        ingested += AppendRows * RowBytes
        t => {
          val g = load(t)
          val files = write(t, g, rows)
          commit(t)(Commits.mergeAppend(g, files))
        }
      case "merge" =>
        val updates = (0 until MergeRows / 2).map(_ => model.pick(rng)).distinct.map { k =>
          val price = 100L + rng.nextInt(1000000)
          model.update(k, price)
          Row(k, model.custOf(k), price, 0L)
        }
        val src = updates ++ (0 until MergeRows / 2).map(_ => newOrder(rng))
        frame(src).createOrReplaceTempView("upsert_src")
        ingested += src.size * RowBytes
        t => t.span("connector.merge")(spark.sql(s"MERGE INTO $table t USING upsert_src s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, o_version = t.o_version + 1 " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice, o_version) " +
          "VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice, s.o_version)"))
      case "eqdelete" =>
        val victims = (0 until EqDeleteKeys).map(_ => model.pick(rng)).distinct
        victims.foreach(model.remove)
        val keys = frame(victims.map(k => Row(k, 0L, 0L, 0L))).select("o_orderkey")
        ingested += victims.size * 8L
        t => {
          val g = load(t)
          val staged = t.span("format.deletes.stage")(Deletes.stageEqualityDeletes(g, keys))
          commit(t)(Commits.rowDelta(g, Nil, staged))
        }
      case "delete" =>
        val cust = model.custOf(model.pick(rng))
        model.keysOf(cust).foreach(model.remove)
        ingested += 8L
        t => t.span("connector.delete")(spark.sql(s"DELETE FROM $table WHERE o_custkey = $cust"))
      case "maint" =>
        if (tr.on) liveBefore = liveDataFiles()
        maintain
    }
    val want = Seq(model.answer)
    t => {
      t.lap(if (kind == "maint") "maint" else "dml")(body(t))
      val got = t.lap("read")(t.span("connector.read")(Common.query(t, spark,
        s"SELECT count(*), sum(o_totalprice), sum(o_version) FROM $table")))
      () => Common.same(s"$kind read", got, want)
    }
  }

  private def maintain(t: Clock): Unit = {
    val actions = Actions.forTable(load(t))
    val data = t.span("format.actions.rewrite_data")(
      actions.rewriteDataFiles(targetSizeBytes = 8L << 20, minInputFiles = 2))
    val pos = t.span("format.actions.rewrite_deletes")(actions.rewritePositionDeletes())
    val eq = t.span("format.actions.rewrite_deletes")(actions.rewriteEqualityDeletes())
    tr.add("format.actions.files_rewritten", (data.rewrittenFiles + pos.rewrittenFiles + eq.rewrittenFiles).toDouble)
    val expired = t.span("format.actions.expire")(
      actions.expireSnapshots(System.currentTimeMillis(), retainLast = 1))
    tr.add("format.actions.files_deleted", expired.deletedFiles)
  }

  private def liveDataFiles(): Map[String, Long] =
    GraftTable.load(spark, loc).newScan().planFiles().files.map(f => f.path -> f.fileSizeInBytes).toMap

  /** Records every file the op left under the table, for write_amp (files
    * that a later expiry deletes still count) and, in traced runs, the
    * metadata the op's commits wrote and the data its compaction rewrote. */
  override def afterOp(i: Int): Unit = {
    val now = Common.files(loc)
    tr.addBetweenOps("format.commit.metadata_bytes", now.filter(f =>
      f.getPath.startsWith(s"$loc/metadata/") && !written.contains(f.getPath)).map(_.length).sum.toDouble)
    now.foreach(f => written(f.getPath) = f.length)
    if (tr.on && kindOf(i) == "maint") {
      val after = liveDataFiles()
      tr.addBetweenOps("format.actions.bytes_rewritten",
        liveBefore.filterNot(f => after.contains(f._1)).values.sum.toDouble)
    }
  }

  override def sampleLayers(): Unit = {
    val dels = GraftTable.load(spark, loc).newScan().planFiles().deleteFiles
      .map(_._1).distinctBy(_.path)
    tr.gauge("format.deletes.live_delete_files", dels.size)
    tr.gauge("format.deletes.live_delete_bytes", dels.map(_.fileSizeInBytes).sum.toDouble)
  }

  override def extraMetrics(samples: Seq[Sample], windowSecs: Double): Seq[Metric] = {
    val live = liveDataFiles().values.sum
    def p50(phase: String) = Sample.median(samples.flatMap(s =>
      if (s.kind == "maint") None else s.phases.get(phase)))
    Seq(
      Metric("dml_p50_ms", p50("dml"), "ms"),
      Metric("read_p50_ms", p50("read"), "ms"),
      Metric("maint_s", Sample.median(samples.flatMap(_.phases.get("maint"))) / 1000.0, "s"),
      Metric("write_amp", written.filterNot(f => setupFiles.contains(f._1)).values.sum.toDouble /
        math.max(1L, ingested), "ratio"),
      Metric("space_amp", Common.files(loc).map(_.length).sum.toDouble / math.max(1L, live), "ratio"))
  }
}

object UpsertWorkload {
  /** TPC-H sf0.1: ORDERS holds SF x 1,500,000 rows and CUSTOMER SF x
    * 150,000; the refresh functions RF1 and RF2 insert and delete
    * SF x 1,500 orders each (spec 2.5, 4.2.5). */
  val InitRows = 150000
  val Customers = 15000
  val AppendRows = 150
  val EqDeleteKeys = 150
  /** Half updates of live orders, half new ones. */
  val MergeRows = 150
  /** Logical size of one row as the user sends it: four BIGINTs. */
  val RowBytes = 32L
  val Cycle: Vector[String] = Vector("append", "merge", "eqdelete", "delete")

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", LongType), StructField("o_version", LongType)))

  /** The benchmark's model of the table: each key's customer, price and
    * version in flat arrays (keys are 1, 2, ...), the live keys, and the
    * totals the verifying read must return. */
  final class Model {
    private var cust = new Array[Long](1 << 18)
    private var price = new Array[Long](1 << 18)
    private var version = new Array[Long](1 << 18)
    /** Position of each key in `live`, or -1 once deleted. */
    private var at = new Array[Int](1 << 18)
    private var live = new Array[Long](1 << 18)
    private var size = 0
    private var liveCount = 0
    private var sumPrice = 0L
    private var sumVersion = 0L
    private var saved: (Array[Long], Array[Long]) = _

    def clear(): Unit = { size = 0; liveCount = 0; sumPrice = 0L; sumVersion = 0L }
    /** Saves the rows inserted so far, all live at version 1, for
      * `restore`, and returns their customers and prices. */
    def snapshot(): (Array[Long], Array[Long]) = {
      saved = (cust.take(size), price.take(size))
      saved
    }
    def restore(): Unit = {
      clear()
      val (c, p) = saved
      c.indices.foreach(j => insert(c(j), p(j)))
    }
    def insert(c: Long, p: Long): Long = {
      if (size == cust.length) {
        cust = java.util.Arrays.copyOf(cust, size * 2)
        price = java.util.Arrays.copyOf(price, size * 2)
        version = java.util.Arrays.copyOf(version, size * 2)
        at = java.util.Arrays.copyOf(at, size * 2)
        live = java.util.Arrays.copyOf(live, size * 2)
      }
      cust(size) = c; price(size) = p; version(size) = 1L
      at(size) = liveCount
      size += 1
      live(liveCount) = size.toLong
      liveCount += 1
      sumPrice += p; sumVersion += 1
      size.toLong
    }
    def custOf(k: Long): Long = cust((k - 1).toInt)
    def pick(rng: java.util.Random): Long = live(rng.nextInt(liveCount))
    def update(k: Long, p: Long): Unit = {
      val j = (k - 1).toInt
      sumPrice += p - price(j); sumVersion += 1
      price(j) = p; version(j) += 1
    }
    def remove(k: Long): Unit = {
      val j = (k - 1).toInt
      if (at(j) >= 0) {
        sumPrice -= price(j); sumVersion -= version(j)
        liveCount -= 1
        val last = live(liveCount)
        live(at(j)) = last
        at((last - 1).toInt) = at(j)
        at(j) = -1
      }
    }
    def keysOf(c: Long): Seq[Long] = (0 until liveCount).map(live(_)).filter(custOf(_) == c)
    /** What `count(*), sum(o_totalprice), sum(o_version)` must return. */
    def answer: String = s"$liveCount|$sumPrice|$sumVersion"
  }
}
