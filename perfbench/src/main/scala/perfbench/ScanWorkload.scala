package perfbench

import graft.format.{Commits, Exprs, GraftTable, GraftWrite}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.{Instant, LocalDate}

/** `scan`: a seeded stream of SQL reads through graft's catalog, the
  * interactive-analytics traffic, plus one library plan
  * (`GraftTable.load` + `planFiles`) per cycle. The tables have TPC-H
  * sf0.1's row counts. lineitem is partitioned by days(l_shipdate) and
  * appended over Days / DaysPerCommit commits, so a plan reads tens of
  * manifests; events is partitioned by days(ts) and bucket(8, user_id).
  * The whole table metadata fits graft's manifest cache, so planning runs
  * hot. Answers are checked against the plain parquet inputs, read back
  * with `spark.read.parquet` and aggregated without graft. */
final class ScanWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import ScanWorkload._

  private val baseDay = LocalDate.of(1995, 1, 1).toEpochDay.toInt
  private val baseMicros = baseDay.toLong * 86400L * 1000000L

  private var inputs = ""
  private var setups = 0
  private var cat = ""
  private var tables = ""
  /** (snapshot id, first lineitem day NOT yet visible in it) per commit. */
  private var snaps = Vector.empty[(Long, Int)]
  private var ref: Oracle = _

  /** A uniform draw in [0, n) for the row `id`, a pure function of the
    * seed, the column `k` and the row, so the data never depends on how
    * Spark partitions the range. */
  private def draw(id: Column, k: Int, n: Long): Column = pmod(xxhash64(lit(seed), lit(k), id), lit(n))
  private def pick(id: Column, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (draw(id, k, xs.size.toLong) + 1).cast(IntegerType))
  private def cents(c: Column, t: DecimalType): Column = (c.cast(DecimalType(18, 0)) / 100).cast(t)

  /** Writes the parquet inputs the tables are built from and the oracle
    * reads. Rows follow TPC-H's value ranges (spec 4.2.3); ship dates
    * are spread over Days days in the order the rows are appended. */
  override def makeInputs(dir: String): Unit = {
    inputs = dir
    val id = col("id")
    val qty = draw(id, 3, 50) + 1
    val part = draw(id, 2, Parts) + 1
    // P_RETAILPRICE in cents: 90000 + ((partkey / 10) mod 20001) + 100 * (partkey mod 1000)
    val retail = lit(90000L) + pmod(part.divide(10).cast(LongType), lit(20001L)) + pmod(part, lit(1000L)) * 100
    spark.range(LineRows).select(
      (draw(id, 1, OrderRows) + 1).as("l_orderkey"), part.as("l_partkey"),
      qty.cast(IntegerType).as("l_quantity"), cents(qty * retail, DecimalType(12, 2)).as("l_extendedprice"),
      cents(draw(id, 4, 11), DecimalType(4, 2)).as("l_discount"), pick(id, 5, Flags).as("l_returnflag"),
      date_add(lit(LocalDate.ofEpochDay(baseDay)), (id * Days / LineRows).cast(IntegerType)).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem")
    // O_CUSTKEY: customers whose key is a multiple of three have no orders
    val c = draw(id, 11, Customers * 2 / 3)
    spark.range(1, OrderRows + 1).select(id.as("o_orderkey"),
      ((c / 2).cast(LongType) * 3 + pmod(c, lit(2L)) + 1).as("o_custkey"),
      pick(id, 12, Priorities).as("o_orderpriority"),
      cents(draw(id, 13, 50000000L) + 1000, DecimalType(12, 2)).as("o_totalprice"),
      date_add(lit(LocalDate.ofEpochDay(baseDay)), draw(id, 14, Days).cast(IntegerType)).as("o_orderdate"))
      .write.parquet(s"$dir/orders")
    // events arrive in time order, one every EventStepMicros on average
    spark.range(EventRows).select(
      timestamp_micros(lit(baseMicros) + id * EventStepMicros + draw(id, 21, EventStepMicros)).as("ts"),
      (draw(id, 22, Users) + 1).as("user_id"), pick(id, 23, EventKinds).as("kind"),
      draw(id, 24, 1000).cast(IntegerType).as("value"))
      .write.parquet(s"$dir/events")
  }

  def setup(dir: String): Unit = {
    setups += 1
    cat = Common.catalog(spark, s"scan$setups", s"$dir/tables")
    tables = s"$dir/tables/db"
    val li = GraftTable.create(spark, s"$tables/lineitem", LineSchema, _.day("l_shipdate"))
    val liFiles = GraftWrite.writeFiles(li, spark.read.parquet(s"$inputs/lineitem"))
    snaps = liFiles.groupBy(f => (f.partition("l_shipdate_day").asInstanceOf[Int] - baseDay) / DaysPerCommit)
      .toSeq.sortBy(_._1).map { case (g, fs) =>
        Commits.fastAppend(li, fs)
        (li.currentSnapshot.get.snapshotId, (g + 1) * DaysPerCommit)
      }.toVector
    GraftWrite.append(GraftTable.create(spark, s"$tables/orders", OrderSchema),
      spark.read.parquet(s"$inputs/orders"))
    val ev = GraftTable.create(spark, s"$tables/events", EventSchema, _.day("ts").bucket("user_id", 8))
    GraftWrite.append(ev, spark.read.parquet(s"$inputs/events"))
  }

  def cycle: Int = Kinds.size
  /** After two cycles of warm-up, the next three still ran about 7 %
    * slower than the rest in half the runs; a cycle takes about 1 s. */
  override def warmupCycles: Int = 4

  def kindOf(i: Int): String = Common.cycleOrder(seed, i / Kinds.size, Kinds)(i % Kinds.size)

  private def day(d: Int): String = s"DATE '${LocalDate.ofEpochDay(baseDay + d)}'"
  private def instant(hour: Int): Instant = Instant.ofEpochSecond(baseMicros / 1000000L + hour * 3600L)
  private def timestamp(hour: Int): String =
    s"TIMESTAMP '${java.time.LocalDateTime.ofInstant(instant(hour), java.time.ZoneOffset.UTC).toString.replace('T', ' ')}'"

  /** SQL through the catalog; traced runs also count the metadata the
    * catalog loads for each table the query names. */
  private def sql(t: Clock, q: String, names: String*): Seq[String] = {
    if (tr.on) names.foreach(n => tr.add("format.metadata.bytes", Common.metadataBytes(s"$tables/$n").toDouble))
    Common.query(t, spark, q)
  }

  def op(i: Int): Clock => (() => Option[String]) = {
    val r = Common.rng(seed, Common.OpStream, i)
    val li = s"$cat.db.lineitem"
    val o = oracle()
    kindOf(i) match {
      case "range" =>
        val d1 = r.nextInt(Days - 8); val d2 = d1 + 1 + r.nextInt(6)
        val want = o.range(d1, d2)
        t => {
          val got = sql(t, s"SELECT l_returnflag, count(*), sum(l_quantity), " +
            s"sum(l_extendedprice) FROM $li WHERE l_shipdate BETWEEN ${day(d1)} AND ${day(d2)} " +
            "GROUP BY l_returnflag", "lineitem")
          () => Common.same("range", got, want)
        }
      case "full" =>
        val disc = 1 + r.nextInt(9)
        val want = o.full(disc)
        t => {
          val got = sql(t, "SELECT count(*), sum(l_extendedprice), sum(l_quantity) " +
            s"FROM $li WHERE l_discount >= ${disc / 100.0}", "lineitem")
          () => Common.same("full", got, want)
        }
      case "meta" =>
        t => {
          val got = sql(t, s"SELECT count(*), min(l_shipdate), max(l_shipdate) FROM $li", "lineitem")
          () => Common.same("meta", got, o.meta)
        }
      case "travel" =>
        val (snap, cutoff) = snaps(r.nextInt(snaps.size - 1))
        val want = o.travel(cutoff)
        t => {
          val got = sql(t, s"SELECT count(*), sum(l_quantity) FROM $li VERSION AS OF $snap", "lineitem")
          () => Common.same(s"travel@$snap", got, want)
        }
      case "join" =>
        val d1 = r.nextInt(Days - 12); val d2 = d1 + 3 + r.nextInt(8)
        val want = o.join(d1, d2)
        t => {
          val got = sql(t, s"SELECT o_orderpriority, count(*), sum(l_extendedprice) " +
            s"FROM $li JOIN $cat.db.orders ON l_orderkey = o_orderkey " +
            s"WHERE l_shipdate BETWEEN ${day(d1)} AND ${day(d2)} GROUP BY o_orderpriority",
            "lineitem", "orders")
          () => Common.same("join", got, want)
        }
      case "point" =>
        val u = 1L + r.nextInt(Users)
        val h1 = r.nextInt((EventDays - 1) * 24); val h2 = h1 + 12 + r.nextInt(12)
        val want = o.point(u, h1, h2)
        t => {
          val got = sql(t, s"SELECT count(*), sum(value) FROM $cat.db.events " +
            s"WHERE user_id = $u AND ts >= ${timestamp(h1)} AND ts < ${timestamp(h2)}", "events")
          () => Common.same("point", got, want)
        }
      case "plan" =>
        // library planning on the same table: load, then planFiles
        val d1 = r.nextInt(Days - 8); val d2 = d1 + 1 + r.nextInt(6)
        val want = o.rowsBetween(d1, d2)
        t => {
          val g = Common.load(t, spark, s"$tables/lineitem")
          val plan = t.span("format.plan")(g.newScan().filter(Exprs.and(
            Exprs.gtEq("l_shipdate", LocalDate.ofEpochDay(baseDay + d1)),
            Exprs.ltEq("l_shipdate", LocalDate.ofEpochDay(baseDay + d2)))).planFiles())
          tr.add("format.plan.delete_files", plan.deleteFiles.size)
          val rows = plan.files.map(_.recordCount).sum
          // every file holds one day, so the planned files hold exactly the window's rows
          () => Common.same("plan", Seq(rows.toString), want)
        }
    }
  }

  /** The expected answers, aggregated once from the parquet inputs. */
  private def oracle(): Oracle = {
    if (ref == null) {
      val li = spark.read.parquet(s"$inputs/lineitem")
        .withColumn("day", datediff(col("l_shipdate"), lit(LocalDate.ofEpochDay(baseDay))))
        .withColumn("cents", (col("l_extendedprice") * 100).cast(LongType))
      val byDayFlag = li.groupBy("day", "l_returnflag")
        .agg(count(lit(1)), sum("l_quantity"), sum("cents")).collect()
        .map(r => (r.getInt(0), r.getString(1)) -> Agg(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val byDisc = li.groupBy((col("l_discount") * 100).cast(IntegerType))
        .agg(count(lit(1)), sum("l_quantity"), sum("cents")).collect()
        .map(r => r.getInt(0) -> Agg(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val byDayPriority = li.join(spark.read.parquet(s"$inputs/orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("day", "o_orderpriority").agg(count(lit(1)), sum("l_quantity"), sum("cents")).collect()
        .map(r => (r.getInt(0), r.getString(1)) -> Agg(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val ev = spark.read.parquet(s"$inputs/events")
        .select(unix_micros(col("ts")) - baseMicros, col("user_id"), col("value")).collect()
      ref = new Oracle(byDayFlag, byDisc, byDayPriority,
        ev.map(_.getLong(0)), ev.map(_.getLong(1)), ev.map(_.getInt(2).toLong), baseDay)
    }
    ref
  }
}

object ScanWorkload {
  /** TPC-H sf0.1 cardinalities (spec 4.2.5): LINEITEM ~ SF x 6,000,000,
    * ORDERS SF x 1,500,000, CUSTOMER SF x 150,000, PART SF x 200,000. */
  val LineRows = 600000L
  val OrderRows = 150000L
  val Customers = 15000L
  val Parts = 20000L
  val Days = 48
  val DaysPerCommit = 2
  /** The sf0.1 events table: 100,000 events from 1,500 users over 30 days. */
  val EventRows = 100000L
  val EventDays = 30
  val Users = 1500
  val EventStepMicros: Long = EventDays * 86400L * 1000000L / EventRows
  val Kinds: Vector[String] = Vector("range", "full", "meta", "travel", "join", "point", "plan")
  val Flags: Vector[String] = Vector("A", "N", "R")
  val Priorities: Vector[String] = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventKinds: Vector[String] = Vector("view", "click", "buy")

  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_quantity", IntegerType), StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(4, 2)), StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType)))
  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderpriority", StringType), StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType)))
  val EventSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("kind", StringType), StructField("value", IntegerType)))

  /** Row count, quantity and price (in cents) of a group of lineitems. */
  final case class Agg(n: Long, qty: Long, cents: Long) {
    def +(o: Agg): Agg = Agg(n + o.n, qty + o.qty, cents + o.cents)
  }
  private val Zero = Agg(0, 0, 0)

  /** The expected answers, from aggregates of the parquet inputs that
    * Spark computed without graft: per (day, return flag), per discount,
    * per (day, order priority) of the join, and the raw events. */
  final class Oracle(byDayFlag: Map[(Int, String), Agg], byDisc: Map[Int, Agg],
      byDayPriority: Map[(Int, String), Agg],
      evMicros: Array[Long], evUser: Array[Long], evValue: Array[Long], baseDay: Int) {
    private def days(m: Map[(Int, String), Agg], p: Int => Boolean): Map[String, Agg] =
      m.toSeq.filter { case ((d, _), _) => p(d) }.groupMapReduce(_._1._2)(_._2)(_ + _)
    private def sumOrNull(n: Long, s: String): String = if (n == 0) "null" else s

    def range(d1: Int, d2: Int): Seq[String] =
      days(byDayFlag, d => d >= d1 && d <= d2).toSeq.map { case (f, a) =>
        s"$f|${a.n}|${a.qty}|${Common.money(a.cents)}"
      }.sorted
    def full(disc: Int): Seq[String] = {
      val a = byDisc.filter(_._1 >= disc).values.foldLeft(Zero)(_ + _)
      Seq(s"${a.n}|${sumOrNull(a.n, Common.money(a.cents))}|${sumOrNull(a.n, a.qty.toString)}")
    }
    val meta: Seq[String] = {
      val ds = byDayFlag.keys.map(_._1)
      Seq(s"${byDayFlag.values.map(_.n).sum}|${LocalDate.ofEpochDay(baseDay + ds.min)}|" +
        s"${LocalDate.ofEpochDay(baseDay + ds.max)}")
    }
    def rowsBetween(d1: Int, d2: Int): Seq[String] =
      Seq(days(byDayFlag, d => d >= d1 && d <= d2).values.map(_.n).sum.toString)
    def travel(cutoff: Int): Seq[String] = {
      val a = days(byDayFlag, _ < cutoff).values.foldLeft(Zero)(_ + _)
      Seq(s"${a.n}|${sumOrNull(a.n, a.qty.toString)}")
    }
    def join(d1: Int, d2: Int): Seq[String] =
      days(byDayPriority, d => d >= d1 && d <= d2).toSeq.map { case (p, a) =>
        s"$p|${a.n}|${Common.money(a.cents)}"
      }.sorted
    /** Events of user `u` in hours [h1, h2) after the base day. */
    def point(u: Long, h1: Int, h2: Int): Seq[String] = {
      val (from, until) = (h1 * 3600L * 1000000L, h2 * 3600L * 1000000L)
      var n = 0L; var s = 0L; var i = 0
      while (i < evUser.length) {
        if (evUser(i) == u && evMicros(i) >= from && evMicros(i) < until) { n += 1; s += evValue(i) }
        i += 1
      }
      Seq(s"$n|${sumOrNull(n, s.toString)}")
    }
  }
}
