package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.format.{Actions, Deletes, GraftTable, SortOrders}
import graft.util.Murmur3
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.Random

/** Randomized whole-workload metamorphic fuzz.
  *
  * Every targeted spec in this tree pins ONE operator; the bugs the last
  * two rounds' hunts surfaced (column/apply split-brain, comparison-domain
  * disagreement) all lived in the seams BETWEEN operators. This instrument
  * explores the seams directly: a seeded random sequence of SQL DML
  * (INSERT / DELETE / UPDATE / MERGE / static+dynamic INSERT OVERWRITE),
  * schema evolution (RENAME COLUMN — partition sources and the merge key
  * included — ADD COLUMN, DROP COLUMN, re-add after drop), library
  * row-deltas (equality-delete key sets) and maintenance actions
  * (compaction, sorted/z-order rewrite, pos/eq-delete rewrite, manifest
  * rewrite, snapshot expiry, orphan removal) runs against a graft table
  * while a driver-side oracle model applies the same semantics to a plain
  * Vector of rows. After EVERY operation the full scan must equal the
  * model exactly (value-canonical, including double bit patterns, decimal
  * (38,30) text, timestamp micros and binary bytes); a random filtered
  * scan must equal the model's three-valued-logic filter; and periodic
  * VERSION AS OF reads must equal the model's recorded history — each
  * history entry captures the column names and shape AT THAT SNAPSHOT —
  * which snapshot expiry prunes in lockstep with the table's retained set.
  *
  * The table layout, DML mode (copy-on-write vs merge-on-read), file
  * format (parquet / orc) and format VERSION (v2, or v3 from birth with
  * deletion vectors + row lineage; a mid-run op also upgrades v2→v3, so
  * v2-era history must keep reading under upgraded metadata) derive from
  * the seed, so the same op mix crosses unpartitioned, identity, bucket
  * and truncate+bucket specs. Row values
  * draw from a hostile pool: NULLs in every column, empty / astral /
  * U+FFFF strings (codepoint-order territory), ±0.0 / NaN / ±Infinity
  * doubles, full-precision DECIMAL(38,30) edges, pre-epoch timestamps,
  * and empty / 0x00 / 0xFF binary (content-equality territory). ORC seeds
  * treat the documented ORC timestamp-hole rejection
  * (OrcTimestampHoleSpec) as a legal loud failure and assert the failed
  * write left the table untouched.
  *
  * Reference analog: none (the reference tests operators singly too) —
  * this is the round's interleaving-domain agreement instrument.
  */
object WorkloadFuzz {

  // ---- oracle model -------------------------------------------------------

  final case class MRow(
      id: Option[Long],
      cat: Option[String],
      v: Option[Double],
      d: Option[java.math.BigDecimal],
      ts: Option[Long], // epoch micros
      b: Option[Vector[Byte]],
      w: Option[Long] = None) { // late-added column (None until it exists)
    def canon(hasW: Boolean): String = (Seq(
      id.map(_.toString).getOrElse("∅"),
      cat.map("s:" + _).getOrElse("∅"),
      v.map(x => java.lang.Double.doubleToLongBits(x).toString).getOrElse("∅"),
      d.map(_.toPlainString).getOrElse("∅"),
      ts.map(_.toString).getOrElse("∅"),
      b.map(_.map(x => f"${x & 0xff}%02x").mkString).getOrElse("∅")
    ) ++ (if (hasW) Seq(w.map(_.toString).getOrElse("∅")) else Nil))
      .mkString("")
  }

  private def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  // ---- predicates (three-valued, SQL + model agree by construction) -------
  // `sql` takes the logical→current column-name mapping (renames happen
  // mid-workload; the model is keyed by logical names throughout)

  sealed trait Pred { def sql(n: String => String): String; def eval(r: MRow): Option[Boolean] }
  final case class IdBetween(lo: Long, hi: Long) extends Pred {
    def sql(n: String => String) = s"${n("id")} BETWEEN ${lo}L AND ${hi}L"
    def eval(r: MRow) = r.id.map(i => i >= lo && i <= hi)
  }
  final case class IdMod(m: Long, k: Long) extends Pred {
    def sql(n: String => String) = s"${n("id")} % ${m}L = ${k}L"
    def eval(r: MRow) = r.id.map(i => i % m == k)
  }
  final case class CatEq(s: String) extends Pred {
    def sql(n: String => String) = s"${n("cat")} = ${sqlStr(s)}"
    def eval(r: MRow) = r.cat.map(_ == s)
  }
  final case class CatGt(s: String) extends Pred {
    def sql(n: String => String) = s"${n("cat")} > ${sqlStr(s)}"
    def eval(r: MRow) = r.cat.map(c => cmpUtf8(c, s) > 0)
  }
  case object CatNull extends Pred {
    def sql(n: String => String) = s"${n("cat")} IS NULL"
    def eval(r: MRow) = Some(r.cat.isEmpty)
  }
  final case class BEq(bytes: Vector[Byte]) extends Pred {
    def sql(n: String => String) =
      s"${n("b")} = X'${bytes.map(x => f"${x & 0xff}%02x").mkString}'"
    def eval(r: MRow) = r.b.map(_ == bytes)
  }
  final case class DGt(s: String) extends Pred {
    def sql(n: String => String) = s"${n("d")} > CAST('$s' AS DECIMAL(38,30))"
    private val lit = new java.math.BigDecimal(s)
    def eval(r: MRow) = r.d.map(_.compareTo(lit) > 0)
  }
  final case class TsLt(us: Long) extends Pred {
    def sql(n: String => String) = s"${n("ts")} < timestamp_micros(${us}L)"
    def eval(r: MRow) = r.ts.map(_ < us)
  }
  final case class And(a: Pred, b: Pred) extends Pred {
    def sql(n: String => String) = s"(${a.sql(n)}) AND (${b.sql(n)})"
    def eval(r: MRow) = (a.eval(r), b.eval(r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
  }
  final case class Or(a: Pred, b: Pred) extends Pred {
    def sql(n: String => String) = s"(${a.sql(n)}) OR (${b.sql(n)})"
    def eval(r: MRow) = (a.eval(r), b.eval(r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
  }
  final case class Not(a: Pred) extends Pred {
    def sql(n: String => String) = s"NOT (${a.sql(n)})"
    def eval(r: MRow) = a.eval(r).map(!_)
  }

  // ---- value pools + SQL literal rendering ---------------------------------

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  private val catPool = Vector(
    "a", "b", "cc", "", "sp ace", "日本", // 日本
    "😀x", // astral 😀x — UTF-8 vs UTF-16 order disagreement zone
    "￿", "e=;/x", "a'q") // quote needs escaping; =;/ hostile in dirs
  private val dblPool = Vector(0.0, -0.0, 1.5, -2.25, 1.0e300, -1.0e300,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 42.0)
  private val decPool = Vector(
    "0", "1.5", "-7.25",
    "99999999.999999999999999999999999999999", // (38,30) max shape
    "-99999999.999999999999999999999999999999",
    "0.000000000000000000000000000001", "-0.5")
  private val tsPool = Vector(0L, -1L, 1L, -1000000L,
    -2208988800000000L, // 1900-01-01
    1700000000000000L, 4102444800000000L) // 2023, 2100
  private val binPool = Vector(
    Vector.empty[Byte], Vector(0.toByte), Vector(0xff.toByte),
    Vector[Byte](1, 2, 3), Vector[Byte](0, 0, 0, 0), Vector(0x80.toByte),
    Vector.tabulate(16)(i => (i * 17).toByte))

  private def opt[T](rng: Random, p: Double)(gen: => T): Option[T] =
    if (rng.nextDouble() < p) Some(gen) else None

  private def genId(rng: Random): Long =
    if (rng.nextInt(12) == 0) 1234567890123L + rng.nextInt(3)
    else rng.nextInt(60).toLong

  def genRow(rng: Random): MRow = MRow(
    id = opt(rng, 0.92)(genId(rng)),
    cat = opt(rng, 0.88)(catPool(rng.nextInt(catPool.size))),
    v = opt(rng, 0.85)(dblPool(rng.nextInt(dblPool.size))),
    d = opt(rng, 0.85)(new java.math.BigDecimal(decPool(rng.nextInt(decPool.size)))
      .setScale(30)),
    ts = opt(rng, 0.85)(tsPool(rng.nextInt(tsPool.size))),
    b = opt(rng, 0.85)(binPool(rng.nextInt(binPool.size))),
    w = opt(rng, 0.8)(rng.nextInt(100).toLong))

  private def litId(v: Option[Long]) =
    v.map(x => s"${x}L").getOrElse("CAST(NULL AS BIGINT)")
  private def litW(v: Option[Long], int: Boolean) =
    if (int) v.map(x => s"CAST($x AS INT)").getOrElse("CAST(NULL AS INT)")
    else litId(v)
  private def litCat(v: Option[String]) =
    v.map(sqlStr).getOrElse("CAST(NULL AS STRING)")
  private def litV(v: Option[Double]) =
    v.map(x => s"CAST('${x.toString}' AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
  private def litD(v: Option[java.math.BigDecimal]) =
    v.map(x => s"CAST('${x.toPlainString}' AS DECIMAL(38,30))")
      .getOrElse("CAST(NULL AS DECIMAL(38,30))")
  private def litTs(v: Option[Long]) =
    v.map(x => s"timestamp_micros(${x}L)").getOrElse("CAST(NULL AS TIMESTAMP)")
  private def litB(v: Option[Vector[Byte]]) =
    v.map(x => s"X'${x.map(y => f"${y & 0xff}%02x").mkString}'")
      .getOrElse("CAST(NULL AS BINARY)")
  private def litOf(logical: String, r: MRow, wInt: Boolean = false): String =
    logical match {
      case "id" => litId(r.id); case "cat" => litCat(r.cat)
      case "v" => litV(r.v); case "d" => litD(r.d)
      case "ts" => litTs(r.ts); case "b" => litB(r.b)
      case "w" => litW(r.w, wInt)
    }

  def genPred(rng: Random, depth: Int = 0): Pred = {
    def leaf: Pred = rng.nextInt(8) match {
      case 0 => val lo = rng.nextInt(50).toLong; IdBetween(lo, lo + rng.nextInt(25))
      case 1 => val m = 2L + rng.nextInt(4); IdMod(m, rng.nextInt(m.toInt).toLong)
      case 2 => CatEq(catPool(rng.nextInt(catPool.size)))
      case 3 => CatGt(catPool(rng.nextInt(catPool.size)))
      case 4 => CatNull
      case 5 => BEq(binPool(rng.nextInt(binPool.size)))
      case 6 => DGt(decPool(rng.nextInt(decPool.size)))
      case _ => TsLt(tsPool(rng.nextInt(tsPool.size)))
    }
    if (depth == 0 && rng.nextInt(3) == 0) rng.nextInt(3) match {
      case 0 => And(leaf, genPred(rng, 1))
      case 1 => Or(leaf, genPred(rng, 1))
      case _ => Not(genPred(rng, 1))
    } else leaf
  }

  // ---- partition key (for the dynamic-overwrite model) ---------------------
  // Layouts: 0 unpartitioned, 1 (cat), 2 (cat, bucket(4,id)),
  // 3 (truncate(2,cat), bucket(4,id)). The model recomputes tuples from the
  // layout definition (murmur3 via the golden-vector-pinned util — the spec's
  // hash, independent of the write path under test).

  val layouts = Vector(
    "",
    " PARTITIONED BY (cat)",
    " PARTITIONED BY (cat, bucket(4, id))",
    " PARTITIONED BY (truncate(2, cat), bucket(4, id))")

  private def bucket4(id: Long): Int = (Murmur3.hashLong(id) & Int.MaxValue) % 4
  private def trunc2(s: String): String =
    if (s.isEmpty) s
    else {
      val n = math.min(s.codePointCount(0, s.length), 2)
      s.substring(0, s.offsetByCodePoints(0, n))
    }

  def partKey(layout: Int, r: MRow): Any = layout match {
    case 0 => ()
    case 1 => r.cat
    case 2 => (r.cat, r.id.map(bucket4))
    case 3 => (r.cat.map(trunc2), r.id.map(bucket4))
  }

  // ---- the runner ----------------------------------------------------------

  final case class Failure(seed: Long, opIdx: Int, op: String, detail: String)
    extends RuntimeException(
      s"workload fuzz mismatch: seed=$seed op#$opIdx [$op]\n$detail")

  // wGen is the add-generation of column w at this snapshot: a rolled-back
  // read under the CURRENT schema sees w values only if no drop+re-add
  // happened since (a re-added w has a fresh field id, so old files read
  // NULL — the dropped-column-resurrection invariant, now crossed with
  // rollback)
  private case class Hist(snap: Long, model: Vector[MRow],
      select: String, hasW: Boolean, wGen: Int)

  /** Runs one seeded workload; throws Failure on the first divergence. */
  def run(spark: SparkSession, wh: String, cat: String, seed: Long,
      nOps: Int, quiet: Boolean = true): Unit = {
    val rng = new Random(seed)
    val layout = (seed % layouts.size).toInt
    val mor = (seed / layouts.size) % 2 == 1
    val orc = seed % 7 == 3 // occasional non-parquet seed
    val v3Start = seed % 11 == 5 // occasional v3-from-birth seed (DVs, lineage)
    val tbl = s"$cat.db.fz_${seed}_${java.lang.Long.toHexString(rng.nextLong())}"
    val path = s"$wh/db/${tbl.split('.').last}"

    val props = {
      val ps = (if (mor) Seq(
        "'write.delete.mode'='merge-on-read'",
        "'write.update.mode'='merge-on-read'",
        "'write.merge.mode'='merge-on-read'") else Seq.empty) ++
        (if (orc) Seq("'write.format.default'='orc'") else Seq.empty) ++
        (if (v3Start) Seq("'format-version'='3'") else Seq.empty)
      if (ps.isEmpty) "" else ps.mkString(" TBLPROPERTIES (", ", ", ")")
    }
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, cat STRING, v DOUBLE, " +
      s"d DECIMAL(38,30), ts TIMESTAMP, b BINARY)${layouts(layout)}$props")

    var model = Vector.empty[MRow]
    var history = Vector.empty[Hist] // pruned in lockstep with expiry
    var lastSnap: Option[Long] = None
    // schema evolution state: logical → current physical name, added column
    var curName: Map[String, String] =
      Map("id" -> "id", "cat" -> "cat", "v" -> "v", "d" -> "d",
        "ts" -> "ts", "b" -> "b")
    var hasW = false
    var renameSeq = 0
    var wGen = 0 // bumped on every ADD COLUMN w (field-id identity)
    var wIsInt = false // w created as INT sometimes; promoted to BIGINT later
    var curOrc = orc // write.format.default flips mid-workload
    // replacePartitions drops CURRENT-spec files only (upstream
    // BaseReplacePartitions parity): after the default spec evolves, which
    // rows a dynamic overwrite replaces depends on FILE placement, which
    // this row-level model does not track — the op degrades to a plain
    // insert from then on (every other op stays modeled exactly)
    var specEvolved = false
    var specSeq = 0
    val tblNoCat = tbl.split('.').drop(1).mkString(".")
    val sysCat = tbl.split('.').head

    def table(): GraftTable = GraftTable.load(spark, path)
    def logicalCols: Vector[String] =
      Vector("id", "cat", "v", "d", "ts", "b") ++ (if (hasW) Seq("w") else Nil)
    def selectList: String = logicalCols.map(curName).mkString(", ")

    def sparkCanon(rows: Array[Row], withW: Boolean): Seq[String] = rows.toSeq.map { r =>
      val id = if (r.isNullAt(0)) "∅" else r.getLong(0).toString
      val c = if (r.isNullAt(1)) "∅" else "s:" + r.getString(1)
      val v = if (r.isNullAt(2)) "∅"
        else java.lang.Double.doubleToLongBits(r.getDouble(2)).toString
      val d = if (r.isNullAt(3)) "∅"
        else r.getDecimal(3).setScale(30).toPlainString
      val t = if (r.isNullAt(4)) "∅" else {
        val i = r.getTimestamp(4).toInstant
        (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
      }
      val b = if (r.isNullAt(5)) "∅"
        else r.getAs[Array[Byte]](5).map(x => f"${x & 0xff}%02x").mkString
      (Seq(id, c, v, d, t, b) ++ (if (withW)
        // Number, not getLong: w is INT before its promotion to BIGINT,
        // and VERSION AS OF reads resolve the snapshot-time (INT) schema
        Seq(if (r.isNullAt(6)) "∅"
            else r.get(6).asInstanceOf[Number].longValue.toString) else Nil))
        .mkString("")
    }

    def diff(got: Seq[String], want: Seq[String]): String = {
      val g = got.groupBy(identity).view.mapValues(_.size).toMap
      val w = want.groupBy(identity).view.mapValues(_.size).toMap
      val extra = g.collect { case (k, n) if n > w.getOrElse(k, 0) =>
        s"  +${n - w.getOrElse(k, 0)}x $k" }.take(10)
      val missing = w.collect { case (k, n) if n > g.getOrElse(k, 0) =>
        s"  -${n - g.getOrElse(k, 0)}x $k" }.take(10)
      s"scan=${got.size} rows, model=${want.size} rows\n" +
        s"extra in scan:\n${extra.mkString("\n")}\n" +
        s"missing from scan:\n${missing.mkString("\n")}"
    }

    def check(opIdx: Int, op: String): Unit = {
      val got = sparkCanon(
        spark.sql(s"SELECT $selectList FROM $tbl").collect(), hasW).sorted
      val want = model.map(_.canon(hasW)).sorted
      if (got != want) {
        // debugging aid: the live file inventory at the moment of divergence
        val plan = table().newScan().planFiles()
        println(s"== FILE INVENTORY at mismatch (seed=$seed op#$opIdx) ==")
        plan.tasks.foreach { t =>
          println(s"  data ${t.file.path.split('/').takeRight(3).mkString("/")} " +
            s"part=${t.file.partition} rows=${t.file.recordCount} seq=${t.sequenceNumber}")
        }
        plan.deleteFiles.foreach { case (f, seq) =>
          println(s"  del ${f.content} ${f.path.split('/').last} part=${f.partition} " +
            s"rows=${f.recordCount} seq=$seq eqIds=${f.equalityIds}")
        }
        throw Failure(seed, opIdx, op, diff(got, want))
      }
      // periodic extras: count(*) (metadata-agg path), filtered scan
      // (pruning + residual + delete application under a predicate), and a
      // VERSION AS OF read against the recorded model history
      if (opIdx % 3 == 1) {
        val n = spark.sql(s"SELECT COUNT(*) FROM $tbl").collect()(0).getLong(0)
        if (n != model.size)
          throw Failure(seed, opIdx, op, s"COUNT(*)=$n, model=${model.size}")
      }
      if (opIdx % 3 == 2) {
        val p = genPred(rng)
        val g = sparkCanon(spark.sql(
          s"SELECT $selectList FROM $tbl WHERE ${p.sql(curName)}").collect(), hasW).sorted
        val m = model.filter(r => p.eval(r).contains(true)).map(_.canon(hasW)).sorted
        if (g != m)
          throw Failure(seed, opIdx, s"$op / filtered [${p.sql(curName)}]", diff(g, m))
      }
      if (opIdx % 4 == 3 && history.nonEmpty) {
        val h = history(rng.nextInt(history.size))
        val g = sparkCanon(spark.sql(
          s"SELECT ${h.select} FROM $tbl VERSION AS OF ${h.snap}").collect(),
          h.hasW).sorted
        val m = h.model.map(_.canon(h.hasW)).sorted
        if (g != m)
          throw Failure(seed, opIdx, s"$op / VERSION AS OF ${h.snap}", diff(g, m))
      }
      // the `$data_files` metadata table and scan planning must agree on
      // the live data-file inventory (manifest parse vs plan — multi-spec,
      // post rollback/compaction/expiry included)
      if (opIdx % 5 == 4 && lastSnap.nonEmpty) {
        val parts = tbl.split('.')
        val metaId = s"${parts(0)}.${parts(1)}.`${parts(2)}$$data_files`"
        val n = spark.sql(s"SELECT COUNT(*) FROM $metaId").collect()(0).getLong(0)
        val planned = table().newScan().planFiles().tasks.map(_.file.path).distinct.size
        if (n != planned)
          throw Failure(seed, opIdx, op,
            s"$$data_files metadata rows=$n, planFiles distinct=$planned")
      }
    }

    def snap(): Unit = {
      val cur = table().metadata.currentSnapshotId
      if (cur != lastSnap) {
        cur.foreach(s => history :+= Hist(s, model, selectList, hasW, wGen))
        lastSnap = cur
      }
    }

    // other suites mutate the session-global overwrite mode (CatalogSpec
    // leaves it 'dynamic'), so BOTH overwrite shapes pin it explicitly
    def withOverwriteMode[T](mode: String)(f: => T): T = {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, mode)
      try f finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }

    // insert column list: always explicit (schema may have evolved);
    // sometimes omit `w` so the unlisted-column (NULL-fill) path runs too
    def insertInto(target: String, rows: Seq[MRow], omitW: Boolean,
        overwrite: Boolean = false): Vector[MRow] = {
      val cols = logicalCols.filterNot(c => c == "w" && omitW)
      val verb = if (overwrite) "INSERT OVERWRITE" else "INSERT INTO"
      spark.sql(s"$verb $target (${cols.map(curName).mkString(", ")}) VALUES " +
        rows.map(r => cols.map(c => litOf(c, r, wIsInt)).mkString("(", ", ", ")"))
          .mkString(", "))
      rows.toVector.map(r => if (hasW && omitW) r.copy(w = None)
        else if (!hasW) r.copy(w = None) else r)
    }

    // the ORC timestamp hole (OrcTimestampHoleSpec): micros in [-999000, -1]
    // are unrepresentable in ORC and the writer fails LOUDLY — for orc
    // seeds the op becomes a no-op and the post-op check asserts the failed
    // write left the table untouched (atomicity, for free)
    def isOrcHoleFailure(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("ORC cannot represent")) ||
        isOrcHoleFailure(t.getCause))

    var opIdx = 0
    try {
      while (opIdx < nOps) {
        val preModel = model
        val preHistory = history
        val preLastSnap = lastSnap
        val roll = rng.nextInt(123)
        val desc: String = try roll match {
          case x if x < 22 => // INSERT
            val rows = Vector.fill(1 + rng.nextInt(7))(genRow(rng))
            val omitW = rng.nextBoolean()
            model ++= insertInto(tbl, rows, omitW)
            s"insert ${rows.size}${if (hasW && omitW) " (w omitted)" else ""}"

          case x if x < 33 => // DELETE WHERE
            val p = genPred(rng)
            spark.sql(s"DELETE FROM $tbl WHERE ${p.sql(curName)}")
            model = model.filterNot(r => p.eval(r).contains(true))
            s"delete where ${p.sql(curName)}"

          case x if x < 44 => // UPDATE WHERE
            val p = genPred(rng)
            val nv = genRow(rng)
            val sets: Seq[String] = rng.nextInt(4) match {
              case 0 => Seq("cat", "v")
              case 1 => Seq("d", "ts")
              case 2 => if (hasW) Seq("b", "w") else Seq("b")
              case _ => Seq("id", "cat")
            }
            spark.sql(s"UPDATE $tbl SET " +
              sets.map(c => s"${curName(c)} = ${litOf(c, nv, wIsInt)}")
                .mkString(", ") +
              s" WHERE ${p.sql(curName)}")
            def app(r: MRow): MRow = sets.foldLeft(r) { (acc, c) => c match {
              case "id" => acc.copy(id = nv.id)
              case "cat" => acc.copy(cat = nv.cat)
              case "v" => acc.copy(v = nv.v)
              case "d" => acc.copy(d = nv.d)
              case "ts" => acc.copy(ts = nv.ts)
              case "b" => acc.copy(b = nv.b)
              case "w" => acc.copy(w = nv.w)
            }}
            model = model.map(r => if (p.eval(r).contains(true)) app(r) else r)
            s"update ${sets.mkString(",")} where ${p.sql(curName)}"

          case x if x < 52 => // MERGE (upsert or delete), distinct non-null src ids
            val srcIds = rng.shuffle((0 until 60).toVector).take(1 + rng.nextInt(5))
              .map(_.toLong)
            val doDelete = rng.nextInt(3) == 0
            val src = srcIds.map(i => (i,
              catPool(rng.nextInt(catPool.size)), dblPool(rng.nextInt(dblPool.size))))
            val values = src.map { case (i, c, dv) =>
              s"(${i}L, ${sqlStr(c)}, CAST('${dv.toString}' AS DOUBLE))"
            }.mkString(", ")
            val using = s"(SELECT * FROM VALUES $values AS s(sid, nc, nv)) s"
            if (doDelete) {
              spark.sql(s"MERGE INTO $tbl t USING $using ON t.${curName("id")} = s.sid " +
                "WHEN MATCHED THEN DELETE")
              val ids = srcIds.toSet
              model = model.filterNot(r => r.id.exists(ids.contains))
            } else {
              val insCols = Seq("id", "cat", "v").map(curName).mkString(", ")
              spark.sql(s"MERGE INTO $tbl t USING $using ON t.${curName("id")} = s.sid " +
                s"WHEN MATCHED THEN UPDATE SET ${curName("cat")} = s.nc, " +
                s"${curName("v")} = s.nv " +
                s"WHEN NOT MATCHED THEN INSERT ($insCols) VALUES (s.sid, s.nc, s.nv)")
              val bySrc = src.map(s => s._1 -> s).toMap
              val matched = model.flatMap(_.id).toSet
              model = model.map { r =>
                r.id.flatMap(bySrc.get) match {
                  case Some((_, c, dv)) => r.copy(cat = Some(c), v = Some(dv))
                  case None => r
                }
              } ++ src.filterNot(s => matched.contains(s._1)).map { case (i, c, dv) =>
                MRow(Some(i), Some(c), Some(dv), None, None, None)
              }
            }
            s"merge ${if (doDelete) "delete" else "upsert"} ids=${srcIds.mkString(",")}"

          case x if x < 58 => // dynamic INSERT OVERWRITE
            val rows = Vector.fill(1 + rng.nextInt(5))(genRow(rng))
            if (specEvolved) {
              // placement-dependent after spec evolution (see specEvolved)
              model ++= insertInto(tbl, rows, omitW = false)
              s"insert ${rows.size} (dyn-overwrite unmodeled after spec evolution)"
            } else {
              val added = withOverwriteMode("dynamic") {
                insertInto(tbl, rows, omitW = false, overwrite = true)
              }
              val touched = added.map(r => partKey(layout, r)).toSet
              model = model.filterNot(r =>
                touched.contains(partKey(layout, r))) ++ added
              s"overwrite dynamic ${rows.size}"
            }

          case x if x < 61 => // static INSERT OVERWRITE (full replace)
            val rows = Vector.fill(1 + rng.nextInt(4))(genRow(rng))
            val added = withOverwriteMode("static") {
              insertInto(tbl, rows, omitW = false, overwrite = true)
            }
            model = added
            s"overwrite static ${rows.size}"

          case x if x < 67 => // equality-delete key set (library row delta)
            val keyCols = rng.nextInt(3) match {
              case 0 => Seq("id"); case 1 => Seq("cat"); case _ => Seq("cat", "id")
            }
            val nKeys = 1 + rng.nextInt(4)
            val keys = Vector.fill(nKeys)((
              opt(rng, 0.85)(genId(rng)),
              opt(rng, 0.85)(catPool(rng.nextInt(catPool.size)))))
            val tuples = keys.map { case (ki, kc) =>
              "(" + keyCols.map {
                case "id" => litId(ki); case "cat" => litCat(kc)
              }.mkString(", ") + ")"
            }.mkString(", ")
            val df = spark.sql(s"SELECT * FROM VALUES $tuples AS k(" +
              keyCols.map(curName).mkString(", ") + ")")
            Deletes.deleteByEquality(table(), df)
            // null-safe key match (pinned: RenameDeleteSpec null-key test)
            def hit(r: MRow): Boolean = keys.exists { case (ki, kc) =>
              keyCols.forall {
                case "id" => r.id == ki
                case "cat" => r.cat == kc
              }
            }
            model = model.filterNot(hit)
            s"eqDelete on ${keyCols.mkString(",")} x$nKeys"

          case x if x < 73 => // compaction family
            val a = Actions.forTable(table())
            val kind = rng.nextInt(4) match {
              case 0 => a.rewriteDataFiles(targetSizeBytes = 1L << 20); "binpack"
              case 1 => a.rewriteSorted(SortOrders.parse(curName("id"))); "sorted"
              case 2 => a.rewriteZOrdered(Seq(curName("id"), curName("cat"))); "zorder"
              case _ => a.rewritePositionDeletes(); "posdel"
            }
            s"compact $kind"

          case x if x < 76 => // eq-delete rewrite
            Actions.forTable(table()).rewriteEqualityDeletes()
            "rewrite eq deletes"

          case x if x < 79 => // manifest rewrite
            Actions.forTable(table()).rewriteManifests()
            "rewrite manifests"

          case x if x < 86 => // expire snapshots (prunes model history too)
            val keep = 1 + rng.nextInt(3)
            Actions.forTable(table()).expireSnapshots(
              System.currentTimeMillis() + 3600000L, retainLast = keep)
            val retained = table().snapshots.map(_.snapshotId).toSet
            history = history.filter(h => retained.contains(h.snap))
            s"expire retainLast=$keep"

          case x if x < 90 => // orphan removal must never touch a live file
            Actions.forTable(table()).removeOrphanFiles(
              olderThanMillis = System.currentTimeMillis() + 3600000L)
            "remove orphans"

          case x if x < 96 => // RENAME COLUMN (partition sources + merge key too)
            val logical = logicalCols(rng.nextInt(logicalCols.size))
            renameSeq += 1
            val fresh = s"${logical}_r$renameSeq"
            spark.sql(s"ALTER TABLE $tbl RENAME COLUMN ${curName(logical)} TO $fresh")
            curName += (logical -> fresh)
            s"rename $logical -> $fresh"

          case x if x < 100 => // ADD / DROP COLUMN w (field-id churn on re-add)
            if (!hasW) {
              // deliberately REUSE the same physical name on re-add — dropped
              // + re-added same-name columns must get a fresh field id and
              // read as all-NULL, never resurrect old values. Sometimes the
              // re-add is INT so a later promotion op crosses int→long
              // widening with everything else
              wIsInt = rng.nextBoolean()
              spark.sql(s"ALTER TABLE $tbl ADD COLUMN w " +
                (if (wIsInt) "INT" else "BIGINT"))
              curName += ("w" -> "w")
              hasW = true
              wGen += 1
              model = model.map(_.copy(w = None))
              s"add column w ${if (wIsInt) "INT" else "BIGINT"} (gen $wGen)"
            } else {
              spark.sql(s"ALTER TABLE $tbl DROP COLUMN ${curName("w")}")
              curName -= "w"
              hasW = false
              model = model.map(_.copy(w = None))
              "drop column w"
            }

          case x if x < 106 => // flip write.format.default (mixed-format table)
            curOrc = !curOrc
            val fmt = if (curOrc) "orc" else "parquet"
            spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
              s"('write.format.default'='$fmt')")
            s"set write format $fmt"

          case x if x < 111 => // rollback via set_current_snapshot
            if (history.isEmpty) "rollback skipped (no history)"
            else {
              val h = history(rng.nextInt(history.size))
              spark.sql(s"CALL $sysCat.system.set_current_snapshot(" +
                s"'$tblNoCat', ${h.snap})")
              // current reads use the CURRENT schema over the old files: w
              // survives only if its field-id generation is unchanged since
              model = h.model.map(r => r.copy(
                w = if (hasW && h.hasW && h.wGen == wGen) r.w else None))
              lastSnap = Some(h.snap) // snapshot S is already recorded
              s"set_current_snapshot ${h.snap} (hist wGen=${h.wGen}, cur=$wGen)"
            }

          case x if x < 116 => // evolve the default spec: add a field
            specSeq += 1
            val (field, nm) = rng.nextInt(3) match {
              case 0 => (s"bucket(8, ${curName("id")})", s"pf${specSeq}_b8")
              case 1 => (s"truncate(1, ${curName("cat")})", s"pf${specSeq}_t1")
              case _ => (s"days(${curName("ts")})", s"pf${specSeq}_d")
            }
            spark.sql(s"CALL $sysCat.system.add_partition_field(" +
              s"'$tblNoCat', '$field', '$nm')")
            specEvolved = true
            s"add partition field $field as $nm"

          case x if x < 118 => // evolve the default spec: drop a field
            val fields = table().metadata.spec.fields
            if (fields.isEmpty) "drop partition field skipped (unpartitioned)"
            else {
              val f = fields(rng.nextInt(fields.size))
              spark.sql(s"CALL $sysCat.system.drop_partition_field(" +
                s"'$tblNoCat', '${f.name}')")
              specEvolved = true
              s"drop partition field ${f.name}"
            }

          case x if x < 121 => // upgrade to format v3 mid-history (one-way):
            // subsequent MoR deletes write DELETION VECTORS, new files get
            // row lineage, and the v2-era history (plain pos/eq deletes)
            // must keep reading correctly under the upgraded metadata
            if (table().metadata.formatVersion < 3) {
              spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
                "('format-version'='3')")
              "upgrade to format-version 3"
            } else "v3 upgrade skipped (already v3)"

          case _ => // promote w INT → BIGINT (type widening mid-history)
            if (hasW && wIsInt) {
              spark.sql(s"ALTER TABLE $tbl ALTER COLUMN ${curName("w")} " +
                "TYPE BIGINT")
              wIsInt = false
              "promote w to BIGINT"
            } else "promote skipped (w absent or already BIGINT)"
        } catch {
          case e: Throwable if isOrcHoleFailure(e) =>
            model = preModel; history = preHistory; lastSnap = preLastSnap
            "orc-hole write rejected (table must be unchanged)"
        }
        snap()
        check(opIdx, desc)
        if (!quiet) println(s"  seed=$seed op#$opIdx ok: $desc (rows=${model.size})")
        opIdx += 1
      }
    } catch {
      case e: Throwable =>
        // keep the failed table for post-mortem when asked (the warehouse
        // is a temp dir, so default hygiene still reclaims the space)
        if (sys.env.contains("GRAFT_FUZZ_KEEP"))
          println(s"== kept failed table $tbl ==")
        else
          try spark.sql(s"DROP TABLE IF EXISTS $tbl") catch { case _: Throwable => }
        throw e
    }
    try spark.sql(s"DROP TABLE IF EXISTS $tbl") catch { case _: Throwable => }
  }

  /** Extended hunts: sbt 'Test/runMain graft.WorkloadFuzz <from> <to> <ops>' */
  def main(args: Array[String]): Unit = {
    val from = if (args.length > 0) args(0).toLong else 0L
    val to = if (args.length > 1) args(1).toLong else from + 20
    val nOps = if (args.length > 2) args(2).toInt else 40
    val spark = SparkSpecBase.spark
    val wh = Files.createTempDirectory("graft-fuzz").toString
    spark.conf.set("spark.sql.catalog.fzx", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fzx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fzx.db")
    var failed = 0
    (from until to).foreach { seed =>
      val t0 = System.nanoTime()
      try {
        run(spark, wh, "fzx", seed, nOps, quiet = false)
        println(f"seed $seed OK (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch {
        case f: Failure => failed += 1; println(s"seed $seed FAILED:\n${f.getMessage}")
        case e: Throwable => failed += 1
          println(s"seed $seed ERROR: ${e.getClass.getName}: ${e.getMessage}")
          e.getStackTrace.take(12).foreach(s => println(s"    at $s"))
      }
    }
    println(s"fuzz done: ${to - from} seeds, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}

class WorkloadFuzzSpec extends SparkSpec {
  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-fzwh").toString
    spark.conf.set("spark.sql.catalog.fz", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fz.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fz.db")
    d
  }

  // seeds chosen to cross the layout x mode grid: layout = seed % 4,
  // merge-on-read = (seed / 4) % 2, orc when seed % 7 == 3, and
  // format-version 3 from birth (DVs + row lineage) when seed % 11 == 5
  for (seed <- Seq(1L, 2L, 3L, 4L, 5L, 6L)) {
    test(s"random workload agrees with the oracle model (seed $seed: " +
        s"layout=${(seed % 4).toInt} mor=${(seed / 4) % 2 == 1}" +
        s"${if (seed % 7 == 3) " orc" else ""}" +
        s"${if (seed % 11 == 5) " v3" else ""})") {
      WorkloadFuzz.run(spark, wh, "fz", seed, nOps = 30)
    }
  }
}
