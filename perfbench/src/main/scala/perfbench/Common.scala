package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import java.io.File

/** Helpers shared by the workloads: SQL with Catalyst's phases forced one
  * at a time (so each phase is its own span), catalog registration, and
  * directory sizes for the storage metrics. */
object Common {

  /** Runs `sql` and returns its rows in canonical text form, sorted.
    * `spark.sql` parses and analyzes eagerly; `optimizedPlan` runs the
    * optimizer, which is where graft's DSv2 scan is built and its files are
    * planned; `executedPlan` runs physical planning; `collect` executes on
    * the same QueryExecution, so no phase runs twice. */
  def query(t: Clock, spark: SparkSession, sql: String): Seq[String] = {
    val df = t.span("catalyst.analysis")(spark.sql(sql))
    val qe = df.queryExecution
    t.span("catalyst.optimization")(qe.optimizedPlan)
    t.span("catalyst.planning")(qe.executedPlan)
    val rows = t.span("exec")(df.collect())
    t.tracer.add("exec.rows_returned", rows.length)
    rows.map(canon).toSeq.sorted
  }

  /** The generator of one part of a run's seeded input: `stream` names the
    * part (data, cycle order, op inputs) and `index` its instance. Seeds
    * are mixed with SplitMix64, because java.util.Random seeded with
    * consecutive values makes correlated first draws. */
  def rng(seed: Long, stream: Long, index: Long = 0L): java.util.Random = {
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    new java.util.Random(mix(mix(mix(seed) ^ stream) ^ index))
  }
  val DataStream = 0L
  val OpStream = 1L
  val CycleStream = 2L

  /** The kinds of cycle `c` in the seed's order. */
  def cycleOrder(seed: Long, c: Long, kinds: Vector[String]): Vector[String] =
    new scala.util.Random(rng(seed, CycleStream, c)).shuffle(kinds)

  /** `GraftTable.load` plus the first read of its metadata (the load itself
    * is lazy), as one `format.metadata.load` span. */
  def load(t: Clock, spark: SparkSession, location: String): graft.format.GraftTable = {
    val g = t.span("format.metadata.load") {
      val g = graft.format.GraftTable.load(spark, location)
      g.metadata
      g
    }
    if (t.tracer.on) t.tracer.add("format.metadata.bytes", metadataBytes(location).toDouble)
    g
  }

  def canon(r: Row): String = r.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }.mkString("|")

  def money(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString

  /** Registers a graft catalog over `warehouse` under a name unique to this
    * set-up, so every set-up gets a catalog instance of its own. */
  def catalog(spark: SparkSession, name: String, warehouse: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    name
  }

  def files(dir: String): Seq[File] = {
    val out = Seq.newBuilder[File]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk)) else if (f.isFile) out += f
    walk(new File(dir))
    out.result()
  }

  /** A table's current metadata file, the file every load reads. */
  def currentMetadata(table: String): File = {
    val hint = new File(s"$table/metadata/version-hint.text")
    new File(s"$table/metadata/v${new String(java.nio.file.Files.readAllBytes(hint.toPath)).trim}.metadata.json")
  }

  def metadataBytes(table: String): Long =
    if (!new File(s"$table/metadata/version-hint.text").isFile) 0L else currentMetadata(table).length

  def deleteRecursive(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
  }

  /** Checks `got` against `want`; the reason names the first difference. */
  def same(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.take(5).mkString("; ")} (${got.size} rows), " +
      s"want ${want.take(5).mkString("; ")} (${want.size} rows)")
}
