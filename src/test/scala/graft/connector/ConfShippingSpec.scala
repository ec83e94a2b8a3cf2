package graft.connector

import graft.SparkSpec
import graft.format._
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.Files

/** Executors get graft's Hadoop conf through one broadcast per scan, write
  * or job. A session Hadoop conf serializes to ~110 KB; a factory that
  * carried it by value (once per scan group, once per writer) shipped and
  * re-parsed it in every task. */
class ConfShippingSpec extends SparkSpec {
  import ConfShippingSpec._
  import spark.implicits._

  /** An orders table in the benchmark's upsert layout, its rows keyed
    * 1..n with o_custkey = key % 50, through the same operations the
    * upsert workload cycles: append, SQL MERGE, equality delete and SQL
    * DELETE (`beforeDelete` runs just before it). Returns the catalog name
    * of the table, its location and the keys still live. */
  private def upsertTable(warehouse: String, catalog: String,
      version: String = "2",
      beforeDelete: () => Unit = () => ()): (String, String, Set[Long]) = {
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse)
    val name = s"$catalog.db.orders"
    val loc = s"$warehouse/db/orders"
    spark.sql(s"CREATE TABLE $name (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_totalprice BIGINT, o_version BIGINT) PARTITIONED BY (bucket(8, o_orderkey)) " +
      s"TBLPROPERTIES ('format-version'='$version', 'write.delete.mode'='merge-on-read', " +
      "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')")
    def rows(keys: Seq[Long]): DataFrame =
      keys.map(k => (k, k % 50, k * 10, 1L))
        .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_version")
    var live = (1L to 2000L).toSet
    GraftWrite.append(GraftTable.load(spark, loc), rows(1L to 2000L))
    // append
    val g = GraftTable.load(spark, loc)
    Commits.mergeAppend(g, GraftWrite.writeFiles(g, rows(2001L to 2150L)))
    live ++= 2001L to 2150L
    // MERGE: half updates of live keys, half new keys
    rows((1L to 75L) ++ (2151L to 2225L)).createOrReplaceTempView("confship_src")
    spark.sql(s"MERGE INTO $name t USING confship_src s ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 1, " +
      "o_version = t.o_version + 1 WHEN NOT MATCHED THEN INSERT *")
    live ++= 2151L to 2225L
    // equality delete
    val e = GraftTable.load(spark, loc)
    val victims = 100L to 249L
    Commits.rowDelta(e, Nil,
      Deletes.stageEqualityDeletes(e, victims.toDF("o_orderkey")))
    live --= victims
    // DELETE
    beforeDelete()
    spark.sql(s"DELETE FROM $name WHERE o_custkey = 7")
    live = live.filterNot(_ % 50 == 7)
    (name, loc, live)
  }

  private def verifyingRead(name: String): DataFrame =
    spark.sql(s"SELECT count(*), sum(o_totalprice), sum(o_version) FROM $name")

  test("an upsert-shaped MoR scan and graft's writers ship no Hadoop conf by value") {
    val wh = Files.createTempDirectory("graft-confship").toString
    val (name, loc, live) = upsertTable(wh, "confship")
    val read = verifyingRead(name)
    val scans = read.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.size === 1)
    val graft = scans.head.scan.asInstanceOf[GraftScan]
    assert(graft.groups.size >= 2, s"expected several scan groups: ${graft.description()}")
    assert(graft.scanPlan.deleteFiles.nonEmpty, "the scan applies deletes")
    assert(read.collect().head.getLong(0) === live.size.toLong)

    val t = GraftTable.load(spark, loc)
    val m = t.metadata
    val writeInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 4 }
    // a stream's first micro-batch: the same MoR state through the stream
    val stream = new GraftMicroBatchStream(spark, t, CaseInsensitiveStringMap.empty())
    val start = stream.initialOffset()
    assert(stream.planInputPartitions(start,
      stream.latestOffset(start, ReadLimit.allAvailable())).nonEmpty)
    val factories = Seq(
      "reader factory" -> scans.head.readerFactory,
      "micro-batch reader factory" -> stream.createReaderFactory(),
      "DSv2 write" -> new GraftBatchWrite(t, GraftBatchWrite.Append)
        .createBatchWriterFactory(writeInfo),
      "DSv2 row delta" -> new GraftDeltaBatchWrite(t)
        .createBatchWriterFactory(writeInfo),
      "library write" -> GraftWriterFactory.forTable(spark, m,
        t.locations.newDataLocation("confship"), FileFormats.Parquet))
    factories.foreach { case (what, f) => info(s"$what: ${serializedSize(f)} B") }
    val problems = factories.flatMap { case (what, f) => shippingProblem(what, f) }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("compaction's bin read and write closure ship no Hadoop conf by value") {
    val wh = Files.createTempDirectory("graft-confcompact").toString
    val (_, loc, live) = upsertTable(wh, "confcompact")
    val t = GraftTable.load(spark, loc)
    val job = Actions.forTable(t).binJob(t.metadata, t.newScan().planFiles(),
      targetSizeBytes = 128L * 1024 * 1024, minInputFiles = 2,
      deleteFileThreshold = Int.MaxValue).get
    val scans = job.read.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.size === 1)
    val graft = scans.head.scan.asInstanceOf[GraftScan]
    assert(graft.scanPlan.deleteFiles.nonEmpty, "the bins are read through live deletes")
    assert(job.rdd.getNumPartitions === job.bins.size)
    val factory = scans.head.readerFactory
    info(s"compaction reader factory: ${serializedSize(factory)} B")
    assert(shippingProblem("compaction reader factory", factory).isEmpty,
      shippingProblem("compaction reader factory", factory).mkString)
    // the RDD is what each task deserializes with its write function: the
    // whole narrow lineage, reader factory included
    info(s"compaction job RDD: ${serializedSize(job.rdd)} B")
    val confs = confsIn(job.rdd)
    assert(confs === 0, s"compaction job carries $confs Hadoop conf(s) by value")
    assert(job.rdd.collect().map(_.recordCount).sum === live.size.toLong)
  }

  test("position-delete staging's write closure ships no Hadoop conf by value") {
    val wh = Files.createTempDirectory("graft-confposdel").toString
    val (_, loc, live) = upsertTable(wh, "confposdel")
    val t = GraftTable.load(spark, loc)
    val positions = t.toDF().filter($"o_custkey" === 3L)
      .select($"_file".as("file_path"), $"_pos".as("pos"))
    val job = PositionDeleteWriter.stageJob(t, positions, ranges = 4)
    // the RDD is what each task deserializes with its write function
    info(s"position-delete staging job RDD: ${serializedSize(job)} B")
    val confs = confsIn(job)
    assert(confs === 0, s"position-delete staging carries $confs Hadoop conf(s) by value")
    assert(job.collect().map(_.metrics.recordCount).sum === live.count(_ % 50 == 3).toLong)
  }

  test("executor-side delete loading and writes see Hadoop keys set on the session only") {
    // a scheme only the session conf maps to a file system (session SQL
    // confs reach `newHadoopConf()` as they are): a task given the
    // context's or a default conf cannot open these paths at all, and the
    // uncached file system keeps a driver-side instance from standing in
    val keys = Map(s"fs.${ProbeFileSystem.Scheme}.impl" -> classOf[ProbeFileSystem].getName,
      s"fs.${ProbeFileSystem.Scheme}.impl.disable.cache" -> "true",
      s"fs.AbstractFileSystem.${ProbeFileSystem.Scheme}.impl" ->
        classOf[ProbeAbstractFileSystem].getName)
    assert(spark.sparkContext.hadoopConfiguration
      .get(s"fs.${ProbeFileSystem.Scheme}.impl") == null)
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try Seq("2", "3").foreach { version =>
      val wh = s"${ProbeFileSystem.Scheme}://" +
        Files.createTempDirectory(s"graft-confprobe-v$version").toString
      ProbeFileSystem.reset()
      // the writers (which also read back their files' footers) run before
      // the DELETE; its scan is the first to load the equality deletes,
      // which then stay cached in this JVM
      var written = Set.empty[String]
      val (name, loc, live) = upsertTable(wh, s"confprobe$version", version,
        beforeDelete = () => { written = ProbeFileSystem.taskCreates; ProbeFileSystem.reset() })
      assert(written.exists(_.contains("/data/")), s"v$version: no task wrote a data file")
      val deleteScanOpens = ProbeFileSystem.taskOpens
      ProbeFileSystem.reset()
      assert(verifyingRead(name).collect().head.getLong(0) === live.size.toLong)
      val readOpens = ProbeFileSystem.taskOpens

      val deletes = GraftTable.load(spark, loc).newScan().planFiles().deleteFiles
        .map(_._1).distinctBy(_.path)
      def missed(content: Int, opens: Set[String]): Seq[String] = {
        val files = deletes.filter(_.content == content).map(d => ParquetIO.canonPath(d.path))
        assert(files.nonEmpty, s"v$version: no delete file of content $content")
        files.filterNot(opens.map(ParquetIO.canonPath).contains)
      }
      val eqMissed = missed(FileContent.EqualityDeletes, deleteScanOpens ++ readOpens)
      assert(eqMissed.isEmpty, s"v$version: equality deletes never loaded in a task: $eqMissed")
      val posMissed = missed(FileContent.PositionDeletes, readOpens)
      assert(posMissed.isEmpty, s"v$version: position deletes never loaded in a task: $posMissed")
    }
    finally keys.keys.foreach(spark.conf.unset)
  }
}

object ConfShippingSpec {
  /** Largest serialized factory a scan or write may ship to every task. */
  val MaxFactoryBytes: Int = 32 * 1024

  /** Why `factory` (a reader or writer factory) ships badly, if it does: it
    * carries a Hadoop conf by value, or serializes past [[MaxFactoryBytes]]. */
  def shippingProblem(what: String, factory: AnyRef): Option[String] = {
    val size = serializedSize(factory)
    val confs = confsIn(factory)
    if (confs > 0)
      Some(s"$what: ${factory.getClass.getName} carries $confs Hadoop conf(s) " +
        s"by value ($size B)")
    else if (size > MaxFactoryBytes)
      Some(s"$what: ${factory.getClass.getName} serializes to $size B > $MaxFactoryBytes B")
    else None
  }

  /** Bytes of `obj` as Spark ships it to tasks: the closure serializer. */
  def serializedSize(obj: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(obj).remaining()

  /** The Hadoop confs that serializing `obj` writes by value. The class
    * name alone proves nothing: a `Broadcast[SerializableConfiguration]`
    * names the class in its ClassTag but ships only its id. */
  def confsIn(obj: AnyRef): Int = {
    var n = 0
    val out = new java.io.ObjectOutputStream(java.io.OutputStream.nullOutputStream()) {
      enableReplaceObject(true)
      override def replaceObject(o: AnyRef): AnyRef = {
        o match {
          case _: org.apache.spark.util.SerializableConfiguration |
               _: org.apache.hadoop.conf.Configuration => n += 1
          case _ =>
        }
        o
      }
    }
    out.writeObject(obj)
    out.close()
    n
  }
}

/** The local file system under its own scheme, recording the files that
  * tasks open and create. */
class ProbeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = ProbeFileSystem.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"${ProbeFileSystem.Scheme}:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ProbeFileSystem.note(ProbeFileSystem.opens, f)
    super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ProbeFileSystem.note(ProbeFileSystem.creates, f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    ProbeFileSystem.note(ProbeFileSystem.creates, f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** [[ProbeFileSystem]] for FileContext users (graft's metadata renames). */
class ProbeAbstractFileSystem(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new ProbeFileSystem, conf,
    ProbeFileSystem.Scheme, false)

object ProbeFileSystem {
  val Scheme = "graftprobe"
  private val opens = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val creates = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def note(set: java.util.Set[String], f: Path): Unit =
    if (org.apache.spark.TaskContext.get() != null) set.add(f.toString)

  def reset(): Unit = { opens.clear(); creates.clear() }
  def taskOpens: Set[String] = { import scala.jdk.CollectionConverters._; opens.asScala.toSet }
  def taskCreates: Set[String] = { import scala.jdk.CollectionConverters._; creates.asScala.toSet }
}
