package graft.connector

import graft.format._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import java.util.UUID

/** Full DSv2 batch write (reference spark3/.../SparkBatchWrite.java:133-330):
  * executor tasks write data files directly from InternalRow — partitioned
  * tables use a FANOUT writer (one open file per partition tuple, reference
  * flink/.../PartitionedFanoutWriter.java:33-51, so input needs no
  * clustering) — then commit messages carry (path, partition tuple) back to
  * the driver, which collects footer stats and publishes ONE atomic
  * snapshot (append / dynamic overwrite / filter overwrite).
  *
  * The file encoding follows the table's `write.format.default` property
  * (reference TableProperties.DEFAULT_FILE_FORMAT): parquet via Spark's
  * ParquetWriteSupport, ORC via Spark's OrcSerializer, Avro via the Avro
  * container codec (AvroIO). Metrics come from the written file's footer
  * (parquet/ORC) or the writer's record count (Avro has no footer stats),
  * computed IN the task so the driver commit stays metadata-only.
  */
object GraftBatchWrite {

  /** Table property naming the data-file encoding for new writes. */
  val WriteFormatKey = "write.format.default"

  def writeFormat(props: Map[String, String]): String = {
    val fmt = props.getOrElse(WriteFormatKey, graft.format.FileFormats.Parquet)
    require(graft.format.FileFormats.All.contains(fmt),
      s"unsupported $WriteFormatKey: $fmt")
    fmt
  }

  /** Serializable slice of a partition field for executor-side routing. */
  final case class SpecField(name: String, ordinal: Int, transform: Transform,
      srcType: DataType)

  /** The default spec's fields, routed by the ordinals of the table's
    * current schema columns. */
  def specFields(m: TableMetadata): Seq[SpecField] = {
    val nameToIdx = m.schema.fieldNames.zipWithIndex.toMap
    m.spec.fields.map { pf =>
      val src = FieldIds.findById(m.schema, pf.sourceId).get
      SpecField(pf.name, nameToIdx(src.name), pf.transform, src.dataType)
    }
  }

  /** The table schema as the writers take it: field-id metadata stripped
    * (footer metrics key by id through the separate `idSchema`). */
  def writeSchema(m: TableMetadata): StructType =
    StructType(m.schema.fields.map(_.copy(metadata = Metadata.empty)))

  /** One staged file with its footer metrics, computed in the EXECUTOR task
    * (reference spark3/.../SparkBatchWrite.java:244-330: DataFile metrics
    * ride the commit message; the driver never re-opens data files). */
  final case class StagedFile(path: String, partition: Map[String, Any],
      metrics: Metrics.FileMetrics) {
    /** This file's manifest entry, written under `m`'s current schema and
      * default spec. A position-delete file whose path bounds are equal
      * names its one target as `referenced_data_file`. */
    def toDataFile(m: TableMetadata, format: String,
        content: Int = FileContent.Data, equalityIds: Seq[Int] = Nil): DataFile = {
      val fm = metrics
      val target = (fm.lowerBounds.get(Deletes.PathFieldId),
          fm.upperBounds.get(Deletes.PathFieldId)) match {
        case (Some(lo: String), Some(hi)) if content == FileContent.PositionDeletes &&
            lo == hi => Some(lo)
        case _ => None
      }
      DataFile(path = path, content = content, partition = partition,
        recordCount = fm.recordCount, fileSizeInBytes = fm.fileSize,
        schemaId = m.currentSchemaId, specId = m.defaultSpecId,
        valueCounts = fm.valueCounts, nullValueCounts = fm.nullValueCounts,
        lowerBounds = fm.lowerBounds, upperBounds = fm.upperBounds,
        equalityIds = equalityIds, splitOffsets = fm.splitOffsets,
        fullBoundIds = fm.fullBoundIds, fileFormat = format,
        referencedDataFile = target)
    }
  }

  final case class TaskFiles(files: Seq[StagedFile])
    extends WriterCommitMessage

  private[connector] def valHash(v: Any): Int = v match {
    case null => 0
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case x => x.hashCode
  }
  private[connector] def valEq(a: Any, b: Any): Boolean = (a, b) match {
    // binary partition values (truncate[w] on BINARY) need content equality
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x, y) => x == y
  }

  /** Immutable positional partition key with a precomputed hash (the
    * reference's PartitionKey pattern, api/.../PartitionKey.java:34-101). */
  private[connector] final class PartKey(val values: Array[Any]) {
    override val hashCode: Int = {
      var h = 17; var i = 0
      while (i < values.length) { h = h * 31 + valHash(values(i)); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case k: PartKey =>
        var i = 0
        while (i < values.length && valEq(values(i), k.values(i))) i += 1
        i == values.length
      case _ => false
    }
  }

  sealed trait Mode extends Serializable
  case object Append extends Mode
  case object DynamicOverwrite extends Mode
  final case class FilterOverwrite(expr: Expr) extends Mode
  /** Group-based row-level operation commit (SQL MERGE/UPDATE/DELETE via
    * ReplaceData): swap the files the operation's scan planned for the
    * rewritten output. `replaced` is deferred — the scan plans after the
    * write builder is created. */
  final case class RewriteMatched(replaced: () => Set[String],
      base: () => Option[Long] = () => None) extends Mode
}

final class GraftBatchWrite(table: GraftTable, mode: GraftBatchWrite.Mode,
    branch: Option[String] = None)
  extends BatchWrite {
  import GraftBatchWrite._

  private val m = table.metadata
  private val stagingDir = table.locations.newDataLocation(UUID.randomUUID().toString)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory.forTable(table.spark, m, stagingDir, writeFormat(m.properties))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // metrics arrived in the commit messages: the driver commit is pure
    // metadata work — no data-file I/O, no matter how many files were written
    val fmt = writeFormat(m.properties)
    val files = messages.collect { case TaskFiles(fs) => fs }.flatten
      .map(_.toDataFile(m, fmt)).toSeq
    mode match {
      // branch identifier (`t.branch_x`): appends advance the BRANCH head;
      // other modes were refused at the write builder
      case Append if branch.isDefined =>
        Commits.appendToBranch(table, branch.get, files)
      case Append => Commits.mergeAppend(table, files)
      case DynamicOverwrite =>
        Commits.replacePartitions(table, files, branch)
      case FilterOverwrite(e) =>
        Commits.overwriteByFilter(table, e, files, branch = branch)
      case RewriteMatched(replaced, base) =>
        val del = replaced()
        // a MERGE whose condition matched no groups has nothing to commit
        if (del.nonEmpty || files.nonEmpty)
          // CoW MERGE/UPDATE/DELETE changes the logical row set — commit as
          // "overwrite" so CDC changelog reads don't skip it as a rewrite;
          // on a branch identifier the rewrite targets the branch ref
          Commits.rewriteFiles(table, del, files, base(),
            operation = "overwrite", branch = branch)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case TaskFiles(fs) => fs }.flatten.foreach {
      sf => table.ops.io.deleteIfExists(sf.path)
    }
}

/** Writer factory of every graft data-file write: DSv2 batch and
  * streaming writes, the library append path and the equality-delete
  * stager. Executors get the Hadoop conf (session conf plus
  * [[ParquetIO.writeConf]]'s keys) through the write's one broadcast
  * `conf`, never a copy per factory or task. */
final class GraftWriterFactory(schema: StructType, idSchema: StructType,
    fields: Seq[GraftBatchWrite.SpecField], stagingDir: String,
    conf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    statModes: Map[Int, Metrics.Mode] = Map.empty,
    format: String = graft.format.FileFormats.Parquet,
    props: Map[String, String] = Map.empty)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftFanoutWriter(schema, idSchema, fields, stagingDir, partitionId, taskId,
      conf.value.value, statModes, format, props)

  /** Write `rows`, already arranged, in one Spark job: one fanout writer
    * per partition, its files' metrics computed in its task. Returns the
    * staged files sorted by path. */
  def writeRows(rows: org.apache.spark.sql.DataFrame): Seq[GraftBatchWrite.StagedFile] =
    rows.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val w = createWriter(pid, pid.toLong)
      it.foreach(w.write)
      Iterator.single(w.commit().asInstanceOf[GraftBatchWrite.TaskFiles])
    }.collect().toSeq.flatMap(_.files).sortBy(_.path)
}

object GraftWriterFactory {
  /** The factory writing rows of `m`'s current schema (plus `extra`
    * trailing columns) as `format` files under `stagingDir`, partitioned by
    * the default spec, with the session conf plus [[ParquetIO.writeConf]]'s
    * keys broadcast once for the whole write. */
  def forTable(spark: org.apache.spark.sql.SparkSession, m: TableMetadata,
      stagingDir: String, format: String,
      extra: Seq[StructField] = Nil): GraftWriterFactory =
    new GraftWriterFactory(
      StructType(GraftBatchWrite.writeSchema(m).fields ++ extra), m.schema,
      GraftBatchWrite.specFields(m), stagingDir,
      HadoopFileIO.broadcastConf(spark, ParquetIO.writeConf(spark)),
      Metrics.modesFor(m.schema, m.properties), format, m.properties)
}

/** Fanout data-file writer: routes each row to its partition tuple's open
  * file; unpartitioned tables use the single empty-tuple writer.
  * `idSchema` carries the table's field ids so footer metrics can be keyed
  * by id right here in the task. */
final class GraftFanoutWriter(schema: StructType, idSchema: StructType,
    fields: Seq[GraftBatchWrite.SpecField], stagingDir: String,
    partitionId: Int, taskId: Long,
    conf: org.apache.hadoop.conf.Configuration,
    statModes: Map[Int, Metrics.Mode] = Map.empty,
    format: String = graft.format.FileFormats.Parquet,
    props: Map[String, String] = Map.empty)
  extends DataWriter[InternalRow] {
  import GraftBatchWrite._

  // value carries its own (stored, deep-copied) key: a map hit is probed
  // with a TRANSIENT key over the scratch array (no per-row copies), and
  // the stable stored key is recovered from the value for the fast path
  private val writers = collection.mutable.LinkedHashMap[
    PartKey, (PartKey, String, DataFileIO.Writer)]()
  private val finished = collection.mutable.ArrayBuffer[GraftBatchWrite.StagedFile]()
  private var fileCount = 0

  // Row routing state: the per-row partition tuple is computed into ONE
  // reused positional array (the reference's PartitionKey pattern,
  // api/.../PartitionKey.java:34-101) and short-circuited against the
  // previous row's key — with partition-clustered input (the library path
  // sorts task-locally; the DSv2 path requests hash clustering) consecutive
  // rows share a tuple, so the steady state allocates nothing per row. A
  // Map[String, Any] is only materialized per FILE, for the commit message.
  private val fieldArr = fields.toArray
  private val nFields = fieldArr.length
  private val scratch = new Array[Any](nFields)
  private var lastKey: PartKey = null
  private var lastWriter: DataFileIO.Writer = null
  // identity-on-string fields route as raw UTF8String (content-based
  // equals/hash), skipping the per-row String conversion entirely on the
  // fast path; values are deep-copied on key store (an UnsafeRow's
  // UTF8String points into a reused row buffer) and rendered to String
  // only per FILE, in tupleOf
  private val rawStr = fieldArr.map(f =>
    (f.transform eq Transforms.IdentityT) && f.srcType == StringType)

  private def tupleOf(k: PartKey): Map[String, Any] = {
    val b = Map.newBuilder[String, Any]
    var i = 0
    while (i < nFields) {
      val v = k.values(i) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case x => x
      }
      b += fieldArr(i).name -> v
      i += 1
    }
    b.result()
  }

  // Cap on concurrently-OPEN files per task: every open parquet/ORC writer
  // buffers a row group, so unbounded fanout over unclustered input is an
  // executor OOM once a task sees enough distinct partitions (Spark's own
  // dynamic-partition writer guards the same way via
  // maxConcurrentOutputFileWriters + a sort fallback). Overflow closes the
  // oldest-opened writer — with partition-clustered input (the library
  // write path sorts by the derived partition expressions; the DSv2 path
  // requests hash clustering) that is a finished partition. A re-seen
  // tuple simply opens a fresh file: multiple files per tuple are legal.
  private val maxOpen = math.max(1,
    props.get("write.max-open-writers").map(_.toInt).getOrElse(64))

  private def canonical(row: InternalRow, f: SpecField): Any = {
    if (row.isNullAt(f.ordinal)) return null
    f.srcType match {
      case IntegerType | DateType => row.getInt(f.ordinal)
      // TIME rides as nanos-of-day longs internally (the same canonical
      // encoding Values/Exprs use), so a time-partitioned table writes
      // through the same branch as timestamps
      case LongType | TimestampType | TimestampNTZType | _: TimeType =>
        row.getLong(f.ordinal)
      case StringType => row.getUTF8String(f.ordinal).toString
      case DoubleType => row.getDouble(f.ordinal)
      case FloatType => row.getFloat(f.ordinal)
      case BooleanType => row.getBoolean(f.ordinal)
      case d: DecimalType =>
        row.getDecimal(f.ordinal, d.precision, d.scale).toJavaBigDecimal
      case BinaryType => row.getBinary(f.ordinal)
      case t => throw new IllegalArgumentException(s"partition source type $t")
    }
  }

  // one prepared conf per task for every file it opens; the staging
  // directory is made with the first file
  private lazy val fileWriters = {
    DataFileIO.mkdirs(stagingDir, conf)
    new DataFileIO.Writers(format, schema, idSchema, conf, statModes, props)
  }

  private def openWriter(): (String, DataFileIO.Writer) = {
    val path = s"$stagingDir/part-$partitionId-$taskId-$fileCount-${UUID.randomUUID()}.$format"
    fileCount += 1
    // footer stats are read in the task that just wrote the file (it is
    // still in page cache), shipped to the driver in the commit message
    (path, fileWriters.open(path))
  }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < nFields) {
      val f = fieldArr(i)
      // void ignores its input, and its ordinal/srcType may not describe a
      // real input column (the eq-delete stager projects only key columns):
      // never touch the row for a void field
      scratch(i) =
        if (f.transform eq Transforms.VoidT) null
        else if (rawStr(i)) {
          if (row.isNullAt(f.ordinal)) null else row.getUTF8String(f.ordinal)
        } else f.transform.apply(canonical(row, f), f.srcType)
      i += 1
    }
    if (lastWriter != null && sameAsLast()) { lastWriter.write(row); return }
    // transient probe over the scratch array — its values may reference
    // the (reused) row buffer, so it is NEVER stored or kept past this call
    val probe = new PartKey(scratch)
    val e = writers.get(probe) match {
      case Some(entry) => entry
      case None =>
        if (writers.size >= maxOpen) {
          val (oldKey, (_, path, ow)) = writers.head // oldest-opened
          writers.remove(oldKey)
          finished += StagedFile(path, tupleOf(oldKey), ow.finish())
        }
        val vals = new Array[Any](nFields) // deep copy on STORE only
        var j = 0
        while (j < nFields) {
          vals(j) = scratch(j) match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
            case v => v
          }
          j += 1
        }
        val stored = new PartKey(vals)
        val (path, w) = openWriter()
        val entry = (stored, path, w)
        writers.put(stored, entry)
        entry
    }
    lastKey = e._1
    lastWriter = e._3
    e._3.write(row)
  }

  private def sameAsLast(): Boolean = {
    var i = 0
    while (i < nFields && valEq(scratch(i), lastKey.values(i))) i += 1
    i == nFields
  }

  override def commit(): WriterCommitMessage = {
    val files = finished.toSeq ++ writers.toSeq.map {
      case (key, (_, path, w)) => StagedFile(path, tupleOf(key), w.finish())
    }
    TaskFiles(files)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (_, _, w) => w.abort() }
    // overflow-closed files are already finalized — delete them directly
    finished.foreach { sf =>
      try {
        val hp = new org.apache.hadoop.fs.Path(sf.path)
        hp.getFileSystem(conf).delete(hp, false)
      } catch { case scala.util.control.NonFatal(_) => }
    }
  }

  override def close(): Unit = ()
}
