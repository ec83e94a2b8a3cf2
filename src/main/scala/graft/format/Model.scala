package graft.format

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._

/** File content kinds (reference v2: data vs delete files;
  * core/.../ManifestEntry + api/.../FileContent). */
object FileContent {
  val Data = 0
  val PositionDeletes = 1
  val EqualityDeletes = 2
}

/** A data (or delete) file + its column stats — the pruning substrate
  * (reference api/.../ContentFile.java:60-103: recordCount, valueCounts,
  * nullValueCounts, lowerBounds, upperBounds). Stats maps are keyed by field
  * id; bounds are canonical values truncated per MetricsModes truncate(16).
  */
final case class DataFile(
    path: String,
    content: Int = FileContent.Data,
    partition: Map[String, Any] = Map.empty,
    recordCount: Long = 0L,
    fileSizeInBytes: Long = 0L,
    schemaId: Int = 0,
    specId: Int = 0,
    valueCounts: Map[Int, Long] = Map.empty,
    nullValueCounts: Map[Int, Long] = Map.empty,
    lowerBounds: Map[Int, Any] = Map.empty,
    upperBounds: Map[Int, Any] = Map.empty,
    equalityIds: Seq[Int] = Nil,
    splitOffsets: Seq[Long] = Nil,
    // string/binary field ids whose bounds are exact (written under metrics
    // mode `full`) — see Metrics.fullBoundIds; absent in older manifests,
    // which consumers must treat as "bounds may be truncated"
    fullBoundIds: Seq[Int] = Nil,
    // physical encoding of the file (reference api/.../FileFormat.java:
    // PARQUET | ORC | AVRO); position-delete files are parquet, or — on
    // format-version 3 tables — PUFFIN deletion vectors
    fileFormat: String = FileFormats.Parquet,
    // deletion-vector fields (iceberg v3 spec: a puffin blob holding the
    // deleted-position bitmap of ONE data file; the manifest carries the
    // blob address so readers seek straight to it with zero extra I/O)
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSizeInBytes: Option[Long] = None,
    // row-lineage base (iceberg v3 spec, "Row Lineage"): rows of this data
    // file have _row_id = firstRowId + position. Assigned by the COMMIT
    // (Commits.assignRowIds) on format-version-3 tables; None on files
    // committed before the table reached v3 (their lineage reads NULL);
    // Lineage.Materialized (-1) marks rewritten files that carry the
    // lineage COLUMNS physically (compaction preserves row ids)
    firstRowId: Option[Long] = None)

/** Partition-tuple comparison helpers: tuples carry their values in the
  * canonical JVM domain, where BINARY partition values (truncate[W] on a
  * binary source) are `Array[Byte]` — whose `equals`/`hashCode` are
  * REFERENCE-based. Any tuple-level `Map ==` or `groupBy`/HashMap key on
  * raw tuples silently treats content-equal binary tuples as distinct:
  * eq-delete scoping detaches its key sets (rows resurrect), compaction
  * splits a partition into per-file bins. Compare with [[Tuples.equal]];
  * key maps/groupBys with [[Tuples.key]] (raw tuples stay the value
  * domain — codecs expect `Array[Byte]`). */
object Tuples {
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case x => x
  }

  /** Content-hashable view of a tuple, for use as a map/groupBy KEY. */
  def key(p: Map[String, Any]): Map[String, Any] =
    if (p.valuesIterator.exists(_.isInstanceOf[Array[Byte]]))
      p.map { case (k, v) => k -> canon(v) }
    else p

  /** Content equality of two tuples. */
  def equal(a: Map[String, Any], b: Map[String, Any]): Boolean =
    a.size == b.size && a.forall { case (k, v) =>
      b.get(k) match {
        case Some(w) => (v, w) match {
          case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
          case (x, y) => x == y
        }
        case None => false
      }
    }
}

/** Data-file encodings (reference api/.../FileFormat.java; puffin is the
  * iceberg-v3 deletion-vector container, past the reference's horizon). */
object FileFormats {
  val Parquet = "parquet"
  val Orc = "orc"
  val Avro = "avro"
  val Puffin = "puffin"
  val All: Seq[String] = Seq(Parquet, Orc, Avro)
}

/** Manifest entry status — the MVCC log record
  * (reference core/.../ManifestEntry.java:29-32). */
object EntryStatus {
  val Existing = 0
  val Added = 1
  val Deleted = 2
}

final case class ManifestEntry(
    status: Int,
    snapshotId: Long,
    sequenceNumber: Long,
    file: DataFile)

/** Per-partition-field summary for manifest-level pruning
  * (reference GenericPartitionFieldSummary + ManifestFile.PartitionFieldSummary). */
final case class FieldSummary(containsNull: Boolean, lower: Any, upper: Any)

final case class ManifestFile(
    path: String,
    length: Long,
    specId: Int,
    content: Int, // FileContent.Data or deletes
    addedSnapshotId: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    minSequenceNumber: Long,
    partitionSummaries: Seq[FieldSummary])

final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    sequenceNumber: Long,
    timestampMillis: Long,
    operation: String, // append | overwrite | replace | delete
    manifestList: String, // path of the manifest-list JSON file
    summary: Map[String, String])

final case class SnapshotLogEntry(timestampMillis: Long, snapshotId: Long)

/** A named snapshot pointer — branch (mutable head) or tag (immutable
  * mark), the Iceberg v2 `refs` map. The reference fork predates refs; the
  * format here follows the public spec ("refs": name → {"snapshot-id",
  * "type", retention fields}). "main" stays implicit: `currentSnapshotId`
  * IS the main branch head, so v1 metadata round-trips unchanged. */
final case class SnapshotRef(
    snapshotId: Long,
    isBranch: Boolean,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None,
    maxRefAgeMs: Option[Long] = None)

/** Pointer to a per-snapshot table-statistics file (reference
  * api/.../StatisticsFile.java; the reference stores Puffin theta
  * sketches — ours is a JSON NDV map written by Stats.analyze). */
final case class StatisticsFile(snapshotId: Long, path: String)

/** The metadata tree root (reference core/.../TableMetadata.java:195-).
  * One JSON file per version; commit = atomic rename (TableOps).
  */
final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMillis: Long,
    lastColumnId: Int,
    currentSchemaId: Int,
    schemas: Map[Int, StructType],
    defaultSpecId: Int,
    specs: Map[Int, PartitionSpec],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    snapshotLog: Seq[SnapshotLogEntry],
    refs: Map[String, SnapshotRef] = Map.empty,
    statistics: Seq[StatisticsFile] = Nil,
    // next unassigned row-lineage id (iceberg v3 "next-row-id"): advanced
    // by every commit that adds data files to a format-version-3 table
    nextRowId: Long = 0L) {

  def statisticsFor(snapshotId: Long): Option[StatisticsFile] =
    statistics.find(_.snapshotId == snapshotId)

  def schema: StructType = schemas(currentSchemaId)

  /** Resolve a ref name to its snapshot id ("main" = the current head). */
  def refSnapshotId(name: String): Option[Long] =
    if (name == "main") currentSnapshotId else refs.get(name).map(_.snapshotId)
  def spec: PartitionSpec = specs(defaultSpecId)
  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))
  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  /** Snapshot current as of a wall-clock time (time travel by timestamp —
    * reference BaseTableScan.asOfTime via snapshotLog). */
  def snapshotAsOfTime(millis: Long): Option[Snapshot] =
    snapshotLog.filter(_.timestampMillis <= millis).lastOption
      .flatMap(e => snapshot(e.snapshotId))

  /** Ancestor chain of the current snapshot, oldest first. */
  def ancestors(ofId: Option[Long] = currentSnapshotId): Seq[Snapshot] = {
    val byId = snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(ofId.flatMap(byId.get))(_.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.toSeq.reverse
  }
}

object Model {
  import Json._

  // ---- partition tuple ser/de (typed by spec result types) ----
  private def partitionToJson(o: ObjectNode, p: Map[String, Any],
      types: Map[String, DataType]): Unit = {
    val po = o.putObject("partition")
    p.toSeq.sortBy(_._1).foreach { case (k, v) => Values.toJson(po, k, v, types(k)) }
  }

  private def partitionFromJson(n: JsonNode, types: Map[String, DataType]): Map[String, Any] =
    Option(n.get("partition")).map(po =>
      fields(po).map { case (k, v) => k -> Values.fromJson(v, types(k)) }.toMap)
      .getOrElse(Map.empty)

  // ---- DataFile ----
  def dataFileToJson(f: DataFile, schema: StructType,
      partTypes: Map[String, DataType]): ObjectNode = {
    val o = obj()
    o.put("path", f.path)
    o.put("content", f.content)
    partitionToJson(o, f.partition, partTypes)
    o.put("record-count", f.recordCount)
    o.put("file-size-in-bytes", f.fileSizeInBytes)
    o.put("schema-id", f.schemaId)
    o.put("spec-id", f.specId)
    def longMap(name: String, m: Map[Int, Long]): Unit = if (m.nonEmpty) {
      val mo = o.putObject(name)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => mo.put(k.toString, v) }
    }
    longMap("value-counts", f.valueCounts)
    longMap("null-value-counts", f.nullValueCounts)
    val types = FieldIds.typeById(schema) ++ Deletes.reservedBoundTypes
    def boundMap(name: String, m: Map[Int, Any]): Unit = if (m.nonEmpty) {
      val mo = o.putObject(name)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        types.get(k).foreach(dt => Values.toJson(mo, k.toString, v, dt))
      }
    }
    boundMap("lower-bounds", f.lowerBounds)
    boundMap("upper-bounds", f.upperBounds)
    if (f.equalityIds.nonEmpty) {
      val a = o.putArray("equality-ids"); f.equalityIds.foreach(a.add)
    }
    if (f.splitOffsets.nonEmpty) {
      val a = o.putArray("split-offsets"); f.splitOffsets.foreach(a.add)
    }
    if (f.fullBoundIds.nonEmpty) {
      val a = o.putArray("full-bound-ids"); f.fullBoundIds.foreach(a.add)
    }
    // absent = parquet, so pre-multiformat metadata reads unchanged
    if (f.fileFormat != FileFormats.Parquet) o.put("file-format", f.fileFormat)
    f.referencedDataFile.foreach(o.put("referenced-data-file", _))
    f.contentOffset.foreach(o.put("content-offset", _))
    f.contentSizeInBytes.foreach(o.put("content-size-in-bytes", _))
    f.firstRowId.foreach(o.put("first-row-id", _))
    o
  }

  def dataFileFromJson(n: JsonNode, schema: StructType,
      partTypes: Map[String, DataType]): DataFile = {
    def longMap(name: String): Map[Int, Long] =
      Option(n.get(name)).map(mo =>
        fields(mo).map { case (k, v) => k.toInt -> v.asLong() }.toMap)
        .getOrElse(Map.empty)
    val types = FieldIds.typeById(schema) ++ Deletes.reservedBoundTypes
    def boundMap(name: String): Map[Int, Any] =
      Option(n.get(name)).map(mo =>
        fields(mo).flatMap { case (k, v) =>
          types.get(k.toInt).map(dt => k.toInt -> Values.fromJson(v, dt))
        }.toMap).getOrElse(Map.empty)
    DataFile(
      path = getStr(n, "path"),
      content = getInt(n, "content"),
      partition = partitionFromJson(n, partTypes),
      recordCount = getLong(n, "record-count"),
      fileSizeInBytes = getLong(n, "file-size-in-bytes"),
      schemaId = getInt(n, "schema-id"),
      specId = getInt(n, "spec-id"),
      valueCounts = longMap("value-counts"),
      nullValueCounts = longMap("null-value-counts"),
      lowerBounds = boundMap("lower-bounds"),
      upperBounds = boundMap("upper-bounds"),
      equalityIds = Option(n.get("equality-ids"))
        .map(a => elems(a).map(_.asInt()).toSeq).getOrElse(Nil),
      splitOffsets = Option(n.get("split-offsets"))
        .map(a => elems(a).map(_.asLong()).toSeq).getOrElse(Nil),
      fullBoundIds = Option(n.get("full-bound-ids"))
        .map(a => elems(a).map(_.asInt()).toSeq).getOrElse(Nil),
      fileFormat = Option(n.get("file-format")).map(_.asText())
        .getOrElse(FileFormats.Parquet),
      referencedDataFile = Option(n.get("referenced-data-file")).map(_.asText()),
      contentOffset = optLong(n, "content-offset"),
      contentSizeInBytes = optLong(n, "content-size-in-bytes"),
      firstRowId = optLong(n, "first-row-id"))
  }

  // ---- Snapshot ----
  def snapshotToJson(s: Snapshot): ObjectNode = {
    val o = obj()
    o.put("snapshot-id", s.snapshotId)
    s.parentId.foreach(o.put("parent-snapshot-id", _))
    o.put("sequence-number", s.sequenceNumber)
    o.put("timestamp-ms", s.timestampMillis)
    o.put("operation", s.operation)
    o.put("manifest-list", s.manifestList)
    putStrMap(o, "summary", s.summary)
    o
  }

  def snapshotFromJson(n: JsonNode): Snapshot =
    Snapshot(
      snapshotId = getLong(n, "snapshot-id"),
      parentId = optLong(n, "parent-snapshot-id"),
      sequenceNumber = getLong(n, "sequence-number"),
      timestampMillis = getLong(n, "timestamp-ms"),
      operation = getStr(n, "operation"),
      manifestList = getStr(n, "manifest-list"),
      summary = strMap(n.get("summary")))

  // ---- TableMetadata ----
  def metadataToJson(m: TableMetadata): String = {
    val o = obj()
    o.put("format-version", m.formatVersion)
    o.put("table-uuid", m.tableUuid)
    o.put("location", m.location)
    o.put("last-sequence-number", m.lastSequenceNumber)
    o.put("last-updated-ms", m.lastUpdatedMillis)
    o.put("last-column-id", m.lastColumnId)
    o.put("current-schema-id", m.currentSchemaId)
    val ss = o.putArray("schemas")
    m.schemas.toSeq.sortBy(_._1).foreach { case (id, st) =>
      val so = ss.addObject()
      so.put("schema-id", id)
      so.put("struct", FieldIds.toJson(st))
    }
    o.put("default-spec-id", m.defaultSpecId)
    val ps = o.putArray("partition-specs")
    m.specs.toSeq.sortBy(_._1).foreach { case (_, spec) => ps.add(spec.toJson) }
    putStrMap(o, "properties", m.properties)
    m.currentSnapshotId.foreach(o.put("current-snapshot-id", _))
    val sn = o.putArray("snapshots")
    m.snapshots.foreach(s => sn.add(snapshotToJson(s)))
    val sl = o.putArray("snapshot-log")
    m.snapshotLog.foreach { e =>
      val eo = sl.addObject()
      eo.put("timestamp-ms", e.timestampMillis)
      eo.put("snapshot-id", e.snapshotId)
    }
    if (m.refs.nonEmpty) {
      val ro = o.putObject("refs")
      m.refs.toSeq.sortBy(_._1).foreach { case (name, r) =>
        val e = ro.putObject(name)
        e.put("snapshot-id", r.snapshotId)
        e.put("type", if (r.isBranch) "branch" else "tag")
        r.minSnapshotsToKeep.foreach(e.put("min-snapshots-to-keep", _))
        r.maxSnapshotAgeMs.foreach(e.put("max-snapshot-age-ms", _))
        r.maxRefAgeMs.foreach(e.put("max-ref-age-ms", _))
      }
    }
    if (m.statistics.nonEmpty) {
      val st = o.putArray("statistics")
      m.statistics.foreach { sf =>
        val e = st.addObject()
        e.put("snapshot-id", sf.snapshotId)
        e.put("statistics-path", sf.path)
      }
    }
    // absent = 0, so pre-lineage metadata round-trips byte-identical
    if (m.nextRowId != 0L) o.put("next-row-id", m.nextRowId)
    pretty(o)
  }

  def metadataFromJson(s: String): TableMetadata = {
    val n = parse(s)
    TableMetadata(
      formatVersion = getInt(n, "format-version"),
      tableUuid = getStr(n, "table-uuid"),
      location = getStr(n, "location"),
      lastSequenceNumber = getLong(n, "last-sequence-number"),
      lastUpdatedMillis = getLong(n, "last-updated-ms"),
      lastColumnId = getInt(n, "last-column-id"),
      currentSchemaId = getInt(n, "current-schema-id"),
      schemas = elems(n.get("schemas")).map { so =>
        getInt(so, "schema-id") -> FieldIds.fromJson(getStr(so, "struct"))
      }.toMap,
      defaultSpecId = getInt(n, "default-spec-id"),
      specs = elems(n.get("partition-specs"))
        .map(PartitionSpec.fromJson).map(s => s.specId -> s).toMap,
      properties = strMap(n.get("properties")),
      currentSnapshotId = optLong(n, "current-snapshot-id"),
      snapshots = elems(n.get("snapshots")).map(snapshotFromJson).toSeq,
      snapshotLog = elems(n.get("snapshot-log")).map { eo =>
        SnapshotLogEntry(getLong(eo, "timestamp-ms"), getLong(eo, "snapshot-id"))
      }.toSeq,
      refs = Option(n.get("refs")).filterNot(_.isNull).map(ro =>
        fields(ro).map { case (name, e) =>
          name -> SnapshotRef(
            snapshotId = getLong(e, "snapshot-id"),
            isBranch = getStr(e, "type") == "branch",
            minSnapshotsToKeep = optLong(e, "min-snapshots-to-keep").map(_.toInt),
            maxSnapshotAgeMs = optLong(e, "max-snapshot-age-ms"),
            maxRefAgeMs = optLong(e, "max-ref-age-ms"))
        }.toMap).getOrElse(Map.empty),
      statistics = Option(n.get("statistics")).filterNot(_.isNull)
        .map(elems(_).map(e => StatisticsFile(getLong(e, "snapshot-id"),
          getStr(e, "statistics-path"))).toSeq)
        .getOrElse(Nil),
      nextRowId = optLong(n, "next-row-id").getOrElse(0L))
  }

  // ---- Manifest (JSON lines of entries + header) ----
  def manifestToJson(entries: Seq[ManifestEntry], schema: StructType,
      partTypes: Map[String, DataType]): String = {
    val root = obj()
    val es = root.putArray("entries")
    entries.foreach { e =>
      val eo = es.addObject()
      eo.put("status", e.status)
      eo.put("snapshot-id", e.snapshotId)
      eo.put("sequence-number", e.sequenceNumber)
      eo.set[JsonNode]("data-file", dataFileToJson(e.file, schema, partTypes))
    }
    write(root)
  }

  def manifestFromJson(s: String, schema: StructType,
      partTypes: Map[String, DataType]): Seq[ManifestEntry] = {
    val n = parse(s)
    elems(n.get("entries")).map { eo =>
      ManifestEntry(getInt(eo, "status"), getLong(eo, "snapshot-id"),
        getLong(eo, "sequence-number"),
        dataFileFromJson(eo.get("data-file"), schema, partTypes))
    }.toSeq
  }

  // ---- manifest list: array of ManifestFile descriptors (the reference's
  //      snapshot→manifest-list→manifest chain, §1.1) ----
  def manifestListToJson(mfs: Seq[ManifestFile],
      partTypesOf: Int => Seq[(String, DataType)]): String = {
    val root = obj()
    val arr = root.putArray("manifests")
    mfs.foreach(mf => arr.add(parse(manifestFileToJson(mf, partTypesOf(mf.specId)))))
    write(root)
  }

  def manifestListFromJson(s: String,
      partTypesOf: Int => Seq[(String, DataType)]): Seq[ManifestFile] = {
    val n = parse(s)
    elems(n.get("manifests")).map { mo =>
      val specId = getInt(mo, "spec-id")
      manifestFileFromJsonNode(mo, partTypesOf(specId))
    }.toSeq
  }

  def manifestFileToJson(mf: ManifestFile, partTypes: Seq[(String, DataType)]): String = {
    val o = obj()
    o.put("path", mf.path)
    o.put("length", mf.length)
    o.put("spec-id", mf.specId)
    o.put("content", mf.content)
    o.put("added-snapshot-id", mf.addedSnapshotId)
    o.put("added-files-count", mf.addedFilesCount)
    o.put("existing-files-count", mf.existingFilesCount)
    o.put("deleted-files-count", mf.deletedFilesCount)
    o.put("added-rows-count", mf.addedRowsCount)
    o.put("existing-rows-count", mf.existingRowsCount)
    o.put("deleted-rows-count", mf.deletedRowsCount)
    o.put("min-sequence-number", mf.minSequenceNumber)
    val ss = o.putArray("partition-summaries")
    mf.partitionSummaries.zip(partTypes).foreach { case (fsum, (_, dt)) =>
      val so = ss.addObject()
      so.put("contains-null", fsum.containsNull)
      Values.toJson(so, "lower", fsum.lower, dt)
      Values.toJson(so, "upper", fsum.upper, dt)
    }
    write(o)
  }

  def manifestFileFromJsonNode(n: JsonNode, partTypes: Seq[(String, DataType)]): ManifestFile = {
    val sums = Option(n.get("partition-summaries")).map { arr =>
      elems(arr).zip(partTypes.iterator).map { case (so, (_, dt)) =>
        FieldSummary(getBool(so, "contains-null"),
          Values.fromJson(so.get("lower"), dt), Values.fromJson(so.get("upper"), dt))
      }.toSeq
    }.getOrElse(Nil)
    ManifestFile(getStr(n, "path"), getLong(n, "length"), getInt(n, "spec-id"),
      getInt(n, "content"), getLong(n, "added-snapshot-id"),
      getInt(n, "added-files-count"), getInt(n, "existing-files-count"),
      getInt(n, "deleted-files-count"), getLong(n, "added-rows-count"),
      getLong(n, "existing-rows-count"), getLong(n, "deleted-rows-count"),
      getLong(n, "min-sequence-number"), sums)
  }
}
