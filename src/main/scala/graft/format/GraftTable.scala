package graft.format

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A planned unit of scan work (reference api/.../FileScanTask.java): the
  * data file, its entry sequence number (for delete application), and the
  * residual filter. */
final case class FileScanTask(file: DataFile, sequenceNumber: Long, residual: Expr)

/** Plan result + pruning observability (consumed by tests and ScanEvent). */
final case class ScanPlan(
    tasks: Seq[FileScanTask],
    deleteFiles: Seq[(DataFile, Long)],
    manifestsTotal: Int,
    manifestsScanned: Int,
    filesTotal: Long,
    filesScanned: Int) {
  def files: Seq[DataFile] = tasks.map(_.file)

  /** The plan's live position-delete files and DV blobs, one entry each:
    * the same file or blob can be planned through several manifests after
    * rewrites. */
  def posDeleteFiles: Seq[DataFile] =
    deleteFiles.map(_._1).filter(_.content == FileContent.PositionDeletes)
      .distinctBy(f => (f.path, f.referencedDataFile))
}

/** Snapshot-isolated, refinable table scan (reference api/.../TableScan.java:
  * 33-212, core/.../BaseTableScan.java:48-312 + IncrementalDataTableScan).
  *
  * Pruning pipeline = the reference's §3.1 driver path:
  *  manifest-list partition summaries (ManifestEvaluator)
  *  → per-entry partition-tuple filter (inclusive projection + Evaluator)
  *  → per-file column stats (InclusiveMetricsEvaluator)
  * then the planned files are read through the same DSv2 scan SQL uses
  * (GraftScan) — Catalyst/Tungsten own everything relational above the
  * scan (SURVEY §7.0).
  */
final class TableScan private[format] (
    table: GraftTable,
    snapshotId: Option[Long] = None,
    asOfMillis: Option[Long] = None,
    rowFilter: Expr = AlwaysTrue,
    projection: Option[Seq[String]] = None,
    incremental: Option[(Long, Long)] = None,
    // BRANCH-read semantics (public Iceberg): a branch pin still reads
    // the table's CURRENT schema — only tags and time travel read the
    // snapshot's own schema
    currentSchema: Boolean = false,
    // a fixed read schema, winning over both: a stream reads every batch
    // in its query-start schema
    schemaPin: Option[StructType] = None) {

  private def copy(snapshotId: Option[Long] = snapshotId,
      asOfMillis: Option[Long] = asOfMillis, rowFilter: Expr = rowFilter,
      projection: Option[Seq[String]] = projection,
      incremental: Option[(Long, Long)] = incremental,
      currentSchema: Boolean = currentSchema,
      schemaPin: Option[StructType] = schemaPin): TableScan =
    new TableScan(table, snapshotId, asOfMillis, rowFilter, projection,
      incremental, currentSchema, schemaPin)

  def useSnapshot(id: Long): TableScan = copy(snapshotId = Some(id))
  /** Read a named ref — branch head or tag ("main" = current). Branch
    * reads use the table's current schema (Iceberg branch semantics);
    * tag reads use the snapshot's schema. */
  def useRef(name: String): TableScan = {
    val pinned = useSnapshot(table.metadata.refSnapshotId(name).getOrElse(
      throw new IllegalArgumentException(s"no such ref: $name")))
    val isBranch = name == "main" ||
      table.metadata.refs.get(name).exists(_.isBranch)
    if (isBranch) pinned.withCurrentSchema else pinned
  }
  /** Pin a snapshot but keep the table's CURRENT schema — how a branch
    * head is read (the branch follows the table's schema evolution). */
  def withCurrentSchema: TableScan = copy(currentSchema = true)
  /** Read in `schema`, a schema of this table, whatever the snapshot:
    * files of every generation resolve against it by field id. */
  private[graft] def withSchema(schema: StructType): TableScan =
    copy(schemaPin = Some(schema))
  def asOfTime(millis: Long): TableScan = copy(asOfMillis = Some(millis))
  def filter(expr: Expr): TableScan = copy(rowFilter = Exprs.and(rowFilter, expr))
  def select(cols: String*): TableScan = copy(projection = Some(cols))
  /** Appends in (fromSnapshotId, toSnapshotId] — reference
    * api/.../TableScan.java:150-160. */
  def appendsBetween(from: Long, to: Long): TableScan =
    copy(incremental = Some((from, to)))

  private def meta: TableMetadata = table.metadata

  def snapshot: Option[Snapshot] = {
    val m = meta
    snapshotId.map(id => m.snapshot(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id")))
      .orElse(asOfMillis.flatMap(m.snapshotAsOfTime))
      .orElse(m.currentSnapshot)
  }

  /** Scan schema: the pinned one if set ([[withSchema]]), else the current
    * schema for current reads AND branch reads; the
    * snapshot's schema when explicitly time traveling (reference
    * BaseTableScan.schema(); branch semantics per public Iceberg). */
  def scanSchema: StructType = schemaPin.getOrElse {
    val m = meta
    if (currentSchema || (snapshotId.isEmpty && asOfMillis.isEmpty)) m.schema
    else snapshot.flatMap(s => s.summary.get("schema-id").map(_.toInt))
      .flatMap(m.schemas.get).getOrElse(m.schema)
  }

  def planFiles(): ScanPlan = {
    val m = meta
    val schema = scanSchema
    val bound =
      if (rowFilter == AlwaysTrue) AlwaysTrue else Exprs.bind(rowFilter, schema)

    val manifests: Seq[ManifestFile] = incremental match {
      case Some((from, to)) =>
        // union of manifests added by append snapshots in (from, to]
        val m2 = meta
        val chain = m2.ancestors(Some(to))
        require(chain.nonEmpty, s"snapshot $to not found")
        // history completeness: the ancestor walk from `to` stops silently
        // at a missing (expired) parent — if that parent is NEWER than
        // `from`, appends inside the gap are unreconstructible and a
        // silent skip would hand an incremental consumer a hole instead
        // of an error (reference parity: SnapshotUtil.snapshotIdsBetween
        // throws "Cannot determine history"). `from` itself being expired
        // is fine: it's the exclusive bound, nothing in (from, to] is lost.
        chain.head.parentId.filter(_ > from).foreach { pid =>
          throw new IllegalStateException(
            s"cannot read incremental data in ($from, $to]: ancestor " +
              s"snapshot $pid was expired — history is incomplete")
        }
        // divergence: a `from` that still exists but is NOT in `to`'s
        // ancestry (rollback/set_current_snapshot moved the line, then new
        // commits) means the consumer's last-seen state is on an abandoned
        // branch — the numeric (from, to] filter would silently SKIP
        // retained-line appends with ids below `from` (reference parity:
        // IncrementalDataTableScan.java:147-148 requires `from` to be an
        // ancestor of `to`). An expired `from` passed the hole check above
        // and stays legal: it is the exclusive bound.
        if (m2.snapshot(from).isDefined && !chain.exists(_.snapshotId == from))
          throw new IllegalArgumentException(
            s"from snapshot $from is not an ancestor of to snapshot $to — " +
              "the table was rolled back past it; restart the incremental " +
              "read from a snapshot on the current line")
        val inRange = chain
          .filter(s => s.snapshotId > from && s.snapshotId <= to)
        // reference parity (IncrementalDataTableScan.snapshotsWithin): an
        // OVERWRITE inside the range is an ERROR — rows silently treated as
        // appends would resurrect overwritten data; replace/delete skip
        inRange.find(_.operation == "overwrite").foreach { s =>
          throw new UnsupportedOperationException(
            s"Found overwrite operation (snapshot ${s.snapshotId}), cannot " +
            s"support incremental data in snapshots ($from, $to]")
        }
        val snaps = inRange.filter(_.operation == "append")
        snaps.flatMap(s => table.readManifestList(m2, s))
          .filter(mf => snaps.exists(_.snapshotId == mf.addedSnapshotId))
          .distinctBy(_.path)
      case None =>
        snapshot.map(s => table.readManifestList(m, s)).getOrElse(Nil)
    }

    var manifestsScanned = 0
    var filesTotal = 0L
    val tasks = Seq.newBuilder[FileScanTask]
    val deletes = Seq.newBuilder[(DataFile, Long)]
    // tuple-carrying delete entries whose partition fails the projected
    // filter under their OWN spec. Dropping them is only sound when every
    // surviving data file shares that spec: cross-spec application is
    // conservative (Deletes.eqDeleteCanHit — tuples aren't comparable
    // across specs), so a delete pruned by its spec-1 tuple may still have
    // to mask surviving spec-0 rows. Whole-file consumers (deleteWhere's
    // copy-on-write rewrite) would otherwise resurrect those rows at a
    // newer sequence number.
    val tuplePruned = Seq.newBuilder[(DataFile, Long, Int)]
    val keptDataSpecs = scala.collection.mutable.HashSet[Int]()

    // summary-level pruning first (pure in-memory), then the surviving
    // manifests are read IN PARALLEL — manifest I/O + parse is what
    // dominates planning a large table from one node (reference
    // ManifestGroup.java:182-186 ParallelIterable). Entry filtering below
    // stays sequential in manifest order, so results are deterministic.
    val evaluated0 = manifests.map { mf =>
      val spec = m.specs(mf.specId)
      val partTypes = spec.resultTypes(schema)
      val projected =
        if (bound == AlwaysTrue || !spec.isPartitioned) AlwaysTrue
        else Projections.inclusive(bound, spec, schema)
      val mightMatch = projected == AlwaysTrue ||
        Evaluators.manifestMightMatch(projected, spec, mf.partitionSummaries, partTypes)
      (mf, projected, mightMatch)
    }
    // summary-pruning a DELETE manifest is only sound when every data
    // manifest that might match shares its spec: tuples aren't comparable
    // across specs, and the entry-level cross-spec guard (tuplePruned
    // below) can only see entries that were READ — a summary-skipped
    // delete manifest is the same resurrection hole one level up. Any
    // possibly-matching data manifest of another spec forces the delete
    // manifest back in; its entries then flow through the entry guard.
    val dataSpecsMaybe = evaluated0.collect {
      case (mf, _, true) if mf.content == FileContent.Data => mf.specId }.toSet
    val evaluated = evaluated0.map {
      case (mf, projected, false)
          if mf.content != FileContent.Data &&
            dataSpecsMaybe.exists(_ != mf.specId) =>
        (mf, projected, true)
      case other => other
    }
    val entriesByPath: Map[String, Seq[ManifestEntry]] =
      TableScan.readManifestsParallel(table,
        evaluated.collect { case (mf, _, true) => mf }, schema)

    evaluated.foreach { case (mf, projected, mightMatch) =>
      filesTotal += mf.addedFilesCount + mf.existingFilesCount
      if (mightMatch) {
        manifestsScanned += 1
        entriesByPath(mf.path).foreach { e =>
          if (e.status != EntryStatus.Deleted) {
            val keepByAdded = incremental.isEmpty ||
              (e.status == EntryStatus.Added &&
                manifests.exists(_.addedSnapshotId == e.snapshotId))
            // delete files with an EMPTY partition tuple are
            // partition-global (position deletes, DVs, unclustered eq
            // deletes) — partition pruning must not drop them, or masked
            // rows resurrect under any partition-filtered scan. Tuple-
            // carrying eq deletes prune under their own spec, but the drop
            // is deferred until the kept data specs are known (see
            // tuplePruned above).
            val partOk = projected == AlwaysTrue ||
              (e.file.content != FileContent.Data && e.file.partition.isEmpty) ||
              Projections.evalOnPartition(projected, e.file.partition)
            if (keepByAdded && partOk) {
              if (e.file.content == FileContent.Data) {
                if (bound == AlwaysTrue || Evaluators.inclusiveMetrics(bound, e.file)) {
                  tasks += FileScanTask(e.file, e.sequenceNumber, bound)
                  keptDataSpecs += mf.specId
                }
              } else deletes += ((e.file, e.sequenceNumber))
            } else if (keepByAdded && e.file.content != FileContent.Data) {
              tuplePruned += ((e.file, e.sequenceNumber, mf.specId))
              // NOTE: delete entries are NEVER pruned by the row filter
              // here — whole-file consumers (deleteWhere's copy-on-write
              // rewrite, group-granular row-level ops) plan with a filter
              // but then read WHOLE files, where a filter-pruned equality
              // delete would resurrect masked rows. The DSv2 scan, which
              // re-applies its pushed filter as a residual, prunes its own
              // eq-delete entries (GraftScanBuilder.buildFileScan).
            }
          }
        }
      }
    }
    val ts = tasks.result()
    // a tuple-pruned delete stays dropped only if every kept data file is
    // of the delete's own spec; any cross-spec survivor forces it back in
    val keptDeletes = deletes.result() ++ tuplePruned.result().collect {
      case (f, seq, specId) if keptDataSpecs.exists(_ != specId) => (f, seq)
    }
    val plan = ScanPlan(ts, keptDeletes, manifests.size, manifestsScanned,
      filesTotal, ts.size)
    // scan observability (reference Listeners.notifyAll(new ScanEvent(...))
    // in BaseTableScan.planFiles): skipped entirely when nobody listens
    if (!Listeners.isEmpty)
      Listeners.notifyAll(ScanEvent(table.location,
        snapshot.map(_.snapshotId).getOrElse(-1L), bound,
        projection.getOrElse(schema.fieldNames.toSeq),
        plan.manifestsTotal, plan.manifestsScanned,
        plan.filesTotal, plan.filesScanned))
    plan
  }

  /** Materialize as a DataFrame: the planned files read through the DSv2
    * [[graft.connector.GraftScan]] — the same scan SQL reads plan to
    * (vectorized readers, field-id alignment across schema versions,
    * executor-side row-level deletes) — with the row filter re-applied as
    * a residual (reference SparkScanBuilder.java:121-123). */
  def toDF(): DataFrame = read(planFiles())

  /** Table rows plus the v3 row-lineage columns `_row_id` /
    * `_last_updated_sequence_number` ([[Lineage]]), selected as the DSv2
    * metadata columns: computed files derive base + position, compacted
    * files read their stored columns, pre-v3 files read NULL. Also the
    * input for lineage-preserving clustered rewrites
    * (Actions.rewriteSorted / rewriteZOrdered). */
  def lineageDF(): DataFrame = read(planFiles(), withLineage = true)

  /** Materialize an EXPLICIT plan in this scan's schema: a relation whose
    * scan builder reads exactly `plan`'s files and deletes, never
    * re-planning. Catalyst pushes the row filter and projection applied
    * here into that builder. Used by toDF and by callers that select their
    * own file and delete subsets (streaming slices, CDC, rewrites).
    * Non-empty `bins` (data-file paths covering every planned file) make
    * the scan read bin k as its k-th input partition (bin-pack
    * compaction). */
  private[graft] def read(plan: ScanPlan, withLineage: Boolean = false,
      bins: Seq[Seq[String]] = Nil): DataFrame = {
    val df = org.apache.spark.sql.execution.datasources.v2.GraftV2Shims
      .relationDF(table.spark,
        new graft.connector.LibraryReadTable(table.spark, table, this, plan, bins))
    val filtered =
      if (rowFilter == AlwaysTrue) df
      else df.filter(Exprs.toColumn(Exprs.bind(rowFilter, scanSchema)))
    // an unprojected read keeps the relation's `_file` / `_pos` metadata
    // columns selectable
    if (projection.isEmpty && !withLineage) filtered
    else filtered.select((projection.getOrElse(scanSchema.fieldNames.toSeq) ++
      (if (withLineage) Seq(Lineage.RowIdColumn, Lineage.LastUpdatedColumn)
      else Nil)).map(col): _*)
  }
}

object TableScan {
  /** Shared bounded pool for manifest reads: planning is driver-side, so one
    * static daemon pool serves every concurrent scan without per-plan
    * thread churn (reference ManifestGroup's ParallelIterable worker pool,
    * core/.../util/ThreadPools.java). */
  private lazy val manifestPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => {
        val t = new Thread(r, "graft-manifest-reader")
        t.setDaemon(true)
        t
      })

  /** Parsed-manifest LRU, weighted by entry count. Manifest files are
    * immutable once written (UUID paths, never overwritten), so caching
    * the parse is always safe; the key carries the id-resolution schema
    * and partition types because the SAME bytes parse differently after a
    * schema/spec evolution. Sized so a ~200k-entry table plans hot with
    * zero parse work — the difference between a changelog/planning loop
    * that re-parses the whole tree per snapshot and one that parses each
    * manifest once (reference caches at the ContentCache/manifest layer
    * for the same reason). */
  private object ManifestCache {
    private val MaxWeight = 200000L
    private val map =
      new java.util.LinkedHashMap[AnyRef, (Seq[ManifestEntry], Long)](
        256, 0.75f, true)
    private var weight = 0L

    def getOrLoad(key: AnyRef, load: => Seq[ManifestEntry]): Seq[ManifestEntry] = {
      val hit = map.synchronized(Option(map.get(key)))
      hit match {
        case Some((e, _)) => e
        case None =>
          val e = load // parse outside the lock; racing loads duplicate work, not state
          val w = math.max(e.size.toLong, 1L)
          map.synchronized {
            if (map.get(key) == null) {
              map.put(key, (e, w))
              weight += w
              val it = map.entrySet().iterator()
              while (weight > MaxWeight && it.hasNext) {
                val eldest = it.next()
                weight -= eldest.getValue._2
                it.remove()
              }
            }
          }
          e
      }
    }
  }

  private[format] def cachedManifest(key: AnyRef,
      load: => Seq[ManifestEntry]): Seq[ManifestEntry] =
    ManifestCache.getOrLoad(key, load)

  /** Read many manifests concurrently; results keyed by manifest path so the
    * caller can process them in its own deterministic order. */
  private[format] def readManifestsParallel(table: GraftTable,
      manifests: Seq[ManifestFile],
      schema: StructType): Map[String, Seq[ManifestEntry]] =
    if (manifests.sizeIs <= 1)
      manifests.map(mf => mf.path -> table.readManifest(mf, schema)).toMap
    else {
      val futures = manifests.map(mf =>
        mf.path -> manifestPool.submit(
          new java.util.concurrent.Callable[Seq[ManifestEntry]] {
            override def call(): Seq[ManifestEntry] = table.readManifest(mf, schema)
          }))
      futures.map { case (p, f) => p -> f.get() }.toMap
    }
}

/** The table facade (reference api/.../Table.java:31-246). */
final class GraftTable(val ops: TableOps, val spark: SparkSession) {

  def metadata: TableMetadata = {
    val m = ops.current()
    require(m != null, s"table does not exist at ${ops.location}")
    m
  }

  def location: String = ops.location
  /** Data-file placement for this table's current properties (reference
    * Table.locationProvider()). */
  def locations: LocationProvider =
    LocationProviders.forTable(location, metadata.properties)
  def schema: StructType = metadata.schema
  def spec: PartitionSpec = metadata.spec
  def properties: Map[String, String] = metadata.properties
  def currentSnapshot: Option[Snapshot] = metadata.currentSnapshot
  def snapshots: Seq[Snapshot] = metadata.snapshots
  def history: Seq[SnapshotLogEntry] = metadata.snapshotLog

  def newScan(): TableScan = new TableScan(this)

  def toDF(): DataFrame = newScan().toDF()

  // ---- manifest I/O (shared with Commits/Actions) ----
  private[format] def partTypesOf(m: TableMetadata)(specId: Int): Seq[(String, DataType)] =
    GraftTable.partTypesOf(m)(specId)

  private[format] def readManifestList(m: TableMetadata, s: Snapshot): Seq[ManifestFile] =
    MetaCodec.readManifestList(ops.io.readBytes(s.manifestList), partTypesOf(m))

  private[format] def readManifest(mf: ManifestFile, schema: StructType): Seq[ManifestEntry] = {
    val m = metadata
    val types = partTypesOf(m)(mf.specId).toMap
    // promotion-safe pick shared by every manifest decode/encode site —
    // 8-byte post-promotion bounds must never decode through a 4-byte
    // branch (see FieldIds.idResolutionSchema)
    val idSchema = FieldIds.idResolutionSchema(m.schemas)
    TableScan.cachedManifest((mf.path, idSchema, types),
      MetaCodec.readManifest(ops.io.readBytes(mf.path), idSchema, types))
  }
}

object GraftTable {

  /** Partition-tuple result types of a spec, pure over the metadata (no
    * session state) so executor tasks can resolve manifests from a parsed
    * TableMetadata alone. */
  private[format] def partTypesOf(m: TableMetadata)(specId: Int): Seq[(String, DataType)] = {
    val spec = m.specs(specId)
    // resolve against any schema that has all source ids (latest wins)
    val sch = m.schemas.toSeq.sortBy(-_._1).map(_._2)
      .find(s => spec.fields.forall(f => FieldIds.findById(s, f.sourceId).isDefined))
      .getOrElse(m.schema)
    spec.resultTypes(sch)
  }
  /** Create a new (empty) table — metadata v1, no snapshot. */
  def create(spark: SparkSession, location: String, schema: StructType,
      specBuild: PartitionSpec.Builder => PartitionSpec.Builder = identity,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val withIds = if (FieldIds.hasIds(schema)) schema else FieldIds.assignFresh(schema)
    val spec = specBuild(PartitionSpec.builderFor(withIds)).build(0)
    // `format-version` is a metadata FIELD, not a property: 2 (default) or
    // 3 (deletion vectors) — same surface as iceberg's table-property spell
    val fv = properties.get("format-version").map(_.trim.toInt).getOrElse(2)
    require(fv == 2 || fv == 3, s"unsupported format-version $fv (2 or 3)")
    val meta = TableMetadata(
      formatVersion = fv,
      tableUuid = java.util.UUID.randomUUID().toString,
      location = location,
      lastSequenceNumber = 0L,
      lastUpdatedMillis = System.currentTimeMillis(),
      lastColumnId = FieldIds.maxId(withIds),
      currentSchemaId = 0,
      schemas = Map(0 -> withIds),
      defaultSpecId = 0,
      specs = Map(0 -> spec),
      properties = properties - "format-version",
      currentSnapshotId = None,
      snapshots = Nil,
      snapshotLog = Nil)
    val ops = new TableOps(location)
    require(!ops.exists(), s"table already exists at $location")
    ops.commit(0, meta)
    new GraftTable(ops, spark)
  }

  def load(spark: SparkSession, location: String): GraftTable = {
    val ops = new TableOps(location)
    require(ops.exists(), s"no table at $location")
    new GraftTable(ops, spark)
  }

  def exists(location: String): Boolean = new TableOps(location).exists()

  /** Drop any existing table dir and create fresh (test/query helper). */
  def recreate(spark: SparkSession, location: String, schema: StructType,
      specBuild: PartitionSpec.Builder => PartitionSpec.Builder = identity,
      properties: Map[String, String] = Map.empty): GraftTable = {
    LocalFileIO.deleteRecursive(location)
    create(spark, location, schema, specBuild, properties)
  }
}
