package graft.connector

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions => XE, Transform => XTransform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.{Path => HPath}
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** DSv2 table over a graft table (the reference's spark3 SparkTable,
  * spark3/.../source/SparkTable.java). Reads delegate the physical scan to
  * Spark's OWN vectorized ParquetScan over the PRUNED file list — our
  * planner does the 3-level metadata pruning (§3.1 driver path) and Spark
  * keeps columnar batches + whole-stage codegen. Batch writes run
  * executor-side fanout parquet writers with a one-snapshot driver commit
  * (GraftBatchWrite); streaming reads/writes ride the same machinery with
  * snapshot-id offsets and epoch-dedup commits (GraftStreaming).
  */
final class GraftSparkTable(spark: SparkSession, val table: GraftTable,
    ident: String, snapshotId: Option[Long] = None,
    asOfMillis: Option[Long] = None,
    // `t.branch_x` identifier spelling: reads pin to the ref via
    // snapshotId; APPENDS commit to the branch head instead of main
    writeBranch: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Metadata columns (reference spark3 MetadataColumns): `_file` — the
    * source data-file path, served as a per-file partition constant —
    * powers provenance queries and MERGE's runtime group filtering; `_pos`
    * — the row's position in its file — pairs with `_file` to target
    * position deletes from SQL (the synthetic row-index column: parquet's
    * readers fill it, graft's ORC scrub and Avro readers count rows). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftSparkTable.metadataColumns

  /** SQL `DELETE FROM t WHERE p` (reference spark3 SparkTable implements
    * SupportsDelete with metadata-only deletes). Ours goes further:
    * metadata-only when the filter provably covers whole files (strict
    * projection), copy-on-write rewrite of the touched files otherwise —
    * so any expressible predicate is deletable. */
  /** True only when the delete is provably metadata-only (whole files,
    * strict evaluation) — the reference's SparkTable.canDeleteWhere
    * contract. Partial-file deletes return false so Spark plans the
    * row-level operation, which honors `write.delete.mode`. */
  /** True on ref / time-travel relations (branch identifiers included:
    * their snapshot pin matters for streaming and metadata-delete checks). */
  private def pinned: Boolean =
    snapshotId.nonEmpty || asOfMillis.nonEmpty || writeBranch.nonEmpty

  /** True on tag / time-travel relations, whose row-level DML would
    * otherwise read the pin but COMMIT against main (observed: `DELETE
    * FROM t.tag_v1 WHERE …` deleted main rows before this guard). Branch
    * identifiers are NOT refused: their DML reads the branch head and
    * commits the rewrite to the branch ref (public-Iceberg branch DML). */
  private def refusePinnedDml(op: String): Unit =
    if (pinned && writeBranch.isEmpty) throw new UnsupportedOperationException(
      s"$op is not supported on $ident — tag and time-travel relations " +
      "accept reads only; run the operation on the main table or a " +
      "branch identifier, or fast-forward / cherry-pick")

  /** V2 entry points, overriding SupportsDelete's default bridge: Spark's
    * `PredicateUtils.toV1` silently NARROWS an OR whose one side doesn't
    * convert (returns the other side alone) — through the default bridge a
    * `DELETE WHERE a OR b` with unconvertible `a` would metadata-delete
    * only the `b` rows and report success (rows matching only `a`
    * silently survive). The strict converter is all-or-nothing; refusing
    * here keeps Spark on the row-level ReplaceData plan, which evaluates
    * the original condition. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = {
    val v1 = predicates.map(FilterBridge.toV1Strict)
    v1.forall(_.isDefined) && canDeleteWhere(v1.flatten)
  }

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val v1 = predicates.map(FilterBridge.toV1Strict)
    require(v1.forall(_.isDefined),
      "non-translatable predicate reached metadata DELETE: " +
        predicates.mkString(", "))
    deleteWhere(v1.flatten)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // branch identifiers take the metadata-only path against the BRANCH
    // head (it also serves Spark's bare `DELETE FROM t.branch_x`, which
    // never routes through the row-level rewrite); tags / time travel
    // refuse
    (writeBranch.nonEmpty || !pinned) &&
      filters.forall(f => FilterBridge.convert(f).exists(e =>
        scala.util.Try(Exprs.bind(e, table.metadata.schema)).isSuccess)) &&
      Commits.canMetadataDelete(table, FilterBridge.convertAll(filters),
        writeBranch)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // tags / time travel never reach here (canDeleteWhere refuses and the
    // row-level builder refuses); branch targets commit to the ref
    if (pinned && writeBranch.isEmpty) throw new UnsupportedOperationException(
      s"metadata-only DELETE is not supported on $ident — tag and " +
      "time-travel relations are read-only")
    Deletes.deleteWhere(table, FilterBridge.convertAll(filters), writeBranch)
  }

  /** SQL MERGE INTO / UPDATE (and DELETE with non-convertible predicates).
    * Per-command mode via `write.{delete,update,merge}.mode`:
    * `copy-on-write` (default) rewrites matched files through ReplaceData;
    * `merge-on-read` emits position deletes + change data as one RowDelta
    * (SupportsDelta). Metadata-only DELETEs (whole files) take the
    * SupportsDelete path above — Spark asks canDeleteWhere first; every
    * other DELETE lands here and honors the mode. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      refusePinnedDml(info.command().toString)
      val key = s"write.${info.command().toString.toLowerCase}.mode"
      table.metadata.properties.getOrElse(key, "copy-on-write") match {
        case "merge-on-read" =>
          new GraftDeltaOperation(spark, table, info.command(), writeBranch)
        case "copy-on-write" =>
          new GraftRowLevelOperation(spark, table, info.command(), writeBranch)
        case other => throw new IllegalArgumentException(
          s"$key: '$other' (expected copy-on-write or merge-on-read)")
      }
    }

  private def scan0: TableScan = {
    var s = table.newScan()
    snapshotId.foreach(id => s = s.useSnapshot(id))
    asOfMillis.foreach(ms => s = s.asOfTime(ms))
    // branch identifier: pinned to the ref's head but reading the table's
    // CURRENT schema (Iceberg branch semantics — the branch follows the
    // table's schema evolution; only tags freeze the snapshot schema)
    if (writeBranch.nonEmpty) s = s.withCurrentSchema
    s
  }

  override def name(): String = ident

  override def schema(): StructType =
    Types.cleanType(scan0.scanSchema).asInstanceOf[StructType]

  override def capabilities(): JSet[TableCapability] =
    // pinned relations (branch/tag identifiers, VERSION/TIMESTAMP AS OF)
    // advertise neither streaming capability: the micro-batch source
    // follows the LIVE snapshot line, so a streaming read of `t.branch_x`
    // silently streamed main's rows before this guard
    (if (writeBranch.nonEmpty)
      // branch identifiers: the full surface of the main table — batch
      // writes (appends, filter / dynamic overwrite, truncate), streaming
      // reads AND writes — all following / committing to the ref
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
        TableCapability.TRUNCATE)
    else if (pinned)
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
    else
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
        TableCapability.TRUNCATE)).asJava

  override def partitioning(): Array[XTransform] =
    GraftSparkTable.partitionTransforms(table.metadata)

  override def properties(): java.util.Map[String, String] =
    table.metadata.properties.asJava

  /** Per-read options (Iceberg's read-option names): `snapshot-id`,
    * `as-of-timestamp` (millis), `branch`, `tag` — the DataFrame-API
    * spelling of time travel (`spark.read.option(...).table(...)`), same
    * semantics as VERSION/TIMESTAMP AS OF. SQL-level time travel (a
    * snapshotId on this table instance) wins if both are present. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    var s = scan0
    if (snapshotId.isEmpty && asOfMillis.isEmpty) {
      // at most ONE time-travel spelling per read (Iceberg rejects the
      // combination too): silently letting one option win would hand back
      // data from a snapshot the user did not ask for
      val given = Seq("snapshot-id", "as-of-timestamp", "branch", "tag")
        .filter(k => options.get(k) != null)
      if (given.size > 1) throw new IllegalArgumentException(
        s"conflicting time-travel options: ${given.mkString(", ")} — " +
        "specify at most one of snapshot-id / as-of-timestamp / branch / tag")
      Option(options.get("snapshot-id")).foreach(v => s = s.useSnapshot(v.toLong))
      Option(options.get("as-of-timestamp")).foreach(v => s = s.asOfTime(v.toLong))
      Option(options.get("branch")).orElse(Option(options.get("tag")))
        .foreach(r => s = s.useRef(r))
    }
    // a branch IDENTIFIER relation must stream the branch line, not main:
    // surface the branch as a read option so the scan's micro-batch path
    // (GraftScan.toMicroBatchStream) follows the ref (batch reads ignore
    // it — they are pinned through the snapshot above)
    val opts = writeBranch match {
      case Some(b) if options.get("branch") == null =>
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("branch", b)
        new CaseInsensitiveStringMap(m)
      case _ => options
    }
    new GraftScanBuilder(spark, table, s, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // a snapshot-pinned relation (tag identifier, VERSION/TIMESTAMP AS OF)
    // is read-only: without this guard an INSERT INTO `t.tag_v1` silently
    // appended to MAIN. Branch identifiers stay writable (branch append).
    if (writeBranch.isEmpty && (snapshotId.nonEmpty || asOfMillis.nonEmpty))
      throw new UnsupportedOperationException(
        s"$ident is a snapshot-pinned (tag / time-travel) relation — " +
        "writes must target the table or a branch identifier")
    new GraftWriteBuilder(table, info.queryId(), writeBranch)
  }
}

object GraftSparkTable {
  /** Every graft relation's metadata columns, in declaration order. */
  private[connector] def metadataColumns
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(FileMetadataColumn, PosMetadataColumn, RowIdMetadataColumn,
      LastUpdatedMetadataColumn)

  /** Name of the file-path metadata column. */
  val FileColumn = "_file"

  object FileMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColumn
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "path of the data file the row came from"
  }

  /** Name of the row-position metadata column. */
  val PosColumn = "_pos"

  object PosMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row position within its data file"
  }

  /** Row-lineage metadata columns (iceberg v3; see [[graft.format.Lineage]]):
    * `_row_id` = the file's manifest `first_row_id` + row position for
    * computed files, the stored column for compacted (materialized) files;
    * `_last_updated_sequence_number` = the commit sequence that last wrote
    * the row. NULL on files committed before the table reached v3. */
  object RowIdMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = Lineage.RowIdColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = true
    override def comment(): String = "durable row identity (v3 row lineage)"
  }

  object LastUpdatedMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = Lineage.LastUpdatedColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = true
    override def comment(): String =
      "sequence number of the commit that last wrote the row (v3 row lineage)"
  }

  /** The table's partition spec as Spark connector transforms (shared by
    * Table.partitioning() and the write's required distribution). */
  def partitionTransforms(m: TableMetadata): Array[XTransform] = {
    val idToName = FieldIds.idToName(m.schema)
    m.spec.fields.map { pf =>
      val src = idToName(pf.sourceId)
      pf.transform match {
        case Transforms.IdentityT => XE.identity(src)
        case Transforms.BucketT(n) => XE.bucket(n, src)
        case Transforms.TruncateT(w) => XE.apply("truncate", XE.literal(w), XE.column(src))
        case Transforms.YearT => XE.years(src)
        case Transforms.MonthT => XE.months(src)
        case Transforms.DayT => XE.days(src)
        case Transforms.HourT => XE.hours(src)
        case Transforms.VoidT => XE.apply("void", XE.column(src))
      }
    }.toArray
  }
}

/** Pushdown plumbing (reference SparkScanBuilder.java:100-141).
  *
  * `groupGranular` puts the builder in row-level-operation mode (reference
  * SparkCopyOnWriteScan): pushed filters prune FILES only — every row of a
  * surviving file is produced, because ReplaceData rewrites whole groups
  * and a row-filtered read would drop the unmatched rows it must carry
  * over. `onPlan` hands the planned file set to the operation so its
  * commit can replace exactly what was read.
  *
  * `pinnedPlan` is the plan a library read (TableScan.toDF) or a stream's
  * micro-batch (GraftMicroBatchStream) already made:
  * the builder reads exactly its files and never re-plans, so one library
  * read is one planFiles. Pushed filters still reach the file readers and
  * are still re-applied as residuals. `bins` (with a pinned plan only)
  * groups its data files into the scan's input partitions, one per bin:
  * how bin-pack compaction reads (Actions.binJob). */
final class GraftScanBuilder private[connector] (spark: SparkSession,
    table: GraftTable, base: TableScan, options: CaseInsensitiveStringMap,
    groupGranular: Boolean,
    onPlan: ScanPlan => Unit,
    onRuntimeFilter: Set[String] => Unit,
    pinnedPlan: Option[ScanPlan],
    bins: Seq[Seq[String]])
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  def this(spark: SparkSession, table: GraftTable, base: TableScan,
      options: CaseInsensitiveStringMap, groupGranular: Boolean = false,
      onPlan: ScanPlan => Unit = _ => (),
      onRuntimeFilter: Set[String] => Unit = _ => ()) =
    this(spark, table, base, options, groupGranular, onPlan, onRuntimeFilter,
      None, Nil)

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: Option[StructType] = None
  private var pushedAgg: Option[AggPushdown.Pushed] = None

  /** Metadata-only aggregates (see AggPushdown). Only complete pushdown is
    * offered: when tryPush succeeds the single returned row IS the final
    * answer, so Spark plans no aggregation at all. Spark only reaches here
    * when no residual filter remains — and we residual every filter — so
    * only unfiltered aggregates qualify, which keeps the metrics-vs-rows
    * equivalence trivially exact. Row-level-operation scans (groupGranular)
    * never aggregate. */
  // memoized per aggregation: supportCompletePushDown and pushAggregation
  // both ask, and a refused attempt must not pay a second manifest walk
  private var aggAttempt:
    Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      Option[AggPushdown.Pushed])] = None

  private def tryAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) =
    aggAttempt match {
      case Some((prev, res)) if prev == agg => res
      case _ =>
        val res =
          if (groupGranular || pushed.nonEmpty) None
          else AggPushdown.tryPush(table, planBase(), agg)
        aggAttempt = Some((agg, res))
        res
    }

  // one manifest walk per builder for the UNFILTERED plan: a refused agg
  // pushdown (tryAgg) and the fallback buildFileScan would otherwise each
  // pay a full planFiles() on the same scan
  private var basePlan: Option[graft.format.ScanPlan] = pinnedPlan
  private def planBase(): graft.format.ScanPlan = basePlan match {
    case Some(p) => p
    case None =>
      val p = base.planFiles(); basePlan = Some(p); p
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = tryAgg(agg)
    pushedAgg.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = tryAgg(agg)
    pushedAgg.isDefined
  }

  private var pushedLimit: Option[Int] = None

  /** Bare `LIMIT n` (Spark only pushes when no Filter remains above the
    * relation): plan just enough files to yield n rows instead of every
    * file — `SELECT * FROM t LIMIT 10` on a 100k-file table reads one
    * file. Always partial: Spark keeps the global Limit, so extra rows
    * from the last file are harmless. Declined when row-level deletes are
    * live (a file's surviving count is unknown) — detected at build time
    * since the plan doesn't exist yet. */
  override def pushLimit(n: Int): Boolean =
    if (groupGranular) false
    else { pushedLimit = Some(n); true }

  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept only filters that CONVERT and BIND: Spark 4 pushes nested
    // attribute references ("info.tag") through this API, and the bridge
    // can't know names — an unbindable accepted filter crashed scan
    // planning instead of staying Spark-side (nested stats aren't
    // recorded anyway, so refusing loses no pruning)
    pushed = filters.filter(f => FilterBridge.convert(f).exists(e =>
      scala.util.Try(Exprs.bind(e, base.scanSchema)).isSuccess))
    // return ALL filters as post-scan: Spark re-applies them — residual
    // safety exactly as the reference (SparkScanBuilder.java:121-123).
    // (In group-granular mode Spark ignores the residual: the ReplaceData
    // query carries the full condition logic itself.)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = Some(required)

  override def build(): Scan = pushedAgg match {
    case Some(p) =>
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          p.rows
        override def readSchema(): StructType = p.schema
        override def description(): String = s"graft-metadata-agg(${p.funcs})"
      }
    case None => buildFileScan()
  }

  private def buildFileScan(): Scan = {
    val expr = FilterBridge.convertAll(pushed)
    val scan = if (expr == AlwaysTrue) base else base.filter(expr)
    val schema = scan.scanSchema
    val planned0 =
      if (expr == AlwaysTrue || pinnedPlan.isDefined) planBase()
      else scan.planFiles()
    // equality-delete entries prune through the SAME metrics evaluator as
    // data files, over their KEY-column stats (recorded at stage time): a
    // key matching a row that survives the filter agrees with it on every
    // key column, so a filter no key can satisfy proves the delete set
    // irrelevant to the RESULT. Sound ONLY here: this scan re-applies the
    // whole filter as a residual (a resurrected row failing it is
    // discarded above); group-granular row-level ops must keep every
    // entry. Pinned library plans keep every entry too, so a filter
    // applied over them (deleteWhere's copy-on-write `NOT cond`) is the
    // only thing that prunes here, and it stays a residual.
    val planned =
      if (expr == AlwaysTrue || groupGranular ||
          planned0.deleteFiles.isEmpty) planned0
      else {
        val bound = Exprs.bind(expr, schema)
        planned0.copy(deleteFiles = planned0.deleteFiles.filter(d =>
          d._1.content != FileContent.EqualityDeletes ||
            Evaluators.inclusiveMetrics(bound, d._1)))
      }
    val plan = pushedLimit match {
      case Some(n) if pushed.isEmpty && planned.deleteFiles.isEmpty &&
          !groupGranular =>
        var acc = 0L
        val kept = planned.tasks.takeWhile { t =>
          val need = acc < n; acc += t.file.recordCount; need
        }
        planned.copy(tasks = kept, filesScanned = kept.size)
      case _ => planned
    }
    onPlan(plan)
    def strip(st: StructType) = Types.cleanType(st).asInstanceOf[StructType]
    val clean = strip(schema)
    val requested = requiredSchema.getOrElse(clean)
    // `_file` metadata column: requested only via SupportsMetadataColumns
    // (never part of the data schema unless shadowed by a real column);
    // served below as a per-file partition constant, so it costs nothing
    // when absent and no data-file I/O when present
    val metaFile = requested.fieldNames.contains(GraftSparkTable.FileColumn) &&
      !clean.fieldNames.contains(GraftSparkTable.FileColumn)
    // `_pos`: the row's position in its file — the synthetic row-index
    // column every format's reader fills
    val metaPos = requested.fieldNames.contains(GraftSparkTable.PosColumn) &&
      !clean.fieldNames.contains(GraftSparkTable.PosColumn)
    // `_row_id` / `_last_updated_sequence_number`: v3 row lineage — served
    // by a projection wrapper (LineageRowReader) from the file's manifest
    // base + row index, or from the physical columns on compacted files
    val metaRowId = requested.fieldNames.contains(Lineage.RowIdColumn) &&
      !clean.fieldNames.contains(Lineage.RowIdColumn)
    val metaLuseq = requested.fieldNames.contains(Lineage.LastUpdatedColumn) &&
      !clean.fieldNames.contains(Lineage.LastUpdatedColumn)
    val metaLineage = metaRowId || metaLuseq
    val read0 = if (!metaFile && !metaPos && !metaLineage) requested
      else StructType(requested.fields.filterNot(f =>
        f.name == GraftSparkTable.FileColumn ||
        f.name == GraftSparkTable.PosColumn ||
        f.name == Lineage.RowIdColumn ||
        f.name == Lineage.LastUpdatedColumn))
    // structs carrying NESTED initial defaults read UN-pruned: a scan that
    // requests only the absent (defaulted) child gets a null struct from
    // the file source — parent null-ness would be unobservable, and the
    // backfill could not distinguish "parent null" from "child missing"
    def hasNestedDefault(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f =>
        f.metadata.contains(Defaults.Key) || hasNestedDefault(f.dataType))
      case _ => false
    }
    // ids of the defaulted descendant struct fields under a target type
    def defaultedIds(dt: DataType): Seq[Int] = dt match {
      case s: StructType => s.fields.toSeq.flatMap { f =>
        (if (f.metadata.contains(Defaults.Key) &&
             f.metadata.contains(FieldIds.Key)) Seq(FieldIds.idOf(f)) else Nil) ++
          defaultedIds(f.dataType)
      }
      case _ => Nil
    }
    val m = table.metadata
    val usedSchemas = plan.tasks.map(_.file.schemaId).distinct
      .map(id => m.schemas.getOrElse(id, schema))
    lazy val usedFileIds: Seq[Set[Int]] = usedSchemas.map(FieldIds.allIds)
    val read = StructType(read0.fields.map { f =>
      FieldIds.nameToId(schema).get(f.name)
        .flatMap(FieldIds.findById(schema, _)) match {
        // un-prune only when a PLANNED file generation actually misses a
        // defaulted descendant id — post-add generations (the steady state
        // once old files compact away) keep full nested pruning
        case Some(tf) if hasNestedDefault(tf.dataType) &&
            defaultedIds(tf.dataType).exists(id =>
              usedFileIds.exists(ids => !ids.contains(id))) =>
          f.copy(dataType = Types.cleanType(tf.dataType))
        case _ => f
      }
    })

    // re-attach field ids to a (possibly nested-pruned) clean type by name
    // against the id-bearing scan schema, so nested id resolution works on
    // Spark's pruned read schema too
    def resolveIds(pruned: org.apache.spark.sql.types.DataType,
        full: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      (pruned, full) match {
        case (ps: StructType, fs: StructType) =>
          StructType(ps.fields.map { pf =>
            fs.fields.find(_.name == pf.name) match {
              case Some(ff) => ff.copy(dataType = resolveIds(pf.dataType, ff.dataType))
              case None => pf
            }
          })
        case _ => pruned
      }

    // position deletes: like equality deletes, only the delete-file PATHS
    // travel in the plan; executors load (file → sorted positions) once per
    // delete set. Data rows get their file row index from Spark's parquet
    // readers via the _tmp_metadata_row_index synthetic column (the same
    // mechanism _metadata.row_index rides), and partitions split per data
    // file so each reader knows which position set applies (reference
    // PositionStreamDeleteFilter, core/.../deletes/Deletes.java:70-123).
    // No sequence gating is needed: a position delete names its data file
    // by path, and paths are never reused.
    val posFiles: Seq[DataFile] =
      plan.deleteFiles.filter(_._1.content == FileContent.PositionDeletes).map(_._1)
    val posPaths: Seq[String] = posFiles
      .filterNot(_.fileFormat == FileFormats.Puffin).map(_.path).distinct.sorted
    // deletion vectors (v3): blob addresses come straight from the manifest
    val posDvs: Seq[DvSlice] = Dvs.slicesOf(posFiles)
    val posActive = posPaths.nonEmpty || posDvs.nonEmpty

    // equality deletes: only the delete-file PATHS travel in the plan; each
    // executor loads (and caches) the key sets itself, so a 100M-key
    // GDPR-style delete never lands on the driver and planning runs no jobs
    // (reference loads sets executor-side: EqualitySetDeleteFilter,
    // Deletes.java:128). Tasks are grouped by sequence number so each
    // sub-scan knows which delete sets are newer than its files.
    // grouping includes the FILE-side key names (resolved via each delete
    // file's staged schemaId — Deletes.eqKeyFileNames): files staged before
    // a key-column rename physically carry the old names, and reading them
    // by current name would null-fill and resurrect their deletes
    val eqDeletes: Seq[EqDeleteSet] =
      plan.deleteFiles.filter(_._1.content == FileContent.EqualityDeletes)
        .groupBy(d => (d._1.equalityIds, d._2,
          Deletes.eqKeyFileNames(m.schemas, schema, d._1)))
        .toSeq.map { case ((ids, seq, fileNames), group) =>
          val names = ids.map(id => FieldIds.findById(schema, id).get.name)
          // distinct like posPaths: the same delete file planned through
          // two manifest entries must not be read twice per executor load
          // (and the dedup keeps the cache key stable across scans)
          EqDeleteSet(names, fileNames, seq, group.map(_._1.path).distinct.sorted)
        }

    // identity-partition source columns physically absent from at least one
    // file generation (imported hive layouts store them only in directory
    // names): they sit in the declared output's constants tail. Each group
    // decides from its OWN file schema: a generation without the column
    // takes it as a Spark PARTITION value — constant column vectors
    // appended by Spark's own readers, the reference's
    // PartitionUtil.constantsMap — while a generation that stores it (files
    // written after a spec change dropped the identity field, or compacted
    // files) reads it as data and projects it into the constants slot.
    val identPartName: Map[String, String] = // target col name → tuple key
      m.specs.values.flatMap(_.fields.filter(_.transform == Transforms.IdentityT))
        .flatMap(pf => FieldIds.findById(schema, pf.sourceId).map(_.name -> pf.name))
        .toMap
    val servedFromMetadata: Set[String] = clean.fieldNames.filter { n =>
      identPartName.contains(n) &&
        FieldIds.nameToId(schema).get(n).exists(i => usedSchemas.exists(
          fs => !fs.fields.exists(ff => FieldIds.idOf(ff) == i)))
    }.toSet
    val partServe: Seq[StructField] =
      read.fields.toSeq.filter(f => servedFromMetadata.contains(f.name))
    val partServeNames = partServe.map(_.name).toSet
    def constantsSchema(served: Seq[StructField]): StructType =
      StructType(served.map(f =>
        StructField(f.name, Types.cleanType(f.dataType), nullable = true)) ++
        (if (metaFile)
          Seq(StructField(GraftSparkTable.FileColumn, StringType, nullable = false))
        else Nil))
    // the declared tail of every group's output (after any delete projection)
    val partSchema = constantsSchema(partServe)

    // position deletes ride the synthetic row-index column: parquet's
    // readers fill it themselves, and ORC and Avro groups that a position
    // delete can TARGET read it through graft's own counting readers
    // (GraftOrcRowScan / GraftAvroScan — position deletes are
    // format-agnostic in the reference, core/.../deletes/Deletes.java:70-123),
    // whose files then stay unsplit. The scan's delete index answers which
    // files a position delete can target.
    val deleteIndex =
      DeleteIndex(plan.deleteFiles, m.schema, spark.sessionState.newHadoopConf())

    // one file-source scan per (writer-schema generation, file format):
    // columns are re-mapped to each generation's *file* names by field id
    // (id-based resolution, the heart of metadata-only rename — SURVEY
    // §1.2), and the readDataSchema keeps the TARGET column order so every
    // generation produces identical InternalRow/ColumnarBatch layouts.
    // Every group is a Spark FileScan built by GroupScan (parquet, ORC
    // vectorized or scrub, Avro), so Spark's split planner serves every
    // format. With live equality deletes, tasks also split by sequence
    // number (seqKey) so delete recency is resolvable.
    val groups = plan.tasks
      .groupBy(t => (t.file.schemaId,
        if (eqDeletes.isEmpty) 0L else t.sequenceNumber, t.file.fileFormat,
        // lineage splits groups by read strategy: computed files take the
        // row-index path with a per-file base, compacted (materialized)
        // files read their stored columns, pre-v3 files read NULL
        if (!metaLineage) 0
        else Lineage.modeOf(t.file, t.sequenceNumber) match {
          case _: Lineage.Computed => 1
          case Lineage.Stored => 2
          case Lineage.Absent => 0
        }))
      .toSeq.sortBy(_._1).map { case ((schemaId, seqKey, fmt, lineageKind), tasks) =>
        val lineageComputed = metaLineage && lineageKind == 1
        val lineageStored = metaLineage && lineageKind == 2
        // parquet: every group rides the (cheap, vectorized) row-index
        // column while deletes are live; ORC and Avro: only TARGETED
        // groups read positions, which keeps their files unsplit
        val groupPos = posActive && (fmt match {
          case FileFormats.Parquet => true
          case _ => tasks.exists(t =>
            deleteIndex.posDeletesFor(ParquetIO.canonPath(t.file.path)).size > 0)
        })
        // `_pos` and computed lineage ride the same row-index column
        val needRowIdx = groupPos || metaPos || lineageComputed
        val fileSchema = m.schemas.getOrElse(schemaId, schema)
        val fileById = FieldIds.idToName(fileSchema)
        def fileName(target: StructField): String =
          FieldIds.findById(schema, FieldIds.nameToId(schema)(target.name))
            .map(FieldIds.idOf) match {
            case Some(id) => fileById.getOrElse(id, {
              // the field id is ABSENT from this generation, so the column
              // must read NULL — but the generation may still carry a
              // SAME-NAMED physical column from a DROPPED predecessor
              // (drop + re-add assigns a fresh id precisely so old data
              // stays dead). Falling back to the target name would rebind
              // to the dropped column and resurrect its values (round-20
              // fuzz finding); map to a name guaranteed absent instead and
              // let the source null-fill it.
              if (fileSchema.fieldNames.contains(target.name))
                s"__graft_absent_$id"
              else target.name
            })
            case None => target.name
          }
        // delete sets newer than this group's files apply to it; the read
        // schema widens to include their key columns (projected away after
        // the filter so the output layout stays `read`)
        val applicable = eqDeletes.filter(_.seq > seqKey)
        val wideTarget: StructType =
          if (applicable.isEmpty) read
          else {
            val missing = applicable.flatMap(_.names).distinct
              .filterNot(read.fieldNames.contains)
            StructType(read.fields ++ missing.map(n => clean.fields.find(_.name == n).get))
          }
        // physical row layout of every reader in this group: [data...,
        // rowIdx?, stored lineage?, partition constants..., _file?]. The
        // constants are the columns THIS generation's files lack —
        // requested ones first, then delete keys served from metadata only —
        // so delete-key, projection and fill ordinals all index this layout.
        val fileIdSet = fileSchema.fields.map(FieldIds.idOf).toSet
        val groupServed: Set[String] = servedFromMetadata.filterNot(n =>
          FieldIds.nameToId(schema).get(n).exists(fileIdSet.contains))
        val groupPartServe =
          wideTarget.fields.toSeq.filter(f => groupServed.contains(f.name))
        val groupPartSchema = constantsSchema(groupPartServe)
        val dataCols =
          wideTarget.fields.toSeq.filterNot(f => groupServed.contains(f.name))
        // a declared constant this generation stores as data must be moved
        // into the constants slot by the projection below
        val reordered = partServe.exists(f => !groupServed.contains(f.name))
        val posExtra = if (needRowIdx) 1 else 0
        val storedExtra = if (lineageStored) 2 else 0
        val constAt = dataCols.length + posExtra + storedExtra
        def physIndex(name: String): Int = dataCols.indexWhere(_.name == name) match {
          case -1 => constAt + groupPartServe.indexWhere(_.name == name)
          case i => i
        }
        val physTypes: Seq[DataType] = dataCols.map(_.dataType) ++
          (if (needRowIdx) Seq(LongType) else Nil) ++
          (if (lineageStored) Seq(LongType, LongType) else Nil) ++
          groupPartSchema.fields.map(_.dataType)
        // the delete filter's projection emits the INTERMEDIATE layout the
        // lineage wrapper consumes: read columns, then rowIdx when a final
        // column needs it (_pos or computed lineage), then stored lineage
        // columns, then the declared constants (_file last)
        val keepRowIdx = metaPos || lineageComputed
        val deletes: Option[GroupDeletes] =
          if (applicable.isEmpty && !groupPos && !reordered) None
          else Some(GroupDeletes(
            applicable.map(ds => DeleteKeySource(
              ds.names.map(physIndex).toArray, ds.names,
              ds.fileNames,
              ds.names.map(n => clean.fields.find(_.name == n).get.dataType),
              ds.paths)),
            physTypes,
            // projected to the declared layout: [requested data..., rowIdx?,
            // stored?, requested partition constants..., _file?]
            if (wideTarget.length == read.length && !groupPos && !metaLineage &&
                !reordered) None
            else Some(read.fields.toSeq.filterNot(f => partServeNames.contains(f.name))
                .map(f => physIndex(f.name)) ++
              (if (keepRowIdx) Seq(dataCols.length) else Nil) ++
              (if (lineageStored) Seq(dataCols.length + posExtra,
                dataCols.length + posExtra + 1) else Nil) ++
              partServe.map(f => physIndex(f.name)) ++
              (if (metaFile) Seq(constAt + groupPartServe.size) else Nil)),
            if (groupPos) Some(PosDeleteSource(posPaths, posDvs, dataCols.length))
            else None))
        val renames: Map[String, String] =
          wideTarget.fields.map(f => f.name -> fileName(f)).toMap
        // nested levels resolve by id too: each read field's type is spelled
        // with the FILE's nested names (target order/leaf types), so nested
        // renames are metadata-only and nested adds read as nulls
        val fileFieldById = fileSchema.fields.map(f => FieldIds.idOf(f) -> f).toMap
        def fileSide(f: StructField): org.apache.spark.sql.types.DataType = {
          val idTarget = FieldIds.findById(schema, FieldIds.nameToId(schema)(f.name))
          (idTarget, idTarget.map(FieldIds.idOf).flatMap(fileFieldById.get)) match {
            case (Some(tf), Some(ff)) => Types.fileSideType(
              resolveIds(f.dataType, tf.dataType), ff.dataType)
            case _ => f.dataType
          }
        }
        // the row-index column is synthetic (populated by the reader, never
        // read from the file), so it joins the read schema un-renamed, after
        // the data columns; partition-served columns leave the DATA schema
        // entirely (they arrive as the files' partition values, after the
        // data columns)
        val groupRead = StructType(dataCols.map(f =>
            StructField(renames(f.name), fileSide(f), f.nullable)) ++
          (if (needRowIdx) Seq(StructField(
            // nullable: the column is absent from the FILE (parquet's reader
            // treats it as a missing optional column, then its
            // RowIndexGenerator overwrites the null vector with real row
            // indexes; graft's ORC and Avro readers count rows)
            GroupScan.RowIndexColumn, LongType, nullable = true))
          else Nil) ++
          // compacted (materialized-lineage) files store the lineage
          // columns physically — read them like ordinary data columns
          (if (lineageStored) Seq(
            StructField(Lineage.RowIdColumn, LongType, nullable = true),
            StructField(Lineage.LastUpdatedColumn, LongType, nullable = true))
          else Nil))
        // file-side full schema: file names (all levels) with target types
        // where ids align; groupRead's structs are subsets of these
        val groupData = strip(StructType(fileSchema.fields.map { ff =>
          val id = FieldIds.idOf(ff)
          FieldIds.findById(schema, id) match {
            case Some(tf) =>
              ff.copy(dataType = Types.fileSideType(tf.dataType, ff.dataType))
            case None => ff
          }
        } ++
          (if (lineageStored) Seq(
            StructField(Lineage.RowIdColumn, LongType, nullable = true),
            StructField(Lineage.LastUpdatedColumn, LongType, nullable = true))
          else Nil)))
        // filters on partition-served columns can't reach parquet (the
        // column isn't in the files) — they stay Spark-side residuals over
        // the appended constants; partition PRUNING already fired in
        // planFiles
        val groupFilters =
          if (groupGranular) Array.empty[Filter] // whole groups, no row filter
          else pushed
            .filter(_.references.forall(r => !groupServed.contains(r)))
            .flatMap(f => renameFilter(f, renames))
        // manifest-fed index: no listing/stat calls at plan time. `_file`
        // is a per-file constant, so the index serves one partition dir per
        // file when it's requested (Spark still packs across dirs)
        val partValsOf: DataFile => Seq[Any] = df => {
          val sp = m.specs(df.specId)
          groupPartServe.map(f => sp.fields.find(pf =>
              pf.transform == Transforms.IdentityT &&
              FieldIds.findById(schema, pf.sourceId).exists(_.name == f.name))
            .map(pf => df.partition.getOrElse(pf.name, null)).getOrElse(null)) ++
            (if (metaFile) Seq(df.path) else Nil)
        }
        val index = new GraftFileIndex(spark, tasks.map(_.file),
          groupPartSchema, partValsOf)
        val scan = GroupScan(spark, fmt, index, groupData, groupRead,
          groupPartSchema, groupFilters, options)
        // initial-default backfill for columns this generation predates:
        // (ordinal in the physical read row, clean type, catalyst value) —
        // applied by a reader wrapper UNDER the delete filters. Partition-
        // served columns are never filled: their constants are the value.
        val allFileIds = FieldIds.allIds(fileSchema)
        val fills: Option[FillConfig] = {
          val fs = dataCols.zipWithIndex.flatMap { case (f, ord) =>
            FieldIds.nameToId(schema).get(f.name)
              .flatMap(FieldIds.findById(schema, _))
              .filter(tf => !fileIdSet.contains(FieldIds.idOf(tf)))
              .flatMap(tf => Defaults.of(tf).map { v =>
                val ct = Types.cleanType(tf.dataType)
                (ord, ct, Values.toCatalyst(v, ct))
              })
          }
          // struct-nested defaults this generation predates: the COLUMN
          // exists in the file, the defaulted descendant doesn't. Path
          // indices are computed over the pruned-with-ids target type —
          // the same field order the physical struct carries (fileSideType
          // keeps target order)
          val nested = dataCols.zipWithIndex.flatMap {
            case (f, ord) if f.dataType.isInstanceOf[StructType] =>
              FieldIds.nameToId(schema).get(f.name)
                .flatMap(FieldIds.findById(schema, _))
                .filter(tf => fileIdSet.contains(FieldIds.idOf(tf))).toSeq
                .flatMap { tf =>
                  Defaults.nestedFills(resolveIds(f.dataType, tf.dataType),
                    allFileIds).map { case (path, _, v) => (ord, path, v) }
                }
            case _ => Nil
          }
          if (fs.isEmpty && nested.isEmpty) None
          else Some(FillConfig(physTypes, fs, nested))
        }
        // lineage projection config: the wrapper reader turns the group's
        // INTERMEDIATE layout [data..., rowIdx?, stored?, constants...]
        // into the declared output [data..., _pos?, _row_id?, _luseq?,
        // constants...] — computed groups take (base, seq) per partition
        val lineageCfg: Option[LineageConfig] =
          if (!metaLineage) None
          else {
            val dataTypes =
              read.fields.filterNot(f => partServeNames.contains(f.name))
                .map(f => Types.cleanType(f.dataType)).toSeq
            // with or without a delete projection the tail is the declared
            // constants (without one, the group serves exactly those)
            val tailTypes: Seq[DataType] = partSchema.fields.map(_.dataType).toSeq
            Some(LineageConfig(
              types = dataTypes ++
                (if (keepRowIdx) Seq(LongType) else Nil) ++
                (if (lineageStored) Seq(LongType, LongType) else Nil) ++
                tailTypes,
              dataCount = dataTypes.size,
              hasRowIdx = keepRowIdx,
              hasStored = lineageStored,
              tailCount = tailTypes.size,
              emitPos = metaPos, emitRowId = metaRowId, emitLuseq = metaLuseq,
              kind = lineageKind))
          }
        (scan, deletes, fills, lineageCfg)
    }
    // declared output = every group's layout after its projection: data
    // columns (minus partition-served) then partition-served columns
    // (incl. `_file`) — Spark
    // re-projects above by attribute, so order differences from the pruned
    // request are fine
    val output =
      if (partSchema.isEmpty && !metaPos && !metaLineage) read
      else StructType(read.fields.filterNot(f => partServeNames.contains(f.name)) ++
        (if (metaPos) Seq(StructField(GraftSparkTable.PosColumn, LongType,
          nullable = false)) else Nil) ++
        (if (metaRowId) Seq(StructField(Lineage.RowIdColumn, LongType,
          nullable = true)) else Nil) ++
        (if (metaLuseq) Seq(StructField(Lineage.LastUpdatedColumn, LongType,
          nullable = true)) else Nil) ++
        partSchema.fields)
    // storage-partitioned-join eligibility: opt-in via Spark's v2 bucketing
    // conf, every planned file under one live spec whose fields are all
    // identity, bucket[N], truncate[W] or a time transform, no row-level-op
    // or metadata columns in play. Bucket
    // fields report as connector bucket(N, col) transforms — Spark resolves
    // them against this catalog's FunctionCatalog (GraftFunctions.bucket,
    // the same murmur3 kernel the write path placed files with), so two
    // tables bucketed the same way join with no shuffle, and with
    // v2.bucketing.shuffle.enabled a derived side can be shuffled INTO the
    // table's bucketing while the table side stays put. Live position
    // deletes / DVs are compatible: the keyed partitions carry
    // file-granular delete-scoped subs (KeyedPartition.subs), so a
    // co-partitioned join over a MoR table still skips the shuffle. Each
    // file's partition key converts to Catalyst values once, spec-field
    // order (a bucket field's key is the stored bucket ordinal).
    // Multi-group scans (one reader group per format × schema generation,
    // every format included) stay eligible: keyedParts tags each file with
    // its group and the per-key task concatenates per-group subs
    val spjInfo: Option[SpjInfo] =
      if (groupGranular || bins.nonEmpty || metaFile || metaPos ||
          metaLineage || plan.tasks.isEmpty) None
      else if (!spark.sessionState.conf
          .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
          .toBoolean) None
      else plan.tasks.map(_.file.specId).distinct match {
        case Seq(specId) => m.specs.get(specId).flatMap { spec =>
          val liveFields = spec.fields.filterNot(_.transform == Transforms.VoidT)
          val supported = liveFields.forall(_.transform match {
            case Transforms.IdentityT | Transforms.BucketT(_) |
                 Transforms.TruncateT(_) | Transforms.YearT |
                 Transforms.MonthT | Transforms.DayT | Transforms.HourT => true
            case _ => false
          })
          if (liveFields.isEmpty || !supported) None
          else {
            val resolved = liveFields.map(pf =>
              pf -> FieldIds.findById(schema, pf.sourceId))
            if (resolved.exists(_._2.isEmpty)) None
            else {
              val fields = resolved.map { case (pf, f) =>
                val keyType = pf.transform match {
                  case Transforms.BucketT(_) | Transforms.YearT |
                       Transforms.MonthT | Transforms.DayT |
                       Transforms.HourT => IntegerType
                  case _ => Types.cleanType(f.get.dataType)
                }
                SpjField(f.get.name, keyType, pf.transform)
              }
              try {
                val keyOf = plan.tasks.map { t =>
                  ParquetIO.canonPath(t.file.path) ->
                    liveFields.zip(fields).map { case (pf, sf) =>
                      Values.toCatalyst(t.file.partition.getOrElse(pf.name, null),
                        sf.keyType)
                    }
                }.toMap
                Some(SpjInfo(fields, keyOf))
              } catch {
                // an unconvertible partition value disables SPJ, never the scan
                case scala.util.control.NonFatal(_) => None
              }
            }
          }
        }
        case _ => None
      }
    new GraftScan(output, schema, groups.map(_._1), plan, deleteIndex, spark, table,
      options, pushed.toSeq, groups.map(_._2), runtimeFileFiltering = groupGranular,
      onRuntimeFilter = onRuntimeFilter, spjInfo = spjInfo,
      ndvStats = scan.snapshot.map(_.snapshotId)
        .flatMap(id => Stats.read(table, id)),
      fills = groups.map(_._3),
      lineages = groups.map(_._4), bins = bins)
  }

  /** Rename filter references current→file names; drop if any referenced
    * column is absent from the mapping (it stays a Spark-side residual). */
  private def renameFilter(f: Filter, renames: Map[String, String]): Option[Filter] =
    if (f.references.forall(renames.contains)) {
      import org.apache.spark.sql.sources
      def r(n: String) = renames(n)
      Some(f match {
        case sources.EqualTo(a, v) => sources.EqualTo(r(a), v)
        case sources.EqualNullSafe(a, v) => sources.EqualNullSafe(r(a), v)
        case sources.GreaterThan(a, v) => sources.GreaterThan(r(a), v)
        case sources.GreaterThanOrEqual(a, v) => sources.GreaterThanOrEqual(r(a), v)
        case sources.LessThan(a, v) => sources.LessThan(r(a), v)
        case sources.LessThanOrEqual(a, v) => sources.LessThanOrEqual(r(a), v)
        case sources.In(a, vs) => sources.In(r(a), vs)
        case sources.IsNull(a) => sources.IsNull(r(a))
        case sources.IsNotNull(a) => sources.IsNotNull(r(a))
        case sources.StringStartsWith(a, v) => sources.StringStartsWith(r(a), v)
        case other => return None
      })
    } else None
}

/** Union-of-generations scan: concatenates each (generation, format)
  * group's scan partitions. Every group is a Spark FileScan (ParquetScan,
  * OrcScan, or graft's GraftOrcRowScan / GraftAvroScan; see [[GroupScan]]),
  * so every partition is a FilePartition; readers dispatch to the owning
  * group's factory. All groups share one output layout, so Spark sees a
  * single homogeneous batch source (columnar included). Reports manifest-derived statistics to
  * the CBO (reference SparkBatchScan.estimateStatistics :186-209) so join
  * sides behind graft tables broadcast correctly. Non-empty `bins` (data
  * file paths covering the plan) replace Spark's packing: input partition
  * k reads exactly bin k, and the scan reports no key grouping and takes
  * no runtime filter.
  *
  * Two scans that read the same rows are EQUAL (see `readKey`), and
  * `toBatch` returns one batch per scan that compares by its scan, so
  * Spark's `BatchScanExec` equality — and with it exchange and subquery
  * reuse — holds for two reads of one table in one query. */
final class GraftScan(output: StructType, scanSchema: StructType,
    groupScans: Seq[org.apache.spark.sql.execution.datasources.v2.FileScan],
    plan: ScanPlan, deleteIndex: DeleteIndex, spark: SparkSession,
    table: GraftTable, options: CaseInsensitiveStringMap,
    pushedFilters: Seq[Filter],
    deletes: Seq[Option[GroupDeletes]],
    runtimeFileFiltering: Boolean,
    onRuntimeFilter: Set[String] => Unit,
    spjInfo: Option[SpjInfo],
    ndvStats: Option[Stats.TableStats],
    fills: Seq[Option[FillConfig]],
    lineages: Seq[Option[LineageConfig]],
    bins: Seq[Seq[String]])
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Statistics}
  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
  import java.util.OptionalLong

  override def readSchema(): StructType = output
  override def description(): String =
    s"graft(${groupScans.size} scan groups, files=${plan.tasks.size})"

  /** What this scan reads, computed once from the builder's inputs: table,
    * the id-bearing schema its columns bind by (a time-travel read binds by
    * its snapshot's schema, and a schema change writes no snapshot), planned
    * files with their residuals, live delete files, output, pushed filters,
    * options and bins. Every per-group reader config derives from these.
    * A row-level-operation scan gets a fresh token instead, so it equals
    * only itself: its runtime filter reports to its own operation
    * (`onRuntimeFilter`). The runtime keep-set stays out of the key:
    * `BatchScanExec` compares its runtime filters itself. */
  private lazy val readKey: AnyRef =
    if (runtimeFileFiltering) new Object
    else (table.location, scanSchema,
      plan.tasks.map(t => (t.file.path, t.sequenceNumber, t.residual)),
      plan.deleteFiles.map { case (d, seq) => (d.path, d.contentOffset, seq) },
      output, pushedFilters,
      options.asCaseSensitiveMap.asScala.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap,
      bins)
  private lazy val readKeyHash = readKey.hashCode

  override def equals(other: Any): Boolean = other match {
    case s: GraftScan => (this eq s) || readKey == s.readKey
    case _ => false
  }
  override def hashCode(): Int = readKeyHash

  /** Test visibility: the (possibly eq-delete-pruned) plan this scan runs. */
  private[connector] def scanPlan: ScanPlan = plan
  /** Test visibility: one reader scan per (generation, format) group. */
  private[graft] def groups: Seq[org.apache.spark.sql.execution.datasources.v2.FileScan] =
    groupScans

  /** Runtime group filtering (reference SparkCopyOnWriteScan): row-level
    * operation scans advertise `_file`, so Spark's
    * RowLevelOperationRuntimeGroupFiltering injects a dynamic subquery of
    * the files that actually contain matches — a join-only MERGE then
    * rewrites matched files instead of every candidate group. Canonical
    * paths survive: files not in the runtime set are dropped from both the
    * input partitions (below) and the operation's replaced-file set
    * (`onRuntimeFilter`). */
  private var runtimeKeep: Option[Set[String]] = None

  /** Row-level-op scans advertise `_file` only (their keep-set must stay in
    * sync with the operation's replaced-file set); ordinary scans advertise
    * the partition-spec SOURCE columns across all spec generations, so
    * Spark's dynamic partition pruning injects the dim side's join-key
    * values at runtime and a star-schema fact scan drops whole files before
    * reading — the same manifest pruning planFiles does statically, now fed
    * by runtime values (reference SparkBatchQueryScan.filterAttributes).
    * Bin reads advertise nothing: a dropped file would drop its rows from
    * the rewrite. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (bins.nonEmpty) Array.empty
    else if (runtimeFileFiltering)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftSparkTable.FileColumn))
    // key-grouped (storage-partitioned-join) scans skip runtime filtering:
    // dropping partitions after reporting KeyGroupedPartitioning would
    // break the partitioning contract both join sides already agreed on
    else if (spjInfo.isDefined) Array.empty
    else {
      val m = table.metadata
      val outNames = output.fieldNames.toSet
      m.specs.values.toSeq
        .flatMap(_.fields.filterNot(_.transform == Transforms.VoidT)
          .map(_.sourceId))
        .distinct
        .flatMap(id => FieldIds.findById(m.schema, id))
        .map(_.name).filter(outNames.contains).distinct
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal => XLit, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    // a predicate shape we don't recognize is simply ignored: filtering is
    // an optimization, never required for correctness
    predicates.foreach {
      case p: Predicate if p.name() == "IN" && p.children().nonEmpty &&
          (p.children()(0) match {
            case nr: NamedReference =>
              nr.fieldNames().sameElements(Array(GraftSparkTable.FileColumn))
            case _ => false
          }) =>
        val vals = p.children().drop(1).collect {
          case l: XLit[_] if l.value() != null => ParquetIO.canonPath(l.value().toString)
        }.toSet
        runtimeKeep = Some(runtimeKeep.fold(vals)(_ intersect vals))
        onRuntimeFilter(vals)
      // dynamic partition pruning: IN over a partition source column — the
      // runtime values run through the SAME inclusive partition projection
      // + file-stats pruning as a static filter, and surviving files become
      // the keep-set planInputPartitions applies
      case p: Predicate if p.name() == "IN" && p.children().nonEmpty &&
          !runtimeFileFiltering =>
        p.children()(0) match {
          case nr: NamedReference if nr.fieldNames().length == 1 =>
            try {
              val colName = nr.fieldNames()(0)
              val vals = p.children().drop(1).collect {
                case l: XLit[_] if l.value() != null =>
                  org.apache.spark.sql.catalyst.CatalystTypeConverters
                    .convertToScala(l.value(), l.dataType())
              }.toSeq
              val m = table.metadata
              val schema = m.schema
              val bound = Exprs.bind(Exprs.in(colName, vals), schema)
              val keep = plan.tasks.filter { t =>
                val partOk = m.specs.get(t.file.specId) match {
                  case Some(spec) if spec.isPartitioned =>
                    val proj = Projections.inclusive(bound, spec, schema)
                    proj == AlwaysTrue ||
                      Projections.evalOnPartition(proj, t.file.partition)
                  case _ => true
                }
                partOk && Evaluators.inclusiveMetrics(bound, t.file)
              }.map(t => ParquetIO.canonPath(t.file.path)).toSet
              runtimeKeep = Some(runtimeKeep.fold(keep)(_ intersect keep))
            } catch {
              // a value we can't coerce or a column we can't bind leaves
              // the scan un-pruned — never wrong, just un-optimized
              case scala.util.control.NonFatal(_) => ()
            }
          case _ => ()
        }
      case _ => ()
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // snapshot pins make no sense for a stream (it follows a commit
    // line); a silently-ignored option would read data the user didn't
    // ask for — refuse loudly. `branch` is the one supported spelling:
    // the stream follows the branch ref's commit line.
    Seq("snapshot-id", "as-of-timestamp", "tag").foreach { k =>
      if (options.get(k) != null) throw new UnsupportedOperationException(
        s"streaming reads do not support the $k option — streams follow " +
        "the main (or branch) commit line")
    }
    new GraftMicroBatchStream(spark, table, options,
      Option(options.get("branch")))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(plan.tasks.map(_.file.fileSizeInBytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(plan.tasks.map(_.file.recordCount).sum)

    /** Per-column stats for the CBO: NDV from the analyzed snapshot's
      * statistics file (Stats.analyze — reference reads the same from
      * Puffin sketches), null counts summed from manifest metrics. Both
      * are estimates over the FULL snapshot; a file-pruned scan
      * over-reports them, which Spark's estimation tolerates (reference
      * SparkScan.estimateStatistics has the same behavior). */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val nameToId = FieldIds.nameToId(table.metadata.schema)
      output.fieldNames.foreach { name =>
        // NDV lookup by field id — stable across metadata-only renames
        val ndv = nameToId.get(name).flatMap(id =>
          ndvStats.flatMap(_.ndv.get(id)))
        val nulls = nameToId.get(name).flatMap { id =>
          val perFile = plan.tasks.map(_.file.nullValueCounts.get(id))
          if (perFile.nonEmpty && perFile.forall(_.isDefined))
            Some(perFile.flatten.sum)
          else None
        }
        if (ndv.isDefined || nulls.isDefined)
          out.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            })
      }
      out
    }
  }

  // batch internals live on the SCAN (not per-toBatch instance) because
  // outputPartitioning() needs the planned partitions before Spark asks for
  // the batch — hoisting makes both consult the same lazily-planned state
  private lazy val inner = groupScans.map(_.toBatch)
  private lazy val innerFactories = inner.map(_.createReaderFactory())
  /** The one Hadoop conf the scan's delete loaders share, broadcast only
    * when some group loads delete files (clean scans ship none). */
  private lazy val deleteConf =
    Option.when(deletes.exists(_.exists(_.loadsFiles)))(
      HadoopFileIO.broadcastConf(spark, spark.sessionState.newHadoopConf()))

  /** Per-file lineage scope for COMPUTED groups: canonical path → (manifest
    * first_row_id base, data sequence number). Metadata-only. */
  private lazy val lineageScopeOf: Map[String, LineageScope] =
    plan.tasks.flatMap(t => t.file.firstRowId match {
      case Some(base) if base >= 0 =>
        Some(ParquetIO.canonPath(t.file.path) ->
          LineageScope(base, t.sequenceNumber))
      case _ => None
    }).toMap
  // a FileScan's input partitions are its FilePartitions
  private lazy val partsByGroup: Seq[Array[FilePartition]] =
    inner.map(_.planInputPartitions().map(_.asInstanceOf[FilePartition]))
  /** Every planned split, tagged with its reader group. */
  private lazy val groupSplits: Seq[(Int, PartitionedFile)] =
    partsByGroup.zipWithIndex.flatMap { case (parts, g) =>
      parts.toSeq.flatMap(_.files).map(g -> _)
    }

  /** Data-file descriptor and sequence number by canonical path. */
  private lazy val taskOf: Map[String, FileScanTask] =
    plan.tasks.map(t => ParquetIO.canonPath(t.file.path) -> t).toMap
  /** Per group with equality deletes: delete-file path → its key source. */
  private lazy val sourceOf: Map[Int, Map[String, Int]] =
    deletes.zipWithIndex.collect { case (Some(cfg), g) if cfg.sets.nonEmpty =>
      g -> cfg.sets.zipWithIndex.flatMap { case (ks, i) => ks.paths.map(_ -> i) }.toMap
    }.toMap
  // aggregated narrowing observability: tasks scoped, candidate delete
  // files before/after narrowing — logged once per planning pass so a
  // scale operator can see whether narrowing is effective without a
  // profiler (drained by logEqNarrowing)
  private val eqNarrowTasks = new java.util.concurrent.atomic.AtomicLong
  private val eqNarrowBefore = new java.util.concurrent.atomic.AtomicLong
  private val eqNarrowAfter = new java.util.concurrent.atomic.AtomicLong
  private def logEqNarrowing(): Unit = {
    val t = eqNarrowTasks.getAndSet(0L)
    val before = eqNarrowBefore.getAndSet(0L)
    val after = eqNarrowAfter.getAndSet(0L)
    if (t > 0L) {
      val pct = if (before == 0L) 100.0 else after * 100.0 / before
      scanLog.debug(f"eq-delete narrowing: $t%d tasks, candidate delete " +
        f"files $before%d -> $after%d ($pct%.1f%% kept)")
    }
  }
  @transient private lazy val scanLog =
    org.slf4j.LoggerFactory.getLogger(classOf[GraftScan])
  /** Per-task narrowing of a group's equality-delete sources: for each
    * DeleteKeySource (order preserved), the delete-file paths the
    * [[DeleteIndex]] attaches to any of the task's data files. None =
    * nothing narrowed (single cache entry shared by every task of the
    * scan). */
  private val eqScopeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Seq[String]), Option[Seq[Seq[String]]]]

  private def eqScopeFor(group: Int, dataPaths: Seq[String])
      : Option[Seq[Seq[String]]] =
    // Spark plans input partitions more than once per query (stats,
    // partitioning, execution, AQE re-plans) — cache per (group, task
    // files) so narrowing runs once per task per scan; cached values are
    // shared references with the emitted partitions, not copies
    eqScopeCache.computeIfAbsent((group, dataPaths), _ => {
      val tasks = dataPaths.flatMap(taskOf.get)
      // a data file we can't resolve keeps every delete (never drop)
      if (tasks.size < dataPaths.size) None
      else {
        val srcOf = sourceOf(group)
        val sizes = deletes(group).get.sets.map(_.paths.length)
        val hits = Array.fill(sizes.size)(
          scala.collection.mutable.TreeSet.empty[String])
        tasks.foreach(t => deleteIndex.eqDeletesFor(t.file, t.sequenceNumber)
          .foreach(d => srcOf.get(d.path).foreach(hits(_) += d.path)))
        val narrowed = hits.toSeq.map(_.toSeq)
        eqNarrowTasks.incrementAndGet()
        eqNarrowBefore.addAndGet(sizes.sum.toLong)
        eqNarrowAfter.addAndGet(narrowed.map(_.length).sum.toLong)
        if (narrowed.map(_.length) == sizes) None else Some(narrowed)
      }
    })

  /** The subs one scan task reads of group `g`'s planned splits `files`.
    * Position deletes (keyed by data-file path — the SAME canonicalization
    * the delete rows' file_path goes through, so the lookup agrees on every
    * filesystem scheme) and computed lineage (a per-FILE row-id base)
    * attach per data file, so those groups get one sub per file, each with
    * its own scopes; other groups read `files` as one sub, carrying the
    * equality scope of its data files. */
  private def subsOf(g: Int, index: Int,
      files: Seq[PartitionedFile]): Seq[GroupedPartition] = {
    val posGroup = deletes(g).exists(_.pos.isDefined)
    val lineageGroup = lineages(g).exists(_.kind == 1)
    // each task's key-set sources narrow to the delete files the index
    // attaches to its data files (by partition and key range)
    val eqActive = deleteIndex.eqNarrows && deletes(g).exists(_.sets.nonEmpty)
    def canon(f: PartitionedFile) = ParquetIO.canonPath(f.filePath.toPath.toString)
    if (posGroup || lineageGroup) files.map { f =>
      val c = canon(f)
      GroupedPartition(g, FilePartition(index, Array(f)), Some(c),
        if (posGroup) Some(deleteIndex.posDeletesFor(c)) else None,
        if (lineageGroup) lineageScopeOf.get(c) else None,
        if (eqActive) eqScopeFor(g, Seq(c)) else None)
    }
    else Seq(GroupedPartition(g, FilePartition(index, files.toArray),
      eqScope = if (eqActive) eqScopeFor(g, files.map(canon)) else None))
  }

  /** [[subsOf]] over (group, split) pairs of several groups, group order. */
  private def groupedSubs(index: Int,
      files: Seq[(Int, PartitionedFile)]): Seq[GroupedPartition] =
    files.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, gfs) =>
      subsOf(g, index, gfs.map(_._2))
    }

  /** Bin reads: input partition k concatenates the subs of bin k's files
    * across every group (formats, sequence numbers and lineage kinds of
    * one bin may fall in different groups). */
  private lazy val binParts: Array[InputPartition] = {
    val binOf = bins.zipWithIndex.flatMap { case (b, k) =>
      b.map(p => ParquetIO.canonPath(p) -> k) }.toMap
    val byBin = groupSplits.groupBy { case (_, f) =>
      binOf(ParquetIO.canonPath(f.filePath.toPath.toString)) }
    bins.indices.map { k =>
      MultiFilePartition(groupedSubs(k, byBin.getOrElse(k,
        throw new IllegalStateException(s"bin $k planned no splits")))): InputPartition
    }.toArray
  }

  /** Storage-partitioned-join planning: when the builder proved the scan's
    * files share one supported spec (spjInfo), regroup the planned files of
    * EVERY group into ONE InputPartition PER PARTITION KEY, each carrying
    * its key row — Spark's KeyGroupedPartitioning contract, which lets two
    * co-partitioned graft tables join with NO shuffle on either side
    * (reference-beyond: the fork predates SPJ; Apache Iceberg's
    * SparkPartitioningAwareScan is the public analogue). A file whose key
    * is unknown falls back to None = unknown partitioning. */
  private lazy val keyedParts: Option[Array[InputPartition]] = spjInfo.flatMap { info =>
    // each file is tagged with its reader group, so a scan split across
    // formats or schema generations (rename/promotion creates one reader
    // group per generation) STILL key-groups — evolving a table's schema
    // or format must not cost its joins the shuffle-free plan forever.
    // The per-key task concatenates per-group subs; ConcatReader
    // dispatches each sub to its own group's reader.
    val keyed = groupSplits.map { case (g, f) =>
      info.keyOf.get(ParquetIO.canonPath(f.filePath.toPath.toString)) -> ((g, f))
    }
    if (keyed.exists(_._1.isEmpty)) None
    else {
      val grouped = keyed.map { case (k, gf) => (k.get, gf) }.groupBy(_._1)
        .toSeq.sortBy(_._1.map(v => String.valueOf(v)).mkString("\u0000"))
      Some(grouped.zipWithIndex.map { case ((key, gfs), i) =>
        KeyedPartition(0, groupedSubs(i, gfs.map(_._2)),
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            key.toArray)): InputPartition
      }.toArray)
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedParts match {
      case Some(parts) if parts.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          spjInfo.get.fields.map(f => (f.transform match {
            case Transforms.BucketT(n) => XE.bucket(n, f.col)
            case Transforms.TruncateT(w) =>
              // width-baked name: key grouping rejects literal children
              XE.apply(s"truncate_$w", XE.column(f.col))
            case Transforms.YearT => XE.years(f.col)
            case Transforms.MonthT => XE.months(f.col)
            case Transforms.DayT => XE.days(f.col)
            case Transforms.HourT => XE.hours(f.col)
            case _ => XE.identity(f.col)
          }): org.apache.spark.sql.connector.expressions.Expression).toArray,
          parts.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def toBatch: Batch = batch
  private lazy val batch: Batch = new ScanBatch

  /** The scan's one batch; equal batches belong to equal scans. */
  private final class ScanBatch extends Batch {
    private[GraftScan] def scan: GraftScan = GraftScan.this
    override def equals(other: Any): Boolean = other match {
      case b: GraftScan#ScanBatch => scan == b.scan
      case _ => false
    }
    override def hashCode(): Int = scan.hashCode

    // scan-wide columnar decision, made ONCE on the driver (Spark requires
    // every partition of a scan to agree): clean groups ask their parquet
    // factory; delete-bearing groups additionally need repackable output
    // types (ColumnarDeletes.supports). Any holdout drops the scan to rows.
    private lazy val columnar: Boolean = inner.indices.forall { i =>
      partsByGroup(i).forall(p => innerFactories(i).supportColumnarReads(p)) &&
        deletes(i).forall(ColumnarDeletes.supports) &&
        // lineage stays columnar (LineageColumnarReader): computed ids are
        // one vectorized base+rowIdx add per batch, stored/absent lineage
        // are pass-through/constant vectors — CDC consumers scanning
        // _row_id over parquet tables never pay the row-path tax. Avro
        // groups drop to rows via their factory's own answer.
        // Nested default fills rewrite struct values per row — no columnar
        // constant-vector shortcut exists inside a non-constant struct
        fills(i).forall(_.nested.isEmpty)
    }

    override def planInputPartitions(): Array[InputPartition] = {
      val out = planPartitionsImpl()
      logEqNarrowing()
      out
    }

    private def planPartitionsImpl(): Array[InputPartition] =
      if (bins.nonEmpty) binParts
      else keyedParts.getOrElse {
        val keep = runtimeKeep
        partsByGroup.zipWithIndex.flatMap { case (parts, i) =>
          parts.toSeq.flatMap { fp =>
            // runtime filtering drops files the dynamic subquery proved
            // matchless
            val files = keep.fold(fp.files.toSeq)(k => fp.files.toSeq.filter(f =>
              k.contains(ParquetIO.canonPath(f.filePath.toPath.toString))))
            // file-granular subs keep Spark's bin-packing: the original
            // FilePartition boundary (already sized to
            // maxSplitBytes/bytesPerCore) stays ONE task whose reader
            // concatenates the subs — small MoR files don't degrade to one
            // task each
            if (files.isEmpty) Nil
            else subsOf(i, fp.index, files) match {
              case Seq(one) => Seq(one: InputPartition)
              case subs => Seq(MultiFilePartition(subs): InputPartition)
            }
          }
        }.toArray
      }
    override def createReaderFactory(): PartitionReaderFactory =
      GroupedReaderFactory(innerFactories, deletes, columnar, fills,
        lineages, deleteConf)
  }
}

final case class GroupedPartition(group: Int,
    inner: org.apache.spark.sql.connector.read.InputPartition,
    dataFile: Option[String] = None,
    posScope: Option[PosScope] = None,
    lineage: Option[LineageScope] = None,
    // per-DeleteKeySource allowed delete-file paths (partition-scoped
    // equality deletes); None = the group config applies unchanged
    eqScope: Option[Seq[Seq[String]]] = None)
  extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Per-task row-lineage constants for COMPUTED files (see
  * [[graft.format.Lineage]]): `_row_id` = firstRowId + row index,
  * `_last_updated_sequence_number` = seq. */
final case class LineageScope(firstRowId: Long, seq: Long) extends Serializable

/** Per-GROUP lineage projection config: describes the group's INTERMEDIATE
  * row layout ([data × dataCount, rowIdx?, storedRowId/storedLuseq?,
  * tail × tailCount]) and which declared lineage columns to emit between
  * the data columns and the tail. `kind`: 0 = pre-v3 files (NULL lineage),
  * 1 = computed (needs the partition's [[LineageScope]]), 2 = stored
  * (compacted files carry the physical columns). */
final case class LineageConfig(
    types: Seq[org.apache.spark.sql.types.DataType],
    dataCount: Int,
    hasRowIdx: Boolean,
    hasStored: Boolean,
    tailCount: Int,
    emitPos: Boolean,
    emitRowId: Boolean,
    emitLuseq: Boolean,
    kind: Int) extends Serializable {
  def rowIdxAt: Int = dataCount
  def storedAt: Int = dataCount + (if (hasRowIdx) 1 else 0)
  def tailFrom: Int =
    dataCount + (if (hasRowIdx) 1 else 0) + (if (hasStored) 2 else 0)
}

/** Final projection for lineage scans: intermediate → declared output.
  * Sits ABOVE the delete filter, so lineage reflects only LIVE rows. */
final class LineageRowReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow],
    cfg: LineageConfig, scope: Option[LineageScope])
  extends org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private val outWidth = cfg.dataCount +
    (if (cfg.emitPos) 1 else 0) + (if (cfg.emitRowId) 1 else 0) +
    (if (cfg.emitLuseq) 1 else 0) + cfg.tailCount

  override def next(): Boolean = inner.next()

  override def get(): InternalRow = {
    val row = inner.get()
    val out = new GenericInternalRow(outWidth)
    var o = 0
    var i = 0
    while (i < cfg.dataCount) {
      out.update(o, if (row.isNullAt(i)) null else row.get(i, cfg.types(i)))
      o += 1; i += 1
    }
    if (cfg.emitPos) { out.update(o, row.getLong(cfg.rowIdxAt)); o += 1 }
    if (cfg.emitRowId) {
      val v: Any = cfg.kind match {
        case 1 => scope.map(s => Long.box(s.firstRowId + row.getLong(cfg.rowIdxAt))).orNull
        case 2 => if (row.isNullAt(cfg.storedAt)) null else Long.box(row.getLong(cfg.storedAt))
        case _ => null
      }
      out.update(o, v); o += 1
    }
    if (cfg.emitLuseq) {
      val v: Any = cfg.kind match {
        case 1 => scope.map(s => Long.box(s.seq)).orNull
        case 2 =>
          if (row.isNullAt(cfg.storedAt + 1)) null
          else Long.box(row.getLong(cfg.storedAt + 1))
        case _ => null
      }
      out.update(o, v); o += 1
    }
    var t = 0
    while (t < cfg.tailCount) {
      val src = cfg.tailFrom + t
      out.update(o, if (row.isNullAt(src)) null else row.get(src, cfg.types(src)))
      o += 1; t += 1
    }
    out
  }
  override def close(): Unit = inner.close()
}

/** Columnar lineage projection (the batch dual of [[LineageRowReader]]):
  * computed lineage is a per-file CONSTANT base plus the reader's row-index
  * vector — one vectorized add per batch — and stored/absent lineage are
  * pass-through/constant vectors, so CDC consumers scanning `_row_id` over
  * large parquet tables keep whole-stage-codegen-feedable batches instead
  * of paying the row-path tax. Pass-through columns are never copied. */
final class LineageColumnarReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    cfg: LineageConfig, scope: Option[LineageScope])
  extends org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private var current: ColumnarBatch = _
  private var owned: Seq[ColumnVector] = Nil // vectors we allocated per batch

  private val outWidth = cfg.dataCount +
    (if (cfg.emitPos) 1 else 0) + (if (cfg.emitRowId) 1 else 0) +
    (if (cfg.emitLuseq) 1 else 0) + cfg.tailCount

  private def nullVector(n: Int): ColumnVector = {
    val v = ConstantFill.vector(n, LongType, null)
    owned = v +: owned; v
  }
  private def constVector(n: Int, value: Long): ColumnVector = {
    val v = ConstantFill.vector(n, LongType, value)
    owned = v +: owned; v
  }

  override def next(): Boolean = {
    if (!inner.next()) return false
    val b = inner.get()
    val n = b.numRows()
    closeOwned()
    val out = new Array[ColumnVector](outWidth)
    var o = 0
    var i = 0
    while (i < cfg.dataCount) { out(o) = b.column(i); o += 1; i += 1 }
    if (cfg.emitPos) { out(o) = b.column(cfg.rowIdxAt); o += 1 }
    if (cfg.emitRowId) {
      out(o) = cfg.kind match {
        case 1 => scope match {
          case Some(s) =>
            val idx = b.column(cfg.rowIdxAt)
            val v = new OnHeapColumnVector(n, LongType)
            var r = 0
            while (r < n) { v.putLong(r, s.firstRowId + idx.getLong(r)); r += 1 }
            owned = v +: owned; v
          case None => nullVector(n)
        }
        case 2 => b.column(cfg.storedAt)
        case _ => nullVector(n)
      }
      o += 1
    }
    if (cfg.emitLuseq) {
      out(o) = cfg.kind match {
        case 1 => scope.map(s => constVector(n, s.seq)).getOrElse(nullVector(n))
        case 2 => b.column(cfg.storedAt + 1)
        case _ => nullVector(n)
      }
      o += 1
    }
    var t = 0
    while (t < cfg.tailCount) { out(o) = b.column(cfg.tailFrom + t); o += 1; t += 1 }
    current = new ColumnarBatch(out, n)
    true
  }
  private def closeOwned(): Unit = { owned.foreach(_.close()); owned = Nil }
  override def get(): ColumnarBatch = current
  override def close(): Unit = { closeOwned(); inner.close() }
}

/** One partition per partition KEY (all its files), for storage-partitioned
  * joins: Spark groups both join sides by `partitionKey` and skips the
  * shuffle. Key values are Catalyst-typed, matching the clustering
  * expressions' resolved types. `subs` carries the key's files as ordinary
  * [[GroupedPartition]]s — file-granular with their own [[PosScope]]s when
  * row-position machinery (live DVs / position deletes) is in play, so a
  * co-partitioned join over a MoR table still skips the shuffle; the
  * reader concatenates the subs. */
final case class KeyedPartition(group: Int,
    subs: Seq[GroupedPartition],
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.connector.read.InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] =
    subs.flatMap(_.preferredLocations()).distinct.toArray
}

/** One scan task over SEVERAL file-granular delete-scoped subs (MoR scans
  * keep Spark's bin-packing — the reader concatenates the subs). */
final case class MultiFilePartition(subs: Seq[GroupedPartition])
  extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] =
    subs.flatMap(_.preferredLocations()).distinct.toArray
}

/** Sequential concatenation of per-file readers inside one SPJ partition. */
final class ConcatReader[T](makers: Seq[() => org.apache.spark.sql.connector.read.PartitionReader[T]])
  extends org.apache.spark.sql.connector.read.PartitionReader[T] {
  private val it = makers.iterator
  private var cur: org.apache.spark.sql.connector.read.PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = it.next()()
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Builder-side proof that a scan is storage-partitioned-join-able: its
  * files, in any number of scan groups, share one spec whose fields are
  * identity / bucket[N] / truncate[W] / year|month|day|hour, with every
  * planned file's partition key (Catalyst values, spec-field order)
  * resolvable by path. Non-identity
  * fields carry their transform so the reported partitioning spells the
  * matching connector transform — Spark resolves it against GraftFunctions
  * (same kernels as write placement), so the probe side of a one-sided SPJ
  * hashes rows into exactly the buckets/ordinals the files were placed by.
  * A transformed field's key value is the STORED partition value (bucket
  * ordinal / truncated prefix / time ordinal). */
final case class SpjField(col: String,
    keyType: org.apache.spark.sql.types.DataType,
    transform: graft.format.Transform)
final case class SpjInfo(fields: Seq[SpjField],
    keyOf: Map[String, Seq[Any]])

/** Reader factory of a [[GraftScan]]: dispatches each partition to its
  * group's inner factory and wraps the reader in the group's default
  * fill, delete filter and lineage projection. Executors get the Hadoop
  * conf through broadcasts only: `conf` is the scan's one broadcast for
  * loading delete files (present when some group loads them), and each
  * inner FileScan factory carries its own scan's broadcast. */
final case class GroupedReaderFactory(
    inner: Seq[org.apache.spark.sql.connector.read.PartitionReaderFactory],
    deletes: Seq[Option[GroupDeletes]],
    columnar: Boolean,
    fills: Seq[Option[FillConfig]],
    lineages: Seq[Option[LineageConfig]],
    conf: Option[org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration]])
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  private def hadoopConf: org.apache.hadoop.conf.Configuration = conf match {
    case Some(b) => b.value.value
    case None => throw new IllegalStateException(
      "a delete group loads files but the scan broadcast no Hadoop conf")
  }

  /** Narrow the group's delete config to THIS task's position-delete and
    * equality-delete scopes (per-task attachment): the reader then loads
    * only the delete files / DV slices / key sets that can reference its
    * data files. A partition without a scope keeps the group config
    * unchanged. Key sources narrowed to ZERO paths drop out entirely (no
    * per-row probe against a guaranteed-empty set). */
  private def scoped(cfg: GroupDeletes, sc: Option[PosScope],
      eq: Option[Seq[Seq[String]]]): GroupDeletes = {
    val afterPos = sc match {
      case Some(s) =>
        cfg.copy(pos = cfg.pos.map(p => p.copy(paths = s.paths, dvs = s.dvs)))
      case None => cfg
    }
    eq match {
      case Some(allowed) => afterPos.copy(sets =
        afterPos.sets.zip(allowed).collect {
          case (ks, paths) if paths.nonEmpty => ks.copy(paths = paths)
        })
      case None => afterPos
    }
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    // SPJ / bin-packed MoR partitions concatenate their per-file
    // delete-scoped subs
    case kp: KeyedPartition =>
      new ConcatReader[InternalRow](kp.subs.map(s => () => createReader(s)))
    case mp: MultiFilePartition =>
      new ConcatReader[InternalRow](mp.subs.map(s => () => createReader(s)))
    case gp: GroupedPartition => createSingleReader(gp)
  }
  private def createSingleReader(p: GroupedPartition): PartitionReader[InternalRow] = {
    val GroupedPartition(g, ip, dataFile, sc, ls, eq) = p
    val base = inner(g).createReader(ip)
    // default backfill sits UNDER the delete filter, so eq-delete keys on
    // a defaulted column match against the filled value
    val reader = fills(g) match {
      case Some(cfg) => new ConstantFillRowReader(base, cfg)
      case None => base
    }
    val afterDeletes = deletes(g) match {
      case Some(cfg) =>
        new DeleteFilterReader(reader, scoped(cfg, sc, eq), dataFile, hadoopConf)
      case None => reader
    }
    // lineage projection is the OUTERMOST wrapper: only live rows get ids
    lineages(g) match {
      case Some(cfg) => new LineageRowReader(afterDeletes, cfg, ls)
      case None => afterDeletes
    }
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = p match {
    case kp: KeyedPartition =>
      new ConcatReader[org.apache.spark.sql.vectorized.ColumnarBatch](
        kp.subs.map(s => () => createColumnarReader(s)))
    case mp: MultiFilePartition =>
      new ConcatReader[org.apache.spark.sql.vectorized.ColumnarBatch](
        mp.subs.map(s => () => createColumnarReader(s)))
    case gp: GroupedPartition => createSingleColumnarReader(gp)
  }
  private def createSingleColumnarReader(p: GroupedPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val GroupedPartition(g, ip, dataFile, sc, ls, eq) = p
    val base = inner(g).createColumnarReader(ip)
    val reader = fills(g) match {
      case Some(cfg) => new ConstantFillColumnarReader(base, cfg)
      case None => base
    }
    val afterDeletes = deletes(g) match {
      case Some(cfg) =>
        new ColumnarDeleteFilterReader(reader, scoped(cfg, sc, eq), dataFile,
          hadoopConf)
      case None => reader
    }
    // lineage projection is the OUTERMOST wrapper: only live rows get ids
    lineages(g) match {
      case Some(cfg) => new LineageColumnarReader(afterDeletes, cfg, ls)
      case None => afterDeletes
    }
  }
  // the scan-wide flag was decided on the driver over ALL partitions (clean
  // groups: parquet's own support; delete groups: repackable output types),
  // so the per-partition answer is a constant — Spark requires agreement
  override def supportColumnarReads(p: InputPartition): Boolean = columnar
}

/** Equality-delete set descriptor: key column names (current-schema for
  * the data-side probe, file-side for loading the delete files, which may
  * predate a rename) + the delete FILES — never the keys themselves (those
  * are loaded executor-side). */
final case class EqDeleteSet(names: Seq[String], fileNames: Seq[String],
    seq: Long, paths: Seq[String]) extends Serializable

/** Executor-side key-set source: ordinals into the read row, key types, and
  * the delete-file paths to load. `fileNames` are the column names as
  * physically written in the delete files (staged-schema names — may
  * predate a rename); `names` are the current-schema names the data side
  * reads under. `keySet` materializes (and caches) the set in the executor
  * JVM. */
final case class DeleteKeySource(ordinals: Array[Int], names: Seq[String],
    fileNames: Seq[String],
    types: Seq[org.apache.spark.sql.types.DataType], paths: Seq[String])
  extends Serializable {
  def keySet(conf: org.apache.hadoop.conf.Configuration): Set[Vector[Any]] =
    DeleteKeyCache.get(this, conf)
}

/** Size-aware per-executor LRU: weight = cached key/position count, so one
  * huge GDPR-style delete set can't pin unbounded heap and many small sets
  * don't evict each other (entry-COUNT bounding would allow both). Loads of
  * distinct keys run concurrently (ConcurrentHashMap bins); LRU bookkeeping
  * is a tiny synchronized section. Entries are immutable (delete files never
  * change), so eviction only ever costs a reload. */
private[connector] final class WeightedLruCache[V <: AnyRef](maxWeight: Long)(weigher: V => Long) {
  private val values = new java.util.concurrent.ConcurrentHashMap[String, V]()
  // boxed values: a null get() distinguishes absence AND refreshes LRU order
  private val lru = new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true)
  private var weight = 0L

  def get(key: String)(load: => V): V = {
    val v = values.computeIfAbsent(key, _ => load)
    touch(key, weigher(v))
    v
  }

  private def touch(key: String, w: Long): Unit = synchronized {
    if (lru.get(key) == null) { lru.put(key, w); weight += w }
    val it = lru.entrySet().iterator() // least-recently-used first
    while (weight > maxWeight && it.hasNext) {
      val e = it.next()
      if (e.getKey != key) { // never evict the entry being served
        weight -= e.getValue; it.remove(); values.remove(e.getKey)
      }
    }
  }

  private[connector] def entryCount: Int = synchronized(lru.size())
  private[connector] def currentWeight: Long = synchronized(weight)
  private[connector] def contains(key: String): Boolean = values.containsKey(key)
  private[connector] def keys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    values.keySet().asScala.toSeq
  }
}

/** Per-executor cache of loaded equality-delete key sets: many tasks of one
  * scan share one load per delete set. Budget is ~512 MB of APPROXIMATE
  * retained bytes — a tuple costs ~40 B of Vector + hash-set structure plus
  * ~48 B per boxed value, so weight scales with key arity (tuple-COUNT
  * weighing let wide multi-column keys pin several GB under one budget). */
object DeleteKeyCache {
  import graft.format.ParquetIO
  import org.apache.spark.sql.types.{StructField, StructType}

  private[connector] val cache =
    new WeightedLruCache[Set[Vector[Any]]](512L * 1024 * 1024)(s =>
      (s.size.toLong * (40L + 48L * s.headOption.map(_.length).getOrElse(1))).max(1L))

  def get(src: DeleteKeySource,
      conf: org.apache.hadoop.conf.Configuration): Set[Vector[Any]] =
    // the key must carry the resolved file-side names AND key types, not
    // just the paths: on a long-lived executor a set cached before an
    // int→long key promotion (or a rename re-resolution) would otherwise
    // be served to a post-promotion scan whose probe builds Vector[Long]
    // against cached Vector[Integer] — contains() always false, every
    // delete silently stops applying
    cache.get((src.paths ++ src.fileNames ++
      src.types.map(_.catalogString)).mkString("\n"))(load(src, conf))

  private def load(src: DeleteKeySource,
      conf: org.apache.hadoop.conf.Configuration): Set[Vector[Any]] = {
    // file-side (staged-schema) names: delete files written before a key
    // rename carry the old column names. Spark's ReadSupport name-matches
    // and silently null-fills absent columns — an all-null key set would
    // resurrect every intended delete — so the footer is validated first
    // and a missing key column FAILS the scan instead.
    val schema = StructType(src.fileNames.zip(src.types).map {
      case (n, t) => StructField(n, t)
    })
    val set = scala.collection.mutable.HashSet[Vector[Any]]()
    val reader = new ParquetIO.RowReader(schema, conf, requireAll = true,
      what = "equality-delete file")
    src.paths.foreach { p =>
      reader.readAll(p) { row =>
        set += src.types.indices.map(i =>
          ParquetIO.canonicalValue(row, i, src.types(i))).toVector
      }
    }
    set.toSet
  }
}

/** Executor-side position-delete source: parquet delete files + DV blob
  * addresses, and the ordinal of the synthetic row-index column in the
  * physical read row. */
final case class PosDeleteSource(paths: Seq[String],
    dvs: Seq[graft.format.DvSlice], rowIdxOrdinal: Int)
  extends Serializable

/** Per-executor cache of position-delete sets: delete sources → (canonical
  * data-file path → roaring bitmap of dead positions), decoded by
  * [[graft.format.PositionDeleteReader]]. Bitmaps keep a
  * 100M-row delete at tens of MB (vs 800 MB of sorted longs) and probe in
  * ~O(1); DV blobs load with one ranged read each and OR into the same
  * per-file map as any legacy parquet positions (union semantics — see
  * [[graft.format.Dvs]]). Budget ~512 MB of serialized-size bytes, the
  * same unit as DeleteKeyCache. */
object PosDeleteCache {
  import graft.format.{DvSlice, PositionDeleteReader}
  import org.roaringbitmap.longlong.Roaring64NavigableMap

  /** Shared read-only empty set for files with no live deletes. */
  val Empty: Roaring64NavigableMap = new Roaring64NavigableMap()

  private[connector] val cache =
    new WeightedLruCache[Map[String, Roaring64NavigableMap]](512L * 1024 * 1024)(
      _.valuesIterator.map(v => 64L + v.serializedSizeInBytes()).sum.max(1L))

  def get(paths: Seq[String], dvs: Seq[DvSlice],
      conf: org.apache.hadoop.conf.Configuration): Map[String, Roaring64NavigableMap] =
    cache.get((paths ++ dvs.map(d => s"${d.path}@${d.offset}")).mkString("\n"))(
      PositionDeleteReader.read(paths, dvs, conf))
}

/** One scan group's delete config: the equality key sets and position
  * deletes its readers apply, the group's physical row types, and the
  * projection to the scan's declared layout. Descriptors only — it carries
  * no Hadoop conf: executors load the delete files with the conf the
  * scan's [[GroupedReaderFactory]] broadcasts once for all its groups. */
final case class GroupDeletes(sets: Seq[DeleteKeySource],
    types: Seq[org.apache.spark.sql.types.DataType],
    project: Option[Seq[Int]],
    pos: Option[PosDeleteSource] = None) extends Serializable {
  /** Whether readers of this group load delete files (and so read the
    * scan's broadcast conf). */
  def loadsFiles: Boolean = sets.nonEmpty || pos.isDefined
}

/** The delete probe of both delete filters (row and columnar; reference
  * EqualitySetDeleteFilter + PositionStreamDeleteFilter,
  * core/.../deletes/Deletes.java:60-159): a physical row of one data file
  * is dead when its row index is in the file's position-delete set or its
  * key tuple is in a newer equality-delete set. Delete sets load lazily on
  * the first probe, in the executor running the reader, through `conf`
  * (the scan's broadcast Hadoop conf, read only when a set loads). */
final class DeleteProbe(cfg: GroupDeletes, dataFile: Option[String],
    conf: => org.apache.hadoop.conf.Configuration) {
  import org.apache.spark.sql.catalyst.InternalRow

  private val rowIdx: Int = cfg.pos.fold(-1)(_.rowIdxOrdinal)
  private val ordinals: Array[Array[Int]] = cfg.sets.map(_.ordinals).toArray
  private lazy val keySets: Array[Set[Vector[Any]]] =
    cfg.sets.map(_.keySet(conf)).toArray

  private lazy val positions: org.roaringbitmap.longlong.Roaring64NavigableMap =
    cfg.pos match {
      case Some(p) =>
        val file = dataFile.getOrElse(throw new IllegalStateException(
          "position deletes require file-granular partitions"))
        PosDeleteCache.get(p.paths, p.dvs, conf)
          .getOrElse(graft.format.ParquetIO.canonPath(file), PosDeleteCache.Empty)
      case None => PosDeleteCache.Empty
    }

  /** `row` is in the group's physical layout ([[GroupDeletes.types]]). */
  def deleted(row: InternalRow): Boolean =
    (rowIdx >= 0 && !positions.isEmpty && positions.contains(row.getLong(rowIdx))) ||
      keyDeleted(row)

  private def keyDeleted(row: InternalRow): Boolean = {
    var s = 0
    while (s < ordinals.length) {
      val ords = ordinals(s)
      if (keySets(s).contains(ords.map(o =>
          graft.format.ParquetIO.canonicalValue(row, o, cfg.types(o))).toVector))
        return true
      s += 1
    }
    false
  }
}

/** Row-path delete filter: drop rows the [[DeleteProbe]] finds dead, then
  * project away widened key / synthetic row-index columns. */
final class DeleteFilterReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow],
    cfg: GroupDeletes, dataFile: Option[String],
    conf: => org.apache.hadoop.conf.Configuration)
  extends org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private var current: InternalRow = _
  private val probe = new DeleteProbe(cfg, dataFile, conf)

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (!probe.deleted(row)) {
        current = cfg.project match {
          case Some(idx) =>
            new GenericInternalRow(idx.map(i => row.get(i, cfg.types(i))).toArray)
          case None => row
        }
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** Write builder → full V2 BatchWrite (reference SparkWriteBuilder,
  * spark3/.../SparkWriteBuilder.java:47-131): append, filter overwrite,
  * dynamic partition overwrite, truncate all land in the same executor-side
  * fanout writers + one-snapshot commit (GraftBatchWrite). */
final class GraftWriteBuilder(table: GraftTable, queryId: String = "default",
    branch: Option[String] = None)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite
  with SupportsTruncate
  // update-mode streaming writes arrive as appends; the sink upserts them
  // by key when write.upsert.enabled is set (GraftStreamingWrite.commit)
  with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  import GraftBatchWrite.{Append, DynamicOverwrite, FilterOverwrite, Mode}

  private var mode: Mode = Append

  // every batch mode works against a branch identifier too: the commit
  // reads the BRANCH head's manifests and advances only the ref
  // (Commits.overwriteByFilterOn / replacePartitionsOn branch target)
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    // convertRequired, NOT convertAll: nothing re-applies the original
    // condition after a filter overwrite, so a silently dropped filter
    // would widen the delete scope (an all-unconvertible array widens to
    // AlwaysTrue — a full-table truncate)
    mode = FilterOverwrite(FilterBridge.convertRequired(filters)); this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = DynamicOverwrite; this
  }
  override def truncate(): WriteBuilder = {
    mode = FilterOverwrite(AlwaysTrue); this
  }

  override def build(): Write = new Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}

    /** Cluster incoming rows by the partition transforms (hash
      * distribution) so each partition's rows land on ONE task — fanout
      * writers then hold ~one open file per task and a partitioned insert
      * produces one file per partition instead of tasks × partitions small
      * files (the reference's write.distribution-mode=hash,
      * SparkWriteUtil/TableProperties.WRITE_DISTRIBUTION_MODE). `none`
      * skips the shuffle; unpartitioned tables never shuffle. */
    /** Declared write sort order (reference api/.../SortOrder.java via the
      * `write.sort-order` property: "col [asc|desc] [nulls-first|last],
      * ..."): rows sort within tasks before writing, so every data file
      * carries tight min/max bounds on the sort columns — metrics pruning
      * then skips files the way partition pruning skips partitions. */
    private def declaredSortOrder()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
      import org.apache.spark.sql.connector.expressions.{Expressions => XEx, NullOrdering, SortDirection}
      val m = table.metadata
      SortOrders.fromProperties(m.properties).map { f =>
        require(m.schema.fieldNames.contains(f.column),
          s"write.sort-order references unknown column: ${f.column}")
        XEx.sort(XEx.column(f.column),
          if (f.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
          if (f.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
      }.toArray
    }

    override def requiredDistribution(): Distribution = {
      val m = table.metadata
      val distMode = m.properties.getOrElse("write.distribution-mode",
        if (m.spec.isPartitioned) "hash" else "none")
      val cluster = GraftSparkTable.partitionTransforms(m)
        .filterNot(_.name == "void")
        .map(t => t: org.apache.spark.sql.connector.expressions.Expression)
      distMode match {
        // range: a global range shuffle over partition transforms + sort
        // order — total ordering across tasks, the layout a sorted table
        // wants (reference write.distribution-mode=range)
        case "range" =>
          val order = (cluster.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.sort(c,
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
              org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)) ++
            declaredSortOrder()).toArray
          if (order.isEmpty) Distributions.unspecified()
          else Distributions.ordered(order)
        case "none" => Distributions.unspecified()
        case _ =>
          if (cluster.isEmpty) Distributions.unspecified()
          else Distributions.clustered(cluster)
      }
    }

    // fanout writers need no within-task order for correctness
    // (PartitionedFanoutWriter keeps per-key open files), so only a
    // DECLARED sort order pays for a sort
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      declaredSortOrder()

    override def toBatch: BatchWrite = new GraftBatchWrite(table, mode, branch)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(table,
        truncateFirst = mode.isInstanceOf[FilterOverwrite], queryId, branch)
  }
}
