package graft.connector

import graft.format._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions => XE, Transform => XTransform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
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
    * position deletes from SQL (parquet rides the reader's row-index
    * column, ORC the row-path counter; Avro rows aren't addressable by
    * position and raise). */
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
  * `pinnedPlan` is the plan a library read (TableScan.toDF) already made:
  * the builder reads exactly its files and never re-plans, so one library
  * read is one planFiles. Pushed filters still reach the file readers and
  * are still re-applied as residuals. */
final class GraftScanBuilder private[connector] (spark: SparkSession,
    table: GraftTable, base: TableScan, options: CaseInsensitiveStringMap,
    groupGranular: Boolean,
    onPlan: ScanPlan => Unit,
    onRuntimeFilter: Set[String] => Unit,
    pinnedPlan: Option[ScanPlan])
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  def this(spark: SparkSession, table: GraftTable, base: TableScan,
      options: CaseInsensitiveStringMap, groupGranular: Boolean = false,
      onPlan: ScanPlan => Unit = _ => (),
      onRuntimeFilter: Set[String] => Unit = _ => ()) =
    this(spark, table, base, options, groupGranular, onPlan, onRuntimeFilter, None)

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
    // `_pos`: the row's position in its file — parquet rides the readers'
    // row-index column, ORC groups take the row-path counter scan
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

    // position deletes ride the parquet readers' synthetic row-index column;
    // ORC and Avro groups that a position delete actually TARGETS fall back
    // to a row-path scan with a file-position counter (GraftOrcRowScan /
    // GraftAvroScan withRowIndex — position deletes are format-agnostic in
    // the reference, core/.../deletes/Deletes.java:70-123). Target
    // detection costs one driver read of the (small, per-commit) delete
    // files' path column — and only on tables that contain non-parquet
    // files while position deletes are live.
    lazy val posTargetPaths: Set[String] =
      Deletes.posDeleteTargetFiles(posFiles, spark.sessionState.newHadoopConf())

    // one file-source scan per (writer-schema generation, file format):
    // columns are re-mapped to each generation's *file* names by field id
    // (id-based resolution, the heart of metadata-only rename — SURVEY
    // §1.2), and the readDataSchema keeps the TARGET column order so every
    // generation produces identical InternalRow/ColumnarBatch layouts.
    // Parquet and ORC groups are Spark's own vectorized FileScans; Avro
    // groups are the custom GraftAvroScan. With live equality deletes,
    // tasks also split by sequence number (seqKey) so delete recency is
    // resolvable.
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
        // groups pay the unsplit row-path counter fallback
        val groupPos = posActive && (fmt match {
          case FileFormats.Parquet => true
          case _ => tasks.exists(t =>
            posTargetPaths.contains(ParquetIO.canonPath(t.file.path)))
        })
        val orcPos = groupPos && fmt == FileFormats.Orc
        // `_pos` rides the same row-index machinery position deletes use:
        // parquet appends the synthetic reader column; ORC groups take the
        // row-path counter scan; Avro groups go unsplit with a counter
        val needRowIdx = groupPos || metaPos || lineageComputed
        val orcRowBase = fmt == FileFormats.Orc && (orcPos || metaPos || lineageComputed)
        val avroIdx = fmt == FileFormats.Avro && needRowIdx
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
        // double/float reads leave the vectorized OrcScan: orc-core's
        // batch repetition detection compares with Java `==`, so a batch
        // holding only mixed-sign zeros collapses to the first zero's sign
        // for every consumer of the flag — Spark's OrcColumnVector
        // included, with no interception seam. The row path reads through
        // OrcIO's ZeroSignScrubReader, which restores the stored values.
        // Scans that project no floating-point leaf (the flag only
        // misfires on ±0.0) keep the vectorized reader.
        val orcRow = orcRowBase || (fmt == FileFormats.Orc &&
          dataCols.exists(f => graft.format.Types.hasFloatLeaf(f.dataType)))
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
            new org.apache.spark.util.SerializableConfiguration(
              spark.sessionState.newHadoopConf()),
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
        // read from the file), so it joins the read schema un-renamed, last;
        // partition-served columns leave the DATA schema entirely (they are
        // appended by Spark as partition constants, after the data columns)
        val groupRead = StructType(dataCols.map(f =>
            StructField(renames(f.name), fileSide(f), f.nullable)) ++
          (if (needRowIdx && !orcRow && !avroIdx) Seq(StructField(
            // nullable: the column is absent from the FILE (the reader treats
            // it as a missing optional column, then its RowIndexGenerator
            // overwrites the null vector with real row indexes). ORC pos
            // groups append their counter inside GraftOrcRowScan instead.
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
              .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
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
        // is a per-file constant, so the index degrades to one partition
        // dir per file when it's requested (bin-packing trades for
        // provenance — only on queries that ask)
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
        val scan: Scan = fmt match {
          case FileFormats.Orc if orcRow =>
            // partition-served identity columns ride as per-file constants
            // (the vectorized branch gets them from GraftFileIndex): raw
            // tuple values convert to Catalyst once per file here
            val orcConsts: DataFile => Seq[Any] = df =>
              partValsOf(df).take(groupPartServe.size).zip(groupPartServe).map {
                case (v, f) => graft.format.Values.toCatalyst(v,
                  Types.cleanType(f.dataType))
              }
            new GraftOrcRowScan(groupRead,
              tasks.map(t =>
                (t.file.path, t.file.fileSizeInBytes, orcConsts(t.file))),
              new org.apache.spark.util.SerializableConfiguration(
                spark.sessionState.newHadoopConf()),
              partConsts = StructType(groupPartSchema.fields.take(groupPartServe.size)),
              appendFilePath = metaFile,
              // stored-lineage columns sit at groupRead's tail; the scan's
              // position counter must land BEFORE them to match the group
              // layout [data..., rowIdx, stored...]
              trailingStored = if (lineageStored) 2 else 0,
              // hazard-only routing (mixed-sign-zero scrub) has no rowIdx
              // slot in its declared layout
              withRowIndex = needRowIdx,
              maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes,
              minPartitions = spark.sparkContext.defaultParallelism)
          case FileFormats.Orc =>
            // ORC search-argument pruning compares strings in Java/UTF-16
            // order while Spark (and this library) compare in UTF-8 /
            // codepoint order; the orders disagree on astral-vs-
            // [U+E000,U+FFFF] pairs, so an ORDER predicate pushed into the
            // ORC reader can skip row groups that contain matching rows —
            // row loss the post-scan residual cannot undo (caught by the
            // round-20 workload fuzzer). Equality/IN/null tests are exact
            // under any total order the stats themselves use and stay
            // pushed; string order comparisons stay Spark-side residuals.
            org.apache.spark.sql.execution.datasources.v2.orc.OrcScan(
              spark, spark.sessionState.newHadoopConf(), index,
              dataSchema = groupData, readDataSchema = groupRead,
              readPartitionSchema = groupPartSchema, options = options,
              pushedAggregate = None,
              pushedFilters = groupFilters.filter(orcSargSafe))
          case FileFormats.Avro =>
            new GraftAvroScan(groupRead, groupPartSchema,
              tasks.map(t => (t.file.path, t.file.fileSizeInBytes,
                partValsOf(t.file).zip(groupPartSchema.fields)
                  .map { case (v, f) => graft.format.Values.toCatalyst(v, f.dataType) })),
              new org.apache.spark.util.SerializableConfiguration(
                spark.sessionState.newHadoopConf()),
              spark.sessionState.conf.filesMaxPartitionBytes,
              withRowIndex = avroIdx,
              trailingStored = if (lineageStored) 2 else 0)
          case _ =>
            ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
              dataSchema = groupData, readDataSchema = groupRead,
              readPartitionSchema = groupPartSchema,
              pushedFilters = groupFilters, options = options)
        }
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
    // conf, one scan group over one live spec whose fields are all identity
    // or bucket[N], no row-level-op or metadata columns in play. Bucket
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
    // multi-group scans (one reader group per format × schema generation)
    // stay eligible: keyedParts tags each file with its group and the
    // per-key task concatenates per-group subs
    val spjInfo: Option[SpjInfo] =
      if (groupGranular || metaFile || metaPos || metaLineage ||
          plan.tasks.isEmpty) None
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
    new GraftScan(output, groups.map(_._1), plan, spark, table, options,
      groups.map(_._2), runtimeFileFiltering = groupGranular,
      onRuntimeFilter = onRuntimeFilter, spjInfo = spjInfo,
      ndvStats = scan.snapshot.map(_.snapshotId)
        .flatMap(id => Stats.read(table, id)),
      fills = groups.map(_._3),
      lineages = groups.map(_._4))
  }

  /** Safe to hand to ORC's search-argument builder: no ORDER comparison on
    * a string or timestamp value.
    *  - Strings: ORC stats order by UTF-16 unit, Spark by UTF-8/codepoint —
    *    a disagreement on astral codepoints makes ORC's "row group cannot
    *    match" conclusion wrong, losing rows.
    *  - Timestamps: ORC's sarg works at MILLISECOND granularity, so
    *    sub-millisecond literals tie with same-millisecond data and both
    *    ORDER and EQUALITY comparisons wrongly prove "cannot match"
    *    (`ts < timestamp_micros(1)` pruned a ts=0 row, and
    *    `ts = timestamp_micros(5)` pruned the matching row — round-20
    *    fuzz findings). EVERY timestamp comparison stays Spark-side.
    * String equality/membership is exact under either order: a value
    * present in the file lies within the stats range computed the same
    * way. Null tests ride exact null counts and always stay pushed. */
  private def orcSargSafe(f: Filter): Boolean = {
    import org.apache.spark.sql.sources
    def orderUnsafe(v: Any): Boolean = v match {
      case _: String => true
      case _ => tsUnsafe(v)
    }
    def tsUnsafe(v: Any): Boolean = v match {
      case _: java.sql.Timestamp | _: java.time.Instant |
           _: java.time.LocalDateTime => true
      case _ => false
    }
    f match {
      case sources.GreaterThan(_, v) if orderUnsafe(v) => false
      case sources.GreaterThanOrEqual(_, v) if orderUnsafe(v) => false
      case sources.LessThan(_, v) if orderUnsafe(v) => false
      case sources.LessThanOrEqual(_, v) if orderUnsafe(v) => false
      case sources.EqualTo(_, v) if tsUnsafe(v) => false
      case sources.EqualNullSafe(_, v) if tsUnsafe(v) => false
      case sources.In(_, vs) if vs.exists(tsUnsafe) => false
      case sources.And(l, r) => orcSargSafe(l) && orcSargSafe(r)
      case sources.Or(l, r) => orcSargSafe(l) && orcSargSafe(r)
      case sources.Not(c) => orcSargSafe(c)
      case _ => true
    }
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
  * group's scan partitions — Spark's vectorized ParquetScan/OrcScan or the
  * custom Avro batch; readers dispatch to the owning group's factory. All
  * groups share one output layout, so Spark sees a single homogeneous
  * batch source (columnar included). Reports manifest-derived statistics to
  * the CBO (reference SparkBatchScan.estimateStatistics :186-209) so join
  * sides behind graft tables broadcast correctly. */
final class GraftScan(output: StructType, groupScans: Seq[Scan],
    plan: ScanPlan, spark: SparkSession = null, table: GraftTable = null,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    deletes: Seq[Option[GroupDeletes]] = Nil,
    runtimeFileFiltering: Boolean = false,
    onRuntimeFilter: Set[String] => Unit = _ => (),
    spjInfo: Option[SpjInfo] = None,
    ndvStats: Option[Stats.TableStats] = None,
    fills: Seq[Option[FillConfig]] = Nil,
    lineages: Seq[Option[LineageConfig]] = Nil)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Statistics}
  import java.util.OptionalLong

  override def readSchema(): StructType = output
  override def description(): String =
    s"graft(${groupScans.size} scan groups, files=${plan.tasks.size})"

  /** Test visibility: the (possibly eq-delete-pruned) plan this scan runs. */
  private[connector] def scanPlan: ScanPlan = plan
  /** Test visibility: one reader scan per (generation, format) group. */
  private[graft] def groups: Seq[Scan] = groupScans

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
    * by runtime values (reference SparkBatchQueryScan.filterAttributes). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (runtimeFileFiltering)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftSparkTable.FileColumn))
    // key-grouped (storage-partitioned-join) scans skip runtime filtering:
    // dropping partitions after reporting KeyGroupedPartitioning would
    // break the partitioning contract both join sides already agreed on
    else if (spjInfo.isDefined) Array.empty
    else if (table == null) Array.empty
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
          table != null && !runtimeFileFiltering =>
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
      if (table == null) return out
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
  private lazy val groupDeletes: Seq[Option[GroupDeletes]] =
    if (deletes.isEmpty) groupScans.map(_ => None) else deletes
  private lazy val groupFills: Seq[Option[FillConfig]] =
    if (fills.isEmpty) groupScans.map(_ => None) else fills
  private lazy val groupLineages: Seq[Option[LineageConfig]] =
    if (lineages.isEmpty) groupScans.map(_ => None) else lineages

  /** Per-file lineage scope for COMPUTED groups: canonical path → (manifest
    * first_row_id base, data sequence number). Metadata-only. */
  private lazy val lineageScopeOf: Map[String, LineageScope] =
    plan.tasks.flatMap(t => t.file.firstRowId match {
      case Some(base) if base >= 0 =>
        Some(ParquetIO.canonPath(t.file.path) ->
          LineageScope(base, t.sequenceNumber))
      case _ => None
    }).toMap
  private lazy val partsByGroup: Seq[Array[InputPartition]] =
    inner.map(_.planInputPartitions())

  /** Driver-side per-task delete matcher: canonical data-file path → the
    * position-delete files / DV slices that can reference it. Built from
    * manifest metadata (DV `referenced_data_file`, parquet path bounds) with
    * zero delete-file I/O on current tables; legacy delete files without
    * target metadata pay one cached driver read each (Deletes.posIndex). */
  private lazy val posScopeOf: String => PosScope = {
    val posFiles = plan.deleteFiles
      .filter(_._1.content == FileContent.PositionDeletes).map(_._1)
      .distinctBy(f => (f.path, f.referencedDataFile))
    val dvByTarget = Dvs.slicesOf(posFiles).groupBy(_.referenced)
    val parquetOf =
      Deletes.posIndex(posFiles, spark.sessionState.newHadoopConf())
    p => PosScope(parquetOf(p), dvByTarget.getOrElse(p, Nil))
  }

  /** Driver-side equality-delete partition matcher (the eq twin of
    * [[posScopeOf]] — reference DeleteFileIndex partition indexing):
    * partition-scoped eq-delete files (written per partition by
    * Deletes.stageEqualityDeletes) can only hit data files of the SAME
    * partition under the same spec; files without a tuple — and any
    * cross-spec pairing, where tuples aren't comparable — stay
    * partition-global. Metadata-only: no delete-file I/O. */
  private lazy val eqFileOf: Map[String, DataFile] =
    plan.deleteFiles.filter(_._1.content == FileContent.EqualityDeletes)
      .map(_._1).map(f => ParquetIO.canonPath(f.path) -> f).toMap
  private lazy val eqPartOf: Map[String, (Int, Map[String, Any])] =
    eqFileOf.collect { case (p, f) if f.partition.nonEmpty =>
      p -> (f.specId, f.partition) }
  /** Key-RANGE scoping is worthwhile when any live eq-delete file carries
    * key-column stats (staged files always do; legacy entries don't). */
  private lazy val eqBoundsActive: Boolean =
    table != null && eqFileOf.valuesIterator.exists(f =>
      f.equalityIds.exists(id => f.lowerBounds.contains(id) ||
        f.nullValueCounts.get(id).contains(0L)))
  private lazy val eqScopable: Boolean = eqPartOf.nonEmpty || eqBoundsActive
  private lazy val dataFileOf: Map[String, DataFile] =
    plan.tasks.map(t => ParquetIO.canonPath(t.file.path) -> t.file).toMap
  /** One equality-delete key source of a group, pre-indexed once per scan:
    * global (tuple-less) paths, per delete-file spec a tuple → paths map
    * and the spec's full path list (served whole to cross-spec data files,
    * where tuples aren't comparable — [[Deletes.eqDeleteCanHit]]'s cases,
    * indexed), plus — above the linear-sweep cap — an interval index over
    * the set's key ranges shared by both the global and the scoped
    * narrowing paths. */
  private final case class EqSetIndex(
      global: Seq[String],
      bySpec: Map[Int, (Seq[String], Map[Map[String, Any], Seq[String]])],
      canonOf: Map[String, String],       // listed path → canonical (built once)
      fileOf: Map[String, DataFile],      // listed path → descriptor
      globalByCanon: Map[String, String], // canonical → listed, global half
      globalUnresolved: Seq[String],      // global paths with no descriptor
      rangeIdx: Option[EqRangeIndex])

  /** Per-source partition INDEX over a group's equality-delete paths,
    * built once per scan. Keeps per-task scoping at
    * O(partitions-per-task) map lookups instead of O(live delete
    * files) per task — the same driver-cost shape as posScopeOf.
    * Canonical forms and descriptors are resolved HERE, once per set:
    * per-task re-canonicalization is URI parsing × tasks × delete files
    * (measured ~0.5 s per planning pass at 48 tasks × 5k deletes). */
  private lazy val eqIndexByGroup: Map[Int, Seq[EqSetIndex]] =
    groupDeletes.zipWithIndex.collect {
      case (Some(cfg), g) if cfg.sets.nonEmpty && eqScopable =>
        g -> cfg.sets.map { ks =>
          val canonOf = ks.paths.map(dp => dp -> ParquetIO.canonPath(dp)).toMap
          val fileOf = ks.paths.flatMap(dp =>
            eqFileOf.get(canonOf(dp)).map(dp -> _)).toMap
          val (scoped, global) =
            ks.paths.partition(dp => eqPartOf.contains(canonOf(dp)))
          // Tuples.key: binary partition values must index by CONTENT or a
          // content-equal data tuple misses the map and the key set
          // silently detaches (rows resurrect)
          val bySpec = scoped.groupBy(dp => eqPartOf(canonOf(dp))._1)
            .map { case (spec, paths) =>
              spec -> (paths,
                paths.groupBy(dp => Tuples.key(eqPartOf(canonOf(dp))._2)))
            }
          // above the linear-sweep cap, the whole set gets ONE interval
          // index (built once per scan) so narrowing stays O(log n + hits)
          // per task instead of turning off — for tuple-less paths AND for
          // partition-scoped candidate sets that exceed the cap inside a
          // single task's partitions
          val rangeIdx =
            if (eqBoundsActive &&
                (global.length > EqBoundsCap || scoped.length > EqBoundsCap))
              Some(EqRangeIndex.build(
                ks.paths.flatMap(fileOf.get), table.metadata.schema))
            else None
          EqSetIndex(global, bySpec, canonOf, fileOf,
            global.map(dp => canonOf(dp) -> dp).toMap,
            global.filterNot(fileOf.contains), rangeIdx)
        }
    }.toMap
  // PER-CANDIDATE key-range checks are linear sweeps — bounded so a
  // pathological many-live-deletes scan can't regress planning to
  // O(files×deletes); sets above the cap switch to [[EqRangeIndex]]
  private lazy val EqBoundsCap: Int =
    if (spark == null) 1024
    else {
      val raw = spark.conf.get("spark.graft.eq-bounds-linear-cap", "1024")
      scala.util.Try(raw.trim.toInt).toOption.filter(_ > 0).getOrElse {
        scanLog.warn(s"ignoring invalid spark.graft.eq-bounds-linear-cap" +
          s"='$raw' (want a positive int); using 1024")
        1024
      }
    }
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
    * DeleteKeySource (order preserved), the delete-file paths that can hit
    * any of the task's data files — first by partition tuple (indexed),
    * then by KEY-column range overlap ([[Deletes.eqBoundsCanHit]], the
    * upstream canContainEqDeletesForFile analogue). None = nothing
    * narrowed (single cache entry shared by every task of the scan). */
  private val eqScopeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Seq[String]), Option[Seq[Seq[String]]]]

  private def eqScopeFor(group: Int, dataPaths: Seq[String])
      : Option[Seq[Seq[String]]] =
    // Spark plans input partitions more than once per query (stats,
    // partitioning, execution, AQE re-plans) — cache per (group, task
    // files) so narrowing runs once per task per scan; cached values are
    // shared references with the emitted partitions, not copies
    eqScopeCache.computeIfAbsent((group, dataPaths),
      _ => computeEqScopeFor(group, dataPaths))

  private def computeEqScopeFor(group: Int, dataPaths: Seq[String])
      : Option[Seq[Seq[String]]] =
    eqIndexByGroup.get(group).flatMap { index =>
      // a data file we can't resolve keeps every delete (never drop)
      val unknown = dataPaths.exists(dp => !dataFileOf.contains(dp))
      if (unknown) None
      else {
        val dataFiles = dataPaths.map(dataFileOf)
        val parts = dataFiles.map(f => (f.specId, f.partition)).distinct
        lazy val schema = table.metadata.schema
        val narrowed = index.map { si =>
          // a delete path with no resolvable descriptor can't be range-
          // checked — keep it unconditionally (conservative, like the
          // unknown-data-file bail above)
          def boundsHit(dp: String): Boolean = si.fileOf.get(dp) match {
            case Some(del) =>
              dataFiles.exists(df => Deletes.eqBoundsCanHit(del, df, schema))
            case None => true
          }
          val scopedCands = si.bySpec.toSeq.flatMap { case (spec, (all, byTuple)) =>
            if (parts.exists(_._1 != spec)) all // cross-spec: keep whole spec
            else parts.flatMap(p => byTuple.getOrElse(Tuples.key(p._2), Nil))
          }
          // the set's interval index queried ONCE per task (shared by the
          // global and the scoped halves): a conservative superset of the
          // delete files whose key ranges can touch the task's files.
          // Canonical forms come from the per-set maps — no URI parsing in
          // the per-task loop.
          lazy val idxCands: Set[String] = si.rangeIdx.fold(Set.empty[String])(
            idx => dataFiles.flatMap(idx.candidatesFor)
              .map(ParquetIO.canonPath).toSet)
          // pre-filter through the index when available, then the exact
          // multi-key re-check — UNLESS the candidate set itself exceeds
          // the cap (a near-total set means narrowing buys nothing and the
          // re-check is O(candidates × taskFiles); keep the superset, as
          // the pre-index code kept everything above the cap)
          def narrow(cands: Seq[String]): Seq[String] =
            if (cands.length > EqBoundsCap) cands else cands.filter(boundsHit)
          val globalNarrowed =
            if (!eqBoundsActive) si.global
            else si.rangeIdx match {
              case Some(_) =>
                // iterate the (small) candidate set, not the full global
                // list: O(hits) map lookups per task, plus unresolvable
                // paths kept unconditionally
                narrow((idxCands.toSeq.flatMap(si.globalByCanon.get)
                  ++ si.globalUnresolved).distinct)
              case None => narrow(si.global)
            }
          val scopedNarrowed =
            if (!eqBoundsActive) scopedCands
            else if (scopedCands.length <= EqBoundsCap)
              scopedCands.filter(boundsHit)
            else si.rangeIdx match {
              // over-cap scoped candidates: intersect the tuple-scoped set
              // with the index's range candidates — narrowing stays on
              // instead of the former warn-and-skip cliff
              case Some(_) => narrow(scopedCands.filter(dp =>
                !si.fileOf.contains(dp) || idxCands.contains(si.canonOf(dp))))
              case None => scopedCands // unreachable: over-cap builds the index
            }
          (globalNarrowed ++ scopedNarrowed).distinct.sorted
        }
        val sizes = groupDeletes(group).get.sets.map(_.paths.length)
        eqNarrowTasks.incrementAndGet()
        eqNarrowBefore.addAndGet(sizes.sum.toLong)
        eqNarrowAfter.addAndGet(narrowed.map(_.length).sum.toLong)
        if (narrowed.map(_.length) == sizes) None else Some(narrowed)
      }
    }

  /** Storage-partitioned-join planning: when the builder proved the scan is
    * one group over one all-identity spec (spjInfo), regroup the planned
    * files into ONE InputPartition PER PARTITION KEY, each carrying its key
    * row — Spark's KeyGroupedPartitioning contract, which lets two
    * co-partitioned graft tables join with NO shuffle on either side
    * (reference-beyond: the fork predates SPJ; Apache Iceberg's
    * SparkPartitioningAwareScan is the public analogue). Any partition
    * shape we can't regroup falls back to None = unknown partitioning. */
  private lazy val keyedParts: Option[Array[InputPartition]] = spjInfo.flatMap { info =>
    import org.apache.spark.sql.execution.datasources.FilePartition
    // every group's partitions must be plain FilePartitions; each file is
    // tagged with its reader group, so a scan split across schema
    // generations (rename/promotion creates one reader group per
    // generation) STILL key-groups — evolving a table's schema must not
    // cost its joins the shuffle-free plan forever. The per-key task
    // concatenates per-group subs; ConcatReader dispatches each sub to
    // its own group's reader.
    val tagged: Option[Seq[(Int,
        org.apache.spark.sql.execution.datasources.PartitionedFile)]] = {
      val perGroup = partsByGroup.zipWithIndex.map { case (parts, g) =>
        val fps = parts.collect { case fp: FilePartition => fp }
        if (fps.length != parts.length) None
        else Some(fps.flatMap(_.files).toSeq.map(f => g -> f))
      }
      if (perGroup.exists(_.isEmpty)) None
      else Some(perGroup.flatMap(_.get))
    }
    tagged.flatMap { files =>
      val keyed = files.map { case (g, f) =>
        info.keyOf.get(ParquetIO.canonPath(f.filePath.toPath.toString)) -> ((g, f))
      }
      if (keyed.exists(_._1.isEmpty)) None
      else {
        val grouped = keyed.map { case (k, gf) => (k.get, gf) }.groupBy(_._1)
          .toSeq.sortBy(_._1.map(v => String.valueOf(v)).mkString("\u0000"))
        Some(grouped.zipWithIndex.map { case ((key, gfs), i) =>
          // MoR: file-granular subs, each with its own delete scope --
          // the same per-task attachment the non-SPJ path gets
          val subs = gfs.map(_._2).groupBy(_._1).toSeq.sortBy(_._1).flatMap {
            case (g, fs) =>
              val posGroup = groupDeletes(g).exists(_.pos.isDefined)
              val eqActive = eqScopable && groupDeletes(g).exists(_.sets.nonEmpty)
              if (posGroup) fs.map(_._2).map { f =>
                val canon = ParquetIO.canonPath(f.filePath.toPath.toString)
                GroupedPartition(g, FilePartition(i, Array(f)), Some(canon),
                  Some(posScopeOf(canon)), None,
                  if (eqActive) eqScopeFor(g, Seq(canon)) else None)
              }
              else {
                val canons = fs.map(f =>
                  ParquetIO.canonPath(f._2.filePath.toPath.toString))
                Seq(GroupedPartition(g, FilePartition(i, fs.map(_._2).toArray),
                  eqScope = if (eqActive) eqScopeFor(g, canons) else None))
              }
          }
          KeyedPartition(0, subs,
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              key.toArray)): InputPartition
        }.toArray)
      }
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

  override def toBatch: Batch = new Batch {

    // scan-wide columnar decision, made ONCE on the driver (Spark requires
    // every partition of a scan to agree): clean groups ask their parquet
    // factory; delete-bearing groups additionally need repackable output
    // types (ColumnarDeletes.supports). Any holdout drops the scan to rows.
    private lazy val columnar: Boolean = inner.indices.forall { i =>
      partsByGroup(i).forall(p => innerFactories(i).supportColumnarReads(p)) &&
        groupDeletes(i).forall(ColumnarDeletes.supports) &&
        // lineage stays columnar (LineageColumnarReader): computed ids are
        // one vectorized base+rowIdx add per batch, stored/absent lineage
        // are pass-through/constant vectors — CDC consumers scanning
        // _row_id over parquet tables never pay the row-path tax. ORC/Avro
        // lineage groups drop to rows via their factories' own answer.
        // Nested default fills rewrite struct values per row — no columnar
        // constant-vector shortcut exists inside a non-constant struct
        groupFills(i).forall(_.nested.isEmpty)
    }

    override def planInputPartitions(): Array[InputPartition] = {
      val out = planPartitionsImpl()
      logEqNarrowing()
      out
    }

    private def planPartitionsImpl(): Array[InputPartition] = keyedParts.getOrElse {
      import org.apache.spark.sql.execution.datasources.FilePartition
      val keep = runtimeKeep
      def kept(path: String): Boolean =
        keep.forall(_.contains(ParquetIO.canonPath(path)))
      partsByGroup.zipWithIndex.flatMap { case (parts, i) =>
        val posGroup = groupDeletes(i).exists(_.pos.isDefined)
        // computed-lineage groups need one task per file too: the row-id
        // base is a per-FILE constant carried on the partition
        val lineageGroup = groupLineages(i).exists(_.kind == 1)
        // partition-scoped equality deletes narrow each task's key-set
        // sources to its own partition's delete files
        val eqActive = eqScopable && groupDeletes(i).exists(_.sets.nonEmpty)
        def scopes(canon: String): (Option[PosScope], Option[LineageScope]) =
          (if (posGroup) Some(posScopeOf(canon)) else None,
            if (lineageGroup) lineageScopeOf.get(canon) else None)
        def eqScope(canons: Seq[String]): Option[Seq[Seq[String]]] =
          if (eqActive) eqScopeFor(i, canons) else None
        if (!posGroup && !lineageGroup && keep.isEmpty && !eqActive)
          parts.toSeq.map(p => GroupedPartition(i, p): InputPartition)
        else parts.toSeq.flatMap {
          case fp: FilePartition =>
            // runtime filtering drops files the dynamic subquery proved
            // matchless; position deletes additionally need one task per
            // file (the position set is keyed by data-file path — the SAME
            // canonicalization the delete rows' file_path goes through, so
            // the lookup agrees on every filesystem scheme)
            val files = fp.files.filter(f => kept(f.filePath.toPath.toString))
            if (files.isEmpty) Nil
            else if (posGroup || lineageGroup) {
              // file-granular scoping WITHOUT losing Spark's bin-packing:
              // keep the original FilePartition boundary (Spark already
              // sized it to maxSplitBytes/bytesPerCore) and emit ONE task
              // whose reader concatenates the per-file delete-scoped subs
              // — small MoR files don't degrade to one task each
              val subs = files.toSeq.map { f =>
                val canon = ParquetIO.canonPath(f.filePath.toPath.toString)
                val (ps, ls) = scopes(canon)
                GroupedPartition(i, FilePartition(fp.index, Array(f)),
                  Some(canon), ps, ls, eqScope(Seq(canon)))
              }
              Seq(if (subs.size == 1) subs.head: InputPartition
                  else MultiFilePartition(subs): InputPartition)
            }
            else {
              val canons = files.toSeq.map(f =>
                ParquetIO.canonPath(f.filePath.toPath.toString))
              Seq(GroupedPartition(i, FilePartition(fp.index, files),
                eqScope = eqScope(canons)): InputPartition)
            }
          // ORC row-path and Avro partitions are file-granular by construction
          case op: OrcRowFilePartition =>
            if (!kept(op.path)) Nil
            else {
              val canon = ParquetIO.canonPath(op.path)
              val (ps, ls) = scopes(canon)
              Seq(GroupedPartition(i, op, Some(canon), ps, ls,
                eqScope(Seq(canon))): InputPartition)
            }
          // packed hazard-routed ORC partitions (withRowIndex=false — never
          // position-delete or computed-lineage groups, so no per-file
          // scoping): runtime filtering drops pruned chunks, equality-delete
          // narrowing covers the partition's whole file set
          case omp: OrcRowMultiPartition =>
            val keptChunks = omp.chunks.filter(c => kept(c.path))
            if (keptChunks.isEmpty) Nil
            else {
              val canons = keptChunks.map(c => ParquetIO.canonPath(c.path))
                .distinct
              Seq(GroupedPartition(i, OrcRowMultiPartition(keptChunks),
                None, None, None, eqScope(canons)): InputPartition)
            }
          case ap: AvroFilePartition =>
            if (!kept(ap.path)) Nil
            else {
              val canon = ParquetIO.canonPath(ap.path)
              val (ps, ls) = scopes(canon)
              Seq(GroupedPartition(i, ap, Some(canon), ps, ls,
                eqScope(Seq(canon))): InputPartition)
            }
          case other =>
            if (posGroup || lineageGroup) throw new IllegalStateException(
              "position deletes and computed lineage need file-granular " +
                s"partitions, got ${other.getClass}")
            // unknown partition shape: keep it — runtime filtering and eq
            // scoping are optimizations, never required for correctness
            else Seq(GroupedPartition(i, other): InputPartition)
        }
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      GroupedReaderFactory(innerFactories, groupDeletes, columnar, groupFills,
        groupLineages)
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

/** Per-TASK position-delete attachment (reference DeleteFileIndex +
  * FileScanTask.deletes(), core/.../DeleteFileIndex.java): only the delete
  * files / DV slices that can reference this partition's data file travel
  * with it, so an executor's delete I/O is bounded by its own tasks'
  * deletes — not O(scan-wide delete bytes) per executor. */
final case class PosScope(paths: Seq[String],
    dvs: Seq[graft.format.DvSlice]) extends Serializable

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

/** Builder-side proof that a scan is storage-partitioned-join-able: one
  * scan group over one spec whose fields are identity / bucket[N] /
  * truncate[W] / year|month|day|hour, with every planned file's partition
  * key (Catalyst values, spec-field order) resolvable by path. Non-identity
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

final case class GroupedReaderFactory(
    inner: Seq[org.apache.spark.sql.connector.read.PartitionReaderFactory],
    deletes: Seq[Option[GroupDeletes]],
    columnar: Boolean = false,
    fills: Seq[Option[FillConfig]] = Nil,
    lineages: Seq[Option[LineageConfig]] = Nil)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  private def unwrap(p: InputPartition)
      : (Int, InputPartition, Option[String], Option[PosScope],
        Option[LineageScope], Option[Seq[Seq[String]]]) = p match {
    case GroupedPartition(g, ip, f, sc, ls, eq) => (g, ip, f, sc, ls, eq)
    case other => (0, other, None, None, None, None)
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
    case _ => createSingleReader(p)
  }
  private def createSingleReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (g, ip, dataFile, sc, ls, eq) = unwrap(p)
    val base = inner(g).createReader(ip)
    // default backfill sits UNDER the delete filter, so eq-delete keys on
    // a defaulted column match against the filled value
    val reader = fills.lift(g).flatten match {
      case Some(cfg) => new ConstantFillRowReader(base, cfg)
      case None => base
    }
    val afterDeletes = deletes.lift(g).flatten match {
      case Some(cfg) => new DeleteFilterReader(reader, scoped(cfg, sc, eq), dataFile)
      case None => reader
    }
    // lineage projection is the OUTERMOST wrapper: only live rows get ids
    lineages.lift(g).flatten match {
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
    case _ => createSingleColumnarReader(p)
  }
  private def createSingleColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (g, ip, dataFile, sc, ls, eq) = unwrap(p)
    val base = inner(g).createColumnarReader(ip)
    val reader = fills.lift(g).flatten match {
      case Some(cfg) => new ConstantFillColumnarReader(base, cfg)
      case None => base
    }
    val afterDeletes = deletes.lift(g).flatten match {
      case Some(cfg) =>
        new ColumnarDeleteFilterReader(reader, scoped(cfg, sc, eq), dataFile)
      case None => reader
    }
    // lineage projection is the OUTERMOST wrapper: only live rows get ids
    lineages.lift(g).flatten match {
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
    src.paths.foreach { p =>
      ParquetIO.readAll(p, schema, conf, requireAll = true,
        what = "equality-delete file") { row =>
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
  * data-file path → roaring bitmap of dead positions). Bitmaps keep a
  * 100M-row delete at tens of MB (vs 800 MB of sorted longs) and probe in
  * ~O(1); DV blobs load with one ranged read each and OR into the same
  * per-file map as any legacy parquet positions (union semantics — see
  * [[graft.format.Dvs]]). Budget ~512 MB of serialized-size bytes, the
  * same unit as DeleteKeyCache. */
object PosDeleteCache {
  import graft.format.{Dvs, DvSlice, ParquetIO}
  import org.apache.spark.sql.types.{StructField, StructType}
  import org.roaringbitmap.longlong.Roaring64NavigableMap

  /** Shared read-only empty set for files with no live deletes. */
  val Empty: Roaring64NavigableMap = new Roaring64NavigableMap()

  private[connector] val cache =
    new WeightedLruCache[Map[String, Roaring64NavigableMap]](512L * 1024 * 1024)(
      _.valuesIterator.map(v => 64L + v.serializedSizeInBytes()).sum.max(1L))

  def get(paths: Seq[String], dvs: Seq[DvSlice],
      conf: org.apache.hadoop.conf.Configuration): Map[String, Roaring64NavigableMap] =
    cache.get((paths ++ dvs.map(d => s"${d.path}@${d.offset}")).mkString("\n"))(
      load(paths, dvs, conf))

  private def load(paths: Seq[String], dvs: Seq[DvSlice],
      conf: org.apache.hadoop.conf.Configuration): Map[String, Roaring64NavigableMap] = {
    val schema = StructType(Seq(
      StructField("file_path", org.apache.spark.sql.types.StringType),
      StructField("pos", LongType)))
    val byFile = scala.collection.mutable.HashMap[String, Roaring64NavigableMap]()
    def setOf(f: String): Roaring64NavigableMap =
      byFile.getOrElseUpdate(f, new Roaring64NavigableMap())
    // the spec fixes position-delete column names, so absence means a
    // corrupt/foreign file — null-filling would resurrect its deletes
    // (requireAll validates against the footer the reader already loads)
    paths.foreach(p => ParquetIO.readAll(p, schema, conf,
        requireAll = true, what = "position-delete file") { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1))
        setOf(ParquetIO.canonPath(row.getUTF8String(0).toString))
          .addLong(row.getLong(1))
    })
    dvs.foreach(s => setOf(s.referenced).or(Dvs.read(s.path, s.offset, s.length, conf)))
    byFile.toMap
  }
}

final case class GroupDeletes(sets: Seq[DeleteKeySource],
    types: Seq[org.apache.spark.sql.types.DataType],
    project: Option[Seq[Int]],
    conf: org.apache.spark.util.SerializableConfiguration,
    pos: Option[PosDeleteSource] = None) extends Serializable

/** Row-path delete filter (reference EqualitySetDeleteFilter +
  * PositionStreamDeleteFilter, core/.../deletes/Deletes.java:60-159): drop
  * rows whose key tuple appears in any newer equality-delete set or whose
  * row index appears in this file's position-delete set, then project away
  * widened key / synthetic row-index columns. Delete sets load lazily on
  * first use, in the executor running this reader. */
final class DeleteFilterReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow],
    cfg: GroupDeletes, dataFile: Option[String])
  extends org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private var current: InternalRow = _

  private lazy val resolved: Seq[(Array[Int], Set[Vector[Any]])] =
    cfg.sets.map(s => (s.ordinals, s.keySet(cfg.conf.value)))

  private lazy val positions: org.roaringbitmap.longlong.Roaring64NavigableMap =
    cfg.pos match {
      case Some(p) =>
        val file = dataFile.getOrElse(throw new IllegalStateException(
          "position deletes require file-granular partitions"))
        PosDeleteCache.get(p.paths, p.dvs, cfg.conf.value)
          .getOrElse(graft.format.ParquetIO.canonPath(file), PosDeleteCache.Empty)
      case None => PosDeleteCache.Empty
    }

  private def canonical(row: InternalRow, i: Int): Any =
    graft.format.ParquetIO.canonicalValue(row, i, cfg.types(i))

  private def deleted(row: InternalRow): Boolean =
    cfg.pos.exists(p => !positions.isEmpty &&
      positions.contains(row.getLong(p.rowIdxOrdinal))) ||
    resolved.exists { case (ordinals, keys) =>
      keys.contains(ordinals.map(i => canonical(row, i)).toVector)
    }

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (!deleted(row)) {
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
