package graft.connector

import graft.format._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Iterator => JIterator}

/** SQL stored procedures: `CALL graft.system.rollback_to_snapshot('db.t', 3)`.
  *
  * The reference fork predates stored procedures entirely — its maintenance
  * surface is the Java action API only (`actions/RewriteDataFilesAction.java`
  * etc.), invoked from code. Spark 4.1 ships a native `ProcedureCatalog` +
  * `CALL` statement (SPARK-44167), so the same actions this library already
  * exposes programmatically (`format/Actions.scala`, `format/Commits.scala`)
  * are republished here as procedures under the `system` namespace, with the
  * argument names later Apache Iceberg standardized publicly (snapshot
  * management, metadata/data rewrites, orphan cleanup, WAP publish, import).
  *
  * Execution model: Spark's `InvokeProcedures` analyzer rule evaluates the
  * literal arguments into an `InternalRow`, invokes [[BoundProcedure.call]]
  * eagerly on the driver, and requires each returned [[Scan]] to be a
  * [[LocalScan]] it folds into a `LocalRelation`. That suits maintenance
  * procedures: the heavy lifting (compaction, manifest rewrites, orphan
  * diffs) still runs as distributed Spark jobs inside the action; only the
  * summary counters come back as local rows.
  *
  * @param resolve  loads a `db.table` identifier string into a [[GraftTable]]
  * @param locate   maps the identifier to its warehouse directory (used by
  *                 `import_table`, whose target must not exist yet)
  */
final class GraftProcedures(resolve: String => GraftTable,
    locate: String => String) {

  // ---- plumbing --------------------------------------------------------

  import GraftProcedures.ResultScan

  /** One class serves both halves of the two-phase API: `bind` is identity
    * because parameter types are fixed (no overloads per procedure). */
  private final class Proc(pname: String, desc: String,
      params: Array[ProcedureParameter], output: StructType)(
      body: InternalRow => Array[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): JIterator[Scan] =
      java.util.List.of[Scan](ResultScan(body(input), output)).iterator()
  }

  private def p(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def pd(name: String, dt: DataType, defaultSql: String) =
    ProcedureParameter.in(name, dt).defaultValue(defaultSql).build()

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
  private def row(vals: Any*): InternalRow =
    new GenericInternalRow(vals.map {
      case s: String => UTF8String.fromString(s)
      case x => x.asInstanceOf[AnyRef]
    }.toArray[Any])
  /** TimestampType args arrive as epoch micros. */
  private def tsMillis(r: InternalRow, i: Int): Long = r.getLong(i) / 1000L

  private val snapshotPair = StructType(Seq(
    StructField("previous_snapshot_id", LongType, nullable = true),
    StructField("current_snapshot_id", LongType, nullable = false)))
  private def snapshotPairRow(prev: Option[Long], m: TableMetadata) =
    Array(row(prev.map(Long.box).orNull, Long.box(m.currentSnapshotId.get)))

  // ---- snapshot management (Commits) -----------------------------------

  private val rollbackToSnapshot = new Proc("rollback_to_snapshot",
    "set the current snapshot back to a known snapshot id",
    Array(p("table", StringType), p("snapshot_id", LongType)), snapshotPair)({
    in =>
      val t = resolve(str(in, 0))
      val prev = t.metadata.currentSnapshotId
      // the SAFE variant (reference RollbackToSnapshotProcedure): the
      // target must be an ancestor of the current state — an arbitrary
      // existing snapshot (staged WAP, divergent branch) is what
      // set_current_snapshot is for
      val target = in.getLong(1)
      require(t.metadata.ancestors().exists(_.snapshotId == target),
        s"snapshot $target is not an ancestor of the current state — " +
        "use set_current_snapshot to move to an arbitrary snapshot")
      snapshotPairRow(prev, Commits.rollbackTo(t, target))
  })

  private val rollbackToTimestamp = new Proc("rollback_to_timestamp",
    "set the current snapshot to the latest one at or before a timestamp",
    Array(p("table", StringType), p("timestamp", TimestampType)), snapshotPair)({
    in =>
      val t = resolve(str(in, 0))
      val m0 = t.metadata
      val cutoff = tsMillis(in, 1)
      val target = m0.snapshotLog
        .filter(e => e.timestampMillis <= cutoff &&
          m0.snapshot(e.snapshotId).isDefined)
        .sortBy(_.timestampMillis).lastOption
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot at or before timestamp-millis $cutoff"))
      snapshotPairRow(m0.currentSnapshotId,
        Commits.rollbackTo(t, target.snapshotId))
  })

  private val setCurrentSnapshot = new Proc("set_current_snapshot",
    "set the current snapshot to any existing snapshot id",
    Array(p("table", StringType), p("snapshot_id", LongType)), snapshotPair)({
    in =>
      val t = resolve(str(in, 0))
      snapshotPairRow(t.metadata.currentSnapshotId,
        Commits.rollbackTo(t, in.getLong(1)))
  })

  private val cherrypickSnapshot = new Proc("cherrypick_snapshot",
    "apply a staged (WAP) append snapshot on top of the current state",
    Array(p("table", StringType), p("snapshot_id", LongType)),
    StructType(Seq(
      StructField("source_snapshot_id", LongType, nullable = false),
      StructField("current_snapshot_id", LongType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val src = in.getLong(1)
      val m = Commits.cherrypick(t, src)
      Array(row(Long.box(src), Long.box(m.currentSnapshotId.get)))
  })

  private val publishChanges = new Proc("publish_changes",
    "cherry-pick the staged snapshot carrying a given wap.id",
    Array(p("table", StringType), p("wap_id", StringType)),
    StructType(Seq(
      StructField("source_snapshot_id", LongType, nullable = false),
      StructField("current_snapshot_id", LongType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val wapId = str(in, 1)
      val src = t.metadata.snapshots
        .find(_.summary.get("wap.id").contains(wapId))
        .getOrElse(throw new IllegalArgumentException(
          s"no staged snapshot with wap.id=$wapId"))
      val m = Commits.cherrypick(t, src.snapshotId)
      Array(row(Long.box(src.snapshotId), Long.box(m.currentSnapshotId.get)))
  })

  private val ancestorsOf = new Proc("ancestors_of",
    "walk the parent chain from a snapshot (default: current)",
    Array(p("table", StringType), pd("snapshot_id", LongType, "NULL")),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val m = t.metadata
      val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
      val start =
        if (in.isNullAt(1)) m.currentSnapshotId else Some(in.getLong(1))
      Iterator.iterate(start.flatMap(byId.get))(
          _.flatMap(_.parentId).flatMap(byId.get))
        .takeWhile(_.isDefined).flatten
        .map(s => row(Long.box(s.snapshotId),
          Long.box(s.timestampMillis * 1000L)))
        .toArray
  })

  // ---- named refs: branches and tags -----------------------------------

  private val refRow = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)))

  private val createBranch = new Proc("create_branch",
    "create a branch at a snapshot (default: current head)",
    Array(p("table", StringType), p("branch", StringType),
      pd("snapshot_id", LongType, "NULL")), refRow)({ in =>
      val t = resolve(str(in, 0))
      val snap = if (in.isNullAt(2)) None else Some(in.getLong(2))
      val m = Commits.createBranch(t, str(in, 1), snap)
      Array(row(str(in, 1), Long.box(m.refs(str(in, 1)).snapshotId)))
  })

  private val createTag = new Proc("create_tag",
    "create an immutable tag at a snapshot (default: current head)",
    Array(p("table", StringType), p("tag", StringType),
      pd("snapshot_id", LongType, "NULL"),
      pd("max_ref_age_ms", LongType, "NULL")), refRow)({ in =>
      val t = resolve(str(in, 0))
      val snap = if (in.isNullAt(2)) None else Some(in.getLong(2))
      val age = if (in.isNullAt(3)) None else Some(in.getLong(3))
      val m = Commits.createTag(t, str(in, 1), snap, age)
      Array(row(str(in, 1), Long.box(m.refs(str(in, 1)).snapshotId)))
  })

  private val dropRef = new Proc("drop_ref",
    "drop a branch or tag by name",
    Array(p("table", StringType), p("name", StringType)),
    StructType(Seq(StructField("dropped", StringType, nullable = false))))({
    in =>
      Commits.dropRef(resolve(str(in, 0)), str(in, 1))
      Array(row(str(in, 1)))
  })

  private val fastForward = new Proc("fast_forward",
    "advance a branch (or 'main') to a descendant snapshot or ref head",
    Array(p("table", StringType), p("branch", StringType),
      p("to", StringType)),
    StructType(Seq(
      StructField("branch_updated", StringType, nullable = false),
      StructField("previous_ref", LongType, nullable = true),
      StructField("updated_ref", LongType, nullable = false))))({ in =>
      val t = resolve(str(in, 0))
      val name = str(in, 1)
      val toStr = str(in, 2)
      val target = toStr.toLongOption
        .orElse(t.metadata.refSnapshotId(toStr))
        .getOrElse(throw new IllegalArgumentException(
          s"'$toStr' is neither a snapshot id nor a ref"))
      val prev = t.metadata.refSnapshotId(name)
      val m = Commits.fastForward(t, name, target)
      Array(row(name, prev.map(Long.box).orNull,
        Long.box(m.refSnapshotId(name).get)))
  })

  // ---- maintenance actions (Actions) -----------------------------------

  private val expireSnapshots = new Proc("expire_snapshots",
    "drop snapshots older than a timestamp and delete unreferenced files",
    Array(p("table", StringType),
      pd("older_than", TimestampType, "NULL"),
      pd("retain_last", IntegerType, "1")),
    StructType(Seq(
      StructField("expired_snapshots_count", IntegerType, nullable = false),
      StructField("deleted_data_files_count", IntegerType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      // default retention = now − history.expire.max-snapshot-age-ms
      // (5 days, the reference's default): a bare maintenance CALL must
      // not wipe all time travel / rollback / changelog history — "now"
      // is only what an EXPLICIT older_than asks for
      val olderThan =
        if (in.isNullAt(1)) {
          val maxAge = t.metadata.properties
            .get("history.expire.max-snapshot-age-ms")
            .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
            .getOrElse(5L * 24 * 3600 * 1000)
          System.currentTimeMillis() - maxAge
        } else tsMillis(in, 1)
      val r = Actions.forTable(t).expireSnapshots(olderThan, in.getInt(2))
      Array(row(Int.box(r.expiredSnapshots), Int.box(r.deletedFiles)))
  })

  private val removeOrphanFiles = new Proc("remove_orphan_files",
    "delete data-dir files not referenced by any snapshot (3-day guard)",
    Array(p("table", StringType), pd("older_than", TimestampType, "NULL")),
    StructType(Seq(
      StructField("orphan_file_location", StringType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val r =
        if (in.isNullAt(1)) Actions.forTable(t).removeOrphanFiles()
        else Actions.forTable(t).removeOrphanFiles(tsMillis(in, 1))
      r.deletedOrphans.map(row(_)).toArray
  })

  /** Parse a SQL `where` string into a graft Expr for FILE-SELECTION
    * scoping (iceberg rewrite_data_files `where` semantics): analyze the
    * predicate against an empty frame with the table's schema, translate
    * to DSv2 source filters, and bridge those. Anything that cannot fully
    * translate is refused — a dropped conjunct would silently widen the
    * rewrite scope (harmless) but a dropped disjunct would narrow it. */
  private def parseWhere(t: GraftTable, where: String): Expr = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    if (where.trim.isEmpty) return Exprs.alwaysTrue
    val empty = t.spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      Types.cleanType(t.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val cond = empty.filter(where).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(s"cannot parse where: $where"))
    def bad(e: ce.Expression): Nothing = throw new IllegalArgumentException(
      s"unsupported where predicate: ${e.sql} (use column-vs-literal " +
      "comparisons, IN, IS [NOT] NULL, AND/OR/NOT, LIKE 'prefix%')")
    // the ANALYZED (not optimized) plan is matched — the optimizer would
    // fold the whole Filter away over the empty frame — so type coercion
    // still wraps literals in casts (id < 5 on BIGINT is `id < cast(5)`).
    // Any foldable operand evaluates to its literal here.
    object Lit {
      def unapply(e: ce.Expression): Option[Any] =
        if (e.foldable) Some(convertToScala(e.eval(null), e.dataType)) else None
    }
    object Attr {
      def unapply(e: ce.Expression): Option[String] = e match {
        case a: ce.AttributeReference => Some(a.name)
        // coercion wraps the COLUMN side in an identity cast too (IN list
        // coercion does this even when no width changes); only the no-op
        // cast is safe to see through — a real cast changes the domain
        case c: ce.Cast => c.child match {
          case a: ce.AttributeReference if c.dataType == a.dataType =>
            Some(a.name)
          case _ => None
        }
        case _ => None
      }
    }
    def toExpr(e: ce.Expression, positive: Boolean): Expr = e match {
      case ce.EqualTo(Attr(a), Lit(v)) if v != null => Exprs.equal(a, v)
      case ce.EqualTo(Lit(v), Attr(a)) if v != null => Exprs.equal(a, v)
      case ce.GreaterThan(Attr(a), Lit(v)) if v != null => Exprs.gt(a, v)
      case ce.GreaterThan(Lit(v), Attr(a)) if v != null => Exprs.lt(a, v)
      case ce.GreaterThanOrEqual(Attr(a), Lit(v)) if v != null => Exprs.gtEq(a, v)
      case ce.GreaterThanOrEqual(Lit(v), Attr(a)) if v != null => Exprs.ltEq(a, v)
      case ce.LessThan(Attr(a), Lit(v)) if v != null => Exprs.lt(a, v)
      case ce.LessThan(Lit(v), Attr(a)) if v != null => Exprs.gt(a, v)
      case ce.LessThanOrEqual(Attr(a), Lit(v)) if v != null => Exprs.ltEq(a, v)
      case ce.LessThanOrEqual(Lit(v), Attr(a)) if v != null => Exprs.gtEq(a, v)
      case ce.In(Attr(a), vs) if vs.forall(_.foldable) =>
        val lits = vs.map { case Lit(v) => v }
        // null IN-values drop safely only in POSITIVE position (same
        // polarity rule as FilterBridge): under an odd number of NOTs the
        // dropped null flips rows SQL would never select
        if (!positive && lits.contains(null)) bad(e)
        else Exprs.in(a, lits.filter(_ != null))
      case ce.IsNull(Attr(a)) => Exprs.isNull(a)
      case ce.IsNotNull(Attr(a)) => Exprs.notNull(a)
      case ce.And(l, r) => Exprs.and(toExpr(l, positive), toExpr(r, positive))
      case ce.Or(l, r) => Exprs.or(toExpr(l, positive), toExpr(r, positive))
      case ce.Not(c) => Exprs.not(toExpr(c, !positive))
      case ce.StartsWith(Attr(a), Lit(v)) if v != null =>
        Exprs.startsWith(a, v.toString)
      case other => bad(other)
    }
    toExpr(cond, positive = true)
  }

  private val rewriteDataFiles = new Proc("rewrite_data_files",
    "compact data files: bin-pack by default, range-clustered with sort_by",
    Array(p("table", StringType),
      pd("target_size_bytes", LongType, (128L * 1024 * 1024).toString),
      pd("min_input_files", IntegerType, "2"),
      pd("sort_by", StringType, "''"),
      // SQL predicate scoping FILE SELECTION (files that might match are
      // rewritten whole): at 100 TB compaction runs per-partition
      pd("where", StringType, "''"),
      // files carrying >= this many live delete files compact even when
      // their partition is size-compact (iceberg delete-file-threshold)
      pd("delete_file_threshold", IntegerType, Int.MaxValue.toString)),
    StructType(Seq(
      StructField("rewritten_data_files_count", IntegerType, nullable = false),
      StructField("added_data_files_count", IntegerType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val ZOrderSyntax = """(?i)zorder\s*\((.*)\)""".r
      val scope = parseWhere(t, str(in, 4))
      // delete_file_threshold FORCES under-sized bins into the bin-pack
      // rewrite; sorted/z-order rewrites are unconditional (every file in
      // scope rewrites, deletes always materialize away), so combining
      // the two is a contradiction — refuse rather than silently ignore
      // the parameter
      if (in.getInt(5) != Int.MaxValue && str(in, 3).trim.nonEmpty)
        throw new IllegalArgumentException(
          "delete_file_threshold applies to bin-pack compaction only; " +
          "sorted/z-order rewrites are unconditional and always " +
          "materialize deletes away")
      val r = str(in, 3).trim match {
        case "" =>
          // default stays bin-pack even when the table declares a
          // write.sort-order: rewriteSorted rewrites unconditionally, so
          // defaulting to it would turn an idempotent nightly compaction
          // into a full-table rewrite every run (and ignore
          // min_input_files). Sorted compaction is an explicit ask:
          // sort_by => 'declared' resolves the table's declared order.
          Actions.forTable(t).rewriteDataFiles(in.getLong(1), in.getInt(2),
            scope, in.getInt(5))
        case decl if decl.equalsIgnoreCase("declared") =>
          val declared = SortOrders.fromProperties(t.metadata.properties)
          require(declared.nonEmpty,
            "sort_by => 'declared' needs a write.sort-order table property")
          Actions.forTable(t).rewriteSorted(declared, in.getLong(1), scope)
        case ZOrderSyntax(inner) =>
          Actions.forTable(t).rewriteZOrdered(
            inner.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
            in.getLong(1), scope)
        case sortSpec =>
          Actions.forTable(t).rewriteSorted(SortOrders.parse(sortSpec),
            in.getLong(1), scope)
      }
      Array(row(Int.box(r.rewrittenFiles), Int.box(r.addedFiles)))
  })

  private val rewritePositionDeletes = new Proc("rewrite_position_deletes",
    "compact position-delete files and drop dead positions",
    Array(p("table", StringType),
      pd("target_size_bytes", LongType, (32L * 1024 * 1024).toString)),
    StructType(Seq(
      StructField("rewritten_delete_files_count", IntegerType, nullable = false),
      StructField("added_delete_files_count", IntegerType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val r = Actions.forTable(t).rewritePositionDeletes(in.getLong(1))
      Array(row(Int.box(r.rewrittenFiles), Int.box(r.addedFiles)))
  })

  private val rewriteEqualityDeletes = new Proc("rewrite_equality_deletes",
    "convert live equality deletes into compactable position deletes",
    Array(p("table", StringType)),
    StructType(Seq(
      StructField("rewritten_delete_files_count", IntegerType, nullable = false),
      StructField("added_delete_files_count", IntegerType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      val r = Actions.forTable(t).rewriteEqualityDeletes()
      Array(row(Int.box(r.rewrittenFiles), Int.box(r.addedFiles)))
  })

  private val verifyFileSizes = new Proc("verify_file_sizes",
    "stat every live file (distributed) and report descriptors whose " +
      "recorded size disagrees with the store — split planning trusts " +
      "recorded sizes, so run after ingesting external/legacy manifests",
    Array(p("table", StringType)),
    StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("recorded_size", LongType, nullable = false),
      StructField("actual_size", LongType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      Actions.forTable(t).verifyFileSizes().map(mm =>
        row(mm.path, Long.box(mm.recorded), Long.box(mm.actual))).toArray
  })

  private val rewriteManifests = new Proc("rewrite_manifests",
    "rewrite the manifest tree partition-clustered (distributed); " +
      "entries_per_manifest 0 derives the chunk from " +
      "commit.manifest.target-size-bytes",
    Array(p("table", StringType),
      pd("entries_per_manifest", IntegerType, "0")),
    StructType(Seq(
      StructField("added_manifests_count", IntegerType, nullable = false))))({
    in =>
      val t = resolve(str(in, 0))
      Array(row(Int.box(Actions.forTable(t).rewriteManifests(in.getInt(1)))))
  })

  // ---- federation ------------------------------------------------------

  private val importTable = new Proc("import_table",
    "create a table from an existing parquet/orc/avro directory in place",
    Array(p("table", StringType), p("source_path", StringType),
      pd("format", StringType, "'parquet'")),
    StructType(Seq(
      StructField("imported_files_count", LongType, nullable = false),
      StructField("table_location", StringType, nullable = false))))({
    in =>
      val spark = org.apache.spark.sql.SparkSession.active
      val location = locate(str(in, 0))
      val t = GraftWrite.importTable(spark, location, str(in, 1),
        Map.empty, str(in, 2).toLowerCase)
      val files =
        t.metadata.currentSnapshot.flatMap(_.summary.get("total-data-files"))
          .map(_.toLong)
          .getOrElse(t.newScan().planFiles().tasks.size.toLong)
      Array(row(Long.box(files), location))
  })

  // ---- CDC -------------------------------------------------------------

  /** The changelog is a composed query plan (per-commit file-churn reads
    * unioned), not a row list a LocalScan could carry — so like the Apache
    * Iceberg procedure of the same name, it surfaces as a registered temp
    * view the caller SELECTs from. */
  private val createChangelogView = new Proc("create_changelog_view",
    "register a temp view of row-level changes between two snapshots",
    Array(p("table", StringType),
      pd("changelog_view", StringType, "NULL"),
      pd("start_snapshot_id", LongType, "NULL"),
      pd("end_snapshot_id", LongType, "NULL"),
      pd("net_changes", BooleanType, "false"),
      // wall-clock alternative to the snapshot-id pair: (start, end] with
      // each bound resolved to the newest snapshot at or before it
      pd("start_timestamp", TimestampType, "NULL"),
      pd("end_timestamp", TimestampType, "NULL"),
      // comma-separated key columns: pair each commit's DELETE+INSERT on
      // the same key into UPDATE_BEFORE/UPDATE_AFTER rows (iceberg
      // compute-updates); implies carryover removal, excludes net_changes
      pd("identifier_columns", StringType, "NULL")),
    StructType(Seq(
      StructField("changelog_view", StringType, nullable = false))))({ in =>
      val t = resolve(str(in, 0))
      val fromId = if (in.isNullAt(2)) None else Some(in.getLong(2))
      val toId = if (in.isNullAt(3)) None else Some(in.getLong(3))
      val startMs = if (in.isNullAt(5)) None else Some(tsMillis(in, 5))
      val endMs = if (in.isNullAt(6)) None else Some(tsMillis(in, 6))
      require(fromId.isEmpty || startMs.isEmpty,
        "pass start_snapshot_id or start_timestamp, not both")
      require(toId.isEmpty || endMs.isEmpty,
        "pass end_snapshot_id or end_timestamp, not both")
      val idCols = if (in.isNullAt(7)) Nil
        else str(in, 7).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val netChanges = !in.isNullAt(4) && in.getBoolean(4)
      require(!(netChanges && idCols.nonEmpty),
        "net_changes cannot be combined with identifier_columns")
      val (fromTs, toTs) = Changes.rangeForTimestamps(t, startMs, endMs)
      val raw = Changes.between(t, fromId.orElse(fromTs), toId.orElse(toTs))
      val df =
        if (netChanges) Changes.net(raw)
        else {
          // view output is carryover-free (iceberg create_changelog_view
          // removes carry-over rows unconditionally); the raw per-commit
          // stream stays available via Changes.between
          val cleaned = Changes.removeCarryovers(raw)
          if (idCols.isEmpty) cleaned
          else Changes.computeUpdates(cleaned, idCols)
        }
      val view =
        if (in.isNullAt(1)) str(in, 0).replace('.', '_') + "_changes"
        else str(in, 1)
      df.createOrReplaceTempView(view)
      Array(row(view))
  })

  // ---- statistics ------------------------------------------------------

  /** `CALL g.system.analyze_table(table => 'db.t' [, columns => 'a,b'])`:
    * one distributed HLL++ pass over the current snapshot, committed as a
    * statistics file the scan then reports to Spark's CBO (Stats.analyze;
    * the reference's ANALYZE TABLE writes Puffin theta sketches the same
    * way). Returns the recorded per-column NDVs. */
  private val analyzeTable = new Proc("analyze_table",
    "compute and record per-column NDV statistics for the current snapshot",
    Array(p("table", StringType), pd("columns", StringType, "NULL")),
    StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false))))({ in =>
    val t = resolve(str(in, 0))
    val cols =
      if (in.isNullAt(1)) Nil
      else str(in, 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val (_, stats) = Stats.analyzeAndCommit(t, cols)
    stats.ndvByName(t.metadata.schema).toSeq.sortBy(_._1)
      .map { case (c, v) => row(c, Long.box(v)) }.toArray
  })

  /** `CALL g.system.add_column(table => 'db.t', name => 'tier',
    * type => 'STRING' [, initial_default => 'basic'])` — the SQL spelling
    * of SchemaUpdate.addColumn with an initial default (Spark's ALTER
    * TABLE ... DEFAULT grammar is gated behind a catalog capability tied
    * to Spark-side default semantics; the procedure keeps the v3
    * metadata-backfill semantics explicit). The default string parses by
    * CASTing to the column type. */
  private val addColumn = new Proc("add_column",
    "add a top-level column, optionally with an initial default",
    Array(p("table", StringType), p("name", StringType),
      p("type", StringType),
      pd("initial_default", StringType, "NULL")),
    StructType(Seq(StructField("added", StringType, nullable = false))))({ in =>
      val t = resolve(str(in, 0))
      val name = str(in, 1)
      val dt = org.apache.spark.sql.types.DataType.fromDDL(str(in, 2))
      val default = if (in.isNullAt(3)) None else {
        val raw = str(in, 3)
        val lit = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(raw),
            StringType), dt, Some("UTC")).eval(null)
        require(lit != null, s"cannot cast '$raw' to ${dt.sql}")
        // date/time catalyst primitives (days-int, micros/nanos-long) ARE
        // the Values codec's canonical domain — converting them to
        // java.sql types would crash serialization
        Some(dt match {
          case DateType | TimestampType |
               org.apache.spark.sql.types.TimestampNTZType |
               _: org.apache.spark.sql.types.TimeType => lit
          case _ => org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(lit, dt)
        })
      }
      SchemaUpdate(t).addColumn(name, dt, initialDefault = default).commit()
      Array(row(name))
  })

  // ---- registry --------------------------------------------------------

  // ---- partition-spec evolution (Commits.updateSpec) -------------------

  /** `bucket(4, id)` / `truncate(3, s)` / `days(ts)` / `identity(c)` /
    * bare column name → (transform, source column). */
  private val TwoArgT = """(?i)\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([^)]+?)\s*\)\s*""".r
  private val OneArgT = """(?i)\s*(identity|years?|months?|days?|hours?|void)\s*\(\s*([^)]+?)\s*\)\s*""".r
  private def parseField(s: String): (graft.format.Transform, String) = s match {
    case TwoArgT(t, n, col) => t.toLowerCase match {
      case "bucket" => (Transforms.BucketT(n.toInt), col)
      case _ => (Transforms.TruncateT(n.toInt), col)
    }
    case OneArgT(t, col) =>
      (Transforms.fromString(t.toLowerCase.stripSuffix("s")), col)
    case col => (Transforms.IdentityT, col.trim)
  }

  private val specRow = StructType(Seq(
    StructField("spec_id", IntegerType, nullable = false),
    StructField("fields", StringType, nullable = false)))
  private def specRowOf(m: TableMetadata): Array[InternalRow] = {
    val sp = m.specs(m.defaultSpecId)
    Array(row(Int.box(sp.specId),
      sp.fields.map(f => s"${f.name}=${f.transform.name}").mkString(", ")))
  }

  private val addPartitionField = new Proc("add_partition_field",
    "evolve the default spec: append a partition field (affects NEW data " +
    "only; old files keep their spec and scans handle both)",
    Array(p("table", StringType), p("field", StringType),
      pd("name", StringType, "''")),
    specRow)({ in =>
      val t = resolve(str(in, 0))
      val (tr, col) = parseField(str(in, 1))
      val explicit = str(in, 2)
      val m = t.metadata
      val schema = m.schema
      // a malformed transform spelling falls through to bare-identity on
      // the whole string — turn the "key not found" into a usable message
      require(schema.fieldNames.contains(col),
        s"no column '$col' in ${schema.fieldNames.mkString(", ")} — " +
        "expected a column name or bucket(N, col) / truncate(W, col) / " +
        "years|months|days|hours(col)")
      val m2 = Commits.updateSpec(t) { b =>
        m.spec.fields.foreach(pf =>
          b.add(FieldIds.findById(schema, pf.sourceId).getOrElse(
            throw new IllegalStateException(
              s"spec source id ${pf.sourceId} missing from schema")).name,
            pf.transform, pf.name))
        val name =
          if (explicit.nonEmpty) explicit
          else if (tr == Transforms.IdentityT) col
          else s"${col}_${tr.name.takeWhile(_ != '[')}"
        require(!m.spec.fields.exists(_.name == name),
          s"partition field $name already exists in the default spec")
        b.add(col, tr, name)
      }
      specRowOf(m2)
  })

  private val dropPartitionField = new Proc("drop_partition_field",
    "evolve the default spec: remove a partition field by name or " +
    "transform spelling (old files keep their spec)",
    Array(p("table", StringType), p("field", StringType)),
    specRow)({ in =>
      val t = resolve(str(in, 0))
      val m = t.metadata
      val schema = m.schema
      val arg = str(in, 1)
      val target = m.spec.fields.find(_.name == arg).orElse {
        scala.util.Try(parseField(arg)).toOption.flatMap { case (tr, col) =>
          m.spec.fields.find(pf => pf.transform == tr &&
            FieldIds.findById(schema, pf.sourceId).exists(_.name == col))
        }
      }.getOrElse(throw new IllegalArgumentException(
        s"no partition field matches '$arg' in the default spec " +
        s"(${m.spec.fields.map(_.name).mkString(", ")})"))
      val m2 = Commits.updateSpec(t) { b =>
        m.spec.fields.filterNot(_ eq target).foreach(pf =>
          b.add(FieldIds.findById(schema, pf.sourceId).get.name,
            pf.transform, pf.name))
        b
      }
      specRowOf(m2)
  })

  val byName: Map[String, UnboundProcedure] = Seq(
    rollbackToSnapshot, rollbackToTimestamp, setCurrentSnapshot,
    cherrypickSnapshot, publishChanges, ancestorsOf,
    createBranch, createTag, dropRef, fastForward,
    expireSnapshots, removeOrphanFiles,
    rewriteDataFiles, rewritePositionDeletes, rewriteEqualityDeletes,
    rewriteManifests, verifyFileSizes,
    importTable, createChangelogView, analyzeTable, addColumn,
    addPartitionField, dropPartitionField
  ).map(proc => proc.name() -> (proc: UnboundProcedure)).toMap

  def names: Seq[String] = byName.keys.toSeq.sorted
}

object GraftProcedures {
  private final case class ResultScan(out: Array[InternalRow],
      schema: StructType) extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }
}
