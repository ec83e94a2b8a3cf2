package graft.format

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.util.UUID

/** v2 row-level deletes: staging and the library's delete entry points
  * (which delete files apply to which data files: [[DeleteIndex]];
  * reference core/.../deletes/
  * {PositionDeleteWriter,EqualityDeleteWriter}.java + RowDelta commit).
  * Each delete kind has one writer, run in the task that stages the file,
  * which also computes the file's manifest metrics there; the driver only
  * commits.
  *
  * Position deletes: rows sorted by (file_path, pos) — the writer contract
  * the reference enforces (PositionDeleteWriter requires sorted input;
  * SURVEY §2.6) — written by [[PositionDeleteWriter]] for every producer:
  * [[deletePositions]], merge-on-read DML (graft.connector.DeltaOps) and
  * position-delete compaction and the equality→position conversion
  * (Actions). Format-version 3 tables stage deletion vectors instead
  * ([[Dvs]]).
  * Equality deletes: a file of key tuples, written by the DSv2 fanout
  * writer ([[stageEqualityDeletes]]); rows in OLDER data files whose
  * keys match are invisible (applied executor-side by the DSv2 scan's
  * delete filter readers, graft.connector.DeleteFilterReader).
  */
object Deletes {

  /** Reserved delete-file field ids (iceberg spec, "Position Delete Files":
    * 2147483546 = file_path, 2147483545 = pos; reference
    * core/src/main/java/org/apache/iceberg/MetadataColumns.java
    * DELETE_FILE_PATH/DELETE_FILE_POS). The parquet position-delete writer
    * records the CANONICAL min/max target path under [[PathFieldId]] in the
    * manifest bounds (and `referenced_data_file` when the file targets
    * exactly one data file), so scan planning can attach each delete file
    * to its data files with ZERO delete-file I/O — the analogue of the
    * reference's DeleteFileIndex per-FileScanTask matching ([[DeleteIndex]]). */
  val PathFieldId: Int = 2147483546
  val PosFieldId: Int = 2147483545

  /** Bound-value types for the reserved ids, merged into the manifest
    * codecs' schema-derived type map so the bounds survive round-trip. */
  val reservedBoundTypes: Map[Int, org.apache.spark.sql.types.DataType] = Map(
    PathFieldId -> org.apache.spark.sql.types.StringType,
    PosFieldId -> org.apache.spark.sql.types.LongType)

  /** Can an equality-delete file's keys hit rows of a data file with the
    * given (specId, partition)? Partition-global delete files (empty
    * tuple) and cross-spec pairings (tuples aren't comparable across
    * specs) always can; a tuple-carrying file under the SAME spec hits
    * only its own partition. [[DeleteIndex]] buckets delete files by these
    * cases; this is the reference predicate its agreement test checks. */
  def eqDeleteCanHit(deleteSpecId: Int, deletePartition: Map[String, Any],
      dataSpecId: Int, dataPartition: Map[String, Any]): Boolean =
    deletePartition.isEmpty || deleteSpecId != dataSpecId ||
      // CONTENT equality: binary partition values are Array[Byte], whose
      // Map == is reference-based — a raw compare detaches the key set
      // from its content-equal data partition and resurrects rows
      Tuples.equal(deletePartition, dataPartition)

  /** Delete specific row positions. `positions`: (file_path, pos) — use the
    * values of the `_file` / `_pos` metadata columns of a table scan
    * (`table.toDF().select("_file", "_pos")`). Commits a RowDelta; on format-version 3 tables the
    * positions land as puffin deletion vectors instead of parquet files. */
  def deletePositions(table: GraftTable, positions: DataFrame): TableMetadata =
    Commits.rowDelta(table, Nil,
      if (Dvs.enabled(table.metadata)) Dvs.stageFromPositions(table, positions)
      else PositionDeleteWriter.stage(table, positions))

  /** File-side column name of each equality key of delete file `f`,
    * resolved against the schema `f` was STAGED under (`f.schemaId`) —
    * renames after staging are metadata-only (reference resolves delete
    * columns by field id, core/.../deletes/Deletes.java:128 via the
    * schema's id lookup), so CURRENT-schema names can diverge from the
    * column names physically written inside the delete file. Reading a
    * renamed key by its current name would null-fill (Spark's parquet
    * source name-matches and null-fills absent columns), and an all-null
    * key set silently resurrects the intended deletes. Falls back to the
    * scan schema when the staged schema no longer tracks the id (legacy
    * manifests default schemaId=0); fails LOUDLY when an id resolves in
    * neither — a delete set whose keys cannot be located must never be
    * silently dropped. */
  def eqKeyFileNames(schemas: Map[Int, org.apache.spark.sql.types.StructType],
      current: org.apache.spark.sql.types.StructType, f: DataFile): Seq[String] = {
    val staged = schemas.getOrElse(f.schemaId, current)
    f.equalityIds.map { id =>
      FieldIds.findById(staged, id).orElse(FieldIds.findById(current, id))
        .map(_.name).getOrElse(throw new IllegalStateException(
          s"equality-delete file ${f.path}: key field id $id resolves in " +
          s"neither its staged schema ${f.schemaId} nor the current schema " +
          "— refusing to read (null-filling the key column would resurrect " +
          "its deletes)"))
    }
  }

  /** Write (but do not commit) equality-delete files for `keys` — shared
    * by deleteByEquality and the streaming upsert sink, which commits them
    * atomically WITH its epoch's data files in one RowDelta.
    *
    * Partition scoping (reference DeleteFileIndex partition+seq indexing,
    * core/.../DeleteFileIndex.java): when every partition SOURCE column of
    * the current spec is among the key columns, a delete row can only hit
    * rows of its own partition — so the keys split into one eq-delete file
    * PER PARTITION, each carrying its tuple. planFiles then prunes delete
    * entries by partition exactly like data files, and the scan attaches
    * each key set only to tasks of its own partition, so a partition-local
    * streaming upsert never ships other partitions' key sets. Keys that
    * don't determine the partition keep the partition-GLOBAL empty-tuple
    * shape (the conservative bypass planFiles preserves). */
  def stageEqualityDeletes(table: GraftTable, keys: DataFrame): Seq[DataFile] = {
    val m = table.metadata
    val spec = m.spec
    val keyFields = keys.columns.toSeq
    val ids = keyFields.map(FieldIds.nameToId(m.schema))
    val srcNames = spec.fields.filterNot(_.transform == Transforms.VoidT)
      .flatMap(pf => FieldIds.findById(m.schema, pf.sourceId).map(_.name))
    val partitionScoped = spec.isPartitioned && srcNames.nonEmpty &&
      srcNames.forall(keyFields.contains)
    // one writer for both shapes: the DSv2 fanout writer routes each key
    // row to its tuple with the canonical Transform kernel the data writers
    // and pruning evaluators use, and computes each file's footer metrics
    // in its task. Key-column bounds let the scan skip attaching a key set
    // to tasks whose files can't contain any key (Deletes.eqBoundsCanHit —
    // upstream Iceberg's DeleteFileIndex#canContainEqDeletesForFile), and
    // plan-time filters prune delete entries through the same
    // inclusive-metrics evaluator as data files.
    val nameToIdx = keyFields.zipWithIndex.toMap
    val specFields =
      if (!partitionScoped) Nil
      else spec.fields.map { pf =>
        val src = FieldIds.findById(m.schema, pf.sourceId).get
        val ord = // void ignores its input; its source may not be a key col
          // (the fanout writer short-circuits void fields to null without
          // touching the row, so this placeholder ordinal/srcType is never
          // used as a row accessor)
          if (pf.transform == Transforms.VoidT) 0 else nameToIdx(src.name)
        graft.connector.GraftBatchWrite.SpecField(pf.name, ord, pf.transform,
          src.dataType)
      }
    val idSchema = org.apache.spark.sql.types.StructType(
      keyFields.map(n => m.schema(m.schema.fieldIndex(n))))
    val cleanSchema = org.apache.spark.sql.types.StructType(idSchema.fields.map(
      _.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val factory = new graft.connector.GraftWriterFactory(cleanSchema,
      idSchema, specFields, table.locations.newDataLocation(s"deletes-${UUID.randomUUID()}"),
      HadoopFileIO.broadcastConf(table.spark, ParquetIO.writeConf(table.spark)),
      statModes = Map.empty, // default modes for key columns
      FileFormats.Parquet, m.properties)
    val deduped = keys.dropDuplicates()
    val routed =
      // partition-scoped: each task holds whole partitions, one file each
      if (partitionScoped) deduped.repartition(spec.derivedColumns(m.schema).map(_._2): _*)
      // global: each file holds a DISJOINT sorted key range, so a
      // GDPR-scale key set writes in parallel instead of through one task,
      // and per-file key bounds are tight and non-overlapping —
      // eqBoundsCanHit then attaches each file only to the tasks its range
      // can hit. The partition count is left unspecified so AQE coalesces
      // a small key set back to a single file.
      else deduped.repartitionByRange(keyFields.map(col): _*)
    factory.writeRows(routed.sortWithinPartitions(keyFields.map(col): _*))
      .map(_.toDataFile(m, FileFormats.Parquet, FileContent.EqualityDeletes, ids))
  }

  /** Key-RANGE check for an equality-delete file against a data file
    * (upstream Iceberg DeleteFileIndex#canContainEqDeletesForFile): the
    * delete's keys can only hit the file if, for EVERY key column, either
    * a null key could match a null value (neither side provably
    * null-free) or the two value ranges overlap. Conservative true
    * whenever either side lacks the stats (legacy files, truncated-off
    * metrics modes). */
  def eqBoundsCanHit(delete: DataFile, data: DataFile,
      schema: org.apache.spark.sql.types.StructType): Boolean =
    delete.equalityIds.forall { id =>
      val deleteMayNull = !delete.nullValueCounts.get(id).contains(0L)
      val dataMayNull = !data.nullValueCounts.get(id).contains(0L)
      if (deleteMayNull && dataMayNull) true
      else (delete.lowerBounds.get(id), delete.upperBounds.get(id),
            data.lowerBounds.get(id), data.upperBounds.get(id)) match {
        case (Some(dl0), Some(du0), Some(fl0), Some(fu0)) =>
          FieldIds.findById(schema, id) match {
            case Some(f) =>
              val dt = Types.cleanType(f.dataType)
              val ord = Exprs.ordering(dt)
              // widen: bounds decoded/staged before a type promotion may
              // still carry the narrow runtime class
              val (dl, du) = (Values.widen(dl0, dt), Values.widen(du0, dt))
              val (fl, fu) = (Values.widen(fl0, dt), Values.widen(fu0, dt))
              ord.lteq(dl, fu) && ord.lteq(fl, du)
            case None => true
          }
        case _ => true
      }
    }

  /** Delete all rows whose key columns match any row of `keys` (written
    * before this commit). Commits a RowDelta with equality-delete files. */
  def deleteByEquality(table: GraftTable, keys: DataFrame): TableMetadata =
    Commits.rowDelta(table, Nil, stageEqualityDeletes(table, keys))

  /** SQL-DELETE-shaped helper: metadata-only when provable, else rewrite the
    * partially-matching files without the matching rows (copy-on-write
    * DELETE — what Spark's SupportsRowLevelOperations would drive). */
  def deleteWhere(table: GraftTable, filter: Expr,
      branch: Option[String] = None): TableMetadata = {
    try Commits.deleteByFilter(table, filter, branch)
    catch {
      case _: ValidationException =>
        val m = table.metadata
        val baseSnapshot = branch match {
          case Some(b) => m.refSnapshotId(b)
          case None => m.currentSnapshotId
        }
        val schema = m.schema
        val bound = Exprs.bind(filter, schema)
        // branch target: scan the BRANCH head (current schema — branch
        // semantics) and commit the rewrite to the ref
        var scan0 = table.newScan()
        branch.foreach(b => scan0 = scan0.useRef(b))
        val plan = scan0.filter(filter).planFiles()
        val touched = plan.tasks.map(_.file.path)
        // read the touched files through the DELETE-APPLYING scan path (an
        // unfiltered scan so no residual re-filter) — a raw parquet read
        // would resurrect rows hidden by live equality/position deletes,
        // since the rewritten files carry a NEWER sequence number
        val remaining = scan0
          .read(ScanPlan(plan.tasks, plan.deleteFiles, 0, 0, 0L, plan.tasks.size))
          .filter(!Exprs.toColumn(bound))
        val staged = GraftWrite.writeFiles(table, remaining)
        // a copy-on-write DELETE changes the logical row set — commit as
        // "overwrite", not "replace" (replace is reserved for row-preserving
        // rewrites and is skipped by CDC changelog reads)
        Commits.rewriteFiles(table, touched.toSet, staged, baseSnapshot,
          operation = "overwrite", branch = branch)
    }
  }
}

/** Static interval index over equality-delete files' key ranges: per
  * equality key, entries sorted by lower bound with a segment-tree max
  * over upper bounds, answering "which delete files' key ranges can
  * intersect this data file's range" in O(log n + hits) per key instead
  * of a linear sweep over every live delete file. This is the planning structure that keeps
  * per-task key-range narrowing affordable when thousands of global
  * (tuple-less) equality deletes are live — the shape a long-running
  * GDPR/right-to-be-forgotten pipeline accumulates between maintenance
  * runs (reference DeleteFileIndex keeps global deletes in one
  * sequence-sorted array and falls back to scanning it per data file;
  * core/src/main/java/org/apache/iceberg/DeleteFileIndex.java).
  *
  * Every file is indexed under EVERY bounded, schema-resolvable equality
  * key, and a file is a candidate only when each of its key groups
  * admits it — a matching row must equal the delete row on ALL keys, so
  * a disjoint range on ANY key rules the pairing out. The intersection
  * is what keeps a composite key useful when no single key is selective
  * (e.g. `(tenant_id, user_id)` where both ranges overlap heavily across
  * files but rarely together): best-single-key indexing degrades to a
  * near-total superset there.
  *
  * The result is EXACT: it is the set [[Deletes.eqBoundsCanHit]] admits,
  * under the same null and range rules, so callers need no re-check
  * (DeleteIndexSpec compares the two on random plans). Files the range
  * logic cannot constrain at all (no indexable key) are always returned;
  * within a group, files whose key may contain nulls are admitted
  * whenever the data file may hold nulls too. */
final class EqRangeIndex private (
    groups: Seq[EqRangeIndex.IdGroup],
    always: Seq[String],
    // path → number of groups it is indexed under (intersection target)
    keyCount: Map[String, Int]) extends Serializable {
  import EqRangeIndex.IdGroup

  /** Paths of delete files whose every indexed key range may intersect
    * `data`'s (plus every unconstrainable file): exactly the files
    * [[Deletes.eqBoundsCanHit]] admits; sorted for deterministic planning. */
  def candidatesFor(data: DataFile): Seq[String] = {
    val out = Seq.newBuilder[String]
    out ++= always
    if (groups.nonEmpty) {
      val counts = new java.util.HashMap[String, Int]()
      groups.foreach { g =>
        val perGroup = Seq.newBuilder[String]
        collectGroup(g, data, perGroup)
        // dedup within the group (a may-null file can also range-match)
        // before counting, or it would double-count toward keyCount
        perGroup.result().distinct.foreach(p =>
          counts.merge(p, 1, Integer.sum(_, _)))
      }
      counts.forEach((p, c) => if (c == keyCount(p)) out += p)
    }
    out.result().sorted
  }

  private def collectGroup(g: IdGroup, data: DataFile,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    val dataMayNull = !data.nullValueCounts.get(g.id).contains(0L)
    if (dataMayNull) out ++= g.mayNull
    (data.lowerBounds.get(g.id), data.upperBounds.get(g.id)) match {
      case (Some(fl0), Some(fu0)) =>
        // widen: data files written before a type promotion carry
        // narrow-typed bounds
        val fl = Values.widen(fl0, g.dt); val fu = Values.widen(fu0, g.dt)
        // indices i with lo(i) <= fu, among them hi(i) >= fl
        val limit = upperBound(g, fu)
        if (limit >= 0) collect(g, 1, 0, g.treeSize - 1, limit, fl, out)
      case _ =>
        // a data file without bounds on the key can hold anything
        var i = 0
        while (i < g.paths.length) { out += g.paths(i); i += 1 }
    }
  }

  /** Largest index with lo(i) <= v, or -1. */
  private def upperBound(g: IdGroup, v: Any): Int = {
    var a = 0; var b = g.lo.length - 1; var res = -1
    while (a <= b) {
      val mid = (a + b) >>> 1
      if (g.ord.lteq(g.lo(mid), v)) { res = mid; a = mid + 1 } else b = mid - 1
    }
    res
  }

  /** Segment descent over [nodeLo,nodeHi] ∩ [0,limit]: emit leaves with
    * hi >= fl, pruning subtrees whose max(hi) < fl. */
  private def collect(g: IdGroup, node: Int, nodeLo: Int, nodeHi: Int,
      limit: Int, fl: Any,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    if (nodeLo > limit) return
    val m = g.maxHi(node)
    if (m == null || g.ord.lt(m, fl)) return
    if (nodeLo == nodeHi) {
      if (nodeLo < g.paths.length) out += g.paths(nodeLo)
      return
    }
    val mid = (nodeLo + nodeHi) >>> 1
    collect(g, 2 * node, nodeLo, mid, limit, fl, out)
    collect(g, 2 * node + 1, mid + 1, nodeHi, limit, fl, out)
  }
}

object EqRangeIndex {
  private[format] final case class IdGroup(
      id: Int,
      ord: Ordering[Any],
      dt: org.apache.spark.sql.types.DataType, // for widening query bounds
      lo: Array[Any],       // sorted ascending
      hi: Array[Any],
      paths: Array[String],
      maxHi: Array[Any],    // 1-based segment tree over hi
      treeSize: Int,
      mayNull: Seq[String]) extends Serializable

  /** Index keys for one delete file: equality keys with full bounds AND a
    * schema-resolvable field (needed for an ordering). Each one is a
    * valid conservative pre-filter on its own — a matching row must equal
    * the delete row on EVERY key, so disjoint ranges on any one key rule
    * the pairing out — and candidatesFor intersects all of them. */
  private def indexableIds(f: DataFile,
      schema: org.apache.spark.sql.types.StructType): Seq[Int] =
    f.equalityIds.distinct.filter(id =>
      f.lowerBounds.contains(id) && f.upperBounds.contains(id) &&
        FieldIds.findById(schema, id).isDefined)

  /** Build over delete files (any content mix is fine — callers pass
    * equality deletes). O(ids × n log n) once per scan: every file is
    * indexed under every indexable key, so a composite-key population
    * costs one sorted array + segment tree per key — the same work the
    * former per-key selectivity-scoring sweep already paid, now kept as
    * queryable structure instead of thrown away after picking one key. */
  def build(files: Seq[DataFile],
      schema: org.apache.spark.sql.types.StructType): EqRangeIndex = {
    // indexableIds walks FieldIds.findById per equality id — resolve it
    // ONCE per file here (re-deriving it per group was quadratic for wide
    // composite equality keys)
    val idsOf: Map[String, Seq[Int]] =
      files.map(f => f.path -> indexableIds(f, schema)).toMap
    val (withId, noId) = files.partition(f => idsOf(f.path).nonEmpty)
    val ids = withId.flatMap(f => idsOf(f.path)).distinct.sorted
    val groups = ids.map { id =>
      val fs = withId.filter(f => idsOf(f.path).contains(id))
      val field = FieldIds.findById(schema, id).get
      val dt = Types.cleanType(field.dataType)
      val ord = Exprs.ordering(dt)
      // widen: entries staged before a type promotion may carry the
      // narrow runtime class — one ordering must fit all generations
      val sorted = fs.sortBy(f => Values.widen(f.lowerBounds(id), dt))(ord)
      val n = sorted.length
      var ts = 1
      while (ts < math.max(n, 1)) ts <<= 1
      val lo = new Array[Any](n); val hi = new Array[Any](n)
      val paths = new Array[String](n)
      var i = 0
      while (i < n) {
        lo(i) = Values.widen(sorted(i).lowerBounds(id), dt)
        hi(i) = Values.widen(sorted(i).upperBounds(id), dt)
        paths(i) = sorted(i).path
        i += 1
      }
      val maxHi = new Array[Any](2 * ts)
      i = 0
      while (i < n) { maxHi(ts + i) = hi(i); i += 1 }
      var node = ts - 1
      while (node >= 1) {
        val l = maxHi(2 * node); val r = maxHi(2 * node + 1)
        maxHi(node) =
          if (l == null) r
          else if (r == null) l
          else if (ord.gteq(l, r)) l else r
        node -= 1
      }
      val mayNull = sorted.collect {
        case f if !f.nullValueCounts.get(id).contains(0L) => f.path
      }
      IdGroup(id, ord, dt, lo, hi, paths, maxHi, ts, mayNull)
    }
    val keyCount = withId.map(f => f.path -> idsOf(f.path).size).toMap
    new EqRangeIndex(groups, noId.map(_.path), keyCount)
  }
}
