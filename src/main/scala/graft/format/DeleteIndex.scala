package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.StructType

/** The position deletes that can target one data file: parquet
  * position-delete file paths (sorted) and deletion-vector slices. The
  * DSv2 scan ships it with that file's task, so an executor's delete I/O
  * is bounded by its own tasks' deletes, not by the scan's. */
final case class PosScope(paths: Seq[String], dvs: Seq[DvSlice])
  extends Serializable {
  def size: Int = paths.size + dvs.size
}

/** Which delete files can apply to a data file (reference
  * core/.../DeleteFileIndex.java, which feeds FileScanTask.deletes()).
  * Every consumer asks this one index: the DSv2 scan's per-task delete
  * scopes, the changelog, compaction's delete pressure and the eq→pos
  * conversion; RowDelta validation and dangling-delete hygiene read exact
  * targets through [[DeleteIndex.targetsOf]]. Built once per plan (or per
  * delete subset) from its `(delete file, data sequence number)` entries,
  * deduplicated here: the same file or DV blob can be planned through
  * several manifests after rewrites.
  *
  * Equality deletes apply to files with a LOWER sequence number, under
  * [[Deletes.eqDeleteCanHit]] (same-spec tuples by content; empty tuples
  * and cross-spec pairs stay conservative) and [[Deletes.eqBoundsCanHit]]
  * (key-range overlap), exactly: the tuple buckets and the interval index
  * ([[EqRangeIndex]], exact under the same rules) only spare the sweep
  * over every live file. Position deletes apply by
  * target path at any sequence number (paths are never reused): exact from
  * `referenced_data_file` or equal path bounds, a path-range superset for
  * multi-target files, and one cached read for legacy files without target
  * metadata. Metadata-only otherwise; the position side builds on first
  * use, so equality-only callers never read a delete file.
  */
final class DeleteIndex private (
    eqEntries: Seq[(DataFile, Long)],
    posFiles: Seq[DataFile],
    schema: StructType,
    conf: () => Configuration) {
  import DeleteIndex._

  private val global = new EqBucket(eqEntries.filter(_._1.partition.isEmpty), schema)
  // spec id → (every tuple-carrying file of the spec, served whole to
  // other specs' data files; tuple key → its files)
  private val bySpec: Map[Int, (EqBucket, Map[Map[String, Any], EqBucket])] =
    eqEntries.filter(_._1.partition.nonEmpty).groupBy(_._1.specId).map {
      case (spec, es) => spec -> (new EqBucket(es, schema),
        // Tuples.key: binary partition values must match by CONTENT, or
        // the key set detaches from its data partition (rows resurrect)
        es.groupBy(e => Tuples.key(e._1.partition))
          .map { case (k, g) => k -> new EqBucket(g, schema) })
    }

  /** Whether a tuple or a key range can rule some equality delete out for
    * some data file. When false, every data file gets every newer
    * equality delete, and per-file narrowing can be skipped. */
  val eqNarrows: Boolean = eqEntries.exists { case (f, _) =>
    f.partition.nonEmpty || f.equalityIds.exists(id =>
      f.lowerBounds.contains(id) || f.nullValueCounts.get(id).contains(0L))
  }

  /** The equality-delete files that can hit rows of `data`, a file written
    * at data sequence number `seq`; sorted by path. */
  def eqDeletesFor(data: DataFile, seq: Long): Seq[DataFile] = {
    val out = Seq.newBuilder[DataFile]
    global.collect(data, seq, out)
    bySpec.foreach { case (spec, (all, byTuple)) =>
      if (spec != data.specId) all.collect(data, seq, out)
      else byTuple.get(Tuples.key(data.partition)).foreach(_.collect(data, seq, out))
    }
    out.result().sortBy(_.path)
  }

  private lazy val pos: (Map[String, List[String]], Array[(String, String, String)],
      Map[String, Seq[DvSlice]]) = {
    val (dvs, parquet) = posFiles.partition(_.fileFormat == FileFormats.Puffin)
    val exact = scala.collection.mutable.HashMap[String, List[String]]()
    val ranged = Array.newBuilder[(String, String, String)]
    parquet.distinctBy(_.path).foreach { f =>
      metaTargetRange(f) match {
        case Some((lo, hi)) if lo != hi => ranged += ((lo, hi, f.path))
        case _ => targetsOf(f, conf()).foreach(tp =>
          exact(tp) = f.path :: exact.getOrElse(tp, Nil))
      }
    }
    (exact.toMap, ranged.result(), Dvs.slicesOf(dvs).groupBy(_.referenced))
  }

  /** The position deletes that can target the data file at canonical
    * `path`. Multi-target files attach by path range, a superset: the
    * executor's per-file bitmap lookup keeps it exact. */
  def posDeletesFor(path: String): PosScope = {
    val (exact, ranged, dvs) = pos
    // INVARIANT: this range check and the one PathFieldId bound producer
    // (PositionDeleteWriter) use the same Java String order. min/max-of-a-set
    // plus a same-order range test is sound under ANY total order, but
    // only while producer and consumer agree — do not migrate one side
    // to compareUtf8 without the other (manifest bounds written by older
    // builds would then mis-range). The writer's input-order check is a
    // separate matter: it follows Spark's sort, which is by UTF-8 bytes.
    // User-predicate string pruning is a different domain and IS
    // codepoint-ordered (Exprs.ordering).
    PosScope((exact.getOrElse(path, Nil) ++
      ranged.collect { case (lo, hi, dp) if lo <= path && path <= hi => dp }).sorted,
      dvs.getOrElse(path, Nil))
  }

  /** How many delete files (equality, position and DV) apply to `data`. */
  def countFor(data: DataFile, seq: Long): Int =
    eqDeletesFor(data, seq).size + posDeletesFor(ParquetIO.canonPath(data.path)).size
}

object DeleteIndex {

  /** Index `deletes` (any content mix) for data files of a table whose
    * current schema is `schema`. `conf` is evaluated only if a legacy
    * position-delete file has to be read. */
  def apply(deletes: Seq[(DataFile, Long)], schema: StructType,
      conf: => Configuration): DeleteIndex = {
    lazy val c = conf
    new DeleteIndex(
      deletes.filter(_._1.content == FileContent.EqualityDeletes).distinctBy(_._1.path),
      deletes.map(_._1).filter(_.content == FileContent.PositionDeletes),
      schema, () => c)
  }

  // Per-bucket key-range checks are linear sweeps up to this size; larger
  // buckets query an [[EqRangeIndex]] built once, so a many-live-deletes
  // plan stays O(log n + hits) per data file instead of O(files × deletes)
  private val SweepCap = 1024

  /** Equality deletes that share one partition scope. */
  private final class EqBucket(entries: Seq[(DataFile, Long)], schema: StructType) {
    private lazy val ranges: Option[(EqRangeIndex, Map[String, (DataFile, Long)])] =
      Option.when(entries.size > SweepCap)((EqRangeIndex.build(entries.map(_._1), schema),
        entries.map(e => e._1.path -> e).toMap))

    def collect(data: DataFile, seq: Long,
        out: scala.collection.mutable.Builder[DataFile, Seq[DataFile]]): Unit = {
      // the interval index answers exactly what the sweep's bounds check does
      val candidates = ranges match {
        case Some((idx, byPath)) => idx.candidatesFor(data).map(byPath)
        case None => entries.filter(e => Deletes.eqBoundsCanHit(e._1, data, schema))
      }
      candidates.foreach { case (d, s) => if (s > seq) out += d }
    }
  }

  /** Every canonical data-file path position-delete file or DV entry `f`
    * targets, exactly: from manifest metadata when it pins one target, else
    * one cached decode of the file ([[PositionDeleteReader]]). */
  def targetsOf(f: DataFile, conf: Configuration): Set[String] =
    if (f.fileFormat == FileFormats.Puffin)
      f.referencedDataFile.map(ParquetIO.canonPath).toSet
    else metaTargetRange(f) match {
      case Some((lo, hi)) if lo == hi => Set(lo)
      case _ => cachedTargets(f.path, conf)
    }

  /** The canonical target-path range a delete file's metadata pins, if any:
    * `referenced_data_file` (DVs, single-target parquet) or the reserved
    * path bounds recorded at write time. */
  private def metaTargetRange(f: DataFile): Option[(String, String)] =
    f.referencedDataFile.map(ParquetIO.canonPath).map(p => (p, p)).orElse {
      (f.lowerBounds.get(Deletes.PathFieldId), f.upperBounds.get(Deletes.PathFieldId)) match {
        case (Some(lo: String), Some(hi: String)) => Some((lo, hi))
        case _ => None
      }
    }

  // Driver-side cache of delete files' target-path sets: a delete file is
  // immutable, so one decode serves every later plan. Only
  // multi-target and LEGACY files (written before target metadata was
  // recorded in the manifest) reach this read; capped by entry count —
  // target sets are a handful of short strings.
  private val targetCache =
    new java.util.LinkedHashMap[String, Set[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Set[String]]): Boolean = size > 8192
    }

  private def cachedTargets(path: String, conf: Configuration): Set[String] = {
    targetCache.synchronized {
      val hit = targetCache.get(path)
      if (hit != null) return hit
    }
    // keysIterator: a keySet view would pin the decoded bitmaps in the cache
    val set = PositionDeleteReader.read(Seq(path), Nil, conf).keysIterator.toSet
    targetCache.synchronized { targetCache.put(path, set) }
    set
  }
}
