package graft.format

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-level change log between two snapshots (CDC).
  *
  * The reference's incremental read surfaces only appended rows and refuses
  * ranges containing an overwrite
  * (core/.../IncrementalDataTableScan.java:108-127). This extends the same
  * snapshot-walk to the full DML vocabulary by diffing each consecutive
  * snapshot pair's live file sets:
  *
  *   - data files added by a commit   → their live rows become INSERTs
  *     (delete files committed alongside are applied first, so an upsert
  *     emits what it actually made visible);
  *   - data files removed by a commit → their then-live rows become DELETEs
  *     (delete files already in force at the parent are applied first, so
  *     rows that were dead before the commit are not re-reported);
  *   - delete files added by a commit → the rows they newly suppress in
  *     surviving data files become DELETEs, computed as pre-state
  *     `exceptAll` post-state over ONLY the files the new deletes can
  *     target (position deletes: named paths; equality deletes:
  *     sequence-gated files).
  *
  * `replace` commits (compaction, clustering, manifest maintenance)
  * preserve the logical row set and emit nothing.
  *
  * Scale: metadata walking is one scan plan per snapshot in the range
  * (parallel manifest reads); data I/O touches only the commit's churn —
  * added files, removed files, and delete-targeted files — never the full
  * table. The only shuffle is the `exceptAll` over delete-targeted files,
  * bounded by per-commit delete churn, not table size.
  *
  * Output schema = the table's CURRENT schema (old generations align by
  * field id like any scan) plus three metadata columns: `_change_type`
  * ("INSERT" | "DELETE"), `_change_ordinal` (0-based index of the commit
  * among the change-emitting commits in the range), `_commit_snapshot_id`.
  */
object Changes {
  val ChangeType = "_change_type"
  val ChangeOrdinal = "_change_ordinal"
  val CommitSnapshotId = "_commit_snapshot_id"
  val Insert = "INSERT"
  val Delete = "DELETE"
  val UpdateBefore = "UPDATE_BEFORE"
  val UpdateAfter = "UPDATE_AFTER"

  private def canon(p: String): String = ParquetIO.canonPath(p)

  /** Default cap on union branches in one changelog plan (see `between`). */
  val DefaultMaxPlanWidth = 64

  /** Changes in (`from`, `to`]: `from`=None means since table creation,
    * `to`=None means up to the current snapshot. `from` must be `to` itself
    * (empty result) or one of its ancestors.
    *
    * `maxPlanWidth` bounds the driver-side plan: a long history (say 10⁴
    * commits) must not become a 10⁴-branch union — analyzer/optimizer cost
    * and plan size grow superlinearly with branch count. Every
    * `maxPlanWidth` per-commit branches collapse into one lazily
    * local-checkpointed leaf, so the final plan holds ceil(n/width) cheap
    * leaves regardless of range length. Trade: each batch materializes its
    * changelog output into executor block storage (MEMORY_AND_DISK) on
    * first action — bounded by the changelog's own output size, which the
    * consumer reads anyway — and, lineage being truncated, a lost executor
    * fails the job instead of recomputing. */
  def between(table: GraftTable, from: Option[Long] = None,
      to: Option[Long] = None,
      maxPlanWidth: Int = DefaultMaxPlanWidth): DataFrame = {
    require(maxPlanWidth > 0, "maxPlanWidth must be positive")
    val m = table.metadata
    val toId = to.orElse(m.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException("table has no snapshots"))
    require(m.snapshot(toId).isDefined, s"no snapshot $toId")
    val chain0 = m.ancestors(Some(toId)) // oldest first
    from.foreach { f =>
      require(f == toId || chain0.exists(_.snapshotId == f),
        s"from snapshot $f is not an ancestor of $toId")
    }
    val chain = from match {
      case Some(f) => chain0.drop(chain0.indexWhere(_.snapshotId == f) + 1)
      case None => chain0
    }

    // one scan with NO pinned snapshot: every read() of a pinned file/delete
    // subset aligns to the current schema, giving the changelog a single
    // uniform row type
    val scan = table.newScan()
    def read(tasks: Seq[FileScanTask], dels: Seq[(DataFile, Long)]): DataFrame =
      scan.read(ScanPlan(tasks, dels, 0, 0, 0, tasks.size))
    def tag(df: DataFrame, tpe: String, ordinal: Int, snapId: Long): DataFrame =
      df.withColumn(ChangeType, lit(tpe))
        .withColumn(ChangeOrdinal, lit(ordinal))
        .withColumn(CommitSnapshotId, lit(snapId))

    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prevPlan: ScanPlan = from match {
      case Some(f) => scan.useSnapshot(f).planFiles()
      case None => ScanPlan(Nil, Nil, 0, 0, 0, 0)
    }
    var ordinal = 0

    def fullDiff(s: Snapshot): Unit = {
      val before = parts.length
      val planS = scan.useSnapshot(s.snapshotId).planFiles()
      if (s.operation != "replace") {
        val pPaths = prevPlan.tasks.map(t => canon(t.file.path)).toSet
        val sPaths = planS.tasks.map(t => canon(t.file.path)).toSet
        val pDelPaths = prevPlan.deleteFiles.map(d => canon(d._1.path)).toSet

        val addedTasks = planS.tasks.filterNot(t => pPaths(canon(t.file.path)))
        val removedTasks = prevPlan.tasks.filterNot(t => sPaths(canon(t.file.path)))
        val newDeletes = planS.deleteFiles
          .filterNot(d => pDelPaths(canon(d._1.path)))
        val existingDeletes = prevPlan.deleteFiles

        if (addedTasks.nonEmpty)
          // same-commit equality deletes share the data files' sequence
          // number, so the scan's strict `seq > group seq` gate correctly
          // skips them here; same-commit position deletes match by path
          // and do apply
          parts += tag(read(addedTasks, newDeletes), Insert, ordinal, s.snapshotId)
        if (removedTasks.nonEmpty)
          parts += tag(read(removedTasks, existingDeletes), Delete, ordinal, s.snapshotId)

        if (newDeletes.nonEmpty) {
          val survivors = planS.tasks.filter(t => pPaths(canon(t.file.path)))
          val newPos = newDeletes.filter(_._1.content == FileContent.PositionDeletes)
          val newEq = newDeletes.filter(_._1.content == FileContent.EqualityDeletes)
          val posTargets: Set[String] =
            if (newPos.isEmpty) Set.empty
            else Deletes.posDeleteTargetFiles(newPos.map(_._1),
              table.spark.sessionState.newHadoopConf())
          // narrow the eq-delete candidates with the same partition- and
          // key-bounds scoping the scan path uses — one small eq-delete
          // commit on a wide table must NOT force an exceptAll over every
          // surviving file ("data I/O touches only the commit's churn")
          val schema = table.metadata.schema
          val candidates = survivors.filter(t =>
            posTargets.contains(canon(t.file.path)) ||
              newEq.exists { case (d, dseq) =>
                dseq > t.sequenceNumber &&
                  Deletes.eqDeleteCanHit(d.specId, d.partition,
                    t.file.specId, t.file.partition) &&
                  Deletes.eqBoundsCanHit(d, t.file, schema)
              })
          if (candidates.nonEmpty) {
            val pre = read(candidates, existingDeletes)
            val post = read(candidates, existingDeletes ++ newDeletes)
            parts += tag(pre.exceptAll(post), Delete, ordinal, s.snapshotId)
          }
        }
      }
      // dense ordinals: only change-EMITTING commits count (the documented
      // contract) — a no-op delete or an empty append must not leave gaps
      if (parts.length > before) ordinal += 1
      prevPlan = planS
    }

    // expiration horizon: with from=None, ancestors() truncates at the
    // first EXPIRED parent — treating the oldest retained snapshot like
    // any other commit would drop pre-horizon rows from the changelog (or
    // re-attribute them to a later commit). Emit the horizon snapshot's
    // FULL state as the baseline INSERT batch instead: all pre-horizon
    // history collapses into one insert attributed to the oldest retained
    // snapshot, and replaying the changelog reconstructs the table exactly.
    var rest = chain
    if (from.isEmpty) {
      chain.headOption
        .filter(s0 => s0.parentId.isDefined &&
          m.snapshot(s0.parentId.get).isEmpty)
        .foreach { s0 =>
          val plan0 = scan.useSnapshot(s0.snapshotId).planFiles()
          if (plan0.tasks.nonEmpty) {
            parts += tag(read(plan0.tasks, plan0.deleteFiles),
              Insert, ordinal, s0.snapshotId)
            ordinal += 1
          }
          prevPlan = plan0
          rest = chain.tail
        }
    }

    rest.foreach { s =>
      // plain appends — the dominant commit kind on ingest tables — diff at
      // MANIFEST level: the commit's new files are exactly the Added
      // entries of manifests it added, so the walk costs O(churn) per
      // commit instead of a full O(table) plan per snapshot (the reference
      // incremental scan prunes manifests by added-snapshot-id the same
      // way). Any commit that touches delete files or removes data falls
      // through to the full plan diff.
      val appendManifests: Option[Seq[ManifestFile]] =
        if (s.operation != "append") None
        else {
          val added = table.readManifestList(m, s)
            .filter(_.addedSnapshotId == s.snapshotId)
          if (added.exists(_.content != FileContent.Data)) None
          else Some(added)
        }
      appendManifests match {
        case Some(added) =>
          // merged manifests carry re-located older entries too — only the
          // entries this commit itself added are its changes
          val newTasks = added
            .flatMap(mf => table.readManifest(mf, m.schema))
            .filter(e => e.status == EntryStatus.Added &&
              e.snapshotId == s.snapshotId)
            .map(e => FileScanTask(e.file, e.sequenceNumber, AlwaysTrue))
          if (newTasks.nonEmpty) {
            parts += tag(read(newTasks, Nil), Insert, ordinal, s.snapshotId)
            ordinal += 1
          }
          prevPlan = ScanPlan(prevPlan.tasks ++ newTasks,
            prevPlan.deleteFiles, 0, 0, 0, 0)
        case None => fullDiff(s)
      }
    }

    val built = parts.toSeq
    if (built.isEmpty)
      tag(read(Nil, Nil), Insert, 0, toId).filter(lit(false))
    else if (built.size <= maxPlanWidth) built.reduce(_ unionByName _)
    else built.grouped(maxPlanWidth).toSeq
      .map(_.reduce(_ unionByName _).localCheckpoint(false))
      .reduce(_ unionByName _)
  }

  /** Resolve a (`startMs`, `endMs`] wall-clock range to a (`from`, `to`)
    * snapshot-id pair for `between`: `from` = newest snapshot at or before
    * `startMs` (exclusive start — its own changes are NOT included),
    * `to` = newest snapshot at or before `endMs`. A start before the first
    * snapshot means "since table creation"; an end before the first
    * snapshot is an error (empty range would be ambiguous with it). */
  def rangeForTimestamps(table: GraftTable, startMs: Option[Long],
      endMs: Option[Long]): (Option[Long], Option[Long]) = {
    val m = table.metadata
    val to = endMs.map { ms =>
      m.snapshotAsOfTime(ms).map(_.snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot committed at or before end timestamp $ms"))
    }
    val from = startMs.flatMap(ms => m.snapshotAsOfTime(ms).map(_.snapshotId))
    (from, to)
  }

  /** Remove carry-over rows (iceberg ChangelogIterator.removeCarryovers):
    * a commit that physically rewrites files — copy-on-write DELETE/
    * UPDATE/MERGE, overwriteByFilter — re-emits every row it did NOT
    * logically change as a DELETE from the removed file plus an identical
    * INSERT in the added file. Cancel such pairs per commit, count-matched
    * (n deletes and m inserts of the same row leave |n-m| survivors of the
    * majority kind, so true duplicate-row churn is preserved). One shuffle
    * over the changelog OUTPUT — churn-bounded, never table-bounded.
    * Run BEFORE [[computeUpdates]]: update-typed rows are rejected at
    * runtime (the count-matching would otherwise silently drop them).
    * Requires group-able column types (no maps). */
  def removeCarryovers(changes: DataFrame): DataFrame = {
    val metaCols = Set(ChangeType, ChangeOrdinal, CommitSnapshotId)
    val dataCols = changes.columns.filterNot(metaCols).toSeq
    val pair = least(col("_ins"), col("_del"))
    changes
      // loud guard: UPDATE_BEFORE/UPDATE_AFTER rows count as neither
      // insert nor delete below and would vanish without a trace
      .withColumn("_chk", assert_true(
        col(ChangeType).isin(Insert, Delete),
        lit("removeCarryovers requires plain INSERT/DELETE input — " +
          "run it BEFORE computeUpdates"))).drop("_chk")
      .groupBy((dataCols :+ ChangeOrdinal :+ CommitSnapshotId).map(col): _*)
      .agg(
        sum(when(col(ChangeType) === Insert, 1L).otherwise(0L)).as("_ins"),
        sum(when(col(ChangeType) === Delete, 1L).otherwise(0L)).as("_del"))
      .withColumn(ChangeType, explode(concat(
        array_repeat(lit(Insert), (col("_ins") - pair).cast(IntegerType)),
        array_repeat(lit(Delete), (col("_del") - pair).cast(IntegerType)))))
      .select((dataCols ++ Seq(ChangeType, ChangeOrdinal, CommitSnapshotId))
        .map(col): _*)
  }

  /** Pair each commit's DELETE + INSERT on the same identifier key into
    * UPDATE_BEFORE / UPDATE_AFTER rows (iceberg ChangelogIterator
    * .computeUpdates). Run on carryover-free input. A key whose commit
    * holds anything other than exactly one DELETE and one INSERT keeps its
    * plain change types — identifier uniqueness is violated there and
    * guessing pairings would fabricate update images. One window shuffle
    * on (identifier columns, ordinal), changelog-output-bounded. */
  def computeUpdates(changes: DataFrame, identifierCols: Seq[String]): DataFrame = {
    require(identifierCols.nonEmpty, "identifier columns required")
    val missing = identifierCols.filterNot(changes.columns.contains)
    require(missing.isEmpty, s"identifier columns not in changelog: " +
      missing.mkString(", "))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((identifierCols :+ ChangeOrdinal).map(col): _*)
    changes
      .withColumn("_ins",
        sum(when(col(ChangeType) === Insert, 1L).otherwise(0L)).over(w))
      .withColumn("_del",
        sum(when(col(ChangeType) === Delete, 1L).otherwise(0L)).over(w))
      .withColumn(ChangeType,
        when(col("_ins") === 1L && col("_del") === 1L,
          when(col(ChangeType) === Delete, lit(UpdateBefore))
            .otherwise(lit(UpdateAfter)))
        .otherwise(col(ChangeType)))
      .drop("_ins", "_del")
  }

  /** Collapse a changelog to its NET effect per distinct row content: a
    * row inserted then deleted inside the range (or carried over by a
    * copy-on-write rewrite as a same-commit DELETE + INSERT pair) cancels
    * out; surviving net copies keep the type and provenance of the row's
    * LAST change. Accepts [[computeUpdates]] output too: UPDATE_AFTER
    * counts as an insert and UPDATE_BEFORE as a delete. Requires
    * group-able column types (no maps). */
  def net(changes: DataFrame): DataFrame = {
    val metaCols = Set(ChangeType, ChangeOrdinal, CommitSnapshotId)
    val dataCols = changes.columns.filterNot(metaCols).toSeq
    changes
      .withColumn("_delta",
        when(col(ChangeType).isin(Insert, UpdateAfter), lit(1L))
          .otherwise(lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("_delta")).as("_net"),
        max(struct(col(ChangeOrdinal), col(CommitSnapshotId))).as("_last"))
      .filter(col("_net") =!= 0L)
      .withColumn(ChangeType,
        when(col("_net") > 0, lit(Insert)).otherwise(lit(Delete)))
      .withColumn(ChangeOrdinal, col("_last")(ChangeOrdinal))
      .withColumn(CommitSnapshotId, col("_last")(CommitSnapshotId))
      .withColumn("_copy",
        explode(array_repeat(lit(1), abs(col("_net")).cast(IntegerType))))
      .select((dataCols ++ Seq(ChangeType, ChangeOrdinal, CommitSnapshotId))
        .map(col): _*)
  }
}
