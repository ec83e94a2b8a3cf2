package graft.format

import java.util.UUID

/** Versioned-metadata table operations with atomic-CAS commits —
  * the HadoopTableOperations protocol (reference
  * core/.../hadoop/HadoopTableOperations.java): metadata lives at
  * `<location>/metadata/v{N}.metadata.json` plus a `version-hint.text`;
  * a commit creates the next version file exclusively — the create fails
  * if a concurrent committer won, which surfaces as CommitFailedException
  * and triggers optimistic retry (reference core/.../SnapshotProducer.java:
  * 249-279). All bytes move through the [[FileIO]] seam.
  */
final class CommitFailedException(msg: String) extends RuntimeException(msg)

/** The commit CAS errored in a way that leaves the outcome UNDETERMINED —
  * e.g. the conditional PUT's response was lost after the object may have
  * landed (the reference's CommitStateUnknownException,
  * core/.../exceptions/CommitStateUnknownException.java). Callers must NOT
  * retry (a retry could apply the transform twice) and must NOT clean up
  * the commit's files (committed metadata may reference them). */
final class CommitStateUnknownException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

final class TableOps(val location: String, explicitIo: FileIO = null) {
  /** IO resolved by the location's scheme unless explicitly injected. */
  val io: FileIO = if (explicitIo != null) explicitIo else FileIO.forPath(location)
  private def metadataDir: String = s"$location/metadata"
  private def versionFile(v: Int): String = s"$metadataDir/v$v.metadata.json"
  private def hintFile: String = s"$metadataDir/version-hint.text"

  def exists(): Boolean = io.exists(hintFile) || io.exists(versionFile(1))

  // probe result memoized per hint content: `current()` runs per manifest
  // during parallel planning, and an unconditional forward probe would add
  // a guaranteed existence-miss (a HEAD/LIST on object stores) to every
  // call on the planning hot path
  @volatile private var probed: (String, Int) = ("\u0000unset", -1)

  /** Latest committed version. The hint is advisory and can lag or land
    * out of order — two racing committers write their hints AFTER the CAS,
    * so the later version's hint can be overwritten by the earlier one's
    * (permanently, on an object store). Probe forward from the hint like
    * the reference HadoopTableOperations.findVersion() — version files are
    * the truth, the hint only shortcuts the walk — but memoize the probe
    * per hint value; `forceProbe` (the commit-retry path) bypasses the
    * memo so a conflicting committer always converges on the real head. */
  def currentVersion(forceProbe: Boolean = false): Int = {
    val h = if (io.exists(hintFile)) io.readString(hintFile).trim else ""
    val c = probed
    if (!forceProbe && c._1 == h) return c._2
    var v = if (h.isEmpty) 0 else h.toInt
    while (io.exists(versionFile(v + 1))) v += 1
    probed = (h, v)
    v
  }

  // version-keyed parse cache: `current()` is called per manifest during
  // (parallel) planning, and re-parsing a large table's metadata JSON N
  // times per plan is driver-side O(N·metadata) work. Version files are
  // immutable once committed, so caching by version is always safe;
  // staleness is bounded by the cheap hint-file read every call (a refresh).
  @volatile private var cached: (Int, TableMetadata) = (0, null)

  /** Refresh: read latest committed metadata (null if table absent). */
  def current(): TableMetadata = {
    val v = currentVersion()
    if (v == 0) return null
    val c = cached
    if (c._1 == v) c._2
    else {
      val m = Model.metadataFromJson(io.readString(versionFile(v)))
      cached = (v, m)
      m
    }
  }

  /** CAS commit: succeed only if `base` is still current. */
  def commit(baseVersion: Int, updated: TableMetadata): Int = {
    io.mkdirs(metadataDir)
    val next = baseVersion + 1
    val json = Model.metadataToJson(updated)
    val won =
      try io.writeExclusive(versionFile(next), json)
      catch {
        case scala.util.control.NonFatal(e) =>
          // the CAS RESPONSE was lost (network fault after the request may
          // have landed). Resolve by reading the version back: ours →
          // the PUT succeeded; someone else's → we lost the race (plain
          // retriable failure); absent → genuinely unknown — surface
          // CommitStateUnknown, because a blind retry could double-apply
          // if the in-flight PUT lands late (reference commit protocol,
          // core/.../BaseTransaction.java CommitStateUnknownException
          // handling).
          readBack(next) match {
            case Some(existing) if existing == json => true
            case Some(_) => false
            case None => throw new CommitStateUnknownException(
              s"commit of version $next errored before its outcome was " +
                "observable; not retrying (retry could double-apply)", e)
          }
      }
    if (!won)
      throw new CommitFailedException(s"version $next already committed")
    // hint is advisory and best-effort: the CAS above is already durable,
    // so a lost hint write must NOT fail the commit (readers probe forward
    // from any stale hint — see currentVersion)
    try io.writeString(hintFile, next.toString)
    catch { case scala.util.control.NonFatal(_) => }
    next
  }

  /** Read the version file back to resolve a lost CAS response. A single
    * transient GET failure must not convert a DURABLE commit into an
    * operator-facing unknown outcome, so the read retries a few times with
    * short backoff before giving up; a key that stays absent through the
    * retries still reads as None (→ CommitStateUnknown — the in-flight PUT
    * may land late, so the outcome genuinely is undetermined). */
  private def readBack(v: Int): Option[String] = {
    var attempt = 1
    val maxAttempts = 3
    while (attempt <= maxAttempts) {
      try return Some(io.readString(versionFile(v)))
      catch {
        // not-found is retried DELIBERATELY, not as a transient fault: the
        // lost-response PUT may still be in flight server-side, and the
        // ~150 ms of backoff is a grace window that turns a late-landing
        // commit from CommitStateUnknown into a definitive answer. The
        // cost on the genuinely-absent path is three GETs before the
        // (already exceptional) unknown-state surface.
        case scala.util.control.NonFatal(_) =>
          if (attempt == maxAttempts) return None
          Thread.sleep(25L << attempt)
          attempt += 1
      }
    }
    None
  }

  /** Optimistic-retry loop around a metadata transform (reference
    * SnapshotProducer: Tasks.foreach(ops).retry(...).onlyRetryOn(
    * CommitFailedException)). `apply` must be side-effect-free on retry.
    * Retry count comes from the table's `commit.retry.num-retries`
    * property (reference TableProperties.COMMIT_NUM_RETRIES, default 4)
    * unless `retries` overrides it — high-contention writers (many
    * concurrent streaming epochs) raise the property, not the code. */
  def commitTransaction(apply: TableMetadata => TableMetadata,
      retries: Int = -1): TableMetadata = {
    var attempt = 0
    while (true) {
      val baseVersion = currentVersion()
      val base = current()
      val maxRetries =
        if (retries >= 0) retries
        else Option(base).flatMap(_.properties.get("commit.retry.num-retries"))
          .map(_.toInt).getOrElse(4)
      val updated = apply(base)
      val committed =
        try { commit(baseVersion, updated); true }
        catch {
          case _: CommitFailedException if attempt < maxRetries =>
            attempt += 1
            // a conflict means our view was stale: re-probe past the memo so
            // the retry sees the real head even while the hint lags
            currentVersion(forceProbe = true)
            // JITTERED exponential backoff: a deterministic schedule makes
            // N concurrent writers retry in lockstep and collide again on
            // every round (thundering herd) — randomizing the top half
            // desynchronizes them (reference Tasks.exponentialBackoff)
            val base = math.min(25L << math.min(attempt, 6), 1000L)
            Thread.sleep(base / 2 +
              java.util.concurrent.ThreadLocalRandom.current().nextLong(base / 2 + 1))
            false
        }
      if (committed) {
        // commit observability: one event per snapshot this commit created,
        // fired OUTSIDE the retry try-block — the swap is already durable,
        // so a throwing listener must propagate (the listener contract)
        // without tricking the loop into re-applying a committed transform
        if (!Listeners.isCommitEmpty) {
          val known = Option(base).map(_.snapshots.map(_.snapshotId).toSet)
            .getOrElse(Set.empty)
          updated.snapshots.filterNot(s => known.contains(s.snapshotId))
            .foreach(s => Listeners.notifyAll(CommitEvent(location,
              s.snapshotId, s.sequenceNumber, s.operation, s.summary)))
        }
        return updated
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- auxiliary file I/O (manifests, manifest lists) ----
  def writeMetadataBytes(name: String, content: Array[Byte]): String = {
    val path = s"$metadataDir/$name"
    io.writeBytes(path, content)
    path
  }

  def newManifestPath(ext: String = ".json"): String =
    s"$metadataDir/manifest-${UUID.randomUUID()}$ext"
  def newManifestListPath(snapshotId: Long, ext: String = ".json"): String =
    s"$metadataDir/snap-$snapshotId-${UUID.randomUUID()}$ext"
}
