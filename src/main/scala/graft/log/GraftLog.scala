package graft.log

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.tx.OptimisticTransaction

/**
 * The per-table transaction log object: snapshot management, commits and
 * checkpoints (reference concepts: DeltaLog + SnapshotManagement +
 * Checkpoints; /root/reference/spark/.../DeltaLog.scala:80,
 * SnapshotManagement.scala, Checkpoints.scala:304-420 — re-designed).
 *
 * Scale notes: a snapshot's file state is either a driver-side map of
 * AddFiles (a 100 TB table at ~1 GB/file is ~1e5 entries — small) or,
 * past the state-reconstruction threshold (classic and v2 checkpoints
 * alike), checkpoint-backed: the checkpoint parquet plus a driver-held
 * overlay of later commits. Checkpoint writes and stream starts run where
 * that state lives, with no file-count setting of their own: a driver-held
 * snapshot checkpoints through [[CheckpointCodec]] in-process, as one
 * parquet file; a checkpoint-backed one over its checkpoint parquet on the
 * executors, as a directory of part files. A checkpoint name appears only
 * when its entry is complete. Snapshot updates are incremental: only
 * commit JSONs newer than the cached snapshot are parsed.
 */
class GraftLog private (
    @transient private val creatorSpark: SparkSession,
    val dataPath: Path) extends Serializable {

  /** Logs are cached per-path for the life of the JVM (like the
    * reference's DeltaLog cache), so they must not pin the session that
    * first opened them: resolve the live session at use, falling back to
    * the creator only if no session is active (e.g. during teardown). */
  @transient def spark: SparkSession =
    SparkSession.getActiveSession.filterNot(_.sparkContext.isStopped)
      .orElse(SparkSession.getDefaultSession
        .filterNot(_.sparkContext.isStopped))
      .getOrElse(creatorSpark)

  val logPath: Path = new Path(dataPath, "_graft_log")
  @transient val store = LogStore.create(creatorSpark)

  @volatile private var currentSnapshot: Snapshot = _

  /** Any commit file marks an existing table — delta 0 may have been
    * cleaned up after a checkpoint. */
  def tableExists: Boolean =
    store.exists(FileNames.deltaFile(logPath, 0L)) ||
      store.list(logPath).exists(s =>
        FileNames.deltaVersion(s.getPath.getName).isDefined)

  /** Latest snapshot, refreshed from the filesystem. With a cached
    * snapshot the listing is ANCHORED at the next delta name
    * (LogStore.listFrom), so a refresh costs O(commits since the cache),
    * not O(log history) — the shape object stores need; only a gap in
    * the tail (log cleanup raced us) falls back to the full listing. */
  def update(): Snapshot = synchronized {
    val snap = refreshFromStore()
    // Coordinated tables: give a ledger-backed coordinator the chance to
    // republish commits whose writer died between arbitration and the
    // synchronous backfill (reference concept: reader-side getCommits on
    // every refresh). If it healed anything, re-list so the refresh folds
    // the republished tail instead of serving the stale FS log. A
    // coordinator named but not registered in this client stays readable
    // (backfill is synchronous; the FS log is authoritative up to the
    // crash window) — only WRITES require the coordinator.
    val healed = Option(snap).filter(_.version >= 0)
      .flatMap(s => s.metadata.configuration
        .get("graft.catalogManaged.coordinator")
        .orElse(s.metadata.configuration
          .get("graft.coordinatedCommits.coordinator")))
      .flatMap(graft.tx.CommitCoordinators.get)
      .exists(_.ensureBackfilled(this))
    if (healed) refreshFromStore() else snap
  }

  private def refreshFromStore(): Snapshot = {
    val cached = currentSnapshot
    if (cached != null && cached.version >= 0) {
      val anchor = FileNames.deltaFile(logPath, cached.version + 1).getName
      val tail = store.listFrom(logPath, anchor)
        .flatMap(s =>
          FileNames.deltaVersion(s.getPath.getName).map(v => v -> s.getPath))
        .filter(_._1 > cached.version).sortBy(_._1)
      if (tail.isEmpty) return cached
      if (tail.head._1 == cached.version + 1) {
        // Incremental: fold only the new tail onto the cached state.
        currentSnapshot = cached.advance(tail)
        cached.invalidateSkippingView()
        return checkedCurrent()
      }
      // fall through: tail starts past version+1 — rebuild from scratch
    }
    val listing = store.list(logPath)
    val deltas = listing.flatMap(s =>
      FileNames.deltaVersion(s.getPath.getName).map(v => v -> s.getPath))
    if (deltas.isEmpty) {
      currentSnapshot = Snapshot.empty(this)
      return currentSnapshot
    }
    val latest = deltas.map(_._1).max
    if (cached != null && cached.version == latest) return cached
    val cp = usableCheckpoint(listing, latest)
    val tail = deltas.filter(d => cp.forall(d._1 > _)).sortBy(_._1)
    currentSnapshot = Snapshot.build(this, cp, tail, latest)
    validateChecksum(currentSnapshot)
    if (cached != null) cached.invalidateSkippingView()
    checkedCurrent()
  }

  /** Protocol-gate the freshly installed snapshot: fail loudly instead
    * of misreading a table whose features we do not understand (e.g.
    * silently ignoring deletion vectors would resurrect deleted rows).
    * Feature-vector protocols gate per listed reader feature; legacy
    * protocols gate on the numeric version. */
  private def checkedCurrent(): Snapshot = {
    val proto = currentSnapshot.protocol
    if (!TableFeatures.readable(proto, SUPPORTED_READER_VERSION,
        TableFeatures.supportedReaderFeatures)) {
      val unknown = proto.readerFeatureNames -- TableFeatures.supportedReaderFeatures
      throw new IllegalStateException(
        s"Table $dataPath requires reader version ${proto.minReaderVersion}" +
          (if (unknown.nonEmpty) s" with unsupported reader features $unknown"
           else "") +
          s"; this build supports up to $SUPPORTED_READER_VERSION " +
          s"(features: ${TableFeatures.supportedReaderFeatures.toSeq.sorted.mkString(",")})")
    }
    currentSnapshot
  }

  def snapshot: Snapshot = {
    if (currentSnapshot == null) update()
    currentSnapshot
  }

  /** Cached snapshot or null — lets the redirect-follow check skip ALL
    * filesystem traffic once a log is warm. */
  private[graft] def cachedSnapshotOrNull: Snapshot = currentSnapshot

  /** Highest protocol reader version this build understands:
    * 1 = base log; 2 = deletion vectors + column mapping (legacy);
    * 3 = table-feature vectors (per-feature negotiation). */
  val SUPPORTED_READER_VERSION = 3

  /** Highest protocol writer version this build maintains (7 = writer
    * feature vectors). */
  val SUPPORTED_WRITER_VERSION = 7

  /** Snapshot pinned at `version` (time travel / RESTORE / CDF). */
  def getSnapshotAt(version: Long): Snapshot = {
    val listing = store.list(logPath)
    val deltas = listing.flatMap(s =>
      FileNames.deltaVersion(s.getPath.getName).map(v => v -> s.getPath))
      .filter(_._1 <= version).sortBy(_._1)
    require(deltas.nonEmpty && deltas.last._1 == version,
      s"Version $version not found in $logPath")
    val cp = usableCheckpoint(listing, version)
    Snapshot.build(this, cp, deltas.filter(d => cp.forall(d._1 > _)), version)
  }

  /** The checkpoint a load at `version` starts from: the highest listed
    * one at or below it whose rows hold a Metadata action. A name with no
    * Metadata behind it — the `_temporary`-only directory of a writer that
    * died before its job committed — is passed over for the next lower
    * checkpoint, or the JSON replay. Log cleanup picks its boundary by the
    * same rule. */
  private def usableCheckpoint(listing: Seq[org.apache.hadoop.fs.FileStatus],
      version: Long): Option[Long] =
    listing.flatMap(s => FileNames.checkpointVersion(s.getPath.getName))
      .filter(_ <= version).sorted.reverseIterator.find { v =>
        val usable =
          try CheckpointCodec.holdsMetadata(spark, store,
            FileNames.checkpointFile(logPath, v))
          catch { case _: java.io.FileNotFoundException => false }
        if (!usable) GraftLog.postCommitLog.warn(
          s"checkpoint $v of $dataPath holds no metadata; loading past it")
        usable
      }

  /** Above this many commits, timestamp->version resolution binary-
    * searches the log instead of reading every commit's CommitInfo. */
  private val TS_BINARY_SEARCH_MIN = 64

  /** Latest commit whose timestamp is <= ts (time travel by timestamp).
    *
    * Small logs read every commit's CommitInfo once (cached). Large logs
    * BINARY-SEARCH: commit timestamps are written non-decreasing (the
    * monotonic clamp in [[listCommitTimestamps]] only repairs clock skew
    * between writers), so O(log n) commit-file reads find the boundary —
    * a 100k-commit log resolves a first-touch timestamp query in ~17
    * reads, not 100k (reference concept: DeltaHistoryManager.scala:230
    * windowed search — re-designed as a direct bisection over the cached
    * per-commit timestamp). */
  def getVersionAtTime(tsMillis: Long): Long = {
    val raw = listedCommits()
    require(raw.nonEmpty, s"No commits in $logPath")
    if (raw.size <= TS_BINARY_SEARCH_MIN) {
      val commits = commitTimestamps(raw)
      val eligible = commits.filter(_._2 <= tsMillis)
      require(eligible.nonEmpty,
        s"No commit at or before timestamp $tsMillis (earliest: ${commits.headOption})")
      eligible.map(_._1).max
    } else {
      // Prefer the checksum chain's ALREADY-CLAMPED watermark (exact
      // prefix-max, monotone by construction) — bisection over it is
      // exact under arbitrary writer clock skew. Raw CommitInfo reads
      // are the fallback for logs without the chain.
      var allClamped = true
      def tsAt(i: Int): Long = crcTimestamp(raw(i)._1) match {
        case Some(w) => w
        case None => allClamped = false; rawCommitTs(raw(i)._1, raw(i)._2)
      }
      require(tsAt(0) <= tsMillis,
        s"No commit at or before timestamp $tsMillis " +
          s"(earliest: ${(raw.head._1, tsAt(0))})")
      var lo = 0
      var hi = raw.size - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (tsAt(mid) <= tsMillis) lo = mid else hi = mid - 1
      }
      if (allClamped) return raw(lo)._1
      // Clock-skew guard (raw-timestamp fallback): the bisection assumed
      // non-decreasing commit timestamps, but a skewed writer can plant
      // ts(u) > tsMillis at some u < lo — under the monotonic clamp that
      // makes every later commit ineligible too. Verify a bounded
      // backward window and move the answer before the earliest violator
      // found. Exact whenever skew spans fewer than the window's commits;
      // the same fidelity the reference's non-ICT (mtime-ordered)
      // resolution offers.
      val floor = math.max(0, lo - 32)
      var firstViolation = -1
      var i = floor
      while (i < lo && firstViolation < 0) {
        if (tsAt(i) > tsMillis) firstViolation = i
        i += 1
      }
      val ans = if (firstViolation >= 0) firstViolation - 1 else lo
      require(ans >= 0,
        s"No commit at or before timestamp $tsMillis (clock skew at log start)")
      raw(ans)._1
    }
  }

  /** Committed files are immutable, so their CommitInfo timestamp is
    * cached after the first read — repeated time-travel / CDF / history
    * calls cost one listing, not O(versions) commit-file reads. */
  @transient private lazy val commitTsCache =
    new ConcurrentHashMap[Long, java.lang.Long]()

  /** Commit files whose timestamp has been read — observable proxy for
    * the I/O cost of timestamp resolution in scale tests. */
  private[graft] def commitTsReads: Int = commitTsCache.size

  /** (version, timestampMillis) per commit, ascending — from each
    * commit's OWN CommitInfo timestamp (file mtimes change under copy /
    * backup-restore), adjusted to be monotonically non-decreasing, with
    * mtime as the fallback for commits lacking CommitInfo.
    * (Reference concept: the inCommitTimestamp feature.) */
  def listCommitTimestamps(): Seq[(Long, Long)] =
    commitTimestamps(listedCommits())

  private def listedCommits(): Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
    store.list(logPath).flatMap { s =>
      FileNames.deltaVersion(s.getPath.getName).map(v => (v, s))
    }.sortBy(_._1)

  private def rawCommitTs(v: Long, status: org.apache.hadoop.fs.FileStatus): Long =
    commitTsCache.computeIfAbsent(v, { _ =>
      val t: Long = Actions.deserialize(store.read(status.getPath))
        .collectFirst { case ci: CommitInfo if ci.timestamp > 0 => ci.timestamp }
        .getOrElse(status.getModificationTime)
      java.lang.Long.valueOf(t)
    }).longValue()

  private def commitTimestamps(
      raw: Seq[(Long, org.apache.hadoop.fs.FileStatus)]): Seq[(Long, Long)] = {
    var last = 0L
    raw.map { case (v, status) =>
      last = math.max(last, rawCommitTs(v, status))
      (v, last)
    }
  }

  /** CommitInfo per version (DESCRIBE HISTORY), newest first. Only the
    * `limit` newest commit files are read. */
  def history(limit: Int = Int.MaxValue): Seq[CommitInfo] = {
    store.list(logPath).flatMap { s =>
      FileNames.deltaVersion(s.getPath.getName).map(v => (v, s))
    }.sortBy(-_._1).take(limit).map { case (v, s) =>
      val info = Actions.deserialize(store.read(s.getPath))
        .collectFirst { case ci: CommitInfo => ci }
        .getOrElse(CommitInfo(timestamp = s.getModificationTime))
      info.copy(version = Some(v),
        timestamp = if (info.timestamp == 0) s.getModificationTime else info.timestamp)
    }
  }

  /** Actions of a single committed version (conflict check, CDF). */
  def readCommit(version: Long): Seq[Action] =
    Actions.deserialize(store.read(FileNames.deltaFile(logPath, version)))

  def startTransaction(): OptimisticTransaction =
    new OptimisticTransaction(this, update())

  def withNewTransaction[T](body: OptimisticTransaction => T): T =
    body(startTransaction())

  /** Write the put-if-absent commit file; returns the new snapshot. */
  private[graft] def writeCommit(version: Long, actions: Seq[Action],
      trustedCounts: Boolean = false): Snapshot = {
    // Coordinated commits: when the table names a coordinator, commit
    // arbitration goes through it instead of the store's put-if-absent
    // (the metadata may arrive IN this commit, so check both places).
    // catalogManaged (CCv2) and the older coordinatedCommits share the
    // arbitration seam; the CCv2 property wins when both appear.
    val coordinatorName = actions.collectFirst { case m: Metadata => m }
      .orElse(Option(currentSnapshot).filter(_.version >= 0).map(_.metadata))
      .flatMap(m => m.configuration.get("graft.catalogManaged.coordinator")
        .orElse(m.configuration.get("graft.coordinatedCommits.coordinator")))
    coordinatorName match {
      case Some(name) =>
        val coordinator = graft.tx.CommitCoordinators.get(name).getOrElse(
          throw new IllegalStateException(
            s"Table $dataPath requires commit coordinator '$name', which is " +
              "not registered in this client — writing without it would " +
              "break the table's commit exclusion"))
        try coordinator.commit(this, version, Actions.serialize(actions))
        catch {
          case e: graft.tx.CoordinatedCommitConflictException =>
            // surface as the same signal the put-if-absent path produces
            // so the transaction's conflict-checked retry loop applies
            throw new java.nio.file.FileAlreadyExistsException(
              FileNames.deltaFile(logPath, e.version).toString)
        }
      case None =>
        store.write(FileNames.deltaFile(logPath, version),
          Actions.serialize(actions))
    }
    val snap = update()
    // EVERYTHING past this point is a best-effort post-commit hook (see
    // `postCommitHook`). Each hook self-repairs: a missing checksum
    // sidecar heals from raw commits on the next chain touch, a skipped
    // checkpoint re-arms at the next interval hit, auto-compact pressure
    // persists, and the next mirror hook backfills whatever this one
    // missed (deterministic version mapping makes the repair exact).
    //
    // The checksum sidecar must describe the version JUST COMMITTED: under
    // a racing writer update() can return a LATER version, and writing
    // that version's checksum from this commit's actions would both skip
    // `version`'s own sidecar forever and clobber the racer's correct one.
    val snapAtV =
      if (snap.version == version) snap
      else postCommitHook("snapshot pin", version)(getSnapshotAt(version))
        .getOrElse(snap)
    postCommitHook("checksum", version) {
      if (snapAtV.version == version)
        writeChecksum(snapAtV, actions, trustedCounts)
    }
    postCommitHook("checkpoint", version)(maybeCheckpoint(snap))
    postCommitHook("auto-compact", version)(maybeAutoCompact(snapAtV, actions))
    if (graft.commands.DeltaMirror.enabled(snap.metadata))
      postCommitHook("delta mirror", version)(
        graft.commands.DeltaMirror.mirror(this, version, actions, snap))
    snap
  }

  /** Run one post-commit hook of commit `version` BEST-EFFORT: the commit
    * file is already durable, so a failure (racing log cleanup under a
    * healing fold, FS hiccup, concurrent-commit conflict) must not surface
    * as a failed write — the caller would retry the transaction and
    * double-apply the data. The failure is logged with the hook's name
    * and swallowed; `None` stands for the failed hook's result. */
  private def postCommitHook[T](name: String, version: Long)(
      body: => T): Option[T] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        GraftLog.postCommitLog.warn(
          s"post-commit hook '$name' of $dataPath@$version failed; it " +
            s"heals on a later commit: $e")
        None
    }

  /** Per-commit checksum sidecar: the fold-state fingerprint (aggregates
    * + protocol + metadata + txn/domain maps) a cold reader re-derives
    * and compares — corruption detection for the whole log fold
    * (reference concept: VersionChecksum / ChecksumHook — re-designed). */
  private def writeChecksum(snap: Snapshot, actions: Seq[Action] = Nil,
      trustedCounts: Boolean = false): Unit = {
    if (snap.version < 0) return
    // Monotone timestamp watermark: clamp this commit's CommitInfo
    // timestamp against the previous version's watermark. The chain only
    // forms anchored at version 0 (an unanchored mid-log start could
    // violate the prefix-max invariant on older tables), so any present
    // value is exact and [[getVersionAtTime]] may bisect on it directly.
    val ownTs = actions.collectFirst {
      case ci: CommitInfo if ci.timestamp > 0 => ci.timestamp
    }
    val prev =
      if (snap.version == 0) None else readChecksum(snap.version - 1)
    val watermark: Long =
      if (ownTs.isEmpty) -1L
      else if (snap.version == 0) ownTs.get
      else prev.map(_.commitTimestamp).filter(_ >= 0) match {
        case Some(w) => math.max(w, ownTs.get)
        case None =>
          // The previous sidecar may be a racing writer's write still in
          // flight (its crc lands after ours starts) — without healing,
          // one race would break the chain for the rest of the table's
          // life. Recover the prefix-max from the nearest valid anchor.
          healedWatermark(snap.version).map(math.max(_, ownTs.get))
            .getOrElse(-1L)
      }
    // Incremental aggregates: fold the previous checksum's counts with
    // this commit's actions — O(commit), no distributed pass over a
    // lazy snapshot's checkpoint per commit (a metadata-only commit on
    // a 10M-file table costs nothing). Only commits from OUR transaction
    // path qualify (its removes always reference live files and its adds
    // never silently replace one); raw commits and any gap in the chain
    // fall back to the snapshot's exact aggregates.
    val counts: Option[(Long, Long)] =
      if (!trustedCounts) None
      else prev.filter(p => p.numFiles >= 0 && p.tableSizeBytes >= 0)
        .flatMap { p =>
          val adds = actions.collect { case a: AddFile => a }
          val rems = actions.collect { case r: RemoveFile => r }
          if (rems.exists(_.size.isEmpty)) None
          else Some((p.numFiles + adds.size - rems.size,
            p.tableSizeBytes + adds.iterator.map(_.size).sum -
              rems.iterator.flatMap(_.size).sum))
        }
    val (nFiles, tBytes) = counts.getOrElse((snap.numFiles, snap.sizeInBytes))
    val crc = VersionChecksum(
      tableSizeBytes = tBytes,
      numFiles = nFiles,
      protocol = snap.protocol,
      metadata = snap.metadata,
      setTransactions = snap.setTransactions,
      domainMetadata = snap.domains,
      commitTimestamp = watermark)
    store.writeOverwrite(FileNames.checksumFile(logPath, snap.version),
      Actions.checksumToJson(crc))
    // Steady state: the next commit's prev-checksum lookup is a cache
    // hit — the chain advances with zero sidecar reads.
    crcCachePut(snap.version, crc)
  }

  /** Cached checksum sidecar contents (immutable once present). Bounded:
    * each entry carries full metadata/protocol, and a long-lived writer
    * commits forever — steady state only ever needs the latest few plus
    * a bisection's O(log n) probes, so overflow just resets. */
  @transient private lazy val crcCache =
    new ConcurrentHashMap[Long, VersionChecksum]()
  private def crcCachePut(version: Long, crc: VersionChecksum): Unit = {
    if (crcCache.size > 4096) crcCache.clear()
    crcCache.put(version, crc)
  }

  private def readChecksum(version: Long): Option[VersionChecksum] = {
    val hit = crcCache.get(version)
    if (hit != null) Some(hit)
    else {
      val content = store.readOpt(FileNames.checksumFile(logPath, version))
      val v = content.map(Actions.checksumFromJson)
      // An ABSENT sidecar is not cached — it may be a racing writer's
      // write-in-flight, and permanently caching the miss would feed -1
      // into the next commit's watermark even after the file lands. A
      // PRESENT sidecar is immutable whatever it says: chainless (-1)
      // content caches too, so chain-broken tables don't re-read dozens
      // of sidecars on every commit and bisection.
      v.foreach(crcCachePut(version, _))
      v
    }
  }

  private def crcTimestamp(version: Long): Option[Long] =
    readChecksum(version).map(_.commitTimestamp).filter(_ >= 0)

  /** Recover the prefix-max timestamp watermark for `version` when the
    * previous sidecar is missing or chainless: walk back a bounded
    * window for the nearest valid checksum watermark and fold the gap's
    * raw commit timestamps forward. Exact whenever an anchor exists in
    * the window or the window reaches version 0 (young and freshly
    * repaired tables re-anchor from scratch); None when the gap is too
    * wide or a gap commit was already cleaned. */
  private def healedWatermark(version: Long): Option[Long] = {
    val floor = math.max(0L, version - 33)
    var anchorV = -1L
    var anchor = -1L
    var k = version - 1
    while (k >= floor && anchorV < 0) {
      crcTimestamp(k) match {
        case Some(w) => anchorV = k; anchor = w
        case None => k -= 1
      }
    }
    if (anchorV < 0 && floor > 0) return None
    val statuses = listedCommits().toMap
    var wm = anchor
    var v = anchorV + 1
    while (v < version) {
      statuses.get(v) match {
        case Some(st) => wm = math.max(wm, rawCommitTs(v, st))
        case None => return None // gap commit cleaned — cannot heal
      }
      v += 1
    }
    Some(wm).filter(_ >= 0)
  }

  private def validateChecksum(snap: Snapshot): Unit = {
    if (snap.version < 0) return
    // Through readChecksum: the parse lands in crcCache, so the first
    // commit after a cold load finds its predecessor without re-reading
    // the sidecar just validated.
    readChecksum(snap.version).foreach { crc =>
      def fail(what: String, expected: Any, got: Any): Nothing =
        throw new IllegalStateException(
          s"Checksum mismatch at version ${snap.version} of $dataPath: " +
            s"$what expected $expected, reconstructed $got - " +
            "the log or checkpoint is corrupted")
      if (crc.numFiles >= 0 && crc.numFiles != snap.numFiles)
        fail("numFiles", crc.numFiles, snap.numFiles)
      if (crc.tableSizeBytes >= 0 && crc.tableSizeBytes != snap.sizeInBytes)
        fail("tableSizeBytes", crc.tableSizeBytes, snap.sizeInBytes)
      if (crc.protocol != null && crc.protocol != snap.protocol)
        fail("protocol", crc.protocol, snap.protocol)
      if (crc.metadata != null && crc.metadata != snap.metadata)
        fail("metadata", crc.metadata, snap.metadata)
      if (crc.setTransactions.nonEmpty && crc.setTransactions != snap.setTransactions)
        fail("setTransactions", crc.setTransactions, snap.setTransactions)
      if (crc.domainMetadata.nonEmpty && crc.domainMetadata != snap.domains)
        fail("domainMetadata", crc.domainMetadata, snap.domains)
    }
  }

  private val inAutoCompact = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  /** Small-file pressure per partition, accumulated from the AddFiles of
    * recent commits (reference concept:
    * stats/AutoCompactPartitionStats.scala — re-designed as a per-log
    * in-memory accumulator). Commit-driven, so the hook never scans the
    * snapshot: cost is O(files in this commit), and on a lazy
    * checkpoint-backed snapshot nothing materializes. */
  @transient private lazy val autoCompactPressure =
    new ConcurrentHashMap[Map[String, String], java.lang.Integer]()

  /** The in-memory pressure map dies with the JVM / log-cache entry; a
    * restarted writer would otherwise forget accumulated pressure and
    * stall compaction by up to minNumFiles more commits. First hook use
    * re-derives it from the recent commit tail (bounded: back to the last
    * checkpoint, capped at 20 commits — metadata-scale driver reads).
    * A dataChange=false add marks a compaction output: its partitions'
    * pressure was consumed, so seeding clears them. */
  @volatile private var pressureSeeded = false
  // Highest commit version the seed fold has already counted: a racing
  // thread whose commit landed inside the seeder's window must NOT merge
  // its own AddFiles again (the seed saw them on disk).
  @volatile private var pressureSeededThrough = -1L

  private def seedPressure(snap: Snapshot, smallSize: Long): Unit = {
    val cpFloor = store.list(logPath)
      .flatMap(s => FileNames.checkpointVersion(s.getPath.getName))
      .filter(_ < snap.version).maxOption.getOrElse(-1L)
    val from = math.max(cpFloor + 1, snap.version - 20)
    (from until snap.version).foreach { v =>
      try {
        val acts = readCommit(v)
        val compacted = acts.collect {
          case a: AddFile if !a.dataChange => a.partitionValues
        }.toSet
        compacted.foreach(autoCompactPressure.remove)
        acts.collect {
          case a: AddFile if a.dataChange && a.size < smallSize => a.partitionValues
        }.groupBy(identity).foreach { case (pv, xs) =>
          autoCompactPressure.merge(pv, xs.size,
            (a, b) => Integer.valueOf(a.intValue + b.intValue))
        }
      } catch { case _: java.io.FileNotFoundException => } // cleaned commit
    }
  }

  /** Post-commit hook: with `graft.autoCompact=true`, compact inline when
    * a PARTITION's accumulated small-file count passes
    * `graft.autoCompact.minNumFiles` (default 50) — only the pressured
    * partitions rewrite; a high-churn partition cannot force re-scans of
    * the cold ones. The compaction's own commit is guarded against
    * re-entry and writes dataChange=false files that do not re-feed the
    * pressure counter, so the hook terminates. */
  private def maybeAutoCompact(snap: Snapshot, actions: Seq[Action]): Unit = {
    if (inAutoCompact.get) return
    val conf = snap.metadata.configuration
    if (!conf.getOrElse("graft.autoCompact", "false").toBoolean) return
    val minNumFiles = conf.getOrElse("graft.autoCompact.minNumFiles", "50").toInt
    val smallSize = conf.get("graft.optimize.minFileSize").map(_.toLong)
      .getOrElse(graft.commands.OptimizeCommand.defaultMaxFileSize / 2)
    val newSmall = actions.collect {
      case a: AddFile if a.dataChange && a.size < smallSize => a.partitionValues
    }
    if (newSmall.isEmpty) return
    // Double-checked under a lock: two first-commits racing through the
    // bare flag would both seed and double every tail partition's
    // pressure. The seed range ends BEFORE the seeder's version (snap is
    // pinned at it) — the seeder's own AddFiles merge once, via newSmall
    // below. A RACING thread whose commit landed inside the seeder's
    // window (it committed version N, the seeder pinned N+1 and folded
    // [from, N+1)) must skip its own merge: the seed already counted its
    // files from disk, so merging newSmall too would double them.
    if (!pressureSeeded) synchronized {
      if (!pressureSeeded) {
        seedPressure(snap, smallSize)
        pressureSeededThrough = snap.version - 1
        pressureSeeded = true
      }
    }
    if (snap.version > pressureSeededThrough) {
      newSmall.groupBy(identity).foreach { case (pv, xs) =>
        autoCompactPressure.merge(pv, xs.size,
          (a, b) => Integer.valueOf(a.intValue + b.intValue))
      }
    }
    import scala.jdk.CollectionConverters._
    val pressured = autoCompactPressure.entrySet.asScala
      .filter(_.getValue >= minNumFiles).map(_.getKey).toSeq
    if (pressured.isEmpty) return
    // The pressured keys ARE physical AddFile.partitionValues maps, so
    // they pass to the compactor as an exact set — no SQL literal
    // round-trip (values with quotes/backslashes, parser-mode
    // differences, and logical/physical column mapping cannot misroute).
    inAutoCompact.set(true)
    try {
      graft.commands.OptimizeCommand.compact(
        new graft.GraftTable(spark, this), None,
        partitions = Some(pressured.toSet))
      pressured.foreach(autoCompactPressure.remove)
    } finally inAutoCompact.set(false)
  }

  def checkpointInterval: Int =
    snapshot.metadata.configuration
      .getOrElse("graft.checkpointInterval", "10").toInt

  private def maybeCheckpoint(snap: Snapshot): Unit = {
    if (snap.version > 0 && snap.version % checkpointInterval == 0 &&
        !store.exists(FileNames.checkpointFile(logPath, snap.version))) {
      checkpoint(snap)
      postCommitHook("log cleanup", snap.version)(maybeCleanExpiredLogs(snap))
    }
  }

  /** Metadata cleanup rides the checkpoint cadence (reference concept:
    * MetadataCleanup.doLogCleanup after checkpointing — re-designed): at
    * a 100x commit rate an uncleaned `_graft_log` grows into millions of
    * files and every cold listing pays for all of them. Best-effort, like
    * the checkpoint hook itself — the commit already succeeded. Retention
    * must cover the time-travel window (`graft.logRetentionHours`,
    * default 30 days); `graft.enableExpiredLogCleanup=false` opts out. */
  private def maybeCleanExpiredLogs(snap: Snapshot): Unit = {
    val conf = snap.metadata.configuration
    if (conf.getOrElse("graft.enableExpiredLogCleanup", "true").toBoolean) {
      val hours = conf.getOrElse("graft.logRetentionHours",
        (30 * 24).toString).toDouble
      cleanUpExpiredLogs((hours * 3600 * 1000).toLong)
    }
  }

  /** The `_last_checkpoint` pointer; None when it is missing or does not
    * parse. Callers compare its version with the checkpoint they mean: a
    * pointer that names another one is stale for them. */
  private[graft] def lastCheckpoint: Option[LastCheckpoint] =
    store.readOpt(FileNames.lastCheckpointFile(logPath))
      .flatMap(Actions.lastCheckpointFromJson)

  /** `classic`: all actions in the checkpoint itself. `v2`: a small
    * manifest (metadata-scale actions + CheckpointMetadata + SidecarFile
    * pointers) with the file actions in sidecar parquet under
    * `_sidecars/`, bucketed by a stable path hash — successive
    * checkpoints REUSE the sidecars of buckets no commit has touched, so
    * checkpoint cost scales with the churn since the last checkpoint,
    * not with total table size (reference: PROTOCOL.md:854-911,
    * actions.scala:1775 SidecarFile — re-designed; the reference gets
    * incrementality from its own sidecar reuse rules). */
  def checkpointPolicy(snap: Snapshot): String =
    snap.metadata.configuration.getOrElse("graft.checkpointPolicy", "classic")

  def sidecarBuckets(snap: Snapshot): Int =
    snap.metadata.configuration
      .getOrElse("graft.checkpointNumSidecars", "16").toInt

  /** Stable path -> sidecar bucket (FNV-1a + splitmix64, same on every
    * JVM; a path's add and tombstone always land in the same bucket). */
  private[graft] def sidecarBucket(path: String, k: Int): Int =
    GraftLog.sidecarBucketOf(path, k)

  /** Write snapshot state as a Parquet checkpoint + `_last_checkpoint`,
    * where the snapshot's file state lives. A driver-held snapshot's maps
    * go through [[CheckpointCodec]] in-process, with no Spark job: the
    * checkpoint is one parquet FILE. A checkpoint-backed snapshot's rows
    * are read from its checkpoint parquet, masked by its overlay, and
    * written on the executors ([[writeCheckpointDistributed]]): the
    * checkpoint is a directory of part files. Either way the checkpoint
    * name appears only once the entry is complete. A v2 manifest is
    * metadata-scale and always goes through the codec. A snapshot backed
    * by the checkpoint at its own version is already checkpointed;
    * rewriting it would read and overwrite the same files. */
  def checkpoint(snap: Snapshot = snapshot): Unit = {
    if (snap.lazyBase.exists(_.version == snap.version)) return
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val small: Seq[SingleAction] =
      Seq(snap.protocol.wrap, snap.metadata.wrap) ++
      snap.setTransactions.map { case (app, v) => SetTransaction(app, v).wrap } ++
      snap.domains.map { case (d, c) => DomainMetadata(d, c).wrap }
    // Tombstones past the retention window have done their job (VACUUM
    // eligibility / streaming change detection) — dropping them here
    // bounds checkpoint state on long-lived high-churn tables. VACUUM
    // LITE relies on tombstones and thus only covers the retained window
    // (full VACUUM's filesystem anti-join catches older orphans).
    // Under incremental v2 checkpoints an expired tombstone lingers
    // until its bucket next rewrites — harmless, it only delays expiry.
    val retentionMs = (snap.metadata.configuration
      .get("graft.deletedFileRetentionHours").map(_.toDouble)
      .getOrElse(graft.commands.VacuumCommand.defaultRetentionHours) * 3600 * 1000).toLong
    val tombCutoff = System.currentTimeMillis() - retentionMs
    // Lazy snapshots count tombstones with a distributed agg, never
    // pulling them onto the driver.
    val liveTombCount =
      if (!snap.tombsMaterialized)
        snap.tombstonesDS.where(coalesce(col("deletionTimestamp"),
          lit(Long.MaxValue)) >= tombCutoff).count()
      else snap.tombstones.count(_.deletionTimestamp.forall(_ >= tombCutoff))
    val fileCount = snap.numFiles + liveTombCount
    val total = small.size + fileCount
    // The file rows: executor-side for a checkpoint-backed snapshot, the
    // driver maps otherwise.
    val backedRows = snap.lazyBase.map(_.checkpointRows(session, tombCutoff))
    def driverRows: Iterator[SingleAction] =
      snap.allFiles.iterator.map(_.wrap) ++ snap.tombstones.iterator
        .filter(_.deletionTimestamp.forall(_ >= tombCutoff)).map(_.wrap)
    // Parallelism: a checkpoint of N files is tiny metadata; one file per
    // ~100k actions keeps both write and cold-read costs bounded.
    val parts = math.max(1, (fileCount / 100000).toInt)
    val pointer = if (checkpointPolicy(snap) == "v2") {
      val k = sidecarBuckets(snap)
      // Buckets untouched since the previous v2 checkpoint (same bucket
      // count) keep their existing sidecar files; only churned buckets
      // rewrite. Changed set = paths in the delta tail since that
      // checkpoint (the same commits an incremental snapshot folds).
      val prev = lastCheckpoint.filter(p =>
        p.version < snap.version && p.sidecarBuckets.contains(k)).map(_.version)
      val reusable: Map[Int, Seq[SingleAction]] =
        prev.map(previousV2Sidecars).getOrElse(Map.empty)
      val changed: Set[Int] =
        if (reusable.isEmpty) (0 until k).toSet
        else changedSidecarBuckets(prev.get, snap.version, k)
      val toWrite: Set[Int] =
        (0 until k).filter(b => changed.contains(b) || !reusable.contains(b)).toSet
      val scDir = FileNames.sidecarDir(logPath, snap.version)
      def sidecar(st: org.apache.hadoop.fs.FileStatus, b: Int): SingleAction =
        SidecarFile(s"_sidecars/${scDir.getName}/bucket=$b/${st.getPath.getName}",
          st.getLen, st.getModificationTime).wrap
      val written: Seq[SingleAction] =
        if (toWrite.isEmpty) Nil
        else backedRows match {
          case Some(rows) =>
            // Static helper, not the instance method: a closure over `this`
            // would drag the whole cached Snapshot into the task binary.
            val kLocal = k
            val bucketOf = org.apache.spark.sql.functions.udf(
              (p: String) => GraftLog.sidecarBucketOf(p, kLocal))
            rows
              .withColumn("bucket",
                bucketOf(coalesce(col("add.path"), col("remove.path"))))
              .where(col("bucket").isin(toWrite.toSeq: _*))
              .repartition(math.max(parts, toWrite.size min 32), col("bucket"))
              .write.partitionBy("bucket").mode("overwrite")
              .parquet(scDir.toString)
            val fs = store.fs(scDir)
            toWrite.toSeq.flatMap { b =>
              val bDir = new Path(scDir, s"bucket=$b")
              if (!fs.exists(bDir)) Nil
              else fs.listStatus(bDir).toSeq
                .filter(_.getPath.getName.endsWith(".parquet"))
                .map(sidecar(_, b))
            }
          case None =>
            // One sidecar file per changed bucket that holds rows.
            driverRows.toSeq.groupBy(r =>
                sidecarBucket(Option(r.add).map(_.path).getOrElse(r.remove.path), k))
              .filter { case (b, _) => toWrite.contains(b) }
              .toSeq.sortBy(_._1).map { case (b, rows) =>
                val p = new Path(scDir, s"bucket=$b/part-00000.parquet")
                CheckpointCodec.write(session, store, p, rows.iterator)
                sidecar(store.fs(p).getFileStatus(p), b)
              }
        }
      // An unchanged reusable bucket kept its rows (churn would have put
      // it in `changed`), so its previous sidecar carries over as-is.
      val reused = reusable.collect {
        case (b, rows) if !changed.contains(b) => rows
      }.flatten.toSeq
      val sidecars = written ++ reused
      writeCheckpointFile(snap.version, small.iterator ++
        Iterator(CheckpointMetadata(snap.version, sidecars.size.toLong).wrap) ++
        sidecars.iterator)
      LastCheckpoint(snap.version, total, Some(k))
    } else {
      backedRows match {
        case Some(rows) => writeCheckpointDistributed(snap.version,
          session.createDataset(small).toDF.unionByName(rows).repartition(parts))
        case None => writeCheckpointFile(snap.version, small.iterator ++ driverRows)
      }
      LastCheckpoint(snap.version, total)
    }
    store.writeOverwrite(FileNames.lastCheckpointFile(logPath),
      Actions.lastCheckpointToJson(pointer))
  }

  /** The checkpoint at `version` as one parquet file, written in-process.
    * A directory under the name (the distributed layout) cannot be
    * replaced atomically by a file, so it goes first. */
  private def writeCheckpointFile(version: Long,
      rows: Iterator[SingleAction]): Unit = {
    val cpPath = FileNames.checkpointFile(logPath, version)
    if (store.exists(cpPath) && store.fs(cpPath).getFileStatus(cpPath).isDirectory)
      store.deleteRecursive(cpPath)
    CheckpointCodec.write(spark, store, cpPath, rows)
  }

  /** The checkpoint at `version` as the part files of `rows`, written on
    * the executors into a hidden staging directory of the log that moves
    * onto the checkpoint name after the job commits, replacing an entry of
    * either layout there. A job that fails or dies leaves nothing under
    * the name — only the staging directory, which log cleanup expires. */
  private[graft] def writeCheckpointDistributed(version: Long,
      rows: DataFrame): Unit = {
    val cpPath = FileNames.checkpointFile(logPath, version)
    val staging = new Path(logPath,
      s"${GraftLog.stagingPrefix}${java.util.UUID.randomUUID}")
    try {
      rows.write.parquet(staging.toString)
      store.deleteRecursive(cpPath)
      if (!store.fs(staging).rename(staging, cpPath))
        throw new java.io.IOException(s"could not move $staging onto $cpPath")
    } finally store.deleteRecursive(staging)
  }

  /** SidecarFile rows of the v2 checkpoint at `version`, keyed by bucket
    * id; none when that checkpoint is gone (every bucket then rewrites). */
  private def previousV2Sidecars(version: Long): Map[Int, Seq[SingleAction]] = {
    val bucketRe = ".*/bucket=(\\d+)/.*".r
    val rows =
      try CheckpointCodec.reader(spark, store)(
        Seq(FileNames.checkpointFile(logPath, version)))
      catch { case _: java.io.FileNotFoundException => Nil }
    rows.filter(_.sidecar != null)
      .groupBy(_.sidecar.path match {
        case bucketRe(b) => b.toInt
        case _ => -1
      })
      .collect { case (b, rs) if b >= 0 => b -> rs }
  }

  /** Buckets whose paths were added/removed by any commit in
    * (prev, version]; every bucket when the tail cannot be read (full
    * rewrite is always safe). */
  private def changedSidecarBuckets(prev: Long, version: Long, k: Int): Set[Int] =
    try {
      val out = scala.collection.mutable.Set.empty[Int]
      var v = prev + 1
      while (v <= version) {
        Actions.deserialize(store.read(FileNames.deltaFile(logPath, v))).foreach {
          case a: AddFile => out += sidecarBucket(a.path, k)
          case r: RemoveFile => out += sidecarBucket(r.path, k)
          case _ =>
        }
        v += 1
      }
      out.toSet
    } catch { case _: Exception => (0 until k).toSet }

  /** Delete log entries older than both retention and the last checkpoint.
    *
    * Classic-policy checkpoint files below the latest checkpoint expire
    * like commits (v2 manifests/sidecars are never deleted here:
    * incremental checkpoints SHARE sidecar files, so an old manifest's
    * parts may back the newest checkpoint).
    *
    * Under the `checkpointProtection` feature, versions below the
    * protected boundary B (`graft.requireCheckpointProtectionBeforeVersion`)
    * are removed all-or-nothing: either every log file below B is expired
    * AND a checkpoint at >= B exists — then the whole prefix goes in one
    * sweep — or nothing below B is touched. Partial deletion below B
    * could strand a reader between a dropped feature's traces and the
    * boundary checkpoint. (Reference concept: checkpointProtection table
    * feature — re-designed.) */
  def cleanUpExpiredLogs(retentionMillis: Long): Int = {
    val listing = store.list(logPath)
    val cp = usableCheckpoint(listing, Long.MaxValue).getOrElse(return 0)
    val cutoff = System.currentTimeMillis() - retentionMillis
    val snap = update()
    val classicPolicy = checkpointPolicy(snap) != "v2"
    val boundary = snap.metadata.configuration
      .get("graft.requireCheckpointProtectionBeforeVersion").map(_.toLong)
    // (version, path, expired, isCheckpoint) for every version-carrying
    // log file that is at all deletable: commits/checksums below the
    // latest checkpoint, plus (classic policy) superseded checkpoints.
    // A checkpoint is a file or a directory of part files — it deletes
    // recursively, and LAST, so a failure mid-sweep cannot strand a
    // commit prefix whose checkpoint is already gone.
    val entries = listing.flatMap { s =>
      val name = s.getPath.getName
      val commitV = FileNames.deltaVersion(name)
        .orElse(FileNames.checksumVersion(name))
      val cpV = if (classicPolicy) FileNames.checkpointVersion(name) else None
      val isCp = commitV.isEmpty && cpV.isDefined
      commitV.orElse(cpV).filter(v => v < cp)
        .map(v => (v, s.getPath, s.getModificationTime < cutoff, isCp))
    }
    val (below, above) = boundary match {
      case Some(b) => entries.partition(_._1 < b)
      case None => (Seq.empty, entries)
    }
    val belowSweepOk = boundary.forall(b => cp >= b) && below.forall(_._3)
    var n = 0
    (above.filter(_._3) ++ (if (belowSweepOk) below else Seq.empty))
      .sortBy(_._4) // commits/checksums first, checkpoints last
      .foreach { case (_, p, _, isCp) =>
        if (isCp) store.deleteRecursive(p) else store.delete(p)
        n += 1
      }
    // Staging directories of distributed checkpoint writes that died.
    listing.filter(s => s.getPath.getName.startsWith(GraftLog.stagingPrefix) &&
        s.getModificationTime < cutoff)
      .foreach { s => store.deleteRecursive(s.getPath); n += 1 }
    n
  }
}

object GraftLog {
  private val cache = new ConcurrentHashMap[String, GraftLog]()
  private val postCommitLog = org.slf4j.LoggerFactory.getLogger(classOf[GraftLog])

  /** Name prefix of the hidden staging directories of distributed
    * checkpoint writes. */
  private val stagingPrefix = ".cp-staging-"

  /** User-supplied time-travel timestamp -> epoch millis. Accepts
    * 'yyyy-MM-dd[ HH:mm:ss[.f...]]' — a date-only literal means midnight,
    * matching the reference's timestampAsOf behavior. */
  def parseUserTimestamp(s: String): Long = {
    val t = s.trim
    val full = if (t.matches("""\d{4}-\d{2}-\d{2}""")) t + " 00:00:00" else t
    java.sql.Timestamp.valueOf(full).getTime
  }

  /** Stable path -> sidecar bucket; static so executor closures don't
    * capture a GraftLog (and with it the cached snapshot). */
  private[graft] def sidecarBucketOf(path: String, k: Int): Int = {
    var h = 0xCBF29CE484222325L
    path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .foreach(b => h = (h ^ (b & 0xFFL)) * 0x100000001B3L)
    java.lang.Math.floorMod(graft.expressions.VectorKernels.mix(h), k.toLong).toInt
  }

  /** Resolve the log for `path`, FOLLOWING a settled REDIRECT-READY
    * redirect to its destination (loop-guarded) — every public surface
    * (reads, writes, DML, streaming) resolves through here, so queries on
    * a redirected path transparently serve the destination. Redirect
    * administration uses [[forTableNoRedirect]]. */
  def forTable(spark: SparkSession, path: String): GraftLog = {
    var log = forTableNoRedirect(spark, path)
    var hops = 0
    val visited = scala.collection.mutable.Set(log.dataPath.toString)
    var done = false
    while (!done) {
      // The CACHED snapshot decides (first resolution of an existing
      // table pays one update): redirect flips are rare, and every
      // transaction start / read planning refreshes the snapshot anyway,
      // so an externally-set redirect is seen with ordinary MVCC read
      // freshness — without charging every warm resolution any
      // filesystem traffic at all.
      // followDest (not readyDest): a session whose spark.app.name matches
      // a noRedirectRule keeps resolving the SOURCE even when READY — the
      // reference's per-app migration exemption (needRedirect).
      val cached = log.cachedSnapshotOrNull
      val dest =
        if (cached != null) {
          if (cached.version < 0) None
          else TableRedirect.followDest(cached.metadata, spark)
        }
        else if (!log.tableExists) None
        else TableRedirect.followDest(log.snapshot.metadata, spark)
      dest match {
        case None => done = true
        case Some(d) =>
          hops += 1
          require(hops <= 10,
            s"redirect chain from $path exceeds 10 hops — refusing to follow")
          log = forTableNoRedirect(spark, d)
          require(visited.add(log.dataPath.toString),
            s"redirect chain from $path cycles back to ${log.dataPath}")
      }
    }
    log
  }

  /** The log AT `path` itself, redirect or not — for redirect state
    * transitions and introspection of the source table. */
  def forTableNoRedirect(spark: SparkSession, path: String): GraftLog = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val canonical = fs.makeQualified(p).toString
    cache.computeIfAbsent(canonical, _ => new GraftLog(spark, fs.makeQualified(p)))
  }

  def clearCache(): Unit = cache.clear()
}

/**
 * Deferred file state for checkpoint-backed snapshots: the driver holds
 * only the commit TAIL since the checkpoint at `version` (paths
 * added/removed after it); the base file set stays in the checkpoint's
 * parquet until — if ever — a caller forces full materialization. Reads
 * plan through `allFilesDS` (checkpoint scan + overlay), so a 10M-file
 * table is queryable with driver memory bounded by the post-skipping
 * survivors, not the table's file count.
 */
case class LazyFileState(
    version: Long,
    manifestPaths: Seq[String],
    tailAdds: Map[String, AddFile],
    tailRemovedPaths: Set[String],
    tailTombs: Map[String, RemoveFile] = Map.empty,
    tailUntombed: Set[String] = Set.empty) {

  private def actionDS(spark: SparkSession, kind: String) = {
    import org.apache.spark.sql.functions.col
    val schema = spark.emptyDataset[SingleAction](
      org.apache.spark.sql.Encoders.product[SingleAction]).schema
    spark.read.schema(schema).parquet(manifestPaths: _*)
      .where(col(kind).isNotNull).select(col(s"$kind.*"))
  }

  private def masked[T](spark: SparkSession,
      base: Dataset[T], keys: Seq[String],
      enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    if (keys.isEmpty) base
    else {
      import org.apache.spark.sql.functions.broadcast
      import spark.implicits._
      base.join(broadcast(spark.createDataset(keys).toDF("path")),
        Seq("path"), "left_anti").as[T](enc)
    }

  /** Base ∪ overlay as one driver map (the full-materialization path). */
  def materialize(spark: SparkSession): Map[String, AddFile] = {
    val base = actionDS(spark, "add")
      .as[AddFile](org.apache.spark.sql.Encoders.product[AddFile])
      .collect().iterator.map(a => a.path -> a).toMap
    base -- tailRemovedPaths ++ tailAdds
  }

  /** Base ∪ overlay as a Dataset (planning path — never driver-wide). */
  def toDS(spark: SparkSession): Dataset[AddFile] = {
    val enc = org.apache.spark.sql.Encoders.product[AddFile]
    val base = masked(spark, actionDS(spark, "add").as[AddFile](enc),
      (tailAdds.keySet ++ tailRemovedPaths).toSeq, enc)
    if (tailAdds.isEmpty) base
    else base.unionByName(spark.createDataset(tailAdds.values.toSeq)(enc))
  }

  /** Checkpoint tombstones ∪ overlay, materialized to the driver. */
  def materializeTombs(spark: SparkSession): Seq[RemoveFile] = {
    val base = actionDS(spark, "remove")
      .as[RemoveFile](org.apache.spark.sql.Encoders.product[RemoveFile])
      .collect().iterator.map(r => r.path -> r).toMap
    (base -- tailUntombed ++ tailTombs).values.toSeq
  }

  /** The file-action rows a checkpoint of this state holds — every live
    * AddFile plus the tombstones deleted at or after `tombCutoff` — in the
    * full SingleAction schema, read from the checkpoint parquet masked by
    * the overlay, on the executors. */
  def checkpointRows(spark: SparkSession, tombCutoff: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val enc = org.apache.spark.sql.Encoders.product[SingleAction]
    val tombs = tombsDS(spark).where(coalesce(col("deletionTimestamp"),
      lit(Long.MaxValue)) >= tombCutoff)
    toDS(spark).map(_.wrap)(enc).union(tombs.map(_.wrap)(enc)).toDF
  }

  /** Tombstones as a Dataset (VACUUM / checkpoint-scale paths). */
  def tombsDS(spark: SparkSession): Dataset[RemoveFile] = {
    val enc = org.apache.spark.sql.Encoders.product[RemoveFile]
    val base = masked(spark, actionDS(spark, "remove").as[RemoveFile](enc),
      (tailTombs.keySet ++ tailUntombed).toSeq, enc)
    if (tailTombs.isEmpty) base
    else base.unionByName(spark.createDataset(tailTombs.values.toSeq)(enc))
  }
}

/**
 * Immutable view of table state at one version. State is the reconciled
 * fold of actions (last metadata/protocol wins; last action per file path
 * wins; removes become tombstones) — reference rules PROTOCOL.md:913-934.
 * The file state is either held on the driver or checkpoint-backed
 * (`lazyBase`); whole-state work (checkpoint writes, stream starts)
 * runs where it lives.
 */
class Snapshot(
    @transient val log: GraftLog,
    val version: Long,
    val protocol: Protocol,
    val metadata: Metadata,
    val setTransactions: Map[String, Long],
    filesMap0: => Map[String, AddFile],
    tombstones0: => Seq[RemoveFile],
    val timestampMillis: Long,
    val domains: Map[String, String] = Map.empty,
    @transient private[log] val lazyBase: Option[LazyFileState] = None)
  extends Serializable {

  def spark: SparkSession = log.spark

  /** Whether the file state is checkpoint-backed — checkpoint parquet
    * plus a driver-held overlay of later commits — rather than held on
    * the driver. Set at load; materializing the maps does not change it,
    * and a commit folded onto a materialized snapshot yields a
    * driver-held one. */
  private[graft] def checkpointBacked: Boolean = lazyBase.isDefined

  /** Whether the file map is on the driver: always for a driver-held
    * snapshot, once forced for a checkpoint-backed one. */
  @volatile private[graft] var materialized = !checkpointBacked
  private[log] lazy val filesMap: Map[String, AddFile] = {
    val m = filesMap0; materialized = true; m
  }
  @volatile private[graft] var tombsMaterialized = !checkpointBacked
  lazy val tombstones: Seq[RemoveFile] = {
    val t = tombstones0; tombsMaterialized = true; t
  }

  /** Tombstones as a Dataset: on a lazy checkpoint-backed snapshot this
    * scans the checkpoint's remove rows on the executors. */
  def tombstonesDS: Dataset[RemoveFile] = lazyBase match {
    case Some(b) if !tombsMaterialized => b.tombsDS(spark)
    case _ => spark.createDataset(tombstones)(
      org.apache.spark.sql.Encoders.product[RemoveFile])
  }

  /** Same file state viewed through a different read schema — the
    * streaming source's schema-tracking pin (batches resolve columns
    * against the TRACKED metadata, not the table head's). */
  private[graft] def withReadMetadata(m: Metadata): Snapshot =
    new Snapshot(log, version, protocol, m, setTransactions, filesMap,
      tombstones, timestampMillis, domains, lazyBase)

  // Touched on every commit and scan — materialize once per (immutable)
  // snapshot instead of rebuilding the Seq / re-summing per call.
  lazy val allFiles: Seq[AddFile] = filesMap.values.toSeq

  /** Every live AddFile as a driver Seq WITHOUT flipping a lazy
    * snapshot's cached state: whole-table DML (unpredicated DELETE,
    * non-equi REPLACE ON) needs the full candidate list — its commit
    * carries one remove per file, an inherently driver-held Seq — but
    * that cost must stay TRANSIENT: later queries keep planning off the
    * checkpoint instead of a permanently driver-resident file map. */
  def allFilesCollected: Seq[AddFile] =
    if (!materialized) allFilesDS.collect().toSeq
    else allFiles

  // Aggregates of a lazy snapshot come from ONE distributed pass over the
  // checkpoint instead of forcing the whole file map onto the driver.
  @transient private lazy val lazyStats: (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val r = allFilesDS.toDF
      .agg(count(lit(1)), coalesce(sum(col("size")), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }
  def numFiles: Long =
    if (!materialized) lazyStats._1 else filesMap.size
  lazy val sizeInBytes: Long =
    if (!materialized) lazyStats._2
    else allFiles.iterator.map(_.size).sum

  /** Distributed view for stats-skipping / VACUUM-scale operations. For a
    * checkpoint-backed lazy snapshot this scans the checkpoint parquet on
    * the executors — the driver never holds the file rows. */
  def allFilesDS: Dataset[AddFile] = lazyBase match {
    case Some(b) if !materialized => b.toDS(spark)
    case _ =>
      spark.createDataset(allFiles)(org.apache.spark.sql.Encoders.product[AddFile])
  }

  /** The live files that carry a deletion vector. Read from the driver
    * map when it is held; otherwise collected from [[allFilesDS]], at DV
    * count scale, so a read of a checkpoint-backed snapshot plans without
    * loading every file. Reads ask this whatever the protocol says, since
    * older writers could leave DV files under a protocol without the
    * feature. */
  @transient lazy val dvFiles: Seq[AddFile] =
    if (materialized) allFiles.filter(_.dvPath.isDefined)
    else allFilesDS.filter(
      org.apache.spark.sql.functions.col("dvPath").isNotNull).collect().toSeq

  /** Cached distributed skipping state: one row per live file with the
    * stats JSON pre-parsed, persisted once per (immutable) snapshot so
    * repeated queries against a large table skip the per-query
    * serialize-and-parse pass over the whole file list (reference
    * concept: DataSkippingReader over the cached state dataset,
    * util/StateCache.scala). The stats schema is metadata-determined and
    * metadata is snapshot-fixed, so the first caller's schema is THE
    * schema for this snapshot. */
  @transient private var skippingViewCache: org.apache.spark.sql.DataFrame = _
  private[graft] def skippingView(
      statsVisible: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = synchronized {
    if (skippingViewCache == null) {
      import org.apache.spark.sql.functions.{col, from_json}
      skippingViewCache = allFilesDS
        .withColumn("_parsed", from_json(col("stats"),
          graft.stats.StatsSkipping.statsSchema(statsVisible)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    skippingViewCache
  }
  private[graft] def invalidateSkippingView(): Unit = synchronized {
    if (skippingViewCache != null) {
      skippingViewCache.unpersist(blocking = false)
      skippingViewCache = null
    }
  }

  def getAddFile(path: String): Option[AddFile] = filesMap.get(path)

  def txnVersion(appId: String): Long = setTransactions.getOrElse(appId, -1L)

  /** Fold `tail` commit files on top of this snapshot (incremental
    * update). A still-lazy checkpoint-backed snapshot stays lazy: the new
    * commits extend the driver-held OVERLAY (O(tail), not O(files)), so
    * read-only refreshes of a huge table never materialize the base. */
  private[log] def advance(tail: Seq[(Long, Path)]): Snapshot = {
    var state = NonFileState(protocol, metadata, setTransactions, domains)
    val stayLazy = !materialized && !tombsMaterialized
    var files: Map[String, AddFile] = if (stayLazy) Map.empty else filesMap
    var tailAdds = lazyBase.map(_.tailAdds).getOrElse(Map.empty)
    var tailRemoved = lazyBase.map(_.tailRemovedPaths).getOrElse(Set.empty)
    var tombs: Map[String, RemoveFile] =
      if (stayLazy) Map.empty else tombstones.map(r => r.path -> r).toMap
    var tailTombs = lazyBase.map(_.tailTombs).getOrElse(Map.empty)
    var tailUntombed = lazyBase.map(_.tailUntombed).getOrElse(Set.empty)
    var ts = timestampMillis
    tail.foreach { case (_, deltaPath) =>
      val status = log.store.fs(deltaPath).getFileStatus(deltaPath)
      ts = status.getModificationTime
      val acts = Actions.deserialize(log.store.read(deltaPath))
      // A legal commit always carries at least CommitInfo. An empty read
      // means we caught a non-atomic writer mid-PUT — folding it as a
      // no-op would drop its actions from the cached state forever.
      if (acts.isEmpty) throw new IllegalStateException(
        s"Commit file $deltaPath read back empty — torn or in-flight write")
      acts.foreach {
        case a: AddFile =>
          if (stayLazy) {
            tailAdds += a.path -> a; tailRemoved -= a.path
            tailTombs -= a.path; tailUntombed += a.path
          } else { files += a.path -> a; tombs -= a.path }
        case r: RemoveFile =>
          if (stayLazy) {
            tailAdds -= r.path; tailRemoved += r.path
            tailTombs += r.path -> r; tailUntombed -= r.path
          } else { files -= r.path; tombs += r.path -> r }
        case other => state = state.fold(other)
      }
    }
    if (stayLazy) {
      val nb = lazyBase.get.copy(tailAdds = tailAdds,
        tailRemovedPaths = tailRemoved, tailTombs = tailTombs,
        tailUntombed = tailUntombed)
      new Snapshot(log, tail.last._1, state.protocol, state.metadata,
        state.txns, nb.materialize(log.spark), nb.materializeTombs(log.spark),
        ts, state.domains, Some(nb))
    } else {
      new Snapshot(log, tail.last._1, state.protocol, state.metadata,
        state.txns, files, tombs.values.toSeq, ts, state.domains)
    }
  }
}

/** The non-file part of table state — protocol, metadata, app
  * transaction versions and domains — and the one rule for folding an
  * action into it. File actions are the caller's; every other action
  * (CommitInfo, CheckpointMetadata, SidecarFile, ...) leaves it as is. */
private[log] case class NonFileState(protocol: Protocol, metadata: Metadata,
    txns: Map[String, Long], domains: Map[String, String]) {
  def fold(a: Action): NonFileState = a match {
    case m: Metadata => copy(metadata = m)
    case p: Protocol => copy(protocol = p)
    case t: SetTransaction => copy(txns = txns + (t.appId -> t.version))
    case d: DomainMetadata => copy(domains =
      if (d.removed) domains - d.domain else domains + (d.domain -> d.configuration))
    case _ => this
  }
}

private[log] object NonFileState {
  val empty = NonFileState(Protocol(), null, Map.empty, Map.empty)
}

object Snapshot {
  def empty(log: GraftLog): Snapshot =
    new Snapshot(log, -1L, Protocol(), Metadata(schemaString = null),
      Map.empty, Map.empty, Nil, 0L)

  /** Past this many checkpoint actions, state reconstruction runs as a
    * distributed Spark job instead of the driver fold. */
  val DRIVER_FOLD_THRESHOLD_CONF = "spark.graft.stateReconstruction.driverThreshold"
  val DRIVER_FOLD_THRESHOLD_DEFAULT = 200000L

  /** Cold build: optional Parquet checkpoint + JSON deltas folded on top.
    *
    * Small checkpoints fold on the driver, read in-process by
    * [[CheckpointCodec]] with no Spark job. Large ones reconstruct
    * DISTRIBUTED: graft checkpoints are state dumps (one row per live file
    * — the reconcile the reference replays with repartition+sort,
    * Snapshot.scala:598-655, already happened at checkpoint time), so the
    * snapshot stays checkpoint-backed and executors decode the parquet in
    * parallel — peak driver memory bounded by the LIVE file state it must
    * hold for planning anyway. */
  def build(log: GraftLog, checkpointVersion: Option[Long],
      deltas: Seq[(Long, Path)], version: Long): Snapshot = {
    val base = checkpointVersion match {
      case Some(cp) =>
        val session = log.spark
        import session.implicits._
        import org.apache.spark.sql.functions.col
        val schema = CheckpointCodec.schema
        val cpPath = FileNames.checkpointFile(log.logPath, cp)
        def readDS(paths: Seq[Path]) =
          session.read.schema(schema).parquet(paths.map(_.toString): _*)
            .as[SingleAction]
        lazy val manifest = readDS(Seq(cpPath))
        // One reader for the manifest and its sidecars.
        val read = CheckpointCodec.reader(session, log.store)
        lazy val manifestRows = read(Seq(cpPath))
        // V2 checkpoints: file actions live in sidecar parquet; the
        // manifest is metadata-scale (SidecarFile pointers included) and
        // is read in-process. The `_last_checkpoint` pointer tells a
        // classic checkpoint from a v2 one; only an absent/stale pointer
        // probes, with a job, a checkpoint of unknown size.
        val pointer = log.lastCheckpoint.filter(_.version == cp)
        val sidecars: Seq[SidecarFile] = pointer match {
          case Some(p) if p.sidecarBuckets.isEmpty => Nil
          case Some(_) => manifestRows.flatMap(r => Option(r.sidecar))
          case None => manifest.filter(col("sidecar").isNotNull)
            .select(col("sidecar.*")).as[SidecarFile].collect().toSeq
        }

        val threshold = log.spark.conf
          .getOption(DRIVER_FOLD_THRESHOLD_CONF).map(_.toLong)
          .getOrElse(DRIVER_FOLD_THRESHOLD_DEFAULT)
        val sidecarPaths = sidecars.map(s => new Path(log.logPath, s.path))
        // With no (or a stale) `_last_checkpoint` size hint — e.g. time
        // travel to an OLD checkpointed version — one distributed count
        // decides the venue; a 1M-action checkpoint must not stream
        // through the driver fold just because the pointer moved on.
        lazy val countedSize =
          if (sidecars.isEmpty) manifest.count() else readDS(sidecarPaths).count()
        if (pointer.map(_.size).getOrElse(countedSize) > threshold) {
          // Distributed: executors decode per-kind pruned scans in
          // parallel; the driver receives ready arrays. The non-file
          // actions always come from the manifest (metadata-scale).
          val state = manifest.filter(col("add").isNull && col("remove").isNull)
            .collect().foldLeft(NonFileState.empty)((st, a) => st.fold(a.unwrap))
          // Live adds AND tombstones stay IN the checkpoint parquet: the
          // snapshot holds a LazyFileState pointer and materializes the
          // driver maps only if a whole-state caller forces them —
          // planning/skipping/VACUUM run over the executor-side scans.
          val manifestPaths = (if (sidecars.isEmpty) Seq(cpPath) else sidecarPaths)
            .map(_.toString)
          val lazyState = LazyFileState(cp, manifestPaths, Map.empty, Set.empty)
          new Snapshot(log, cp, state.protocol, state.metadata, state.txns,
            lazyState.materialize(log.spark),
            lazyState.materializeTombs(log.spark), 0L, state.domains,
            Some(lazyState))
        } else {
          // Small checkpoint: ONE in-process pass folds every action kind
          // of the manifest and its sidecars.
          var state = NonFileState.empty
          val files = scala.collection.mutable.HashMap.empty[String, AddFile]
          val tombs = scala.collection.mutable.HashMap.empty[String, RemoveFile]
          val rows = manifestRows.iterator ++
            read(sidecarPaths).iterator
          rows.foreach {
            _.unwrap match {
              case a: AddFile => files.put(a.path, a)
              case r: RemoveFile => tombs.put(r.path, r)
              case other => state = state.fold(other)
            }
          }
          new Snapshot(log, cp, state.protocol, state.metadata, state.txns,
            files.toMap, tombs.values.toSeq, 0L, state.domains)
        }
      case None => empty(log)
    }
    if (deltas.isEmpty) base else base.advance(deltas)
  }
}
