package graft.tx

import java.nio.file.FileAlreadyExistsException

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

import graft.files.{GraftFileIndex, TransactionalWrite}
import graft.log._
import graft.stats.StatsSkipping

/** Concurrent-commit conflict taxonomy (reference concept:
  * io.delta.exceptions.* + ConflictChecker.scala:280-319). */
class GraftConcurrentModificationException(msg: String)
    extends RuntimeException(msg)
class ConcurrentAppendException(msg: String)
    extends GraftConcurrentModificationException(msg)
class ConcurrentDeleteReadException(msg: String)
    extends GraftConcurrentModificationException(msg)
class ConcurrentDeleteDeleteException(msg: String)
    extends GraftConcurrentModificationException(msg)
class MetadataChangedException(msg: String)
    extends GraftConcurrentModificationException(msg)
class ProtocolChangedException(msg: String)
    extends GraftConcurrentModificationException(msg)
class ConcurrentTransactionException(msg: String)
    extends GraftConcurrentModificationException(msg)

/**
 * Optimistic-concurrency transaction: pin a snapshot, track what is read,
 * stage writes, then commit with retry — on a version clash the winning
 * commits are re-read and checked for logical conflicts; disjoint work
 * retries transparently. (Reference concept: OptimisticTransaction.scala
 * commit/doCommitRetryIteratively/checkForConflicts — re-designed.)
 */
class OptimisticTransaction(val log: GraftLog, val snapshot: Snapshot) {

  /** Set by [[graft.commands.ConvertFromDelta]] (initial import AND sync):
    * this commit's file actions originate from the table's own Delta log,
    * not from this engine's writer. Typed replacement for the former
    * `operation.startsWith("CONVERT FROM DELTA")` string check — a renamed
    * operation constant can no longer silently re-freeze converts, and no
    * other caller can spoof the bypass by naming its operation CONVERT…. */
  private[graft] var deltaFileImport: Boolean = false

  private var newMetadata: Option[Metadata] = None
  // (partitionFilters, dataFilters) per filterFiles call, physical names.
  private val readPredicates =
    mutable.ArrayBuffer.empty[(Seq[Expression], Seq[Expression])]
  private var readWholeTableFlag = false
  private val readFilePaths = mutable.Set.empty[String]
  private var committed = false

  def metadata: Metadata = newMetadata.getOrElse(snapshot.metadata)

  def readVersion: Long = snapshot.version

  def updateMetadata(m: Metadata): Unit = {
    require(!committed, "Transaction already committed")
    // Without column mapping the logical names ARE the parquet field
    // names, and parquet cannot carry ' ,;{}()\n\t=' — refuse at the
    // single funnel every schema-bearing commit passes through, as the
    // reference does (its SchemaUtils.checkSchemaFieldNames), instead of
    // writing a table other engines cannot read back.
    if (!graft.schema.ColumnMapping.isEnabled(m)) {
      val bad = graft.schema.SchemaUtils.findInvalidNames(m.schema)
      require(bad.isEmpty,
        s"column name(s) [${bad.mkString(", ")}] contain characters " +
          "invalid in parquet field names (' ,;{}()\\n\\t='); enable " +
          "column mapping (graft.columnMapping.mode = name) to use them")
    }
    // catalogManaged (CCv2) requires live in-commit timestamps, not just
    // the protocol feature (the reference auto-sets
    // delta.enableInCommitTimestamps when catalog ownership is enabled):
    // the catalog orders commits by its own clock, and file mtimes would
    // fork time travel from that ordering. Single funnel — every
    // schema/config-bearing commit passes through here.
    // An explicit 'false' is overridden too, not just an absent key: a
    // catalog-owned table without live ICT is exactly the time-travel
    // fork described above (the reference refuses to disable ICT on
    // catalog-owned tables).
    val withIct =
      if (m.configuration.contains("graft.catalogManaged.coordinator") &&
          !m.configuration.get("graft.enableInCommitTimestamps")
            .exists(_.equalsIgnoreCase("true")))
        m.copy(configuration =
          m.configuration + ("graft.enableInCommitTimestamps" -> "true"))
      else m
    newMetadata = Some(withIct)
  }

  def readWholeTable(): Unit = readWholeTableFlag = true

  def txnVersion(appId: String): Long = snapshot.txnVersion(appId)

  /**
   * Data-skipping file selection; records the partition predicates and the
   * chosen files for conflict detection.
   */
  def filterFiles(
      partitionFilters: Seq[Expression] = Nil,
      dataFilters: Seq[Expression] = Nil): Seq[AddFile] = {
    // Predicates arrive with LOGICAL names; file metadata (partition
    // values, stats) is keyed physically.
    val m = metadata
    val pf = partitionFilters.map(graft.schema.ColumnMapping.toPhysicalExpr(_, m))
    val df = dataFilters.map(graft.schema.ColumnMapping.toPhysicalExpr(_, m))
    val partSchema = graft.schema.ColumnMapping.physicalPartitionSchema(m)
    val skipped = StatsSkipping.pruneAndFilter(
      log.spark, snapshot, None, partSchema, pf,
      graft.schema.ColumnMapping.physicalDataSchema(m), df,
      graft.files.GraftFileIndex.statsColumns(m))
    if (partitionFilters.isEmpty && dataFilters.isEmpty) readWholeTableFlag = true
    else readPredicates += ((pf, df))
    readFilePaths ++= skipped.map(_.path)
    skipped
  }

  /** Write `data` as table files (no commit yet); returns AddFiles. */
  def writeFiles(data: DataFrame, dataChange: Boolean = true): Seq[AddFile] = {
    val m = metadata
    val physical = graft.schema.ColumnMapping.renameToPhysical(data, m)
    // Variant shredding (graft.enableVariantShredding): variant columns
    // write as typed parquet sub-columns via Spark's own shredding writer
    // — reads reassemble transparently; the reader-gating feature locks
    // out clients that would misread the shredded layout.
    // Recursive: a variant nested inside a struct/array/map shreds too.
    def anyVariant(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.VariantType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => anyVariant(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => anyVariant(a.elementType)
      case mp: org.apache.spark.sql.types.MapType =>
        anyVariant(mp.keyType) || anyVariant(mp.valueType)
      case _ => false
    }
    val hasVariant = m.schema.fields.exists(f => anyVariant(f.dataType))
    val shred = m.configuration
      .getOrElse("graft.enableVariantShredding", "false").toBoolean && hasVariant
    // Spark 4.1 shreds by default — a table that has NOT declared the
    // reader-gating feature must write unshredded, or readers without
    // the feature would be handed a layout the protocol never announced.
    // The flags ride the write-scoped session clone (part of its cache
    // key), NOT the shared conf: concurrent variant-table writes each
    // get the clone matching their own layout choice, and a mixed
    // variant/plain workload never perturbs the parent fingerprint.
    val layoutConfs =
      if (!hasVariant) Map.empty[String, String]
      else Map(
        "spark.sql.variant.writeShredding.enabled" -> shred.toString,
        "spark.sql.variant.inferShreddingSchema" -> shred.toString)
    // Randomized file prefixes (graft.randomizeFilePrefixes): data files
    // land under short random key prefixes instead of hive-style dirs,
    // fanning a write-heavy table's object-store load across key ranges.
    val randomPrefix =
      if (m.configuration.getOrElse("graft.randomizeFilePrefixes", "false").toBoolean)
        Some(m.configuration.getOrElse("graft.randomPrefixLength", "2").toInt)
      else None
    // materializePartitionColumns: the property auto-enables the writer
    // feature; an already-upgraded protocol enforces it even if the
    // property was later unset without DROP FEATURE (reference
    // TransactionalWrite.scala:479 keys off isFeatureSupported). The
    // standalone writePartitionColumnsToParquet property is the
    // feature-less per-table knob; unlike the reference's current
    // default-true (DeltaConfig.scala:1036-1043), graft defaults to the
    // elided layout its tables have always had — materialization is
    // opt-in per table.
    val materializePartCols =
      m.configuration.getOrElse(
        "graft.enableMaterializePartitionColumnsFeature", "false").toBoolean ||
      snapshot.protocol.writerFeatureNames.contains(
        TableFeatures.materializePartitionColumns.name) ||
      m.configuration.getOrElse(
        "graft.writePartitionColumnsToParquet", "false").toBoolean
    val adds = TransactionalWrite.writeFiles(
      log.spark, log.dataPath, physical,
      graft.schema.ColumnMapping.physicalPartitionColumns(m),
      graft.schema.ColumnMapping.physicalDataSchema(m),
      optimizeWrite = m.configuration
        .get("graft.optimizeWrite").map(_.toBoolean),
      statsColumns = graft.files.GraftFileIndex.statsColumns(m),
      extraConfs = layoutConfs,
      randomPrefixLength = randomPrefix,
      materializePartitionColumns = materializePartCols)
    if (dataChange) adds else adds.map(_.copy(dataChange = false))
  }

  /** Commit with conflict-checked retry; returns the committed version. */
  def commit(
      actions: Seq[Action],
      operation: String,
      operationParameters: Map[String, String] = Map.empty,
      operationMetrics: Map[String, String] = Map.empty): Long = {
    require(!committed, "Transaction already committed")
    // Writer-side protocol gate: committing under an unknown writer
    // feature could silently break the invariant that feature maintains.
    val proto = snapshot.protocol
    if (snapshot.version >= 0 && !TableFeatures.writable(proto,
        log.SUPPORTED_WRITER_VERSION, TableFeatures.supportedWriterFeatures)) {
      val unknown = proto.writerFeatureNames -- TableFeatures.supportedWriterFeatures
      throw new IllegalStateException(
        s"Table ${log.dataPath} requires writer version ${proto.minWriterVersion}" +
          (if (unknown.nonEmpty) s" with unsupported writer features $unknown"
           else "") +
          s"; this build supports up to ${log.SUPPORTED_WRITER_VERSION}")
    }
    // graft.appendOnly tables admit no data-changing removes: DML and
    // overwrites fail; OPTIMIZE/clustering (dataChange=false) still run.
    if (metadata.configuration.getOrElse("graft.appendOnly", "false").toBoolean &&
        actions.exists {
          case r: RemoveFile => r.dataChange
          case _ => false
        }) {
      throw new UnsupportedOperationException(
        s"Table ${log.dataPath} is append-only (graft.appendOnly=true); " +
          s"'$operation' would remove existing data")
    }
    // Geo-imported tables are READ-ONLY: the GEOMETRY/GEOGRAPHY columns
    // read back as WKB binary, but this engine cannot write the annotated
    // geo parquet layout — a file-changing commit would fork the table's
    // physical format. Only the CONVERT import itself (and its SYNC,
    // whose files come from the Delta side) may commit file actions.
    // (Reference concept: DeltaGeoSpatial.failIfSchemaHasGeoColumn.)
    if (!deltaFileImport &&
        graft.schema.GeoSupport.hasGeoColumns(metadata.schema) &&
        actions.exists {
          case _: AddFile | _: RemoveFile | _: AddCdcFile => true
          case _ => false
        }) {
      throw new UnsupportedOperationException(
        s"Table ${log.dataPath} carries imported GEOMETRY/GEOGRAPHY " +
          s"columns (${graft.schema.GeoSupport.geoColumnNames(metadata.schema)
            .mkString(", ")}) and is a read-only import; '$operation' " +
          "would write data files this engine cannot produce in the geo " +
          "parquet layout")
    }
    // Redirected tables admit no file-changing commits at the SOURCE in
    // any redirect state: in-progress states are read-only by contract
    // (reference TableRedirect.scala:54-89), and a READY source is frozen
    // (queries resolve to the destination; a raw handle must not fork
    // it). State transitions are metadata-only commits and pass.
    // The gate checks BOTH the snapshot's metadata (the state being
    // transitioned FROM) and the transaction's updated metadata: a commit
    // that rewrites configuration to a pre-redirect version (RESTORE
    // through a no-follow handle) must not launder the freeze away by
    // removing the property in the same commit that changes files.
    // Exception: a READY redirect's noRedirectRules may name operations a
    // matching application is still allowed to commit at the source
    // (reference OptimisticTransaction.scala:1757-1784
    // performNoRedirectRulesCheck) — the write-side half of the per-app
    // migration exemption. In-progress states admit no exemption: the
    // transition itself is what the freeze protects (the reference throws
    // invalidCommitIntermediateRedirectState BEFORE consulting rules).
    // A deltaFileImport commit (CONVERT FROM DELTA / SYNC) may be the
    // commit that INTRODUCES the redirect: the property rides in from the
    // Delta side together with the imported file listing (only a
    // noRedirectRules-exempt application reaches a convert of a READY
    // redirected source in the first place; see ConvertFromDelta
    // redirectCheck). So an import is exempt from the NEW-metadata half
    // of the gate — but NOT from the snapshot half: once the GRAFT
    // table's own live metadata carries a redirect, a SYNC is a writer
    // like any other (READY + allowsOperation required, in-progress
    // always refused), or it would fork a frozen source whose readers are
    // served by the destination. The skipCheck conf is the reference's
    // internal operational escape hatch (DeltaSQLConf.SKIP_REDIRECT_
    // FEATURE, honored only by the commit gate — routing still follows):
    // a repair session may set it to commit at a frozen source.
    if (!log.spark.conf.getOption("spark.graft.redirect.skipCheck")
          .contains("true"))
    (TableRedirect.get(snapshot.metadata) orElse
        (if (deltaFileImport) None else TableRedirect.get(metadata)))
      .foreach { r =>
      if (actions.exists {
            case _: AddFile | _: RemoveFile | _: AddCdcFile => true
            case _ => false
          } &&
          !(r.state == TableRedirect.STATE_READY &&
            TableRedirect.allowsOperation(r, log.spark, operation))) {
        throw new UnsupportedOperationException(
          s"Table ${log.dataPath} is redirected (${r.state} -> ${r.dest}); " +
            s"'$operation' cannot change data at the source — query the " +
            "table through its public path (served by the destination), " +
            "add a noRedirectRules exemption for this application, " +
            "or drop the redirect first")
      }
    }
    val isFirstCommit = snapshot.version < 0
    val prefix = mutable.ArrayBuffer.empty[Action]
    prefix += CommitInfo(
      timestamp = System.currentTimeMillis(),
      operation = operation,
      operationParameters = operationParameters,
      readVersion = if (isFirstCommit) None else Some(snapshot.version),
      isolationLevel = Some(isolationLevel),
      operationMetrics = operationMetrics,
      userMetadata = log.spark.conf.getOption("graft.commitInfo.userMetadata"))
    if (isFirstCommit) {
      require(newMetadata.isDefined, "First commit must set table metadata")
      // Born at the minimal protocol its declared features need — a
      // table created with DVs enabled starts on feature vectors.
      prefix += TableFeatures.minimalProtocol(
        TableFeatures.activeFeatures(newMetadata.get))
    }
    newMetadata.foreach(prefix += _)
    var finalActions: Seq[Action] = withDvFeature(prefix.toSeq ++ actions)
    // Row tracking: stamp fresh base row ids from the domain watermark.
    // Ids assign whenever the PROTOCOL supports the feature, not just when
    // the metadata switch is on — backfill commits run with feature
    // support but the property still off (the property flips only once
    // every live file has an id), exactly the reference's split between
    // rowTracking "supported" and "enabled".
    val rowTracking = (RowTracking.isEnabled(metadata) ||
      TableFeatures.vectorFeatures(snapshot.protocol)
        .contains(TableFeatures.rowTracking)) &&
      !RowTracking.isSuspended(metadata)
    if (rowTracking) {
      val (assigned, domainOpt) = RowTracking.assign(finalActions, snapshot.domains)
      finalActions = assigned ++ domainOpt.toSeq
    }
    stageForConflictCheck(finalActions)

    var attemptVersion = snapshot.version + 1
    val maxRetries = 20
    var retries = 0
    while (retries <= maxRetries) {
      try {
        val attempt =
          if (rowTracking) RowTracking.stampCommitVersion(finalActions, attemptVersion)
          else finalActions
        // trustedCounts: this path's removes always reference live files
        // and its adds never silently replace one, so the checksum
        // aggregates fold incrementally — O(commit), not O(table). The
        // exceptions are the ops that RE-ADD live paths with no paired
        // remove (re-adding replaces in the fold, so the incremental
        // count would double-count): RESTORE's dv-differing re-adds,
        // row-tracking backfill/unbackfill, stats recompute, and CONVERT
        // SYNC (a synced Delta commit may carry an unpaired dv re-add).
        // Those recompute exact aggregates — one pass, maintenance-rate.
        log.writeCommit(attemptVersion, attempt,
          trustedCounts =
            !OptimisticTransaction.REPLACING_ADD_OPS.contains(operation))
        committed = true
        return attemptVersion
      } catch {
        case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          // On a coordinated table the WINNER of this version may have
          // died between arbitration and its synchronous backfill — the
          // commit then exists only in the coordinator's ledger. A
          // refresh runs the ensureBackfilled heal, after which the
          // winning file is readable; a still-missing file is a genuine
          // anomaly and the re-read throws loudly.
          val winning =
            try log.readCommit(attemptVersion)
            catch {
              case _: java.io.FileNotFoundException =>
                log.update()
                log.readCommit(attemptVersion)
            }
          checkForConflicts(winning, attemptVersion)
          attemptVersion += 1
          retries += 1
      }
    }
    throw new GraftConcurrentModificationException(
      s"Commit failed after $maxRetries conflict-checked retries")
  }

  /** `actions` (CommitInfo first) with the protocol they leave the table
    * at raised to list deletion vectors when one of their AddFiles
    * carries a DV. Reads apply DVs only under that feature, so the commit
    * that brings a table's first DV — DML, clone, restore or convert
    * sync — brings the feature with it. */
  private def withDvFeature(actions: Seq[Action]): Seq[Action] = {
    val proto = actions.collect { case p: Protocol => p }.lastOption
      .getOrElse(snapshot.protocol)
    val carriesDv = actions.exists {
      case a: AddFile => a.dvPath.isDefined
      case _ => false
    }
    if (!carriesDv || graft.dv.DeletionVectors.supported(proto)) actions
    else {
      val raised = TableFeatures.requiredUpgrade(proto, metadata,
        TableFeatures.deletionVectors).get
      actions.head +: raised +: actions.tail.filterNot(_.isInstanceOf[Protocol])
    }
  }

  private def isolationLevel: String =
    metadata.configuration.getOrElse("graft.isolationLevel", "Serializable")

  /** Per-commit effective level (reference concept:
    * OptimisticTransaction.getIsolationLevelToUse): commits that change
    * no data — OPTIMIZE/clustering rearrangements, metadata-only commits
    * — run at SnapshotIsolation regardless of the table level, so
    * background compaction never aborts on concurrent appends or on
    * deletes of files it read but does not rewrite (delete/delete on the
    * files it DOES rewrite still conflicts at every level). */
  private def effectiveIsolation: String = {
    val dataChanged = stagedActions.exists {
      case a: AddFile => a.dataChange
      case r: RemoveFile => r.dataChange
      case _ => false
    }
    if (!dataChanged) "SnapshotIsolation" else isolationLevel
  }

  /**
   * Logical conflict check against one winning commit, in the reference's
   * severity order: protocol, metadata, appends vs our reads, deletes vs
   * our reads, delete/delete, idempotent-txn clashes.
   */
  private def checkForConflicts(winning: Seq[Action], winningVersion: Long): Unit = {
    val ourRemoves = removedPaths()
    // Paths we add without a paired remove. For fresh writes these are
    // brand-new names no winner can have removed; the set only bites when
    // we RE-add a live path (backfill-style metadata rewrite).
    val ourReAdds = stagedActions.collect {
      case a: AddFile => a.path
    }.toSet -- ourRemoves
    winning.foreach {
      case _: Protocol =>
        throw new ProtocolChangedException(
          s"Protocol changed by concurrent commit $winningVersion")
      case _: Metadata =>
        throw new MetadataChangedException(
          s"Table metadata changed by concurrent commit $winningVersion")
      case _ =>
    }
    val winningAdds = winning.collect { case a: AddFile if a.dataChange => a }
    if (winningAdds.nonEmpty && effectiveIsolation == "Serializable" &&
        readsAny(winningAdds)) {
      throw new ConcurrentAppendException(
        s"Files added by concurrent commit $winningVersion overlap the read set " +
          s"(e.g. ${winningAdds.head.path})")
    }
    val winningRemoves = winning.collect { case r: RemoveFile => r }
    winningRemoves.foreach { r =>
      // SnapshotIsolation permits write skew: reads are not protected
      // against concurrent deletes (appends-over-reads are already only
      // checked under Serializable above). Delete-delete stays fatal at
      // every level — both txns would tombstone the same file.
      if (effectiveIsolation != "SnapshotIsolation" &&
          (readFilePaths.contains(r.path) || readWholeTableFlag)) {
        throw new ConcurrentDeleteReadException(
          s"File ${r.path} read by this transaction was removed by commit $winningVersion")
      }
      if (ourRemoves.contains(r.path)) {
        throw new ConcurrentDeleteDeleteException(
          s"File ${r.path} removed by both this transaction and commit $winningVersion")
      }
      // Re-adding an EXISTING path (metadata rewrite with no paired
      // remove — e.g. row-tracking backfill) after a winner tombstoned it
      // would resurrect the file in the fold. Fatal at every isolation
      // level, same as delete/delete.
      if (ourReAdds.contains(r.path)) {
        throw new ConcurrentDeleteReadException(
          s"File ${r.path} re-added by this transaction was removed by commit $winningVersion")
      }
    }
    val ourTxnApps = stagedTxnAppIds
    winning.collect { case t: SetTransaction => t }.foreach { t =>
      if (ourTxnApps.contains(t.appId)) {
        throw new ConcurrentTransactionException(
          s"Idempotent txn for app ${t.appId} also committed by $winningVersion")
      }
    }
    // Two commits advancing the same metadata domain (e.g. the row-id
    // watermark) cannot both apply — the staged values were computed
    // against the losing snapshot.
    val ourDomains = stagedActions.collect { case d: DomainMetadata => d.domain }.toSet
    winning.collect { case d: DomainMetadata => d }.foreach { d =>
      if (ourDomains.contains(d.domain)) {
        throw new ConcurrentTransactionException(
          s"Metadata domain ${d.domain} also advanced by commit $winningVersion")
      }
    }
  }

  /** Would any of these concurrently-added files fall in our read set?
    * Predicate-level granularity, matching the reference's
    * ConflictChecker.checkForAddedFilesThatShouldHaveBeenReadByCurrentTxn:
    * partition predicates prune on partitionValues, then data predicates
    * run in stats space over the winning files' min/max — a concurrent
    * append whose stats provably miss every read predicate does not
    * conflict, so disjoint-range writers retry cleanly instead of
    * aborting. Files without stats stay conservative (conflict).
    * (Recorded predicates are in physical column space, matching the
    * AddFiles' partitionValues and stats keys.) */
  private def readsAny(adds: Seq[AddFile]): Boolean = {
    if (readWholeTableFlag) return true
    if (readPredicates.isEmpty) return false
    val m = metadata
    val partSchema = graft.schema.ColumnMapping.physicalPartitionSchema(m)
    readPredicates.exists { case (pf, df) =>
      val partSurvivors =
        if (pf.isEmpty) adds
        else GraftFileIndex.prunePartitions(adds, partSchema, pf)
      if (partSurvivors.isEmpty) false
      else if (df.isEmpty) true
      else StatsSkipping.filterFiles(
        log.spark, partSurvivors, graft.schema.ColumnMapping.physicalDataSchema(m),
        df, GraftFileIndex.statsColumns(m)).nonEmpty
    }
  }

  // Staged actions visibility for conflict checks: the caller passes
  // actions to commit(); we capture removes/txns there instead of keeping
  // mutable staging state. These are filled by commit() just before retry.
  private var stagedActions: Seq[Action] = Nil
  private[graft] def stageForConflictCheck(actions: Seq[Action]): Unit =
    stagedActions = actions
  private def removedPaths(): Set[String] =
    stagedActions.collect { case r: RemoveFile => r.path }.toSet
  private def stagedTxnAppIds: Set[String] =
    stagedActions.collect { case t: SetTransaction => t.appId }.toSet
}


object OptimisticTransaction {
  /** Operations whose commits may RE-ADD a live path without a paired
    * remove — the incremental checksum fold would double-count them. */
  private[graft] val REPLACING_ADD_OPS = Set(
    "RESTORE", "ROW TRACKING BACKFILL", "ROW TRACKING UNBACKFILL",
    "COMPUTE STATS", "CONVERT FROM DELTA SYNC")
}
