package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => LegacyOffset, Source}
import org.apache.spark.sql.types.StructType

import graft.commands.Cdc
import graft.files.GraftFileIndex
import graft.log._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.functions.{col, lit}

/**
 * Streaming offset: a position in the ordered stream of files — first the
 * initial snapshot's files (sorted), then each commit's added files in
 * log order. `index` is the LAST CONSUMED file position within
 * `version` (-1 = nothing consumed yet). (Reference concept:
 * sources/DeltaSourceOffset.scala:55-78 — re-designed.)
 */
case class GraftSourceOffset(
    reservoirVersion: Long,
    index: Long,
    isInitialSnapshot: Boolean,
    startVersion: Option[Long] = None) extends LegacyOffset {
  // `startVersion` pins the STREAM ORIGIN for startingVersion/Timestamp
  // streams (isInitialSnapshot=false): batch 0's replay-after-restart
  // (getBatch(start=None)) must rebuild its from-position from the END
  // offset, never from the restarted source's current table version —
  // with "startingVersion=latest" the re-derived origin would land PAST
  // the WAL-committed batch and silently replay it as zero rows.
  // Optional + omitted when absent: pre-existing checkpoint offsets
  // parse unchanged.
  override def json: String =
    s"""{"reservoirVersion":$reservoirVersion,"index":$index,""" +
      s""""isInitialSnapshot":$isInitialSnapshot""" +
      startVersion.map(v => s""","startVersion":$v""").getOrElse("") + "}"
}

object GraftSourceOffset {
  def fromJson(json: String): GraftSourceOffset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    GraftSourceOffset(
      m.get("reservoirVersion").asLong(),
      m.get("index").asLong(),
      m.get("isInitialSnapshot").asBoolean(),
      Option(m.get("startVersion")).filterNot(_.isNull).map(_.asLong()))
  }
  def convert(o: streaming.Offset): GraftSourceOffset = o match {
    case g: GraftSourceOffset => g
    case other => fromJson(other.json)
  }
}

private[graft] case class IndexedFile(
    version: Long, index: Long, isInitialSnapshot: Boolean, add: AddFile)

/**
 * A graft table as a structured-streaming source: the initial snapshot is
 * replayed file-by-file, then the commit tail is followed in order, with
 * `maxFilesPerTrigger`/`maxBytesPerTrigger` admission control. Non-append
 * commits fail the stream unless ignoreDeletes / ignoreChanges /
 * skipChangeCommits is set. (Reference concept:
 * sources/DeltaSource.scala:112-1068 — re-designed.)
 */
class GraftSource(
    spark: SparkSession,
    log: GraftLog,
    options: Map[String, String]) extends Source with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val snapshotAtInit = log.update()
  private val readChangeFeed =
    options.get("readChangeFeed").exists(_.toBoolean)
  if (readChangeFeed) require(Cdc.isEnabled(snapshotAtInit.metadata),
    s"readChangeFeed requires graft.enableChangeDataFeed on ${log.dataPath}")
  /** startingTimestamp = first commit AT OR AFTER the timestamp (the
    * reference's DeltaDataSource semantics); if the timestamp is beyond
    * the latest commit, start from the next future version. */
  private val startingVersion: Option[Long] =
    options.get("startingVersion").map {
      case "latest" => snapshotAtInit.version + 1
      case v => v.toLong
    }.orElse(options.get("startingTimestamp").map { ts =>
      val tsMillis = GraftLog.parseUserTimestamp(ts)
      log.listCommitTimestamps().filter(_._2 >= tsMillis).map(_._1)
        .minOption.getOrElse(snapshotAtInit.version + 1)
    })
  private val maxFilesDefault =
    options.get("maxFilesPerTrigger").map(_.toInt).getOrElse(1000)
  private val maxBytes = options.get("maxBytesPerTrigger").map(_.toLong)
  private val ignoreChanges = options.get("ignoreChanges").exists(_.toBoolean)
  private val ignoreDeletes = options.get("ignoreDeletes").exists(_.toBoolean)
  private val skipChangeCommits = options.get("skipChangeCommits").exists(_.toBoolean)
  /** Files whose path matches are invisible to the stream (reference
    * concept: DeltaOptions.excludeRegex). Indexes are assigned AFTER the
    * filter, so the option must stay fixed for a checkpoint's lifetime —
    * same contract as the reference. */
  private val excludeRegex = options.get("excludeRegex").map(_.r)
  private def excluded(path: String): Boolean =
    excludeRegex.exists(_.findFirstIn(path).isDefined)

  /** Initial-snapshot files (pinned at a version) in a stable
    * (modificationTime, path) order. On restart the offset's
    * reservoirVersion — not the current table version — identifies the
    * snapshot being replayed.
    *
    * A snapshot whose file maps are on the driver (driver-held, or
    * checkpoint-backed and already materialized) keeps its sorted list
    * in a driver Vector. Any other checkpoint-backed snapshot is built
    * as a DISTRIBUTED sorted +
    * indexed dataset (sort job + zipWithIndex, persisted), and iteration
    * streams only the admitted index range to the driver via
    * toLocalIterator — starting a stream on a 10M-file table never
    * materializes the file list (reference concept:
    * files/DeltaSourceSnapshot.scala:62-95 — re-designed). */
  private val snapshotFilesCache = scala.collection.mutable.Map
    .empty[Long, Either[Vector[AddFile], org.apache.spark.sql.Dataset[(AddFile, Long)]]]

  private def snapshotAccess(version: Long)
      : Either[Vector[AddFile], org.apache.spark.sql.Dataset[(AddFile, Long)]] =
    snapshotFilesCache.getOrElseUpdate(version, {
      val snap =
        if (version == snapshotAtInit.version) snapshotAtInit
        else log.getSnapshotAt(version)
      if (snap.materialized) {
        Left(snap.allFiles.filterNot(f => excluded(f.path))
          .sortBy(f => (f.modificationTime, f.path)).toVector)
      } else {
        val excl = excludeRegex
        var ds = snap.allFilesDS
        excl.foreach(r => ds = ds.filter(a => r.findFirstIn(a.path).isEmpty))
        val sorted = ds.sort(col("modificationTime"), col("path"))
        val enc = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.product[AddFile],
          org.apache.spark.sql.Encoders.scalaLong)
        Right(spark.createDataset(sorted.rdd.zipWithIndex())(enc)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    })

  /** Initial-snapshot files with index > afterIdx, in index order. The
    * distributed branch pushes the index filter into the persisted scan
    * and pulls partitions lazily, so admission-bounded consumers fetch
    * only the files they admit. */
  private def snapshotIterator(version: Long, afterIdx: Long): Iterator[IndexedFile] =
    snapshotAccess(version) match {
      case Left(files) =>
        files.iterator.zipWithIndex
          .filter(_._2 > afterIdx)
          .map { case (f, i) =>
            IndexedFile(version, i, isInitialSnapshot = true, f)
          }
      case Right(ds) =>
        import scala.jdk.CollectionConverters._
        ds.filter(col("_2") > afterIdx).toLocalIterator().asScala
          .map { case (f, i) =>
            IndexedFile(version, i, isInitialSnapshot = true, f)
          }
    }

  /** Largest index range of a checkpoint-backed snapshot that
    * [[snapshotRange]] collects in one job. */
  private val COLLECT_RANGE_MAX = 100000L

  /** Initial-snapshot files with fromExcl < index <= toIncl (CDF batch
    * assembly) — a bounded, admission-sized range. */
  private def snapshotRange(version: Long, fromExcl: Long, toIncl: Long): Seq[AddFile] =
    snapshotAccess(version) match {
      case Left(files) =>
        files.iterator.zipWithIndex
          .filter { case (_, i) => i > fromExcl && i <= toIncl }
          .map(_._1).toSeq
      case Right(ds) =>
        // The persisted dataset is already index-ordered (zipWithIndex over
        // the sorted scan; filter preserves partition order). A KNOWN-small
        // range collects in ONE parallel job (memory bounded by the range);
        // an unbounded tail range (toIncl past the snapshot) streams
        // partitions one at a time instead — fully draining via
        // toLocalIterator would run one sequential job per partition, a
        // job-scheduling storm on a many-partition snapshot.
        import scala.jdk.CollectionConverters._
        val filtered = ds.filter(col("_2") > fromExcl && col("_2") <= toIncl)
        if (toIncl != Long.MaxValue && toIncl - fromExcl <= COLLECT_RANGE_MAX)
          filtered.collect().toSeq.map(_._1)
        else filtered.toLocalIterator().asScala.map(_._1).toSeq
    }

  /**
   * Schema tracking (reference concept: DeltaSource schemaTrackingLocation
   * + DeltaSourceMetadataTrackingLog — re-designed): with
   * `schemaTrackingLocation` set, the stream reads with the LATEST schema
   * recorded in a persistent [[SchemaTrackingLog]] (seeded with the
   * table's schema at query start). When the commit tail reaches a
   * metadata action whose schema differs from the tracked one, the source
   * first DRAINS every file before that version under the old schema,
   * then appends the new schema to the tracking log and fails the query
   * with a restart instruction; the restarted query pins the adopted
   * schema from the log and continues past the change. Additive changes
   * adopt freely; renames/drops/retypes require
   * `allowSourceColumnRenameAndDrop` (data before the change replays
   * null-filled for columns the old files lack). Without a tracking
   * location any schema change fails the stream permanently at that
   * version, matching the reference's default.
   */
  private val trackingLog: Option[SchemaTrackingLog] =
    options.get("schemaTrackingLocation").map { p =>
      new SchemaTrackingLog(log.store, new org.apache.hadoop.fs.Path(p))
    }
  private val allowRenameDrop =
    options.get("allowSourceColumnRenameAndDrop").exists(_.toBoolean) ||
      spark.conf.getOption("spark.graft.streaming.allowSourceColumnRenameAndDrop")
        .exists(_.toBoolean)

  /** The metadata whose schema this stream reads with: the tracked entry
    * if a tracking log exists (seeded at first start), else the table
    * schema pinned at source creation. */
  private val readMeta: Metadata = trackingLog match {
    case Some(tl) =>
      tl.latest().getOrElse(
        tl.append(snapshotAtInit.version, snapshotAtInit.metadata)).metadata
    case None => snapshotAtInit.metadata
  }
  /** Snapshot view carrying the READ schema: batches over admitted files
    * resolve columns (and column-mapping physical names) against the
    * tracked metadata, not whatever the table head evolved to. */
  private val readSnapshot =
    if (readMeta eq snapshotAtInit.metadata) snapshotAtInit
    else snapshotAtInit.withReadMetadata(readMeta)

  private def sameReadSchema(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): Boolean =
    graft.schema.SchemaUtils.isWriteCompatible(a, b) &&
      graft.schema.SchemaUtils.isWriteCompatible(b, a)

  /** Set when the commit walk stopped at a schema-change barrier:
    * (version, new metadata). Reset per fileChanges() walk. */
  @volatile private var pendingSchemaChange: Option[(Long, Metadata)] = None

  /** React to a metadata action at `version`. Returns true when the walk
    * must stop BEFORE this version's files (schema-change barrier). */
  private def checkSchemaChange(version: Long, meta: Metadata): Boolean = {
    if (meta.schemaString == null) return false
    if (sameReadSchema(readMeta.schema, meta.schema)) return false
    trackingLog match {
      case Some(_) =>
        pendingSchemaChange = Some((version, meta))
        true
      case None =>
        throw new UnsupportedOperationException(
          s"Schema change at version $version of ${log.dataPath} cannot be " +
            "read with the schema this stream started with. Restart the " +
            "query to adopt the new schema (set schemaTrackingLocation to " +
            "track adopted schemas across restarts).")
    }
  }

  /** Called once the stream is fully drained up to a schema-change
    * barrier: persist the new schema and fail with a restart instruction
    * (the restarted query reads it back via the tracking log). */
  private def adoptSchemaChange(version: Long, meta: Metadata): Nothing = {
    val additive = graft.schema.SchemaUtils.isWriteCompatible(
      meta.schema, readMeta.schema)
    if (!additive && !allowRenameDrop) {
      throw new UnsupportedOperationException(
        s"Schema change at version $version of ${log.dataPath} drops, " +
          "renames, or retypes a column the stream is reading. Set " +
          "allowSourceColumnRenameAndDrop=true (or " +
          "spark.graft.streaming.allowSourceColumnRenameAndDrop) to adopt " +
          "it on restart.")
    }
    val tl = trackingLog.get
    val latestTracked = tl.latest()
    if (!latestTracked.exists(t =>
        t.tableVersion == version && sameReadSchema(t.metadata.schema, meta.schema))) {
      tl.append(version, meta)
    }
    throw new UnsupportedOperationException(
      s"Schema change at version $version of ${log.dataPath} recorded in " +
        "the schema tracking log. Restart the query to continue with the " +
        "new schema.")
  }

  private def cdfSchema: StructType = StructType(
    readMeta.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(Cdc.CHANGE_TYPE,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(Cdc.COMMIT_VERSION,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(Cdc.COMMIT_TIMESTAMP,
        org.apache.spark.sql.types.TimestampType, nullable = false)))

  override def schema: StructType =
    if (readChangeFeed) cdfSchema else readMeta.schema

  private def initialPosition: GraftSourceOffset = startingVersion match {
    case Some(v) => GraftSourceOffset(v, -1L, isInitialSnapshot = false)
    case None => GraftSourceOffset(snapshotAtInit.version, -1L, isInitialSnapshot = true)
  }

  /** Trigger.AvailableNow: the end version is pinned once at query start,
    * so the stream drains everything available then and stops, batch by
    * admission-controlled batch, even while writers keep committing.
    * (Reference concept: DeltaSourceBase extends
    * SupportsTriggerAvailableNow — re-designed.) */
  @volatile private var availableNowCapVersion: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCapVersion = Some(log.update().version)
  }

  /** All file changes strictly after `from`, in stream order. Stops at a
    * schema-change barrier (recorded in `pendingSchemaChange`) so every
    * pre-change file drains under the old schema first. */
  private def fileChanges(from: GraftSourceOffset): Iterator[IndexedFile] = {
    pendingSchemaChange = None
    val latest = availableNowCapVersion.getOrElse(log.update().version)
    val snapshotPart: Iterator[IndexedFile] =
      if (from.isInitialSnapshot) snapshotIterator(from.reservoirVersion, from.index)
      else Iterator.empty
    val tailStart =
      if (from.isInitialSnapshot) from.reservoirVersion + 1
      else from.reservoirVersion
    var barrier = false
    val tailPart = (tailStart to latest).iterator
      .takeWhile(_ => !barrier)
      .flatMap { v =>
      val actions = log.readCommit(v)
      actions.foreach {
        case meta: Metadata => if (checkSchemaChange(v, meta)) barrier = true
        case _ =>
      }
      if (barrier) Iterator.empty else {
      if (readChangeFeed) {
        // CDF tail is version-granular: one admission unit per commit
        // that changed data; update/delete commits are the POINT of the
        // change feed, so no ignoreChanges machinery applies.
        val emit = v > from.reservoirVersion || from.isInitialSnapshot ||
          from.index < 0
        val size = actions.collect {
          case a: AddFile if a.dataChange => a.size
          case c: AddCdcFile => c.size
        }.sum
        val relevant = actions.exists {
          case a: AddFile => a.dataChange
          case r: RemoveFile => r.dataChange
          case _: AddCdcFile => true
          case _ => false
        }
        if (emit && relevant) {
          Iterator.single(IndexedFile(v, 0, isInitialSnapshot = false,
            AddFile(s"__cdf_v$v", Map.empty, size, 0L, dataChange = true)))
        } else Iterator.empty
      } else {
        val hasDataRemoves = actions.exists {
          case r: RemoveFile => r.dataChange
          case _ => false
        }
        val adds = actions.collect {
          case a: AddFile if a.dataChange && !excluded(a.path) => a
        }
        if (hasDataRemoves && skipChangeCommits) Iterator.empty
        else if (hasDataRemoves && !ignoreChanges &&
            !(ignoreDeletes && adds.isEmpty)) {
          throw new UnsupportedOperationException(
            s"Detected a data update/delete in commit $v of ${log.dataPath}. " +
              "Streaming from a table with changes requires ignoreChanges, " +
              "ignoreDeletes, or skipChangeCommits.")
        } else {
          adds.iterator.zipWithIndex
            .filter { case (_, i) => v > from.reservoirVersion ||
              from.isInitialSnapshot || i > from.index }
            .map { case (f, i) => IndexedFile(v, i, isInitialSnapshot = false, f) }
        }
      }
      }
    }
    snapshotPart ++ tailPart
  }

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxFiles(maxFilesDefault)

  override def latestOffset(
      startOffset: streaming.Offset,
      limit: ReadLimit): streaming.Offset = {
    val from =
      if (startOffset == null) initialPosition
      else GraftSourceOffset.convert(startOffset)
    val maxFiles = limit match {
      case _: ReadAllAvailable => Int.MaxValue
      case f: ReadMaxFiles => f.maxFiles
      case _ => maxFilesDefault
    }
    var taken = 0
    var bytes = 0L
    var last: IndexedFile = null
    val it = fileChanges(from)
    // Caps are checked BEFORE hasNext: a flatMap-backed iterator's
    // hasNext advances into the NEXT commit, and once the batch is full
    // that walk could throw on an update/delete commit — killing the
    // stream without ever delivering the fully-admitted clean batch.
    while (taken < maxFiles && maxBytes.forall(b => bytes < b) &&
        it.hasNext) {
      val f = it.next()
      taken += 1
      bytes += f.add.size
      last = f
    }
    if (last == null) {
      // Fully drained up to a schema-change barrier: adopt and restart.
      pendingSchemaChange.foreach { case (v, meta) => adoptSchemaChange(v, meta) }
      if (startOffset == null) null else startOffset
    } else {
      // The stream origin rides every offset: inherited from the incoming
      // offset on restart, seeded from this run's resolved starting
      // version otherwise (None for initial-snapshot streams, whose
      // origin IS the snapshot's reservoirVersion).
      GraftSourceOffset(last.version, last.index, last.isInitialSnapshot,
        from.startVersion.orElse(startingVersion))
    }
  }

  override def getOffset: Option[LegacyOffset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def getBatch(start: Option[LegacyOffset], end: LegacyOffset): DataFrame = {
    val to = GraftSourceOffset.convert(end)
    val from = start match {
      case Some(o) => GraftSourceOffset.convert(o)
      case None =>
        // Batch-0 replay after a restart: rebuild the from-position from
        // the END offset, never from this (re-created) source's current
        // table version — the snapshot being replayed is pinned by the
        // offset's reservoirVersion (snapshotAccess time-travels to it),
        // and a startingVersion stream's origin rides offset.startVersion.
        if (to.isInitialSnapshot)
          GraftSourceOffset(to.reservoirVersion, -1L, isInitialSnapshot = true)
        else to.startVersion
          .map(sv => GraftSourceOffset(sv, -1L, isInitialSnapshot = false))
          .getOrElse(initialPosition)
    }
    if (readChangeFeed) return getCdfBatch(from, to)
    val files = fileChanges(from).takeWhile { f =>
      if (f.isInitialSnapshot && to.isInitialSnapshot) f.index <= to.index
      else if (f.isInitialSnapshot) true      // end is past the snapshot
      else if (to.isInitialSnapshot) false    // end is inside the snapshot
      else f.version < to.reservoirVersion ||
        (f.version == to.reservoirVersion && f.index <= to.index)
    }.map(_.add).toVector
    // Deletion vectors pinned on the admitted AddFiles apply inside the
    // parquet reader (stateless, retry-deterministic: the DV sidecar
    // paths ride the offset's file list, not the live table).
    GraftFileIndex.dataFrame(spark, log, readSnapshot, Some(files),
      isStreaming = true)
  }

  /** CDF micro-batch: initial-snapshot rows replay as inserts, then
    * Cdc.changes over the commit range — wrapped back into a streaming
    * plan (getBatch must return isStreaming=true). */
  private def getCdfBatch(from: GraftSourceOffset, to: GraftSourceOffset): DataFrame = {
    val order = readMeta.schema.fieldNames.toSeq ++
      Seq(Cdc.CHANGE_TYPE, Cdc.COMMIT_VERSION, Cdc.COMMIT_TIMESTAMP)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (from.isInitialSnapshot) {
      val maxIdx = if (to.isInitialSnapshot) to.index else Long.MaxValue
      val files = snapshotRange(from.reservoirVersion, from.index, maxIdx)
      if (files.nonEmpty) {
        val ts = new java.sql.Timestamp(
          log.listCommitTimestamps().toMap.getOrElse(from.reservoirVersion, 0L))
        parts += GraftFileIndex.dataFrame(spark, log,
            log.getSnapshotAt(from.reservoirVersion), Some(files))
          .withColumn(Cdc.CHANGE_TYPE, lit("insert"))
          .withColumn(Cdc.COMMIT_VERSION, lit(from.reservoirVersion))
          .withColumn(Cdc.COMMIT_TIMESTAMP, lit(ts))
      }
    }
    val fromV =
      if (from.isInitialSnapshot) from.reservoirVersion + 1
      else if (from.index < 0) from.reservoirVersion
      else from.reservoirVersion + 1
    val toV = if (to.isInitialSnapshot) fromV - 1 else to.reservoirVersion
    if (toV >= fromV) parts += Cdc.changes(spark, log, fromV, toV)
    val combined = parts.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdfSchema)
    }.select(order.map(col): _*)
    SparkShims.internalCreateDataFrame(spark,
      combined.queryExecution.toRdd, combined.schema, isStreaming = true)
  }

  override def stop(): Unit =
    snapshotFilesCache.values.foreach {
      case Right(ds) => ds.unpersist(blocking = false)
      case _ =>
    }

  override def toString: String = s"GraftSource[${log.dataPath}]"
}
