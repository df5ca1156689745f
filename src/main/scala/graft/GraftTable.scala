package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.commands._
import graft.files.GraftFileIndex
import graft.log.{GraftLog, Snapshot}

/**
 * User-facing entry points (reference concept: io.delta.tables.DeltaTable,
 * DeltaTable.scala:74-1100 — re-designed API surface).
 *
 * {{{
 *   Graft.write(df, "/t", mode = "overwrite", partitionBy = Seq("p"))
 *   val t = GraftTable.forPath(spark, "/t")
 *   t.toDF.filter(...)
 *   t.delete($"x" < 3)
 *   t.update($"x" === 1, Map("y" -> lit(2)))
 *   t.merge(src, $"s.k" === $"t.k").whenMatched.updateAll
 *     .whenNotMatched.insertAll.execute()
 * }}}
 */
class GraftTable private[graft] (
    val spark: SparkSession,
    val log: GraftLog) {

  def snapshot: Snapshot = log.update()

  /** Latest-version DataFrame. */
  def toDF: DataFrame = GraftFileIndex.dataFrame(spark, log, snapshot)

  def as(alias: String): DataFrame = toDF.as(alias)
  def alias(a: String): DataFrame = as(a)

  /** Latest-version DataFrame with `_graft_row_id` / `_graft_row_commit`
    * columns appended (requires `graft.enableRowTracking=true`). */
  def toDFWithRowIds: DataFrame = {
    val s = snapshot
    require(graft.log.RowTracking.isEnabled(s.metadata),
      "row tracking is not enabled on this table " +
        "(set graft.enableRowTracking=true)")
    graft.log.RowTracking.scanWithRowIds(spark, log, s, None)
  }

  /** Time travel by version. */
  def asOfVersion(version: Long): DataFrame =
    GraftFileIndex.dataFrame(spark, log, log.getSnapshotAt(version))

  /** Time travel by timestamp (millis or SQL timestamp string). */
  def asOfTimestamp(ts: String): DataFrame =
    asOfVersion(log.getVersionAtTime(graft.log.GraftLog.parseUserTimestamp(ts)))

  def version: Long = snapshot.version

  def delete(): Unit = DeleteCommand.run(spark, log, None)
  def delete(condition: Column): Unit =
    DeleteCommand.run(spark, log, Some(condition))
  def delete(condition: String): Unit = delete(expr(condition))

  def update(condition: Column, set: Map[String, Column]): Unit =
    UpdateCommand.run(spark, log, Some(condition), set)
  def updateAll(set: Map[String, Column]): Unit =
    UpdateCommand.run(spark, log, None, set)
  def updateExpr(condition: String, set: Map[String, String]): Unit =
    update(expr(condition), set.map { case (k, v) => k -> expr(v) })

  def merge(source: DataFrame, condition: Column): MergeBuilder =
    new MergeBuilder(this, source, condition)

  /** INSERT … REPLACE ON: atomically append `source` and delete every
    * existing row matching ANY source row under `condition` (target
    * aliased `t`, source `s`, like merge) — a replace whose criteria
    * derive from the inserted data itself. */
  def insertReplaceOn(source: DataFrame, condition: Column): Unit =
    InsertReplaceCommand.run(this, source, condition)
  def insertReplaceOn(source: DataFrame, condition: String): Unit =
    insertReplaceOn(source, expr(condition))

  /** INSERT … REPLACE USING (c1..cn): the equi-join special case —
    * replace rows whose `cols` values appear in the inserted set. The
    * known equi-keys enable stats-space candidate pruning: only target
    * files whose per-key min/max bracket the source's key range are
    * scanned and rewritten. */
  def insertReplaceUsing(source: DataFrame, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "REPLACE USING requires at least one column")
    InsertReplaceCommand.run(this, source,
      cols.map(c => col(s"t.`$c`") === col(s"s.`$c`")).reduce(_ && _))
  }

  // ---- Java/py4j-friendly overloads (the Python API binds these; py4j
  // cannot see Scala default arguments or build Scala Maps) --------------
  def insertReplaceUsing(source: DataFrame, cols: java.util.List[String]): Unit = {
    import scala.jdk.CollectionConverters._
    insertReplaceUsing(source, cols.asScala.toSeq)
  }
  def backfillRowTracking(): Unit = backfillRowTracking(100000)
  def recomputeStats(): Unit = recomputeStats(None, onlyMissing = false)
  def recomputeStats(onlyMissing: Boolean): Unit =
    recomputeStats(None, onlyMissing)
  def updateExpr(condition: String, set: java.util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    updateExpr(condition, set.asScala.toMap)
  }
  def updateAllExpr(set: java.util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    updateAll(set.asScala.toMap.map { case (k, v) => k -> expr(v) })
  }
  def merge(source: DataFrame, condition: String): MergeBuilder =
    merge(source, expr(condition))
  def history(): DataFrame = history(Int.MaxValue)
  def vacuum(retentionHours: Double): DataFrame =
    vacuum(retentionHours, dryRun = false)
  def vacuum(): DataFrame = vacuum(7 * 24.0)

  def history(limit: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    spark.createDataset(log.history(limit).map { ci =>
      (ci.version.getOrElse(-1L), new java.sql.Timestamp(ci.timestamp),
        ci.operation, ci.operationParameters, ci.readVersion, ci.operationMetrics)
    }).toDF("version", "timestamp", "operation", "operationParameters",
      "readVersion", "operationMetrics")
  }

  /** One-row summary (DESCRIBE DETAIL analogue). */
  def detail(): DataFrame = {
    import spark.implicits._
    val s = snapshot
    spark.createDataset(Seq((
      "graft", s.metadata.id, log.dataPath.toString,
      s.metadata.createdTime.getOrElse(0L), s.version,
      s.metadata.partitionColumns, s.numFiles, s.sizeInBytes,
      s.metadata.configuration,
      s.protocol.minReaderVersion, s.protocol.minWriterVersion,
      s.protocol.readerFeatures.getOrElse(Nil),
      s.protocol.writerFeatures.getOrElse(Nil)
    ))).toDF("format", "id", "location", "createdTime", "version",
      "partitionColumns", "numFiles", "sizeInBytes", "properties",
      "minReaderVersion", "minWriterVersion",
      "tableReaderFeatures", "tableWriterFeatures")
  }

  def showPartitions(): DataFrame = {
    // Distinct over the DISTRIBUTED file view: on a lazy checkpoint-backed
    // snapshot the driver holds only the (bounded) distinct partition set,
    // never the file map. MapType has no equality in Spark, so distinct
    // runs over the exploded per-column values and the map reassembles on
    // top.
    val s = snapshot
    val pcols = graft.schema.ColumnMapping.physicalPartitionColumns(s.metadata)
    if (pcols.isEmpty)
      s.allFilesDS.limit(1)
        .select(typedlit(Map.empty[String, String]).as("partitionValues"))
    else {
      // alias through positional names: a partition column named "a.b"
      // (dots are parquet-legal) must not re-resolve as a nested field
      val tmp = pcols.indices.map(i => s"__pv_$i")
      s.allFilesDS
        .select(pcols.zip(tmp).map { case (c, t) =>
          col("partitionValues").getItem(c).as(t) }: _*)
        .distinct()
        .select(map_from_arrays(
          array(pcols.map(lit): _*),
          array(tmp.map(col): _*)).as("partitionValues"))
    }
  }

  def optimize(): OptimizeBuilder = new OptimizeBuilder(this)

  def vacuum(retentionHours: Double = 7 * 24, dryRun: Boolean = false,
      lite: Boolean = false, inventory: Option[DataFrame] = None): DataFrame =
    VacuumCommand.run(spark, log, retentionHours, dryRun, lite, inventory)

  def restoreToVersion(version: Long): Unit =
    RestoreCommand.run(spark, log, version)

  def restoreToTimestamp(ts: String): Unit =
    RestoreCommand.run(spark, log,
      log.getVersionAtTime(graft.log.GraftLog.parseUserTimestamp(ts)))

  /** Raise the table's protocol versions (never lowers them). Feature
    * vectors already on the protocol — and the features the metadata
    * implies — carry over; a bare version bump must never silently drop
    * the deletionVectors reader gate off a DV-carrying table. */
  def upgradeTableProtocol(minReaderVersion: Int, minWriterVersion: Int): Unit =
    log.withNewTransaction { txn =>
      import graft.log.TableFeatures
      val p = txn.snapshot.protocol
      require(minReaderVersion >= p.minReaderVersion &&
        minWriterVersion >= p.minWriterVersion,
        s"cannot downgrade protocol ($p) — use dropFeature")
      if (minReaderVersion > p.minReaderVersion ||
          minWriterVersion > p.minWriterVersion) {
        val features = TableFeatures.vectorFeatures(p) ++
          TableFeatures.activeFeatures(txn.snapshot.metadata)
        txn.commit(Seq(graft.log.Protocol(
          minReaderVersion, minWriterVersion,
          readerFeatures =
            if (minReaderVersion >= TableFeatures.FEATURES_READER_VERSION)
              Some(features.filter(_.readerGating).map(_.name).toSeq.sorted)
            else None,
          writerFeatures =
            if (minWriterVersion >= TableFeatures.FEATURES_WRITER_VERSION)
              Some(features.map(_.name).toSeq.sorted)
            else None)),
          "UPGRADE PROTOCOL")
      }
    }

  /** Explicitly mark a table feature as supported (upgrading to feature
    * vectors if needed) without enabling its metadata switch — the
    * reference's DeltaTable.addFeatureSupport. */
  def addFeatureSupport(name: String): Unit = log.withNewTransaction { txn =>
    import graft.log.TableFeatures
    val feature = TableFeatures.byName.getOrElse(name,
      throw new IllegalArgumentException(
        s"Unknown feature $name; known: ${TableFeatures.all.map(_.name).sorted.mkString(", ")}"))
    TableFeatures.requiredUpgrade(txn.snapshot.protocol,
        txn.snapshot.metadata, feature)
      .foreach(p => txn.commit(Seq(p), "UPGRADE PROTOCOL",
        Map("feature" -> name)))
  }

  /** REORG APPLY (PURGE): materialize deletion vectors into clean files. */
  def reorgPurge(): DataFrame = ReorgCommand.purge(spark, log)
  /** REORG ... WHERE <partition predicate> APPLY (PURGE). */
  def reorgPurge(where: String): DataFrame =
    ReorgCommand.purge(spark, log, Some(where))

  /** DROP FEATURE: retire a feature once no data depends on it. The
    * validation step proves no trace remains (e.g. DVs require a prior
    * REORG PURGE); the commit then downgrades the protocol to the
    * minimal versions / feature vectors the REMAINING metadata needs, so
    * readers that never learned this feature regain access.
    * (Reference concept: PreDowngradeTableFeatureCommand +
    * alterDeltaTableCommands.scala:316 — re-designed.) */
  /** DROP FEATURE ... TRUNCATE HISTORY: drop the feature, then seal the
    * log — checkpoint the downgraded state, mark everything below it
    * protected (`checkpointProtection` feature), and remove the history
    * that still carries the dropped feature's traces. Readers cold-load
    * from the boundary checkpoint; time travel below it is gone by
    * design. */
  // reference-API-named aliases (DeltaTable.dropFeatureSupport)
  def dropFeatureSupport(name: String): Unit = dropFeature(name)
  def dropFeatureSupport(name: String, truncateHistory: Boolean): Unit =
    dropFeature(name, truncateHistory)

  def dropFeature(name: String, truncateHistory: Boolean): Unit = {
    dropFeature(name)
    if (truncateHistory) {
      val vd = log.update().version
      upsertProperties(Map(
        "graft.requireCheckpointProtectionBeforeVersion" -> (vd + 1).toString))
      val sealedAt = log.update()
      log.checkpoint(sealedAt)
      // Negative retention => cutoff in the future: every pre-boundary
      // file is expired, so the all-or-nothing sweep below the boundary
      // fires in this call.
      log.cleanUpExpiredLogs(retentionMillis = -60000L)
    }
  }

  /** Strip baseRowId/defaultRowCommitVersion off every live file in
    * bounded dataChange=false re-commits — the pre-downgrade step of
    * dropFeature("rowTracking") (reference concept:
    * RowTrackingUnBackfillCommand / RowTrackingPreDowngradeCommand —
    * re-designed). Id generation must already be SUSPENDED or the commit
    * path would re-assign ids to the very files being stripped. */
  private def unbackfillRowTracking(maxFilesPerCommit: Int = 100000): Unit = {
    var done = false
    var batchId = 0
    while (!done) {
      val s = log.update()
      require(graft.log.RowTracking.isSuspended(s.metadata) &&
        !graft.log.RowTracking.isEnabled(s.metadata),
        "unbackfill requires row tracking disabled and id generation suspended")
      val batch = s.allFilesDS
        .filter(col("baseRowId").isNotNull ||
          col("defaultRowCommitVersion").isNotNull)
        .limit(maxFilesPerCommit)
        .collect().toSeq
      if (batch.isEmpty) done = true
      else {
        try {
          log.withNewTransaction { txn =>
            txn.commit(batch.map(_.copy(baseRowId = None,
              defaultRowCommitVersion = None, dataChange = false)),
              "ROW TRACKING UNBACKFILL", Map("batchId" -> batchId.toString))
          }
          batchId += 1
        } catch {
          // a winner removed a batch file — reselect fresh
          case _: graft.tx.GraftConcurrentModificationException =>
        }
      }
    }
  }

  def dropFeature(name: String): Unit = {
    if (name == "rowTracking") {
      // 1. stop expecting ids + suspend generation; 2. strip existing ids
      // (the downgrade commit below then removes every remaining trace)
      upsertProperties(Map(
        "graft.enableRowTracking" -> "false",
        "graft.rowTrackingSuspended" -> "true"))
      unbackfillRowTracking()
    }
    if (name == "columnMapping") removeColumnMappingRewriteIfNeeded()
    dropFeatureDowngrade(name)
  }

  /** When physical and logical names diverged (columns were renamed or
    * re-added under mapping), dropping the feature requires REWRITING the
    * data under plain names — one atomic commit: rewritten files ride
    * with the stripped schema, originals remove dataChange=false, and
    * row-tracked tables materialize their ids so identity survives
    * (reference concept: columnmapping/RemoveColumnMappingCommand.scala —
    * re-designed). Tables whose names never diverged skip the rewrite and
    * drop metadata-only in the downgrade commit. */
  private def removeColumnMappingRewriteIfNeeded(): Unit =
    log.withNewTransaction { txn =>
      import graft.schema.ColumnMapping
      val m = txn.snapshot.metadata
      val renamed = ColumnMapping.isEnabled(m) &&
        m.schema.fields.exists(f => ColumnMapping.physicalName(f) != f.name)
      if (renamed) {
        val stripped = m.schema.fields.map { f =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(ColumnMapping.PHYS_KEY)
            .remove(ColumnMapping.ID_KEY)
            .remove(ColumnMapping.PARQUET_FIELD_ID)
          f.copy(metadata = mb.build())
        }
        val strippedSchema = org.apache.spark.sql.types.StructType(stripped)
        // logical names become parquet field names — the same gate every
        // unmapped commit passes
        val bad = graft.schema.SchemaUtils.findInvalidNames(strippedSchema)
        require(bad.isEmpty,
          s"cannot drop column mapping: column names ${bad.mkString(", ")} " +
            "are not valid parquet field names; rename them first")
        val files = txn.filterFiles()
        val df =
          if (graft.log.RowTracking.isEnabled(m))
            graft.log.RowTracking.scanWithRowIds(spark, log, txn.snapshot,
              Some(files))
          else commands.Dml.scanFiles(spark, log, txn, files)
        txn.updateMetadata(m.copy(
          schemaString = strippedSchema.json,
          configuration = m.configuration -
            ColumnMapping.MODE_KEY - ColumnMapping.MAX_ID_KEY))
        val adds = txn.writeFiles(df, dataChange = false)
        val now = System.currentTimeMillis()
        val removes = files.map(_.remove(now, dataChange = false))
        txn.commit(removes ++ adds, "REMOVE COLUMN MAPPING",
          operationMetrics = Map(
            "numRewrittenFiles" -> adds.size.toString,
            "numRemovedFiles" -> removes.size.toString))
      }
      // names never diverged: no rewrite needed, the downgrade commit
      // strips the metadata — the un-committed txn is simply abandoned
    }

  private def dropFeatureDowngrade(name: String): Unit = log.withNewTransaction { txn =>
    import graft.log.TableFeatures
    import graft.schema.ColumnMapping
    val m = txn.snapshot.metadata
    val newMeta: graft.log.Metadata = name match {
      case "deletionVectors" =>
        // distributed existence probe — never pulls the file map
        require(txn.snapshot.allFilesDS.filter(col("dvPath").isNotNull).isEmpty,
          "table still has deletion vectors; run reorgPurge() first")
        m.copy(configuration = m.configuration - "graft.enableDeletionVectors")
      case "columnMapping" =>
        require(m.schema.fields.forall(f =>
            ColumnMapping.physicalName(f) == f.name),
          "columns were renamed or re-added; physical and logical names " +
            "differ, so column mapping cannot be dropped without a rewrite")
        val stripped = m.schema.fields.map { f =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(ColumnMapping.PHYS_KEY)
            .remove(ColumnMapping.ID_KEY)
            .remove(ColumnMapping.PARQUET_FIELD_ID)
          f.copy(metadata = mb.build())
        }
        m.copy(
          schemaString = org.apache.spark.sql.types.StructType(stripped).json,
          configuration = m.configuration -
            ColumnMapping.MODE_KEY - ColumnMapping.MAX_ID_KEY)
      case "rowTracking" =>
        // distributed probe: unbackfill must have stripped every id
        require(txn.snapshot.allFilesDS
          .filter(col("baseRowId").isNotNull).isEmpty,
          "table still has files with base row ids; unbackfill did not complete")
        m.copy(configuration = m.configuration -
          "graft.enableRowTracking" - "graft.rowTrackingSuspended")
      case "changeDataFeed" =>
        m.copy(configuration = m.configuration - "graft.enableChangeDataFeed")
      case other =>
        throw new IllegalArgumentException(
          s"Unknown or undroppable feature $other")
    }
    txn.updateMetadata(newMeta)
    // Remaining = everything the protocol explicitly listed (including
    // addFeatureSupport-only markers) plus whatever the new metadata
    // still exercises, minus the dropped feature.
    val dropped = TableFeatures.byName.get(name).toSet
    val remaining = (TableFeatures.vectorFeatures(txn.snapshot.protocol) ++
      TableFeatures.activeFeatures(newMeta)) -- dropped
    val downgraded = TableFeatures.minimalProtocol(remaining)
    val actions: Seq[graft.log.Action] =
      (if (downgraded != txn.snapshot.protocol) Seq(downgraded) else Nil) ++
        // the row-id watermark domain is the feature's last trace
        (if (name == "rowTracking" &&
            txn.snapshot.domains.contains(graft.log.RowTracking.DOMAIN))
          Seq(graft.log.DomainMetadata(
            graft.log.RowTracking.DOMAIN, removed = true))
        else Nil)
    txn.commit(actions, "DROP FEATURE", Map("feature" -> name))
  }

  def changes(startVersion: Long, endVersion: Long = Long.MaxValue): DataFrame =
    Cdc.changes(spark, log, startVersion, endVersion)

  def truncate(): Unit = delete()

  /** SHALLOW CLONE this table to `dest`: metadata commit with absolute
    * file references; no data copied. */
  def shallowCloneTo(dest: String): GraftTable =
    CloneCommand.run(spark, log, dest)

  /** SHALLOW CLONE a historical version (time-travel clone). */
  def cloneAtVersion(version: Long, dest: String): GraftTable =
    CloneCommand.run(spark, log, dest, Some(version))

  /** SHALLOW CLONE the version live at `ts` (time-travel clone). */
  def cloneAtTimestamp(ts: String, dest: String): GraftTable =
    cloneAtVersion(
      log.getVersionAtTime(graft.log.GraftLog.parseUserTimestamp(ts)), dest)

  def generateSymlinkManifest(): Unit =
    ManifestCommand.run(spark, log)

  /**
   * Recompute per-file skipping stats from parquet footers (reference
   * concept: stats/StatisticsCollection.recompute — re-designed): tables
   * converted from stats-less sources gain data skipping, corrupted
   * stats heal, and a changed `graft.dataSkippingStatsColumns` policy
   * re-indexes. `where` bounds the work to partitions; `onlyMissing`
   * touches only files with no stats at all. Footer reads distribute
   * (no data rows move) and the re-adds commit dataChange=false. DV
   * tables work: stats are PHYSICAL-file stats, the same contract the
   * write path records — the bitmap overlay is untouched (the reference
   * refuses DV tables here; footer-derived stats make it sound).
   */
  def recomputeStats(
      where: Option[String],
      onlyMissing: Boolean): Unit = log.withNewTransaction { txn =>
    val m = txn.snapshot.metadata
    val candidates = where match {
      case Some(cond) =>
        val e = spark.sessionState.sqlParser.parseExpression(cond)
        val (partF, dataF) = WriteIntoGraft.splitPredicates(e, m)
        require(dataF.isEmpty,
          s"recomputeStats supports partition predicates only, got: $cond")
        txn.filterFiles(partF, Nil)
      case None => txn.filterFiles()
    }
    val files =
      if (onlyMissing) candidates.filter(f => Option(f.stats).isEmpty)
      else candidates
    if (files.nonEmpty) {
      val refreshed = graft.stats.FooterStats.withStats(
        spark, log.dataPath, files.map(_.copy(stats = null)),
        graft.schema.ColumnMapping.physicalDataSchema(m),
        GraftFileIndex.statsColumns(m))
      txn.commit(refreshed.map(_.copy(dataChange = false)), "COMPUTE STATS",
        operationMetrics = Map("numFilesUpdated" -> files.size.toString))
    }
  }

  def addCheckConstraint(name: String, sql: String): Unit =
    log.withNewTransaction { txn =>
      // validate against current data: no existing row may violate
      val bad = toDF.filter(!coalesce(expr(sql), lit(false))).limit(1).count()
      require(bad == 0, s"Cannot add constraint '$name': existing rows violate $sql")
      txn.updateMetadata(
        graft.constraints.Constraints.withConstraint(txn.snapshot.metadata, name, sql))
      txn.commit(Nil, "ADD CONSTRAINT", Map("name" -> name, "expr" -> sql))
    }

  def dropCheckConstraint(name: String): Unit =
    log.withNewTransaction { txn =>
      txn.updateMetadata(
        graft.constraints.Constraints.withoutConstraint(txn.snapshot.metadata, name))
      txn.commit(Nil, "DROP CONSTRAINT", Map("name" -> name))
    }

  /** ALTER TABLE ADD COLUMN (metadata-only; readers null-fill). Under
    * column mapping the new field gets a FRESH physical name, so a
    * re-added name never resurrects dropped data. */
  def addColumn(field: org.apache.spark.sql.types.StructField): Unit =
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"Column ${field.name} already exists")
      import graft.schema.ColumnMapping
      val f0 = field.copy(nullable = true)
      val f =
        if (ColumnMapping.isEnabled(m)) {
          f0.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f0.metadata)
            .putString(ColumnMapping.PHYS_KEY, ColumnMapping.freshPhysicalName())
            .build())
        } else f0
      val updated = m.copy(schemaString =
        org.apache.spark.sql.types.StructType(m.schema.fields :+ f).json)
      txn.updateMetadata(updated)
      // A new column can switch on a feature by itself (DEFAULT metadata,
      // TIMESTAMP_NTZ / VARIANT / collated types) — its gate installs in
      // the same commit.
      txn.commit(
        graft.log.TableFeatures
          .requiredUpgradeForMetadata(txn.snapshot.protocol, updated).toSeq,
        "ADD COLUMNS", Map("column" -> field.name))
    }

  /** ALTER TABLE ALTER COLUMN ... SET DEFAULT / DROP DEFAULT. The default
    * is a constant SQL expression applied when a writer omits the column;
    * existing rows are untouched (metadata-only). Setting one switches on
    * the `allowColumnDefaults` writer feature. (Reference concept: Delta's
    * allowColumnDefaults writer feature — re-designed onto Spark's
    * CURRENT_DEFAULT column metadata.) */
  def alterColumnDefault(name: String, sqlText: Option[String]): Unit =
    log.withNewTransaction { txn =>
      import org.apache.spark.sql.types._
      val m = txn.snapshot.metadata
      val field = m.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"Column $name does not exist"))
      require(!field.metadata.contains(graft.schema.ColumnDefaults.GEN_KEY) &&
        !field.metadata.contains(graft.schema.ColumnDefaults.ID_START),
        s"Column $name is generated/identity; it cannot also carry a DEFAULT")
      sqlText.foreach { sql =>
        // Constant expressions only: analyzing over a zero-column frame
        // rejects any column reference; the cast must also be legal.
        try spark.emptyDataFrame
          .select(org.apache.spark.sql.functions.expr(sql).cast(field.dataType))
          .queryExecution.analyzed
        catch { case e: Exception => throw new IllegalArgumentException(
          s"DEFAULT for $name must be a constant expression castable to " +
            s"${field.dataType.simpleString}: ${e.getMessage}") }
      }
      val fields = m.schema.fields.map { f =>
        if (f.name.equalsIgnoreCase(name)) {
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          sqlText match {
            case Some(sql) =>
              mb.putString(graft.schema.ColumnDefaults.DEFAULT_KEY, sql)
            case None => mb.remove(graft.schema.ColumnDefaults.DEFAULT_KEY)
          }
          f.copy(metadata = mb.build())
        } else f
      }
      val updated = m.copy(schemaString = StructType(fields).json)
      txn.updateMetadata(updated)
      txn.commit(
        graft.log.TableFeatures
          .requiredUpgradeForMetadata(txn.snapshot.protocol, updated).toSeq,
        "ALTER COLUMN",
        Map("column" -> name, "default" -> sqlText.getOrElse("<dropped>")))
    }

  /** Apply `fn` to the struct containing the leaf named by `path`
    * (descending through structs, array elements, and map values). */
  private def transformParentStruct(
      dt: org.apache.spark.sql.types.DataType,
      path: Seq[String],
      fn: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType if path.isEmpty => fn(s)
      case s: StructType =>
        require(s.fieldNames.exists(_.equalsIgnoreCase(path.head)),
          s"Column path segment ${path.head} does not exist")
        StructType(s.fields.map { f =>
          if (f.name.equalsIgnoreCase(path.head))
            f.copy(dataType = transformParentStruct(f.dataType, path.tail, fn))
          else f
        })
      case ArrayType(e, n) => ArrayType(transformParentStruct(e, path, fn), n)
      case MapType(k, v, n) => MapType(k, transformParentStruct(v, path, fn), n)
      case other =>
        throw new IllegalArgumentException(
          s"Cannot descend into ${other.simpleString} at ${path.mkString(".")}")
    }
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only: enables name-mode column
    * mapping (physical parquet names stay put) and changes the logical
    * name. Dotted names rename nested struct fields. */
  def renameColumn(oldName: String, newName: String): Unit =
    log.withNewTransaction { txn =>
      import org.apache.spark.sql.types._
      import graft.schema.ColumnMapping
      require(!newName.contains("."), s"New name $newName must be a bare field name")
      val m0 = txn.snapshot.metadata
      val m = ColumnMapping.enable(m0)
      val path = oldName.split('.').toSeq
      val leaf = path.last
      val renamed = transformParentStruct(m.schema, path.init, { parent =>
        require(parent.fieldNames.exists(_.equalsIgnoreCase(leaf)),
          s"Column $oldName does not exist")
        require(!parent.fieldNames.exists(_.equalsIgnoreCase(newName)),
          s"Column $newName already exists")
        StructType(parent.fields.map(f =>
          if (f.name.equalsIgnoreCase(leaf)) f.copy(name = newName) else f))
      }).asInstanceOf[StructType]
      val parts = m.partitionColumns.map(c =>
        if (path.length == 1 && c.equalsIgnoreCase(oldName)) newName else c)
      txn.updateMetadata(m.copy(
        schemaString = renamed.json, partitionColumns = parts))
      txn.commit(protocolBumpFor(txn), "RENAME COLUMN",
        Map("oldName" -> oldName, "newName" -> newName))
    }

  /** ALTER TABLE DROP COLUMN — metadata-only under column mapping; the
    * physical data stays in place but is no longer readable. Dotted
    * names drop nested struct fields. */
  def dropColumn(name: String): Unit =
    log.withNewTransaction { txn =>
      import org.apache.spark.sql.types._
      import graft.schema.ColumnMapping
      val m0 = txn.snapshot.metadata
      require(!m0.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"Cannot drop partition column $name")
      val m = ColumnMapping.enable(m0)
      val path = name.split('.').toSeq
      val leaf = path.last
      val dropped = transformParentStruct(m.schema, path.init, { parent =>
        require(parent.fieldNames.exists(_.equalsIgnoreCase(leaf)),
          s"Column $name does not exist")
        require(parent.fields.length > 1,
          s"Cannot drop the only field of ${if (path.length == 1) "the table" else path.init.mkString(".")}")
        StructType(parent.fields.filterNot(_.name.equalsIgnoreCase(leaf)))
      }).asInstanceOf[StructType]
      txn.updateMetadata(m.copy(schemaString = dropped.json))
      txn.commit(protocolBumpFor(txn), "DROP COLUMNS", Map("column" -> name))
    }

  /** ALTER TABLE ALTER COLUMN ... TYPE — metadata-only type widening.
    * Existing parquet files keep their narrow physical type; Spark's
    * vectorized reader up-casts at scan time, so no rewrite is needed.
    * Only provably-lossless widenings are allowed. (Reference concept:
    * Delta type widening — re-designed onto Spark 4's widening reads.) */
  def alterColumnType(name: String, newType: org.apache.spark.sql.types.DataType): Unit =
    log.withNewTransaction { txn =>
      import org.apache.spark.sql.types._
      val m = txn.snapshot.metadata
      val field = m.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"Column $name does not exist"))
      require(!m.partitionColumns.exists(_.equalsIgnoreCase(name)),
        s"Cannot change the type of partition column $name")
      val ok = (field.dataType, newType) match {
        case (a, b) if a == b => false
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (ByteType | ShortType | IntegerType, DoubleType) => true
        case _ => false
      }
      require(ok, s"Cannot widen ${field.dataType.simpleString} to " +
        s"${newType.simpleString}: not a lossless widening")
      val fields = m.schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(name)) f.copy(dataType = newType) else f)
      // The widened logical schema now decodes NARROWER parquet files: a
      // reader unaware of widening would misread them, so the commit
      // flips the feature switch and installs its reader gate.
      val widened = m.copy(
        schemaString = org.apache.spark.sql.types.StructType(fields).json,
        configuration = m.configuration + ("graft.enableTypeWidening" -> "true"))
      txn.updateMetadata(widened)
      txn.commit(
        graft.log.TableFeatures
          .requiredUpgradeForMetadata(txn.snapshot.protocol, widened).toSeq,
        "CHANGE COLUMN",
        Map("column" -> name, "type" -> newType.simpleString))
    }

  /** Column mapping needs reader version 2 (older readers would use the
    * logical names against physically-named parquet). */
  private def protocolBumpFor(
      txn: graft.tx.OptimisticTransaction): Seq[graft.log.Action] =
    graft.log.TableFeatures.requiredUpgrade(txn.snapshot.protocol,
      txn.snapshot.metadata, graft.log.TableFeatures.columnMapping).toSeq

  /**
   * Assign base row ids to every live file that lacks one, in bounded
   * commits — the late-enablement path for row tracking (reference
   * concept: commands/backfill/RowTrackingBackfillCommand.scala —
   * re-designed). Feature SUPPORT installs first, so every commit racing
   * the backfill assigns ids to its own new files and the work left is
   * bounded by the files that existed at that point; the metadata
   * property itself stays off until the caller flips it. Each batch is
   * one re-commit of up to `maxFilesPerCommit` AddFiles with
   * `dataChange = false` (CDF/streaming skip them); id assignment rides
   * the normal commit path off the domain watermark. A concurrent DELETE
   * of a batch file aborts just that batch (re-add would resurrect the
   * file) and the next sweep re-selects from a fresh snapshot.
   */
  def backfillRowTracking(maxFilesPerCommit: Int = 100000): Unit = {
    require(maxFilesPerCommit > 0, "maxFilesPerCommit must be positive")
    // A leftover suspension flag (an interrupted dropFeature) would make
    // every batch commit skip id assignment — the loop would re-select
    // the same files forever and abort with a misleading error.
    require(!graft.log.RowTracking.isSuspended(log.update().metadata),
      "row-id generation is suspended (graft.rowTrackingSuspended=true, " +
        "likely an interrupted dropFeature); clear the flag first")
    addFeatureSupport("rowTracking")
    val total = log.update().numFiles
    // live-lock guard: racing un-tracked writers could feed files forever
    val maxToProcess = math.max(total * 3, 1000L)
    var processed = 0L
    var batchId = 0
    var conflictStreak = 0
    var done = false
    while (!done) {
      val s = log.update()
      val batch = s.allFilesDS
        .filter(col("baseRowId").isNull)
        .limit(maxFilesPerCommit)
        .collect().toSeq
      if (batch.isEmpty) done = true
      else {
        require(processed < maxToProcess,
          s"row-tracking backfill did not converge after $processed files")
        val withCounts =
          graft.log.RowTracking.ensureNumRecords(spark, log, batch)
        try {
          log.withNewTransaction { txn =>
            txn.commit(withCounts.map(_.copy(dataChange = false)),
              "ROW TRACKING BACKFILL", Map("batchId" -> batchId.toString))
          }
          processed += batch.size
          batchId += 1
          conflictStreak = 0
        } catch {
          // a winner removed one of the batch files — reselect fresh;
          // `processed` only advances on success, so the maxToProcess
          // guard alone never fires against an adversarial writer that
          // keeps deleting a batch file. Cap consecutive conflict-only
          // rounds explicitly.
          case _: graft.tx.GraftConcurrentModificationException =>
            conflictStreak += 1
            require(conflictStreak < 20,
              "row-tracking backfill lost 20 consecutive commit races; " +
                "pause conflicting writers (or rerun) and try again")
        }
      }
    }
  }

  def upsertProperties(props: Map[String, String]): Unit = {
    // Late row-tracking enablement: files written before the switch carry
    // no baseRowId, so reads would silently return null row ids. Backfill
    // BEFORE the metadata flips (reference concept: TableFeature.scala
    // RowTrackingFeature.validateAndBackfill — re-designed).
    if (props.get("graft.enableRowTracking").exists(_.toBoolean) &&
        !graft.log.RowTracking.isEnabled(log.update().metadata)) {
      // an interrupted dropFeature may have left id generation suspended;
      // re-enabling clears it (the user's intent is unambiguous)
      if (graft.log.RowTracking.isSuspended(log.update().metadata))
        removeProperties(Seq("graft.rowTrackingSuspended"))
      backfillRowTracking()
    }
    // A raw property set of a redirect key must still obey the state
    // machine (and parse) — route it through the validated transitions
    // so ALTER TABLE SET TBLPROPERTIES cannot corrupt the redirect.
    val rawRedirectKey = Seq(graft.log.TableRedirect.PROP,
      graft.log.TableRedirect.PROP_WRITER_ONLY).find(props.contains)
    if (rawRedirectKey.isDefined) {
      import graft.log.TableRedirect
      val prop = rawRedirectKey.get
      val writerOnly = prop == TableRedirect.PROP_WRITER_ONLY
      val json = props(prop)
      val next = TableRedirect.get(
        log.snapshot.metadata.copy(configuration = Map(prop -> json)))
        .getOrElse(throw new IllegalArgumentException(
          s"unparseable $prop value"))
      // every non-ENABLE transition must address the LIVE redirect: same
      // kind, same destination the ENABLE step declared — a mismatched
      // ALTER fails loudly instead of silently rewriting either
      def requireMatchesLive(state: String): Unit =
        require(TableRedirect.get(log.snapshot.metadata)
            .exists(r => r.dest == next.dest && r.writerOnly == writerOnly),
          s"invalid redirect transition: $state must use the redirect " +
            "kind and destination the ENABLE step declared")
      next.state match {
        case TableRedirect.STATE_ENABLE =>
          enableRedirect(next.dest, writerOnly, next.noRedirectRules)
        case TableRedirect.STATE_READY =>
          requireMatchesLive(TableRedirect.STATE_READY)
          // honor the raw JSON's rule set — the reference sets the whole
          // property value, so a READY transition may update the rules
          completeRedirect(Some(next.noRedirectRules))
        case TableRedirect.STATE_DROP =>
          requireMatchesLive(TableRedirect.STATE_DROP)
          redirectTransition("REDIRECT DROP",
            Set(Some(TableRedirect.STATE_READY))) { r =>
            Some(TableRedirect.propertyJson(TableRedirect.STATE_DROP, r.get.dest,
              r.get.noRedirectRules))
          }
        case other => throw new IllegalArgumentException(
          s"unknown redirect state '$other'")
      }
      val rest = props - prop
      if (rest.nonEmpty) upsertProperties(rest)
      return
    }
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      import graft.schema.ColumnMapping
      // Switching to id mode retroactively is unsound: files written
      // before the switch carry no field ids, so id-resolution would
      // misread (or null-fill) them. Id mode is declared at creation.
      if (props.get(ColumnMapping.MODE_KEY).contains("id") &&
          !ColumnMapping.idMode(m)) {
        require(txn.snapshot.numFiles == 0,
          "column mapping id mode must be set at table creation " +
            "(existing data files carry no parquet field ids)")
      }
      var updated = m.copy(configuration = m.configuration ++ props)
      if (ColumnMapping.isEnabled(updated) && !ColumnMapping.isEnabled(m))
        updated = ColumnMapping.enable(updated)
      txn.updateMetadata(updated)
      // Any feature the new properties switch on (mapping, CDF, row
      // tracking, append-only, v2 checkpoints, ...) installs its
      // reader/writer gate in the same commit.
      val bump = graft.log.TableFeatures
        .requiredUpgradeForMetadata(txn.snapshot.protocol, updated)
      txn.commit(bump.toSeq, "SET TBLPROPERTIES", props)
    }
  }

  def removeProperties(keys: Seq[String]): Unit = {
    // Unsetting the redirect key = a transition to NO-REDIRECT, legal
    // only from ENABLE (cancel) or DROP-IN-PROGRESS (final step) —
    // validate it like the API methods do.
    val unsetRedirectKey = Seq(graft.log.TableRedirect.PROP,
      graft.log.TableRedirect.PROP_WRITER_ONLY).find(keys.contains)
    if (unsetRedirectKey.isDefined) {
      import graft.log.TableRedirect
      val prop = unsetRedirectKey.get
      require(TableRedirect.get(log.update().metadata).forall(_.prop == prop),
        s"cannot unset $prop: the live redirect uses the other redirect kind")
      redirectTransition("UNSET TBLPROPERTIES",
        Set(Some(TableRedirect.STATE_ENABLE),
          Some(TableRedirect.STATE_DROP)), key = _ => prop)(_ => None)
      val rest = keys.filterNot(_ == prop)
      if (rest.nonEmpty) removeProperties(rest)
      return
    }
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      txn.updateMetadata(m.copy(configuration = m.configuration -- keys))
      txn.commit(Nil, "UNSET TBLPROPERTIES", keys.map(_ -> "").toMap)
    }
  }

  /** ALTER TABLE … SYNC IDENTITY: recompute each identity column's high
    * watermark from the actual data — needed after rows with explicitly
    * provided identity values land (e.g. via MERGE or CONVERT), so future
    * generated values cannot collide. (Reference concept:
    * alterDeltaTableCommands.scala SYNC IDENTITY — re-designed: one
    * metadata-only commit from a max() aggregate.) */
  def syncIdentity(): Unit =
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      val idCols = m.schema.fields
        .filter(graft.schema.ColumnDefaults.isIdentity).map(_.name).toSeq
      if (idCols.nonEmpty) {
        val maxes = toDF.select(idCols.map(c => max(col(c)).as(c)): _*).head()
        val conf = scala.collection.mutable.Map(m.configuration.toSeq: _*)
        idCols.zipWithIndex.foreach { case (c, i) =>
          if (!maxes.isNullAt(i)) {
            val key = s"graft.identity.$c.highWatermark"
            val old = conf.get(key).map(_.toLong)
            val hwm = maxes.getLong(i)
            if (!old.exists(_ >= hwm)) conf(key) = hwm.toString
          }
        }
        if (conf != m.configuration) {
          txn.updateMetadata(m.copy(configuration = conf.toMap))
          txn.commit(Nil, "SYNC IDENTITY", Map("columns" -> idCols.mkString(",")))
        }
      }
    }

  // ---- live-table redirect (reference redirect/TableRedirect.scala) ----

  /** NO-REDIRECT -> ENABLE-REDIRECT-IN-PROGRESS: begin redirecting this
    * table to `dest` (must already be a graft table). The source becomes
    * read-only; queries keep serving the SOURCE until [[completeRedirect]]
    * flips the state to READY. Cycles (dest chaining back here) refuse.
    *
    * `writerOnly=true` uses the writer-only variant: identical state
    * machine and in-engine routing, but the protocol gate is a WRITER
    * feature, so legacy readers that know nothing of redirects may keep
    * reading the frozen source while every redirect-aware client (and
    * every writer) serves the destination (see
    * [[graft.log.TableRedirect.PROP_WRITER_ONLY]]). Only one redirect
    * kind may be set at a time (reference
    * RedirectFeature.validateTableRedirect). */
  def enableRedirect(dest: String): Unit = enableRedirect(dest, writerOnly = false)

  def enableRedirect(dest: String, writerOnly: Boolean): Unit =
    enableRedirect(dest, writerOnly, Nil)

  /** ENABLE with per-application exemptions (reference
    * redirect/TableRedirect.scala:182-207 noRedirectRules): a session
    * whose `spark.app.name` matches a rule keeps resolving the SOURCE
    * while the redirect is READY, and may commit the rule's
    * `allowedOperations` there. Rules ride inside the redirect property
    * JSON and survive every state transition. */
  def enableRedirect(dest: String, writerOnly: Boolean,
      noRedirectRules: Seq[graft.log.TableRedirect.NoRedirectRule]): Unit = {
    import graft.log.TableRedirect
    val destLog = GraftLog.forTableNoRedirect(spark, dest)
    require(destLog.tableExists,
      s"redirect destination $dest is not a graft table")
    require(destLog.dataPath.toString != log.dataPath.toString,
      "a table cannot redirect to itself")
    // walk the destination's own redirect chain (ANY state counts — an
    // in-progress hop would settle into a live cycle)
    val visited = scala.collection.mutable.Set(
      log.dataPath.toString, destLog.dataPath.toString)
    var cur = TableRedirect.get(destLog.update().metadata)
    while (cur.isDefined) {
      val next = GraftLog.forTableNoRedirect(spark, cur.get.dest)
      require(visited.add(next.dataPath.toString),
        s"redirecting to $dest would create a redirect cycle " +
          s"(chain revisits ${next.dataPath})")
      cur = if (next.tableExists) TableRedirect.get(next.update().metadata)
            else None
    }
    redirectTransition("REDIRECT ENABLE", Set(None),
        key = _ => if (writerOnly) TableRedirect.PROP_WRITER_ONLY
                   else TableRedirect.PROP) { _ =>
      Some(TableRedirect.propertyJson(TableRedirect.STATE_ENABLE, dest,
        noRedirectRules))
    }
  }

  /** ENABLE-REDIRECT-IN-PROGRESS -> REDIRECT-READY: the redirect settles;
    * from now on every query resolved through the public path serves the
    * destination (noRedirectRules-exempt applications keep the source).
    * `rulesOverride` lets a raw ALTER TABLE SET TBLPROPERTIES update the
    * rule set at this transition; the default preserves the live rules. */
  def completeRedirect(): Unit = completeRedirect(None)

  private def completeRedirect(rulesOverride:
      Option[Seq[graft.log.TableRedirect.NoRedirectRule]]): Unit = {
    import graft.log.TableRedirect
    redirectTransition("REDIRECT READY", Set(Some(TableRedirect.STATE_ENABLE))) {
      r => Some(TableRedirect.propertyJson(TableRedirect.STATE_READY, r.get.dest,
        rulesOverride.getOrElse(r.get.noRedirectRules)))
    }
  }

  /** Convenience: ENABLE then READY for the writer-only variant. */
  def redirectToWriterOnly(dest: String): Unit = {
    enableRedirect(dest, writerOnly = true); completeRedirect()
  }

  /** ENABLE-REDIRECT-IN-PROGRESS -> NO-REDIRECT: abort an unfinished
    * redirect; the table returns to normal service. */
  def cancelRedirect(): Unit = {
    import graft.log.TableRedirect
    redirectTransition("REDIRECT CANCEL",
      Set(Some(TableRedirect.STATE_ENABLE)))(_ => None)
  }

  /** REDIRECT-READY -> DROP-REDIRECT-IN-PROGRESS -> NO-REDIRECT (two
    * commits, per the reference's state machine): stop serving queries at
    * the destination and restore normal service at this path. Call on a
    * [[GraftTable.forPathNoRedirect]] handle — the public path resolves
    * to the destination while the redirect is READY. */
  def dropRedirect(): Unit = {
    import graft.log.TableRedirect
    redirectTransition("REDIRECT DROP", Set(Some(TableRedirect.STATE_READY))) {
      r => Some(TableRedirect.propertyJson(TableRedirect.STATE_DROP, r.get.dest,
        r.get.noRedirectRules))
    }
    redirectTransition("REDIRECT DROP",
      Set(Some(TableRedirect.STATE_DROP)))(_ => None)
  }

  /** Convenience: ENABLE then READY in two commits.
    *
    * Visibility: OTHER sessions/processes pick up a newly-READY redirect
    * with ordinary MVCC read freshness — their next snapshot refresh
    * (any transaction start, read planning on a cold or invalidated
    * relation) re-resolves through the destination; an already-warm
    * cached plan may serve one more read of the frozen source first.
    * Writes are never stale: the commit gate re-checks the redirect
    * state at commit time, so a racing write at the source aborts. */
  def redirectTo(dest: String): Unit = { enableRedirect(dest); completeRedirect() }

  /** Convenience: ENABLE then READY with per-application exemptions (see
    * [[enableRedirect]] with `noRedirectRules`). */
  def redirectTo(dest: String,
      noRedirectRules: Seq[graft.log.TableRedirect.NoRedirectRule]): Unit = {
    enableRedirect(dest, writerOnly = false, noRedirectRules)
    completeRedirect()
  }

  /** Cross-language variant: `noRedirectRulesJson` is the property JSON's
    * rules array, e.g. `[{"appName":"audit","allowedOperations":["WRITE"]}]`
    * (python binding passes JSON rather than Scala case classes). */
  def redirectTo(dest: String, noRedirectRulesJson: String): Unit =
    redirectTo(dest, graft.log.TableRedirect.parseRules(noRedirectRulesJson))

  /** One validated state-transition commit: `expect` is the set of
    * admissible CURRENT states (None = no redirect), `next` produces the
    * new property value (None removes it), `key` picks the property the
    * transition writes (defaults to the live redirect's own kind, so
    * READY/CANCEL/DROP stay on the key ENABLE declared; only ENABLE
    * chooses a kind). Metadata-only, so it passes the redirect commit
    * gate. */
  private def redirectTransition(op: String, expect: Set[Option[String]],
      key: Option[graft.log.TableRedirect.Redirect] => String =
        _.map(_.prop).getOrElse(graft.log.TableRedirect.PROP))(
      next: Option[graft.log.TableRedirect.Redirect] => Option[String]): Unit =
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      val cur = graft.log.TableRedirect.get(m)
      require(expect.contains(cur.map(_.state)),
        s"invalid redirect transition '$op' from state " +
          s"${cur.map(_.state).getOrElse("NO-REDIRECT")} " +
          "(reference TableRedirect state machine)")
      val conf = next(cur) match {
        case Some(json) => m.configuration + (key(cur) -> json)
        case None => m.configuration - key(cur)
      }
      val updated = m.copy(configuration = conf)
      txn.updateMetadata(updated)
      txn.commit(graft.log.TableFeatures
        .requiredUpgradeForMetadata(txn.snapshot.protocol, updated).toSeq, op)
    }
}

object GraftTable {
  def forPath(spark: SparkSession, path: String): GraftTable = {
    val log = GraftLog.forTable(spark, path)
    require(log.tableExists, s"$path is not a graft table")
    new GraftTable(spark, log)
  }

  /** The table AT `path` itself, even when a REDIRECT-READY redirect
    * points queries elsewhere — for redirect administration
    * (dropRedirect) and source-side introspection. */
  def forPathNoRedirect(spark: SparkSession, path: String): GraftTable = {
    val log = GraftLog.forTableNoRedirect(spark, path)
    require(log.tableExists, s"$path is not a graft table")
    new GraftTable(spark, log)
  }

  def isGraftTable(spark: SparkSession, path: String): Boolean =
    GraftLog.forTable(spark, path).tableExists

  /** Resolve a catalog table name (graft provider) to its GraftTable. */
  def forName(spark: SparkSession, name: String): GraftTable = {
    val cat = spark.sessionState.catalog
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(name)
    require(cat.tableExists(ti), s"table $name not found")
    val meta = cat.getTableMetadata(ti)
    require(meta.provider.exists(_.equalsIgnoreCase("graft")),
      s"table $name is not a graft table (provider=${meta.provider})")
    forPath(spark, meta.location.toString)
  }
}

/** Static write/read helpers mirroring `df.write.format("graft")`. */
object Graft {
  def write(
      df: DataFrame,
      path: String,
      mode: String = "append",
      partitionBy: Seq[String] = Nil,
      replaceWhere: Option[String] = None,
      mergeSchema: Boolean = false,
      dynamicPartitionOverwrite: Boolean = false,
      configuration: Map[String, String] = Map.empty,
      txnAppId: Option[String] = None,
      txnVersion: Option[Long] = None,
      overwriteSchema: Boolean = false,
      dataChange: Boolean = true): Long =
    WriteIntoGraft(df.sparkSession, path, df, mode, partitionBy, replaceWhere,
      mergeSchema, dynamicPartitionOverwrite, configuration, txnAppId, txnVersion,
      overwriteSchema, dataChange)

  def read(spark: SparkSession, path: String): DataFrame =
    GraftTable.forPath(spark, path).toDF

  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    GraftTable.forPath(spark, path).asOfVersion(version)

  /** CONVERT TO GRAFT: register an existing parquet directory's files. */
  def convertFromParquet(spark: SparkSession, path: String): GraftTable =
    ConvertCommand.run(spark, path)

  /** CONVERT an existing Delta Lake table in place (zero data copy):
    * fold its `_delta_log` and register the live files, schema,
    * partitioning, stats, and translated properties as graft commit 0. */
  def convertFromDelta(spark: SparkSession, path: String): GraftTable =
    ConvertFromDeltaCommand.run(spark, path)

  /** Incrementally re-sync a CONVERTed table: fold only the Delta commits
    * newer than the recorded watermark into one graft commit — per-sync
    * cost scales with the new commits and the files they touch, never
    * with the table. */
  def syncFromDelta(spark: SparkSession, path: String): GraftTable =
    ConvertFromDeltaCommand.sync(spark, path)

  /** CREATE TABLE: empty table with an explicit schema (the way to declare
    * generated/identity columns or constraints up front). */
  def create(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty): GraftTable = {
    val log = graft.log.GraftLog.forTable(spark, path)
    require(!log.tableExists, s"graft table $path already exists")
    log.withNewTransaction { txn =>
      // A schema captured from another table's frame must not import that
      // table's column-mapping bookkeeping; this table assigns its own.
      val base = graft.log.Metadata(
        schemaString = graft.schema.SchemaUtils.toNullable(
          graft.schema.ColumnMapping.stripMappingMetadata(schema)).json,
        partitionColumns = partitionBy,
        configuration = configuration,
        createdTime = Some(System.currentTimeMillis()))
      txn.updateMetadata(
        if (graft.schema.ColumnMapping.isEnabled(base))
          graft.schema.ColumnMapping.enable(base)
        else base)
      txn.commit(Nil, "CREATE TABLE")
    }
    new GraftTable(spark, log)
  }

  /** Fluent table-definition builder (reference concept:
    * io.delta.tables.DeltaTableBuilder / DeltaColumnBuilder — re-designed
    * as a thin layer over `Graft.create`). */
  def build(spark: SparkSession): GraftTableBuilder = new GraftTableBuilder(spark)

  def columnBuilder(name: String): GraftColumnBuilder = new GraftColumnBuilder(name)
}

/** Declares one column: type, nullability, comment, generation expression
  * or identity spec — the metadata `Graft.create` understands. */
class GraftColumnBuilder private[graft] (name: String) {
  import org.apache.spark.sql.types._
  private var dt: DataType = _
  private var isNullable = true
  private var genExpr: Option[String] = None
  private var identity: Option[(Long, Long)] = None
  private var commentOpt: Option[String] = None

  def dataType(t: DataType): this.type = { dt = t; this }
  def dataType(t: String): this.type = { dt = DataType.fromDDL(t); this }
  def nullable(n: Boolean): this.type = { isNullable = n; this }
  def generatedAlwaysAs(sql: String): this.type = { genExpr = Some(sql); this }
  def generatedAlwaysAsIdentity(start: Long = 1, step: Long = 1): this.type =
    { identity = Some((start, step)); this }
  def defaultValue(sql: String): this.type = { defaultSql = Some(sql); this }
  def comment(c: String): this.type = { commentOpt = Some(c); this }
  private var defaultSql: Option[String] = None

  def build(): StructField = {
    require(dt != null, s"column $name needs a dataType")
    val f0 = (genExpr, identity) match {
      case (Some(g), None) => graft.schema.ColumnDefaults.generatedField(name, dt, g)
      case (None, Some((s, st))) =>
        require(dt == LongType, s"identity column $name must be BIGINT")
        graft.schema.ColumnDefaults.identityField(name, s, st)
      case (None, None) => defaultSql
        .map(graft.schema.ColumnDefaults.defaultField(name, dt, _))
        .getOrElse(StructField(name, dt, isNullable))
      case _ => throw new IllegalArgumentException(
        s"column $name cannot be both generated and identity")
    }
    require(defaultSql.isEmpty || (genExpr.isEmpty && identity.isEmpty),
      s"column $name cannot combine DEFAULT with generated/identity")
    val f1 = f0.copy(nullable = isNullable && identity.isEmpty)
    commentOpt.map(f1.withComment).getOrElse(f1)
  }
}

/** Collects columns/partitioning/properties and creates the table at a
  * path; `execute()` returns the `GraftTable`. */
class GraftTableBuilder private[graft] (spark: SparkSession) {
  import org.apache.spark.sql.types._
  private var path: String = _
  private val cols = scala.collection.mutable.ArrayBuffer.empty[StructField]
  private var partCols: Seq[String] = Nil
  private val props = scala.collection.mutable.Map.empty[String, String]
  private var ifNotExists = false
  private var mode = "create"   // create | replace | createOrReplace

  def location(p: String): this.type = { path = p; this }
  def addColumn(f: StructField): this.type = { cols += f; this }
  def addColumn(name: String, dataType: DataType): this.type =
    { cols += StructField(name, dataType); this }
  def addColumn(b: GraftColumnBuilder): this.type = { cols += b.build(); this }
  def addColumns(schema: StructType): this.type = { cols ++= schema.fields; this }
  def partitionedBy(names: String*): this.type = { partCols = names; this }
  def clusterBy(names: String*): this.type =
    { props += "graft.clusterBy" -> names.mkString(","); this }
  def property(k: String, v: String): this.type = { props += k -> v; this }
  def createIfNotExists(): this.type = { ifNotExists = true; this }
  /** REPLACE TABLE: the table must exist; one atomic commit swaps its
    * definition and removes the old data (readers see old or new, never
    * a mix). */
  def replace(): this.type = { mode = "replace"; this }
  def createOrReplace(): this.type = { mode = "createOrReplace"; this }

  def execute(): GraftTable = {
    require(path != null, "location(...) is required")
    val log = graft.log.GraftLog.forTable(spark, path)
    if (ifNotExists && log.tableExists) return new GraftTable(spark, log)
    if (mode != "create") {
      new graft.catalog.GraftCatalog().replaceTableData(
        path, None, StructType(cols.toSeq), partCols, props.toMap,
        mustExist = mode == "replace")
      new GraftTable(spark, graft.log.GraftLog.forTable(spark, path))
    } else
      Graft.create(spark, path, StructType(cols.toSeq), partCols, props.toMap)
  }
}
