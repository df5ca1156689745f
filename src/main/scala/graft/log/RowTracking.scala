package graft.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Row tracking: every row gets a stable 64-bit id. Fresh rows take
 * `baseRowId + row_index` (the AddFile's id range, assigned at commit
 * from a high watermark kept in the `graft.rowTracking` metadata domain);
 * rewrites that must preserve identity (OPTIMIZE / clustering) carry the
 * ids forward in a materialized `_graft_row_id` column, and reads
 * coalesce the materialized value over the computed default. Row ids are
 * stable under deletion-vector deletes for free — surviving rows keep
 * their physical positions. (Reference concept: Delta row tracking —
 * RowId.scala + DomainMetadata high watermark + materialized row id
 * column — re-designed: default ids come from the parquet reader's own
 * `_metadata.row_index`, materialization is a plain extra parquet column
 * readers outside the feature never request.)
 */
object RowTracking {

  val DOMAIN = "graft.rowTracking"
  val ROW_ID_COL = "_graft_row_id"
  val ROW_COMMIT_COL = "_graft_row_commit"

  def isEnabled(m: Metadata): Boolean =
    m.configuration.getOrElse("graft.enableRowTracking", "false").toBoolean

  /** Id GENERATION suspended — the window dropFeature's unbackfill runs
    * in, where re-committed id-less files must stay id-less (reference
    * concept: delta.rowTrackingSuspended). */
  def isSuspended(m: Metadata): Boolean =
    m.configuration.getOrElse("graft.rowTrackingSuspended", "false").toBoolean

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def highWaterMark(domains: Map[String, String]): Long =
    domains.get(DOMAIN)
      .map(c => mapper.readTree(c).path("rowIdHighWaterMark").asLong(-1L))
      .getOrElse(-1L)

  private def numRecords(a: AddFile): Long =
    graft.stats.StatsSpace.numRecords(a.stats).getOrElse(-1L)

  /**
   * Assign fresh base row ids to AddFiles that lack one. Returns the
   * updated actions plus the domain watermark action to ride the commit,
   * or None when nothing needed assignment.
   */
  def assign(
      actions: Seq[Action],
      domains: Map[String, String]): (Seq[Action], Option[DomainMetadata]) = {
    val hwm0 = highWaterMark(domains)
    var hwm = hwm0
    val out = actions.map {
      case a: AddFile if a.baseRowId.isEmpty =>
        val n = numRecords(a)
        if (n < 0) a
        else { val base = hwm + 1; hwm += math.max(n, 1); a.copy(baseRowId = Some(base)) }
      case other => other
    }
    if (hwm == hwm0) (actions, None)
    else (out, Some(DomainMetadata(DOMAIN, s"""{"rowIdHighWaterMark":$hwm}""")))
  }

  /** Stamp the commit version onto freshly-tracked AddFiles (called per
    * commit attempt — the version moves on conflict retry). */
  def stampCommitVersion(actions: Seq[Action], version: Long): Seq[Action] =
    actions.map {
      case a: AddFile if a.baseRowId.isDefined && a.defaultRowCommitVersion.isEmpty =>
        a.copy(defaultRowCommitVersion = Some(version))
      case other => other
    }

  /**
   * Id assignment needs each file's row count. Graft-written files always
   * carry `numRecords` stats; files inherited via CONVERT from stats-less
   * sources may not — read those counts from the parquet footers on the
   * executors (one task round per backfill batch, no data rows move) and
   * merge them into the stats JSON so `assign` can proceed.
   */
  def ensureNumRecords(
      spark: SparkSession,
      log: GraftLog,
      batch: Seq[AddFile]): Seq[AddFile] = {
    val (ok, missing) = batch.partition(a => numRecords(a) >= 0)
    if (missing.isEmpty) return batch
    import spark.implicits._
    val root = log.dataPath.toString
    val confBc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val counts: Map[String, Long] = spark.createDataset(missing.map(_.path))
      .mapPartitions { it =>
        it.map { rel =>
          val p = new Path(rel)
          val abs = if (p.isAbsolute) p else new Path(new Path(root), rel)
          val conf = confBc.value
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(abs, conf),
            org.apache.parquet.HadoopReadOptions.builder(conf).build())
          try rel -> r.getRecordCount finally r.close()
        }
      }.collect().toMap
    ok ++ missing.map { a =>
      // Malformed stats read as absent: the footer count replaces them.
      val node = Option(a.stats)
        .flatMap(s => scala.util.Try(mapper.readTree(s)).toOption)
        .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
        .getOrElse(mapper.createObjectNode())
      node.put("numRecords", counts(a.path))
      a.copy(stats = mapper.writeValueAsString(node))
    }
  }

  /**
   * Scan the snapshot (or a pruned `files` subset) with `_graft_row_id` /
   * `_graft_row_commit` columns appended (after the logical schema).
   * Deletion vectors are applied; materialized id columns in rewritten
   * files win over the computed `baseRowId + row_index` default.
   *
   * With `files = None` the per-file id lookup derives from the
   * snapshot's DISTRIBUTED file view (`allFilesDS`) — on a lazy
   * checkpoint-backed snapshot the driver never holds the file map, and
   * Spark picks broadcast vs shuffle for the join from the lookup's
   * actual size. Callers that already pruned to a small batch (OPTIMIZE
   * bins) pass `Some(files)` and keep the forced broadcast.
   */
  def scanWithRowIds(
      spark: SparkSession,
      log: GraftLog,
      snapshot: Snapshot,
      files: Option[Seq[AddFile]]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.graftshim.SparkShims
    import graft.dv.DeletionVectors
    import graft.files.GraftFileIndex
    import graft.schema.ColumnMapping

    val m = snapshot.metadata
    val index = new GraftFileIndex(spark, log, snapshot, files)
    // Extended read schema: files written before materialization (or
    // never rewritten) null-fill the extra columns.
    val dataSchema = StructType(
      ColumnMapping.physicalDataSchema(m).fields ++
        Seq(StructField(ROW_ID_COL, LongType), StructField(ROW_COMMIT_COL, LongType)))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = DeletionVectors
        .readerFormat(log, files.getOrElse(snapshot.dvFiles))
        .getOrElse(new ParquetFileFormat),
      options = Map.empty)(spark)
    var df = SparkShims.ofRows(spark, LogicalRelation(relation))
      .withColumn("__f", DeletionVectors.normFileCol(col("_metadata.file_path")))
      .withColumn("__i", col("_metadata.row_index"))

    // file -> (baseRowId, defaultRowCommitVersion), joined on the
    // normalized file key.
    import spark.implicits._
    val rootPath = log.dataPath.toString
    val lookup = files match {
      case Some(fs) =>
        // already-pruned batch: metadata-scale, force broadcast
        broadcast(spark.createDataset(fs.map { f =>
          (DeletionVectors.fileKey(log, f),
            f.baseRowId.getOrElse(-1L),
            f.defaultRowCommitVersion.getOrElse(-1L))
        }).toDF("__rt_file", "__rt_base", "__rt_ver"))
      case None =>
        // full table: build the lookup on the executors from the
        // distributed file view (same key function as fileKey) and let
        // Spark/AQE choose the join strategy from its size.
        snapshot.allFilesDS.map { f =>
          val p = new Path(f.path)
          val abs = if (p.isAbsolute) p else new Path(new Path(rootPath), f.path)
          (abs.toUri.getPath,
            f.baseRowId.getOrElse(-1L),
            f.defaultRowCommitVersion.getOrElse(-1L))
        }.toDF("__rt_file", "__rt_base", "__rt_ver")
    }
    df = df.join(lookup, df("__f") === lookup("__rt_file"), "left")
      .withColumn(ROW_ID_COL,
        coalesce(col(ROW_ID_COL),
          when(col("__rt_base") >= 0, col("__rt_base") + col("__i"))))
      .withColumn(ROW_COMMIT_COL,
        coalesce(col(ROW_COMMIT_COL),
          when(col("__rt_ver") >= 0, col("__rt_ver"))))
      .drop("__f", "__i", "__rt_file", "__rt_base", "__rt_ver")
    // physical -> logical rename (nested fields rename via struct cast),
    // keeping the id columns last
    val byPhysical = m.schema.fields.map(f => ColumnMapping.physicalName(f) -> f).toMap
    df.select(df.columns.filterNot(Set(ROW_ID_COL, ROW_COMMIT_COL)).map { c =>
      byPhysical.get(c) match {
        case Some(f) =>
          val pt = ColumnMapping.physicalType(f.dataType)
          (if (pt == f.dataType) col(c) else col(c).cast(f.dataType)).as(f.name)
        case None => col(c)
      }
    } ++ Seq(col(ROW_ID_COL), col(ROW_COMMIT_COL)): _*)
  }
}
