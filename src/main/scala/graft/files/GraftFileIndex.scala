package graft.files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.log.{AddFile, GraftLog, Metadata, Snapshot}
import graft.stats.StatsSkipping

/**
 * A `FileIndex` whose listing comes from the transaction log, not the
 * filesystem: partition values are read from each AddFile's
 * `partitionValues` (never parsed from paths), and partition filters and
 * stats skipping prune the file list — in a driver loop of interpreted
 * predicates below the distributed-skipping threshold, as one filter over
 * the snapshot's parsed-stats view at or above it.
 * Spark's FileSourceStrategy then plans a vectorized, codegen'd Parquet
 * scan over exactly the surviving files. (Reference concept:
 * files/TahoeFileIndex.scala:53-470 — re-designed.)
 */
class GraftFileIndex(
    spark: SparkSession,
    log: GraftLog,
    snapshot: Snapshot,
    val pinnedFiles: Option[Seq[AddFile]] = None) extends FileIndex {

  def withPinned(files: Seq[AddFile]): GraftFileIndex =
    new GraftFileIndex(spark, log, snapshot, Some(files))

  private def metadata: Metadata = snapshot.metadata

  // The index lives in PHYSICAL column space: AddFile partitionValues and
  // stats JSON are keyed by physical names; dataFrame() renames to
  // logical on top.
  override val partitionSchema: StructType =
    graft.schema.ColumnMapping.physicalPartitionSchema(metadata)

  override def rootPaths: Seq[Path] = Seq(log.dataPath)

  def files: Seq[AddFile] = pinnedFiles.getOrElse(snapshot.allFiles)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // Filters on the base column of a generated partition column imply
    // partition predicates the user never wrote — derive them so pruning
    // fires on e.g. `WHERE ts >= X` for a table partitioned by day(ts).
    val inferred = graft.schema.PartitionInference
      .inferPartitionFilters(spark, metadata, dataFilters)
    val skipped = StatsSkipping.pruneAndFilter(spark, snapshot, pinnedFiles,
      partitionSchema, partitionFilters ++ inferred,
      graft.schema.ColumnMapping.physicalDataSchema(metadata), dataFilters,
      GraftFileIndex.statsColumns(metadata))
    skipped.groupBy(_.partitionValues).map { case (pv, fs) =>
      PartitionDirectory(
        GraftFileIndex.partitionRow(pv, partitionSchema),
        fs.map(toFileStatus).toArray)
    }.toSeq
  }

  private def toFileStatus(f: AddFile): FileStatus =
    new FileStatus(f.size, false, 1, 128L * 1024 * 1024, f.modificationTime,
      absolutePath(f.path))

  def absolutePath(rel: String): Path = {
    val p = new Path(rel)
    if (p.isAbsolute) p else new Path(log.dataPath, rel)
  }

  override def inputFiles: Array[String] =
    files.map(f => absolutePath(f.path).toString).toArray

  override def refresh(): Unit = ()

  // Un-pinned: the snapshot's aggregate, which on a lazy checkpoint-backed
  // snapshot comes from a distributed pass — asking for plan statistics
  // must never force a 10M-file map onto the driver.
  override def sizeInBytes: Long =
    pinnedFiles.map(_.map(_.size).sum).getOrElse(snapshot.sizeInBytes)
}

object GraftFileIndex {

  /** How many leading schema fields carry skipping stats for this table. */
  def numIndexedCols(m: Metadata): Int =
    m.configuration.getOrElse("graft.dataSkippingNumIndexedCols",
      graft.stats.FooterStats.MAX_INDEXED_COLS.toString).toInt

  /** The table's stats-column policy: an explicit
    * `graft.dataSkippingStatsColumns` list (logical names, translated to
    * physical so it survives renames under column mapping) wins over the
    * first-`graft.dataSkippingNumIndexedCols` default. */
  def statsColumns(m: Metadata): graft.stats.FooterStats.StatsColumns = {
    val explicit = m.configuration.get("graft.dataSkippingStatsColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .map(_.map { logical =>
        m.schema.fields.find(_.name.equalsIgnoreCase(logical)) match {
          case Some(f) => graft.schema.ColumnMapping.physicalName(f)
          case None => throw new IllegalArgumentException(
            s"graft.dataSkippingStatsColumns names unknown column '$logical'")
        }
      })
    graft.stats.FooterStats.StatsColumns(numIndexedCols(m), explicit)
  }

  /** Cast a partition-value string map into the typed InternalRow. */
  def partitionRow(pv: Map[String, String], partitionSchema: StructType): InternalRow = {
    val values = partitionSchema.fields.map { f =>
      pv.get(f.name).flatMap(Option(_)) match {
        case None => null
        case Some(s) =>
          Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType),
            f.dataType, Some("UTC")).eval(null)
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  /** Driver-side partition pruning (standard Spark bound-predicate pattern). */
  def prunePartitions(
      files: Seq[AddFile],
      partitionSchema: StructType,
      partitionFilters: Seq[Expression]): Seq[AddFile] = {
    if (partitionFilters.isEmpty || partitionSchema.isEmpty) return files
    val predicate = partitionFilters.reduce(And).transform {
      case a: AttributeReference =>
        val idx = partitionSchema.indexWhere(f => f.name.equalsIgnoreCase(a.name))
        if (idx < 0) Literal(true)
        else BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
    }
    val bound = Predicate.createInterpreted(predicate)
    bound.initialize(0)
    files.filter { f =>
      val row = partitionRow(f.partitionValues, partitionSchema)
      bound.eval(row)
    }
  }

  /** Build a DataFrame over a snapshot (optionally a pinned file subset).
    * Files carrying deletion vectors read through the DV-splicing parquet
    * format (per-split bitmap filter, no join) unless `applyDv = false`
    * (the DV writer needs the raw rows). */
  def dataFrame(
      spark: SparkSession,
      log: GraftLog,
      snapshot: Snapshot,
      pinnedFiles: Option[Seq[AddFile]] = None,
      isStreaming: Boolean = false,
      applyDv: Boolean = true): DataFrame = {
    val index = new GraftFileIndex(spark, log, snapshot, pinnedFiles)
    val m = snapshot.metadata
    // Id-mode tables resolve parquet columns by field id. The flag is
    // session-wide by Spark's design (the reference REQUIREs users to
    // enable it globally for id mode, DeltaParquetFileFormat.scala:99-105;
    // we set it on first use instead) and only affects read schemas that
    // actually carry field-id metadata — which graft only stamps on
    // id-mode tables.
    if (graft.schema.ColumnMapping.idMode(m))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val format =
      if (applyDv) graft.dv.DeletionVectors
        .readerFormat(log, pinnedFiles.getOrElse(snapshot.dvFiles))
        .getOrElse(new ParquetFileFormat)
      else new ParquetFileFormat
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = graft.schema.ColumnMapping.physicalDataSchema(m),
      bucketSpec = None,
      fileFormat = format,
      options = Map.empty)(spark)
    val plan = LogicalRelation(relation).copy(isStreaming = isStreaming)
    val df = SparkShims.ofRows(spark, plan)
    // physical -> logical rename is the single mapping boundary for reads
    val logical = graft.schema.ColumnMapping.toLogicalProjection(df, m)
    // HadoopFsRelation appends partition columns after data columns;
    // present the table in its DECLARED column order instead.
    val declared = m.schema.fieldNames.toSeq
    if (m.partitionColumns.nonEmpty && logical.columns.toSeq != declared &&
        declared.forall(logical.columns.contains))
      logical.select(declared.map(org.apache.spark.sql.functions.col): _*)
    else logical
  }
}
