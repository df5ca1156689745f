package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.commands.WriteIntoGraft
import graft.files.GraftFileIndex
import graft.log.GraftLog

/**
 * `format("graft")` entry point: batch relation (with versionAsOf /
 * timestampAsOf time travel), batch writes (mode/replaceWhere/mergeSchema
 * options), streaming source and sink. Registered through
 * META-INF/services/org.apache.spark.sql.sources.DataSourceRegister.
 * (Reference concept: sources/DeltaDataSource.scala:55-420 — re-designed.)
 */
class GraftDataSource
    extends RelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider
    with StreamSinkProvider
    with org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---- DSv2 TableProvider ----
  // Marks "graft" as a v2 provider so the session catalog routes
  // CREATE/CTAS/REPLACE TABLE DDL through GraftCatalog. The returned table
  // deliberately advertises NO read/write/stream capabilities: DataFrame
  // reader/writer and streaming then fall back to the proven DSv1 paths
  // above, and only catalog DDL takes the v2 route.
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    Option(options.get("path")) match {
      case Some(p) if GraftLog.forTable(spark, p).tableExists =>
        GraftLog.forTable(spark, p).update().metadata.schema
      case _ => new StructType()
    }
  }

  override def getTable(
      tableSchema: StructType,
      tablePartitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): org.apache.spark.sql.connector.catalog.Table =
    new org.apache.spark.sql.connector.catalog.Table {
      override def name(): String =
        "graft." + Option(properties.get("path")).getOrElse("(unresolved)")
      override def schema(): StructType = tableSchema
      override def partitioning()
          : Array[org.apache.spark.sql.connector.expressions.Transform] = tablePartitioning
      override def capabilities()
          : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
        java.util.Collections.emptySet()
    }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' is required for graft tables"))

  private val versionSuffixRe = "(?s)^(.*)@v(\\d+)$".r
  private val timestampSuffixRe = "(?s)^(.*)@(\\d{17})$".r

  /** `path@v123` / `path@yyyyMMddHHmmssSSS` time-travel suffixes on reads
    * (reference concept: DeltaDataSource.parsePathIdentifier /
    * DeltaTimeTravelSpec — re-designed). The literal path wins if it is
    * itself a graft table; combining the suffix with an explicit
    * versionAsOf/timestampAsOf option is an error (the reference's
    * "multiple time travel formats" rule), never a silent pick. */
  private def resolveTimeTravelPath(
      spark: SparkSession,
      parameters: Map[String, String]): Map[String, String] = {
    val raw = pathOf(parameters)
    val explicitOpt = parameters.contains("versionAsOf") ||
      parameters.contains("timestampAsOf")
    def isTable(p: String) = GraftLog.forTable(spark, p).tableExists
    def checkNotBoth(): Unit = require(!explicitOpt,
      s"Cannot combine the time-travel path suffix in '$raw' with a " +
        "versionAsOf/timestampAsOf option; specify one or the other")
    raw match {
      case versionSuffixRe(base, v) if !isTable(raw) && isTable(base) =>
        checkNotBoth()
        parameters + ("path" -> base, "versionAsOf" -> v)
      case timestampSuffixRe(base, ts) if !isTable(raw) && isTable(base) =>
        checkNotBoth()
        val t = java.time.LocalDateTime.parse(ts,
          java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS"))
        parameters + ("path" -> base,
          "timestampAsOf" -> java.sql.Timestamp.valueOf(t).toString)
      case _ => parameters
    }
  }

  override def createRelation(
      sqlContext: SQLContext,
      rawParameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val parameters = resolveTimeTravelPath(spark, rawParameters)
    val log = GraftLog.forTable(spark, pathOf(parameters))
    require(log.tableExists, s"${pathOf(parameters)} is not a graft table")
    // Batch CDF read: spark.read.option("readChangeFeed", true)
    //   .option("startingVersion"|"startingTimestamp", ...).load(path)
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      val start = parameters.get("startingVersion").map(_.toLong)
        .orElse(parameters.get("startingTimestamp").map(ts =>
          log.getVersionAtTime(GraftLog.parseUserTimestamp(ts))))
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires startingVersion or startingTimestamp"))
      val end = parameters.get("endingVersion").map(_.toLong)
        .orElse(parameters.get("endingTimestamp").map(ts =>
          log.getVersionAtTime(GraftLog.parseUserTimestamp(ts))))
        .getOrElse(Long.MaxValue)
      val df = graft.commands.Cdc.changes(spark, log, start, end)
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = spark.sqlContext
        override def schema: StructType = df.schema
        override def needConversion: Boolean = false
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          df.queryExecution.toRdd
            .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      }
    }
    val snapshot = parameters.get("versionAsOf") match {
      case Some(v) => log.getSnapshotAt(v.toLong)
      case None => parameters.get("timestampAsOf") match {
        case Some(ts) =>
          log.getSnapshotAt(log.getVersionAtTime(
            GraftLog.parseUserTimestamp(ts)))
        case None => log.update()
      }
    }
    // Column-mapped tables need the physical->logical projection that
    // GraftFileIndex.dataFrame builds — a bare relation would read
    // logical names against physically-named parquet columns.
    if (graft.schema.ColumnMapping.isEnabled(snapshot.metadata)) {
      val df = GraftFileIndex.dataFrame(spark, log, snapshot)
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = spark.sqlContext
        override def schema: StructType = df.schema
        override def needConversion: Boolean = false
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          df.queryExecution.toRdd
            .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      }
    }
    val index = new GraftFileIndex(spark, log, snapshot)
    // Deletion vectors apply inside the per-file parquet reader — the
    // relation keeps its full filter/projection pushdown surface.
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = snapshot.metadata.dataSchema,
      bucketSpec = None,
      fileFormat = graft.dv.DeletionVectors
        .readerFormat(log, snapshot.dvFiles)
        .getOrElse(new ParquetFileFormat),
      options = Map.empty)(spark)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val partitionBy = parameters.get("__partition_columns")
      .map(parsePartitionColumns).getOrElse(Nil)
    val writeMode = mode match {
      case SaveMode.Overwrite => "overwrite"
      case SaveMode.Append => "append"
      case SaveMode.ErrorIfExists =>
        require(!GraftLog.forTable(spark, path).tableExists,
          s"graft table $path already exists")
        "append"
      case SaveMode.Ignore =>
        if (GraftLog.forTable(spark, path).tableExists) {
          return createRelation(sqlContext, parameters)
        }
        "append"
    }
    WriteIntoGraft(spark, path, data,
      mode = writeMode,
      partitionBy = partitionBy,
      replaceWhere = parameters.get("replaceWhere"),
      mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean),
      dynamicPartitionOverwrite =
        parameters.get("partitionOverwriteMode").exists(_.equalsIgnoreCase("dynamic")),
      txnAppId = parameters.get("txnAppId"),
      txnVersion = parameters.get("txnVersion").map(_.toLong),
      overwriteSchema = parameters.get("overwriteSchema").exists(_.toBoolean),
      dataChange = parameters.get("dataChange").forall(_.toBoolean))
    createRelation(sqlContext, parameters)
  }

  private def parsePartitionColumns(json: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    (0 until node.size()).map(i => node.get(i).asText())
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val log = GraftLog.forTable(sqlContext.sparkSession, pathOf(parameters))
    // With schema tracking, the analyzed stream schema is the TRACKED one
    // (last adopted), which may lag the table head until the stream
    // drains up to the change and adopts it.
    val tracked = parameters.get("schemaTrackingLocation").flatMap { loc =>
      new graft.streaming.SchemaTrackingLog(log.store,
        new org.apache.hadoop.fs.Path(loc)).latest().map(_.metadata.schema)
    }
    val base = tracked.getOrElse(log.update().metadata.schema)
    val s =
      if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
        StructType(base.fields ++ Seq(
          org.apache.spark.sql.types.StructField(
            graft.commands.Cdc.CHANGE_TYPE, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(
            graft.commands.Cdc.COMMIT_VERSION,
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            graft.commands.Cdc.COMMIT_TIMESTAMP,
            org.apache.spark.sql.types.TimestampType, nullable = false)))
      } else base
    (shortName(), s)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val log = GraftLog.forTable(spark, pathOf(parameters))
    new graft.streaming.GraftSource(spark, log, parameters)
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    new graft.streaming.GraftSink(
      sqlContext, pathOf(parameters), partitionColumns, outputMode, parameters)
  }
}
