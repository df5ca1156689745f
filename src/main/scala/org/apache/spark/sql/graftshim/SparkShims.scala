package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}

/**
 * Bridge into `private[sql]` Spark internals (plan→DataFrame and
 * Column↔Expression conversion). Lives under org.apache.spark.sql so the
 * access checks pass — the same technique Spark connector libraries use.
 */
object SparkShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.logical

  /** Fork the session (shared SparkContext + shared state, copied
    * session state incl. SQLConf) so per-plan conf overrides — write-time
    * parquet timestamp type, AQE advisory sizing — never leak to
    * concurrent queries on the original session. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** Spark's temporary column name that makes the parquet readers emit
    * the file row index (split- and row-group-skip-correct). */
  def rowIndexTempColumn: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  // ---- private[sql] DSv2 catalog bridges ----

  /** The CatalogTable behind a session-catalog V1Table, if that's what
    * this v2 Table is. */
  def v1CatalogTable(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = t match {
    case v1: org.apache.spark.sql.connector.catalog.V1Table => Some(v1.v1Table)
    case _ => None
  }

  def structTypeToV2Columns(schema: org.apache.spark.sql.types.StructType)
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    org.apache.spark.sql.connector.catalog.CatalogV2Util.structTypeToV2Columns(schema)

  /** DataFrame from InternalRows (e.g. re-planning a streaming
    * micro-batch through the batch write path, or wrapping a batch plan
    * as a streaming getBatch result). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean = false): DataFrame =
    spark.asInstanceOf[ClassicSession]
      .internalCreateDataFrame(rows, schema, isStreaming)
}

/** Bridge for the sql-private streaming v1-fallback marker: a v2 table
  * extending this falls back to its v1 CatalogTable (DSv1 source) for
  * streaming reads. */
trait GraftV1FallbackTable
  extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
