package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression,
  GreaterThanOrEqual, LessThanOrEqual, Literal, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.functions._

import graft.files.GraftFileIndex
import graft.log._
import graft.tx.OptimisticTransaction

/** Shared plumbing for row-level DML rewrites. */
object Dml extends PredicateHelper {
  /** A scanned row's file identity: the URI Spark's file source reports
    * for the file the row came from. Every DML that finds touched files
    * through a scan groups by this column. */
  def fileUri: Column = col("_metadata.file_path")

  /** A scanned row's index in its file: a deletion vector's domain. */
  def rowIndex: Column = col("_metadata.row_index")

  /** Resolve the table-relative AddFiles that actually contain matching
    * rows, by scanning candidates grouped by [[fileUri]]. */
  def findTouchedFiles(
      spark: SparkSession,
      log: GraftLog,
      txn: OptimisticTransaction,
      candidates: Seq[AddFile],
      condition: Column): Seq[AddFile] =
    findTouchedFilesWithCount(spark, log, txn, candidates, condition)._1

  /** Same single scan, but also returns the exact matched-row count (the
    * per-file counts ride the scan tasks' [[MatchFold]]) — this is where
    * UPDATE's numUpdatedRows comes from without a second pass. */
  def findTouchedFilesWithCount(
      spark: SparkSession,
      log: GraftLog,
      txn: OptimisticTransaction,
      candidates: Seq[AddFile],
      condition: Column): (Seq[AddFile], Long) = {
    if (candidates.isEmpty) return (Nil, 0L)
    val perFile = touchedFiles(log, candidates,
      GraftFileIndex.dataFrame(spark, log, txn.snapshot, Some(candidates))
        .filter(condition).select(fileUri))
    (perFile.map(_._1), perFile.map(_._2.applied(0)).sum)
  }

  /** The candidates that hold a row of `matched`, each with its rollup,
    * folded in the scan tasks. The first column of `matched` holds the
    * rows' [[fileUri]]; a second, their [[rowIndex]], fills each rollup's
    * `appliedRows`: the bitmap a deletion vector is written from. */
  private[commands] def touchedFiles(
      log: GraftLog,
      candidates: Seq[AddFile],
      matched: DataFrame): Seq[(AddFile, MatchFold.File)] = {
    val cols = matched.columns.toSeq.map(c => col(s"`$c`"))
    MatchFold.run(matched.select(cols.head, lit(0), lit(null),
      cols.lift(1).getOrElse(lit(null)), lit(null)), clauses = 1).touched(log, candidates)
  }

  /** THE one mapping from [[fileUri]] values back to the AddFiles that
    * produced them (decoded absolute paths both sides), one per URI, in
    * order — shared by every command that detects touched files through
    * a scan. A URI that is no candidate's is an error, not a skip: its
    * changes would otherwise be lost. */
  def resolveTouched(
      log: GraftLog,
      candidates: Seq[AddFile],
      fileUris: Seq[String]): Seq[AddFile] = {
    val byPath = candidates.map(f =>
      new Path(new Path(log.dataPath, f.path).toUri.getPath).toString -> f).toMap
    fileUris.map { uri =>
      byPath.getOrElse(new Path(new java.net.URI(uri).getPath).toString,
        throw new IllegalStateException(s"scanned file $uri is not a candidate"))
    }
  }

  /**
   * Exact data filters that `target JOIN source ON condition` puts on the
   * target: every target row that can match satisfies them, so a file
   * whose stats refute them holds no match. They are the condition's
   * deterministic target-only conjuncts, plus `t.col BETWEEN lo AND hi`
   * for each conjunct `t.col = <source expression>` on a column stats
   * skipping compares, with lo and hi the key's bounds over the source:
   * evaluated on the driver when the source is a local relation, whose
   * rows are already there, and otherwise taken by one aggregate.
   * `=` rejects nulls, so a source whose key is all null (or which is
   * empty) matches nothing, and that key's filter is `false`. Other
   * conjuncts (`OR` across sides, `<=>`, non-equi) filter nothing.
   * `target` only lends its schema, through the analyzed join.
   */
  def joinFilters(
      spark: SparkSession,
      target: DataFrame,
      source: DataFrame,
      condition: Column): Seq[Expression] = {
    val join = target.join(source, condition, "inner").queryExecution.analyzed
      .collectFirst { case j: Join => j }
    join.toSeq.flatMap { j =>
      def onlyFrom(side: LogicalPlan, e: Expression) = e.deterministic &&
        !SubqueryExpression.hasSubquery(e) && e.references.subsetOf(side.outputSet)
      val conjuncts = j.condition.toSeq.flatMap(splitConjunctivePredicates)
      val targetOnly = conjuncts.filter(onlyFrom(j.left, _))
      def key(a: Attribute, e: Expression) = onlyFrom(j.left, a) &&
        graft.stats.StatsSkipping.statsType(a.dataType) &&
        e.references.nonEmpty && onlyFrom(j.right, e)
      val keys: Seq[(Attribute, Expression)] = conjuncts.collect {
        case EqualTo(a: Attribute, e) if key(a, e) => a -> e
        case EqualTo(e, a: Attribute) if key(a, e) => a -> e
      }
      val ranges = keys.zip(bounds(spark, j.right, keys.map(_._2))).map {
        case ((a, _), Some((lo, hi))) =>
          And(GreaterThanOrEqual(a, lo), LessThanOrEqual(a, hi))
        case (_, None) => Literal.FalseLiteral
      }
      targetOnly ++ ranges
    }
  }

  /** The least and greatest non-null value of each of `exprs` over the
    * rows of `source`, or None where there is none. When the optimizer
    * folds the projection of `exprs` over `source` into a local relation
    * (it does so on the driver, after rewriting expressions such as
    * `nvl` or `to_date`, and only when every one can be evaluated
    * there), the bounds come from its rows, ordered as Spark's `min` and
    * `max` order (NaN greatest); otherwise one aggregate takes them. */
  private def bounds(
      spark: SparkSession,
      source: LogicalPlan,
      exprs: Seq[Expression]): Seq[Option[(Literal, Literal)]] = {
    if (exprs.isEmpty) return Nil
    val keys = SparkShims.ofRows(spark, source).select(exprs.zipWithIndex.map {
      case (e, i) => SparkShims.column(e).as(s"k$i")
    }: _*)
    keys.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        exprs.zipWithIndex.map { case (e, i) =>
          val ord = TypeUtils.getInterpretedOrdering(e.dataType)
          val values = l.data.filterNot(_.isNullAt(i)).map(_.get(i, e.dataType))
          if (values.isEmpty) None
          else Some(Literal(values.min(ord), e.dataType) -> Literal(values.max(ord), e.dataType))
        }
      case _ =>
        val row = keys.select(exprs.indices.flatMap { i =>
          Seq(min(col(s"k$i")), max(col(s"k$i")))
        }: _*).head()
        exprs.zipWithIndex.map { case (e, i) =>
          if (row.isNullAt(2 * i)) None
          else Some(Literal.create(row.get(2 * i), e.dataType) ->
            Literal.create(row.get(2 * i + 1), e.dataType))
        }
    }
  }

  def scanFiles(
      spark: SparkSession,
      log: GraftLog,
      txn: OptimisticTransaction,
      files: Seq[AddFile]): DataFrame =
    GraftFileIndex.dataFrame(spark, log, txn.snapshot, Some(files))

  /** Exact row count of `files` from their numRecords stats — no scan.
    * None when any file lacks stats (converted tables, foreign writers). */
  def statsRowCount(files: Seq[AddFile]): Option[Long] = {
    val counts = files.map(f => graft.stats.StatsSpace.numRecords(f.stats))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }
}

/**
 * DELETE FROM t WHERE cond, compiled to Spark scans + rewrites:
 * partition-only predicates delete files from metadata alone; otherwise
 * only files that actually contain matching rows are rewritten.
 * (Reference concept: commands/DeleteCommand.scala:112-457 — re-designed.)
 */
object DeleteCommand {

  def run(
      spark: SparkSession,
      path: String,
      condition: Option[Column]): Map[String, String] =
    run(spark, GraftLog.forTable(spark, path), condition)

  /** Log-handle form: the caller's resolution stands — a public handle
    * arrives already routed through any redirect; a no-redirect admin
    * handle stays at the source (where the commit gate refuses file
    * changes on a redirected table instead of silently re-routing). */
  def run(
      spark: SparkSession,
      log: GraftLog,
      condition: Option[Column]): Map[String, String] = {
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      val now = System.currentTimeMillis()
      val cdf = Cdc.isEnabled(m)

      val (removes, adds, cdcActions, metrics) = condition match {
        case None =>
          txn.readWholeTable()
          // collected, not materialized: the remove list is a transient
          // driver Seq; a lazy checkpoint-backed snapshot stays lazy
          val all = txn.snapshot.allFilesCollected
          val cdc = if (cdf) {
            val allRows = Dml.scanFiles(spark, log, txn, all)
            Cdc.writeChangeFiles(spark, log,
              allRows.withColumn(Cdc.CHANGE_TYPE, lit("delete")))
          } else Nil
          (all.map(_.remove(now)), Nil, cdc,
            Map("numRemovedFiles" -> all.size.toString) ++
              Dml.statsRowCount(all).map("numDeletedRows" -> _.toString))
        case Some(cond) =>
          val condExpr = SparkShims.expression(cond)
          val (partF, dataF) = WriteIntoGraft.splitPredicates(condExpr, m)
          if (dataF.isEmpty && partF.nonEmpty) {
            // Metadata-only delete: no data is read at all.
            val files = txn.filterFiles(partF, Nil)
            val cdc = if (cdf && files.nonEmpty) {
              val rows = Dml.scanFiles(spark, log, txn, files)
              Cdc.writeChangeFiles(spark, log,
                rows.withColumn(Cdc.CHANGE_TYPE, lit("delete")))
            } else Nil
            (files.map(_.remove(now)), Nil, cdc,
              Map("numRemovedFiles" -> files.size.toString) ++
                Dml.statsRowCount(files).map("numDeletedRows" -> _.toString))
          } else if (graft.dv.DeletionVectors.isEnabled(m)) {
            // DV path: mark matching row indexes in a bitmap sidecar per
            // touched file; NO data file is rewritten. One candidate scan
            // finds the touched files and their bitmaps: its tasks fold
            // the matched rows' indexes per file, and a file without
            // matches gets no bitmap.
            val candidates = txn.filterFiles(partF, dataF)
            if (candidates.isEmpty) (Nil, Nil, Nil, Map("numRemovedFiles" -> "0"))
            else {
              // DV-filtered scan (in-reader bitmap splice): rows already
              // deleted never match again.
              val matched = Dml.scanFiles(spark, log, txn, candidates)
                .filter(coalesce(cond, lit(false)))
              val cdc = if (cdf) {
                Cdc.writeChangeFiles(spark, log,
                  matched.withColumn(Cdc.CHANGE_TYPE, lit("delete")))
              } else Nil
              val touched = Dml.touchedFiles(log, candidates,
                matched.select(Dml.fileUri, Dml.rowIndex))
              val (removes, adds, newlyDeleted) = graft.dv.DeletionVectors.writeBitmaps(
                spark, log, touched.map { case (f, r) => f -> r.appliedRows })
              (removes, adds, cdc,
                Map("numDeletionVectors" -> adds.size.toString,
                    "numDeletedRows" -> newlyDeleted.toString,
                    "numAddedDataFiles" -> "0"))
            }
          } else {
            val candidates = txn.filterFiles(partF, dataF)
            val touched = Dml.findTouchedFiles(spark, log, txn, candidates, cond)
            if (touched.isEmpty) (Nil, Nil, Nil, Map("numRemovedFiles" -> "0"))
            else {
              val base = Dml.scanFiles(spark, log, txn, touched)
              val survivors = base.filter(!coalesce(cond, lit(false)))
              val newAdds = txn.writeFiles(survivors)
              val cdc = if (cdf) {
                Cdc.writeChangeFiles(spark, log,
                  base.filter(coalesce(cond, lit(false)))
                    .withColumn(Cdc.CHANGE_TYPE, lit("delete")))
              } else Nil
              (touched.map(_.remove(now)), newAdds, cdc,
                Map("numRemovedFiles" -> touched.size.toString,
                    "numAddedFiles" -> newAdds.size.toString) ++
                  // exact deleted-row count with zero extra scans: rows in
                  // the removed files minus rows in their rewrites
                  (for { r <- Dml.statsRowCount(touched)
                         a <- Dml.statsRowCount(newAdds) }
                    yield "numDeletedRows" -> (r - a).toString))
            }
          }
      }

      txn.commit(removes ++ adds ++ cdcActions, "DELETE",
        operationParameters = condition.map(c => "predicate" -> c.toString).toMap,
        operationMetrics = metrics)
      metrics
    }
  }
}

/**
 * UPDATE t SET col = expr WHERE cond — rewrite only the touched files,
 * applying `CASE WHEN cond THEN newExpr ELSE old END` per column.
 * (Reference concept: commands/UpdateCommand.scala:59-346 — re-designed.)
 */
object UpdateCommand {

  import org.apache.spark.sql.types.{DataType, StructType}

  /** Type of the (possibly nested) field at `path` inside `schema`. */
  private def fieldTypeAt(schema: StructType, path: Seq[String]): DataType =
    path match {
      case Seq(last) =>
        schema.fields.find(_.name.equalsIgnoreCase(last)).map(_.dataType)
          .getOrElse(throw new IllegalArgumentException(s"No column $last"))
      case head +: tail =>
        schema.fields.find(_.name.equalsIgnoreCase(head)).map(_.dataType) match {
          case Some(st: StructType) => fieldTypeAt(st, tail)
          case _ => throw new IllegalArgumentException(s"$head is not a struct")
        }
    }

  /** Normalize SET keys: strip a leading alias segment that is not a
    * table column (UPDATE t SET t.x = ...), keep genuine nested paths
    * (SET s.inner.x = ...). */
  private def resolveKeys(
      set: Map[String, Column], schema: StructType): Map[String, Column] =
    set.map { case (k, v) =>
      val parts = k.split('.').toSeq
      val resolved =
        if (parts.length == 1 ||
            schema.fieldNames.exists(_.equalsIgnoreCase(parts.head))) parts
        else if (parts.length > 1 &&
            schema.fieldNames.exists(_.equalsIgnoreCase(parts(1)))) parts.tail
        else Seq(parts.last)
      resolved.mkString(".") -> v
    }

  /** One output column per top-level field, applying direct and nested
    * (struct-rebuilding, via withField) SET assignments to rows where
    * `matched` holds. */
  private def updatedColumns(
      schema: StructType,
      set0: Map[String, Column],
      matched: Column): Seq[Column] = {
    val set = resolveKeys(set0, schema)
    schema.fields.toSeq.map { f =>
      val name = f.name
      val direct = set.collectFirst {
        case (k, v) if !k.contains(".") && k.equalsIgnoreCase(name) => v
      }
      val nested = set.toSeq.collect {
        case (k, v) if k.contains(".") &&
            k.split('.').head.equalsIgnoreCase(name) =>
          k.split('.').toSeq.tail -> v
      }
      (direct, nested) match {
        case (Some(e), _) =>
          when(matched, e.cast(f.dataType)).otherwise(col(name)).as(name)
        case (None, ns) if ns.nonEmpty =>
          val st = f.dataType match {
            case s: StructType => s
            case other => throw new IllegalArgumentException(
              s"Cannot SET a nested field of non-struct column $name (${other.simpleString})")
          }
          val upd = ns.foldLeft(col(name)) { case (acc, (path, v)) =>
            acc.withField(path.mkString("."), v.cast(fieldTypeAt(st, path)))
          }
          when(matched, upd).otherwise(col(name)).as(name)
        case _ => col(name)
      }
    }
  }

  def run(
      spark: SparkSession,
      path: String,
      condition: Option[Column],
      set: Map[String, Column]): Map[String, String] =
    run(spark, GraftLog.forTable(spark, path), condition, set)

  /** Log-handle form: see [[DeleteCommand.run]] — resolution is the
    * caller's, so no-redirect handles are not silently re-routed. */
  def run(
      spark: SparkSession,
      log: GraftLog,
      condition: Option[Column],
      set: Map[String, Column]): Map[String, String] = {
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      val now = System.currentTimeMillis()
      val cond = condition.getOrElse(lit(true))
      val cdf = Cdc.isEnabled(m)

      val (partF, dataF) = condition match {
        case Some(c) => WriteIntoGraft.splitPredicates(SparkShims.expression(c), m)
        case None => (Nil, Nil)
      }
      val candidates = txn.filterFiles(partF, dataF)
      val metrics = scala.collection.mutable.Map.empty[String, String]

      if (candidates.isEmpty) {
        metrics += ("numUpdatedFiles" -> "0", "numUpdatedRows" -> "0")
        txn.commit(Nil, "UPDATE", operationMetrics = metrics.toMap)
      } else if (graft.dv.DeletionVectors.isEnabled(m)) {
        // DV path: mark the old versions of matched rows deleted via
        // bitmap sidecars and append a file containing ONLY the updated
        // rows — a point update on a 1 GB file writes KBs, not the GB.
        // The match pass folds the matched rows' indexes per file in its
        // scan tasks, so the touched set and the bitmaps come from one
        // scan, and an update that matches nothing writes nothing.
        val matched = Dml.scanFiles(spark, log, txn, candidates)
          .filter(coalesce(cond, lit(false)))
        val touched = Dml.touchedFiles(log, candidates,
          matched.select(Dml.fileUri, Dml.rowIndex))
        val updatedRows = matched.select(
          updatedColumns(m.schema, set, lit(true)).toIndexedSeq: _*)
        val newAdds = if (touched.isEmpty) Nil else txn.writeFiles(updatedRows)
        val (removes, dvAdds, updatedCount) = graft.dv.DeletionVectors.writeBitmaps(
          spark, log, touched.map { case (f, r) => f -> r.appliedRows })
        metrics += "numUpdatedFiles" -> dvAdds.size.toString
        val cdcActions = if (cdf) {
          val pre = matched.withColumn(Cdc.CHANGE_TYPE, lit("update_preimage"))
          val post = updatedRows.withColumn(Cdc.CHANGE_TYPE, lit("update_postimage"))
          Cdc.writeChangeFiles(spark, log, pre.unionByName(post))
        } else Nil
        metrics += ("numAddedFiles" -> newAdds.size.toString,
          "numDeletionVectors" -> dvAdds.size.toString,
          "numUpdatedRows" -> updatedCount.toString)
        txn.commit(removes ++ dvAdds ++ newAdds ++ cdcActions,
          "UPDATE",
          operationParameters = condition.map(c => "predicate" -> c.toString).toMap,
          operationMetrics = metrics.toMap)
      } else {
        // Rewrite path MUST narrow to files that actually contain matches
        // (it rewrites whole files, so an un-matched candidate would be
        // needlessly copied).
        val (touched, matchedRows) =
          Dml.findTouchedFilesWithCount(spark, log, txn, candidates, cond)
        metrics += ("numUpdatedFiles" -> touched.size.toString,
          "numUpdatedRows" -> matchedRows.toString)
        if (touched.isEmpty) {
          txn.commit(Nil, "UPDATE", operationMetrics = metrics.toMap)
        } else {
        val base = Dml.scanFiles(spark, log, txn, touched)
        val matched = coalesce(cond, lit(false))
        val updatedCols = updatedColumns(m.schema, set, matched)
        val rewritten = base.select(updatedCols.toIndexedSeq: _*)
        val newAdds = txn.writeFiles(rewritten)
        val cdcActions = if (cdf) {
          val pre = base.filter(matched)
            .withColumn(Cdc.CHANGE_TYPE, lit("update_preimage"))
          val post = base.filter(matched).select(updatedCols.toIndexedSeq: _*)
            .withColumn(Cdc.CHANGE_TYPE, lit("update_postimage"))
          Cdc.writeChangeFiles(spark, log, pre.unionByName(post))
        } else Nil
        metrics += "numAddedFiles" -> newAdds.size.toString
        txn.commit(touched.map(_.remove(now)) ++ newAdds ++ cdcActions, "UPDATE",
          operationParameters = condition.map(c => "predicate" -> c.toString).toMap,
          operationMetrics = metrics.toMap)
        }
      }
      metrics.toMap
    }
  }
}
