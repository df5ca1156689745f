package graft.commands

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.GraftTable
import graft.log._

sealed trait MergeClause { def condition: Option[Column] }
case class MatchedUpdate(condition: Option[Column], set: Map[String, Column])
  extends MergeClause
case class MatchedDelete(condition: Option[Column]) extends MergeClause
case class NotMatchedInsert(condition: Option[Column], values: Map[String, Column])
  extends MergeClause
case class NotMatchedBySourceUpdate(condition: Option[Column], set: Map[String, Column])
  extends MergeClause
case class NotMatchedBySourceDelete(condition: Option[Column]) extends MergeClause

/**
 * Fluent MERGE INTO API (reference concept: DeltaMergeBuilder,
 * DeltaMergeBuilder.scala:153-270 — re-designed). The target is aliased
 * `t` and the source `s` inside clause expressions, e.g.
 * `.merge(src, expr("t.id = s.id")).whenMatched().updateAll()`.
 */
class MergeBuilder(
    table: GraftTable,
    source: DataFrame,
    condition: Column,
    targetAlias: String = "t",
    sourceAlias: String = "s") {

  private val clauses = scala.collection.mutable.ArrayBuffer.empty[MergeClause]
  private var schemaEvolution = false

  /** Allow updateAll/insertAll to ADD source columns the target lacks
    * (merged into the table schema as part of the MERGE commit). */
  def withSchemaEvolution(): MergeBuilder = { schemaEvolution = true; this }

  def whenMatched(cond: Column = null): MatchedActions =
    new MatchedActions(this, Option(cond))
  def whenNotMatched(cond: Column = null): NotMatchedActions =
    new NotMatchedActions(this, Option(cond))
  def whenNotMatchedBySource(cond: Column = null): NotMatchedBySourceActions =
    new NotMatchedBySourceActions(this, Option(cond))

  private[commands] def add(c: MergeClause): MergeBuilder = { clauses += c; this }

  def execute(): Map[String, String] =
    MergeCommand.run(table, source, condition, clauses.toSeq, targetAlias,
      sourceAlias, schemaEvolution)

  class MatchedActions(b: MergeBuilder, cond: Option[Column]) {
    def updateAll(): MergeBuilder = b.add(MatchedUpdate(cond, null))
    def update(set: Map[String, Column]): MergeBuilder = b.add(MatchedUpdate(cond, set))
    def updateExpr(set: Map[String, String]): MergeBuilder =
      update(set.map { case (k, v) => k -> expr(v) })
    def updateExpr(set: java.util.Map[String, String]): MergeBuilder = {
      import scala.jdk.CollectionConverters._
      updateExpr(set.asScala.toMap)
    }
    def delete(): MergeBuilder = b.add(MatchedDelete(cond))
  }
  class NotMatchedActions(b: MergeBuilder, cond: Option[Column]) {
    def insertAll(): MergeBuilder = b.add(NotMatchedInsert(cond, null))
    def insert(values: Map[String, Column]): MergeBuilder =
      b.add(NotMatchedInsert(cond, values))
    def insertExpr(values: Map[String, String]): MergeBuilder =
      insert(values.map { case (k, v) => k -> expr(v) })
    def insertExpr(values: java.util.Map[String, String]): MergeBuilder = {
      import scala.jdk.CollectionConverters._
      insertExpr(values.asScala.toMap)
    }
  }
  class NotMatchedBySourceActions(b: MergeBuilder, cond: Option[Column]) {
    def update(set: Map[String, Column]): MergeBuilder =
      b.add(NotMatchedBySourceUpdate(cond, set))
    def updateExpr(set: Map[String, String]): MergeBuilder =
      update(set.map { case (k, v) => k -> expr(v) })
    def delete(): MergeBuilder = b.add(NotMatchedBySourceDelete(cond))
  }
}

/**
 * MERGE execution as the classic two-phase join plan:
 *
 * Skipping: the ON clause's exact data filters (its target-only
 * conjuncts, and each `t.col = <source expr>` bounded by the source's
 * min and max of that expression) select the candidate files, and are
 * the read set conflict detection checks. The bounds of a local source
 * are evaluated on the driver, where its rows are; any other source
 * runs one aggregate. A NOT MATCHED BY SOURCE clause reads every file.
 *
 * Phase 1 (find touched files): inner-join the source with the candidate
 * scan, each target row carrying its identity (`_metadata.file_path`,
 * `_metadata.row_index`). The scan tasks roll their pairs up per file
 * ([[MatchFold]]): pair counts per matched clause and a bitmap of the
 * matched rows (in a matched-only merge, those some clause applies to);
 * the driver ORs the tasks' rollups, with no shuffle. More pairs than
 * that bitmap's cardinality is a multi-match; past that guard pair counts
 * are the exact update/delete counts. Under deletion vectors the bitmaps
 * of the rows the merge retires are its deletion vectors: the matched
 * rows some clause applies to and, with NOT MATCHED BY SOURCE clauses,
 * the unmatched target rows one applies to, which a target-preserving
 * (left outer) phase-1 join keeps; the guard weighs matched pairs only.
 *
 * Phase 2 (write all changes): emit, per row, the first applicable
 * clause's projection (update/delete/insert/copy) via a single CASE WHEN
 * chain. A local source (its optimized plan a local relation) within
 * AQE's minimum partition size, under deletion vectors, with no NOT
 * MATCHED BY SOURCE clause and no change data feed, has its rows indexed
 * on the driver, and phase 1 also records the clause that applied to
 * each source row. When the updates and inserts write only source
 * columns and no applied source row applied to two target rows, phase 2
 * projects the source's own rows, tagged on the driver, into one write
 * task: no target scan, join or shuffle. Otherwise phase 2 joins the
 * touched files with the source — Catalyst plans the join (broadcast or
 * shuffle) and codegen runs the projection. Under deletion vectors with
 * no NOT MATCHED BY SOURCE clause and no change data feed, only changed
 * rows are written, so the join keeps matched pairs and source rows
 * (inner, or source-preserving when rows may be inserted). Otherwise it
 * is outer on the target side. Under deletion vectors a copied row is
 * never written, so the join carries only the target columns the clauses
 * read.
 *
 * Insert-only merges take a left-anti-join fast path over the candidates
 * that rewrites no target files.
 * (Reference concept: merge/ClassicMergeExecutor.scala:72-471 +
 * InsertOnlyMergeExecutor.scala:53 — re-designed.)
 */
object MergeCommand {

  private val OP = "__graft_op"
  private val FILE = "__graft_file"
  private val RID = "__graft_rid"
  private val SRC = "__graft_src_exists"
  private val CLAUSE = "__graft_clause"
  private val SID = "__graft_sid"
  private val NMBS = "__graft_nmbs"

  def run(
      table: GraftTable,
      source: DataFrame,
      condition: Column,
      clauses: Seq[MergeClause],
      targetAlias: String,
      sourceAlias: String,
      schemaEvolution: Boolean = false): Map[String, String] = {
    // A non-deterministic source re-executed between the key-range
    // aggregate, phase 1 (find touched files) and phase 2 (write all
    // changes) would produce divergent match sets — silently corrupting
    // the merge. The shared decision pins those for correctness; `all`
    // additionally pins an expensive deterministic source across passes.
    MaterializeSource.withPinned(source, passes = 3) { pinned =>
      runInternal(table, pinned, condition, clauses,
        targetAlias, sourceAlias, schemaEvolution)
    }
  }

  private def runInternal(
      table: GraftTable,
      source: DataFrame,
      condition: Column,
      clauses: Seq[MergeClause],
      targetAlias: String,
      sourceAlias: String,
      schemaEvolution: Boolean): Map[String, String] = {
    val spark = table.spark
    val log = table.log
    require(clauses.nonEmpty, "MERGE requires at least one WHEN clause")
    log.withNewTransaction { txn =>
      val m0 = txn.snapshot.metadata
      // Schema evolution: updateAll/insertAll may ADD source columns the
      // target lacks; the widened schema commits atomically with the
      // merge, and pre-existing files null-fill on read.
      val m =
        if (schemaEvolution &&
            !graft.schema.SchemaUtils.isWriteCompatible(m0.schema, source.schema)) {
          val evolved = graft.schema.ColumnMapping.stampNewFields(m0.copy(
            schemaString = graft.schema.SchemaUtils.toNullable(
              graft.schema.SchemaUtils.mergeSchemas(m0.schema, source.schema)).json))
          txn.updateMetadata(evolved)
          evolved
        } else m0
      val now = System.currentTimeMillis()
      val schema = m.schema
      // Columns the evolution just added are absent from the target scan;
      // pad them as nulls so clause projections resolve.
      val newFields = schema.fields.filterNot(f =>
        m0.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      def pad(df: DataFrame): DataFrame =
        newFields.foldLeft(df)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
      val cdf = Cdc.isEnabled(m)

      val matchedClauses = clauses.collect {
        case c: MatchedUpdate => c
        case c: MatchedDelete => c
      }
      val insertClauses = clauses.collect { case c: NotMatchedInsert => c }
      val nmbsClauses = clauses.collect {
        case c: NotMatchedBySourceUpdate => c
        case c: NotMatchedBySourceDelete => c
      }

      val src = source.alias(sourceAlias)
      // Skipping: every target row that can match satisfies the ON
      // clause's exact data filters, so files whose stats refute them are
      // neither read nor recorded in the read set. A NOT MATCHED BY
      // SOURCE clause acts on every unmatched row: it reads the table.
      val candidates =
        if (nmbsClauses.nonEmpty) { txn.readWholeTable(); txn.snapshot.allFiles }
        else txn.filterFiles(Nil, Dml.joinFilters(spark,
          pad(Dml.scanFiles(spark, log, txn, Nil)).alias(targetAlias), src, condition))
      val skipping = Map(
        "numTargetFilesBeforeSkipping" -> txn.snapshot.numFiles.toString,
        "numTargetFilesAfterSkipping" -> candidates.size.toString)

      // ---- Insert-only fast path: no target files are rewritten.
      if (matchedClauses.isEmpty && nmbsClauses.isEmpty) {
        val target = pad(Dml.scanFiles(spark, log, txn, candidates)).alias(targetAlias)
        val inserts = src.join(target, condition, "left_anti")
        val rows = applyInsertProjection(inserts, insertClauses, schema, spark)
        val adds = txn.writeFiles(rows)
        val cdc = if (cdf && adds.nonEmpty) {
          Cdc.writeChangeFiles(spark, log,
            rows.withColumn(Cdc.CHANGE_TYPE, lit("insert")))
        } else Nil
        val metrics = skipping ++ Map(
          "numTargetFilesAdded" -> adds.size.toString,
          "numTargetRowsUpdated" -> "0", "numTargetRowsDeleted" -> "0") ++
          Dml.statsRowCount(adds).map("numTargetRowsInserted" -> _.toString)
        txn.commit(adds ++ cdc, "MERGE", operationMetrics = metrics)
        return metrics
      }

      // Target rows carry their identity: the file they came from and
      // their index in it, which is also a deletion vector's domain.
      def scanWithIds(files: Seq[AddFile]): DataFrame =
        pad(Dml.scanFiles(spark, log, txn, files)
          .withColumn(FILE, Dml.fileUri)
          .withColumn(RID, Dml.rowIndex))
      def clauseCond(c: MergeClause): Column =
        c.condition.map(coalesce(_, lit(false))).getOrElse(lit(true))
      // Under DVs phase 1 collects the rows a merge retires as one bitmap
      // per file: the matched rows some clause applies to and, with NOT
      // MATCHED BY SOURCE clauses, the unmatched target rows one applies
      // to. A copied row is then never written: with no such clause and
      // no change data feed, phase 2 needs only matched pairs and source
      // rows.
      val useDv = graft.dv.DeletionVectors.isEnabled(m)
      val changedOnly = useDv && nmbsClauses.isEmpty && !cdf

      val srcCols = source.schema.fieldNames.map(_.toLowerCase).toSet
      def clauseSet(c: MergeClause): Map[String, Column] = c match {
        case MatchedUpdate(_, null) | NotMatchedInsert(_, null) =>
          // updateAll/insertAll: t.col = s.col by name
          schema.fieldNames.filter(n => srcCols.contains(n.toLowerCase))
            .map(n => n -> col(s"$sourceAlias.$n")).toMap
        case MatchedUpdate(_, set) => set
        case NotMatchedBySourceUpdate(_, set) => set
        case NotMatchedInsert(_, values) => values
        case _ => Map.empty
      }
      def overlay(set: Map[String, Column], name: String, default: Column): Column =
        set.collectFirst { case (k, x) if k.equalsIgnoreCase(name) => x }
          .getOrElse(default)

      // A local source's rows are on the driver. When phase 2 writes
      // only changed rows, they get an index there, so phase 1 can also
      // record which source rows matched and which clause applied to
      // each. Only a source within AQE's minimum partition size does: the
      // join's coalesced shuffle of it would be one partition, and the
      // driver plans the tagged rows one by one (on a 4-core host a
      // 200k-row source ran 20% slower this way than by the join).
      val local = if (changedOnly) source.queryExecution.optimizedPlan match {
        case l: LocalRelation if !l.isStreaming && l.stats.sizeInBytes <=
            source.queryExecution.sparkSession.sessionState.conf
              .getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) => Some(l)
        case _ => None
      } else None
      /** The local source's rows, each with `attr` set to `value` of the
        * row's index, under the source's own attributes and alias. */
      def localSource(attr: AttributeReference, value: Int => Any): DataFrame = {
        val l = local.get
        SparkShims.ofRows(spark, LocalRelation(source.queryExecution.analyzed.output :+ attr,
          l.data.zipWithIndex.map { case (r, i) =>
            InternalRow.fromSeq(r.toSeq(l.schema) :+ value(i))
          })).alias(sourceAlias)
      }

      // ---- Phase 1: find touched files + multi-match guard. Under DVs
      // with NOT MATCHED BY SOURCE clauses it keeps the unmatched target
      // rows too, the source side marked as phase 2 marks it.
      val srcMarked = source.withColumn(SRC, lit(true))
      val targetOnlyRows = useDv && nmbsClauses.nonEmpty
      val phase1Join = scanWithIds(candidates).alias(targetAlias).join(
        if (local.isDefined) localSource(AttributeReference(SID, LongType, nullable = false)(),
          _.toLong) else if (targetOnlyRows) srcMarked.alias(sourceAlias) else src,
        condition, if (targetOnlyRows) "left_outer" else "inner")
      val isPair = if (targetOnlyRows) col(SRC).isNotNull else lit(true)
      // Phase 2 can write from the source's own rows only when what it
      // writes reads no target column: every update sets every column,
      // and updates and inserts read source columns only.
      val sourceWrites = local.isDefined && scala.util.Try {
        val writes = clauses.flatMap {
          case u: MatchedUpdate =>
            schema.fieldNames.toSeq.map(n => overlay(clauseSet(u), n, col(s"$targetAlias.$n")))
          case i: NotMatchedInsert => clauseSet(i).values.toSeq ++ i.condition
          case _ => Nil
        }
        val plan = phase1Join.select(writes: _*).queryExecution.analyzed
        val sourceAttrs = plan.collectFirst { case j: Join => j.right.outputSet }.get
        plan.expressions.forall(e =>
          !SubqueryExpression.hasSubquery(e) && e.references.subsetOf(sourceAttrs))
      }.getOrElse(false)
      // The first matched clause that applies to each pair, -1 for none
      // (and for an unmatched target row): exact numTargetRowsUpdated/
      // Deleted from the same pass.
      val clause = matchedClauses.zipWithIndex.foldRight(lit(-1)) { case ((c, i), acc) =>
        when(isPair && clauseCond(c), lit(i)).otherwise(acc)
      }
      // Duplicate matches are unambiguous ONLY when the sole matched
      // clause is an unconditional DELETE: every matched row pair deletes,
      // so the duplicates change nothing (reference concept:
      // MergeIntoCommandBase.scala:267-283 isOnlyOneUnconditionalDelete —
      // re-designed). Any other clause set — including none, where the
      // outer join would emit duplicate copies — is an error.
      // In a matched-ONLY merge a duplicate pair that fails every clause
      // condition is a no-op, so only pairs satisfying some clause count
      // toward the ambiguity guard (phase 2 folds the same clause
      // disjunction into its join condition, so those no-op pairs never
      // reach the output either — reference concept:
      // ClassicMergeExecutor.scala:105-110 matchedPredicate pruning).
      val matchedOnly = insertClauses.isEmpty && nmbsClauses.isEmpty
      val isOnlyOneUnconditionalDelete =
        matchedClauses == Seq(MatchedDelete(None))
      val applied = col(CLAUSE) >= 0
      // Per-file rollup in the scan tasks: the pairs the guard weighs, the
      // pairs per clause, and a bitmap of the weighed rows' indexes. A
      // bitmap's cardinality is the number of distinct rows it holds, so
      // more pairs than that is a multi-match. Under DVs the bitmap of the
      // rows the merge retires is the deletion vector; in a matched-only
      // merge those are the weighed rows, otherwise a second bitmap takes
      // them, with the unmatched target rows a NOT MATCHED BY SOURCE
      // clause applies to.
      val appliedBitmap = useDv && !matchedOnly
      val nmbsApplies = nmbsClauses.map(clauseCond).foldLeft(lit(false))(_ || _)
      val fold = MatchFold.run(phase1Join
        .select(col(FILE), col(RID), clause.as(CLAUSE), isPair.as(SRC),
          (if (sourceWrites) col(SID) else lit(null)).as(SID),
          (!isPair && nmbsApplies).as(NMBS))
        .select(col(FILE), col(CLAUSE),
          when(if (matchedOnly) applied else col(SRC), col(RID)),
          if (appliedBitmap) when(applied || col(NMBS), col(RID)) else lit(null),
          col(SID)),
        matchedClauses.size)
      val matches = fold.touched(log, candidates)
      val hasMultipleMatches = matches.exists { case (_, f) => f.weighed > f.rows.cardinality }
      if (hasMultipleMatches && !isOnlyOneUnconditionalDelete) {
        throw new IllegalStateException(
          "MERGE failed: a target row matched multiple source rows — " +
            "results would be ambiguous (duplicate matches are only " +
            "allowed when the sole WHEN MATCHED clause is an " +
            "unconditional DELETE)")
      }
      // Past the guard a row has at most one applied pair, so the pair
      // counts are row counts — except under a lone unconditional DELETE,
      // whose duplicates each delete the same row once.
      val updateClause = matchedClauses.map(_.isInstanceOf[MatchedUpdate])
      def appliedPairs(update: Boolean): Long = matches.map { case (_, f) =>
        f.applied.indices.filter(updateClause(_) == update).map(f.applied(_)).sum
      }.sum
      val matchedUpdated = appliedPairs(update = true)
      val matchedDeleted =
        if (isOnlyOneUnconditionalDelete) matches.map(_._2.rows.cardinality).sum
        else appliedPairs(update = false)
      // Matched-only merges rewrite only files where some row actually
      // satisfies a matched clause condition; a file whose matches all
      // fail every clause keeps its rows and needs no rewrite (reference
      // concept: ClassicMergeExecutor.scala:105-110 matchedPredicate
      // pruning — re-designed).
      val touched = matches.collect { case (file, f) if !matchedOnly || f.applied.sum > 0 => file }
      // Files needing rewrite: touched (matched rows) plus, when
      // NOT-MATCHED-BY-SOURCE clauses exist, every candidate file.
      val rewriteFiles = if (nmbsClauses.nonEmpty) candidates else touched
      // The source's rows decide phase 2 when each source row some clause
      // applied to applied to one target row: as many applied pairs as
      // applied source rows.
      val sourceSide = sourceWrites && {
        val appliedSources = new graft.dv.Bitmap64()
        fold.sourceApplied.foreach(appliedSources.or)
        matches.map(_._2.applied.sum).sum == appliedSources.cardinality
      }

      // Row operation: first applicable clause wins; `matched(i)` holds
      // where matched clause i applies.
      def opCol(matched: Int => Column, isSourceOnly: Column, isTargetOnly: Column): Column = {
        val cases = matchedClauses.zipWithIndex.map { case (c, i) =>
            matched(i) -> (c match {
              case _: MatchedUpdate => s"mu$i"
              case _: MatchedDelete => "del"
            })
          } ++ insertClauses.zipWithIndex.map { case (c, i) =>
            (isSourceOnly && clauseCond(c)) -> s"ins$i"
          } ++ nmbsClauses.zipWithIndex.map { case (c, i) =>
            (isTargetOnly && clauseCond(c)) -> (c match {
              case _: NotMatchedBySourceUpdate => s"nu$i"
              case _: NotMatchedBySourceDelete => "del"
            })
          }
        // Source-only rows with no applicable insert clause are dropped.
        cases.reverse.foldLeft(
          when(isSourceOnly, lit("drop")).otherwise(lit("copy"))) {
          case (acc, (cond, tag)) => when(cond, lit(tag)).otherwise(acc)
        }
      }

      // ---- Phase 2: write all changes.
      val withOp = if (sourceSide) {
        // From the source's own rows, tagged as phase 1 found them: the
        // clause that applied, -1 where none did, null where no target row
        // matched. No target scan, join or shuffle.
        val tagged = localSource(AttributeReference(CLAUSE, IntegerType)(), i =>
          fold.sourceApplied.indexWhere(_.contains(i)) match {
            case -1 if fold.sourceMatched.contains(i) => -1
            case -1 => null
            case c => c
          })
        tagged.withColumn(OP, opCol(col(CLAUSE) === _, col(CLAUSE).isNull, lit(false)))
      } else {
        // From one join. When only changed rows are written, the join
        // keeps only matched pairs and source rows: inner when every
        // clause is a matched one, source-preserving when rows may be
        // inserted. Otherwise it is outer on the target side, so copies
        // (rewrite), NOT MATCHED BY SOURCE rows and CDF pre-images reach
        // the output.
        val joinType = (changedOnly, insertClauses.nonEmpty) match {
          case (true, true) => "right_outer"
          case (true, false) => "inner"
          case (false, true) => "full_outer"
          case (false, false) => "left_outer"
        }
        // The source-preserving join is a sort-merge join, as the full
        // outer join it replaces is: broadcasting the touched files instead
        // would write one file per source partition, not files sized by the
        // shuffle's coalesced partitions.
        val marked = (if (joinType == "right_outer") srcMarked.hint("merge") else srcMarked)
          .alias(sourceAlias)
        // Matched-only: a pair failing every clause condition is a no-op;
        // fold the clause disjunction into the join condition so such
        // target rows fall out of the join as unmatched and are copied
        // exactly once even when the raw condition matches them to several
        // source rows.
        val rewriteCondition =
          if (matchedOnly && matchedClauses.forall(_.condition.isDefined))
            condition && matchedClauses.map(clauseCond).reduce(_ || _)
          else condition
        val joined = scanWithIds(rewriteFiles).withColumn("__tgt_exists", lit(true))
          .alias(targetAlias)
          .join(marked, rewriteCondition, joinType)
        val isMatched = col("__tgt_exists").isNotNull && col(SRC).isNotNull
        joined.withColumn(OP, opCol(i => isMatched && clauseCond(matchedClauses(i)),
          isSourceOnly = col("__tgt_exists").isNull && col(SRC).isNotNull,
          isTargetOnly = col("__tgt_exists").isNotNull && col(SRC).isNull))
      }

      def outCol(name: String): Column = {
        val tcol = col(s"$targetAlias.$name")
        // Under DVs a copied row is never written, so the final default is
        // null: the join then carries only the target columns some clause
        // reads, not every column of the table.
        var result = if (useDv) lit(null) else tcol
        matchedClauses.zipWithIndex.foreach {
          case (cu: MatchedUpdate, i) =>
            result = when(col(OP) === s"mu$i", overlay(clauseSet(cu), name, tcol))
              .otherwise(result)
          case _ =>
        }
        insertClauses.zipWithIndex.foreach { case (ci, i) =>
          result = when(col(OP) === s"ins$i", overlay(clauseSet(ci), name, lit(null)))
            .otherwise(result)
        }
        nmbsClauses.zipWithIndex.foreach {
          case (cu: NotMatchedBySourceUpdate, i) =>
            result = when(col(OP) === s"nu$i", overlay(clauseSet(cu), name, tcol))
              .otherwise(result)
          case _ =>
        }
        result.cast(schema(name).dataType).as(name)
      }

      val outCols = schema.fieldNames.map(outCol)
      // DV mode: copies stay in their original files (marked live by NOT
      // being in any bitmap); only changed rows get new versions.
      val output = withOp
        .filter(if (useDv) {
          col(OP) =!= "copy" && col(OP) =!= "del" && col(OP) =!= "drop"
        } else col(OP) =!= "del" && col(OP) =!= "drop")
        .select(outCols.toIndexedSeq: _*)
      // The source side writes one file, as the join's coalesced shuffle
      // does for a source within the minimum partition size.
      val adds = txn.writeFiles(if (sourceSide) output.coalesce(1) else output)

      val cdcActions = if (cdf) {
        val changeRows = withOp.filter(col(OP) =!= "copy" && col(OP) =!= "drop")
        val post = changeRows.filter(col(OP).startsWith("mu") || col(OP).startsWith("nu") ||
            col(OP).startsWith("ins"))
          .select((schema.fieldNames.map(outCol) :+
            when(col(OP).startsWith("ins"), lit("insert"))
              .otherwise(lit("update_postimage")).as(Cdc.CHANGE_TYPE)).toIndexedSeq: _*)
        // Legal duplicate matches (sole unconditional DELETE) join each
        // deleted target row to several source rows — one CDF delete per
        // target row, not per pair (reference concept:
        // DeduplicateCDFDeletes — re-designed via the scan row id).
        val delPairs = changeRows.filter(col(OP) === "del")
        val del = (if (hasMultipleMatches) delPairs.dropDuplicates(FILE, RID)
                   else delPairs)
          .select(schema.fieldNames.map(n => col(s"$targetAlias.$n").as(n)).toIndexedSeq: _*)
          .withColumn(Cdc.CHANGE_TYPE, lit("delete"))
        // pre-images only belong to updates, not inserts; deletes emitted once
        val preU = changeRows.filter(col(OP).startsWith("mu") || col(OP).startsWith("nu"))
          .select(schema.fieldNames.map(n => col(s"$targetAlias.$n").as(n)).toIndexedSeq: _*)
          .withColumn(Cdc.CHANGE_TYPE, lit("update_preimage"))
        Cdc.writeChangeFiles(spark, log, preU.unionByName(post).unionByName(del))
      } else Nil

      if (useDv) {
        // Mark old versions of updated/deleted target rows in bitmaps;
        // untouched candidate files are left completely alone.
        val (removes, dvAdds, nChanged) = graft.dv.DeletionVectors.writeBitmaps(spark, log,
          matches.map { case (file, f) => file -> (if (appliedBitmap) f.appliedRows else f.rows) })
        // With no NOT-MATCHED-BY-SOURCE clauses, every written row is an
        // update or an insert, so inserted = written - updated (footer
        // stats; deleted rows are bitmap-marked, never written).
        val rowMetrics: Map[String, String] =
          if (nmbsClauses.isEmpty) {
            Map("numTargetRowsUpdated" -> matchedUpdated.toString,
              "numTargetRowsDeleted" -> matchedDeleted.toString) ++
              Dml.statsRowCount(adds).map(a =>
                "numTargetRowsInserted" -> (a - matchedUpdated).toString)
          } else Map.empty
        val metrics = skipping ++ Map(
          "numDeletionVectors" -> dvAdds.size.toString,
          "numChangedTargetRows" -> nChanged.toString,
          "numTargetFilesAdded" -> adds.size.toString) ++ rowMetrics
        txn.commit(removes ++ dvAdds ++ adds ++ cdcActions,
          "MERGE", operationMetrics = metrics)
        metrics
      } else {
        val removes = rewriteFiles.map(_.remove(now))
        // inserted = rows written - rows copied forward, where copied =
        // rows-before - updated - deleted; all from footer stats.
        val rowMetrics: Map[String, String] =
          if (nmbsClauses.isEmpty) {
            Map("numTargetRowsUpdated" -> matchedUpdated.toString,
              "numTargetRowsDeleted" -> matchedDeleted.toString) ++
              (for { a <- Dml.statsRowCount(adds)
                     b <- Dml.statsRowCount(rewriteFiles) }
                yield "numTargetRowsInserted" ->
                  (a - b + matchedDeleted).toString)
          } else Map.empty
        val metrics = skipping ++ Map(
          "numTargetFilesRemoved" -> removes.size.toString,
          "numTargetFilesAdded" -> adds.size.toString) ++ rowMetrics
        txn.commit(removes ++ adds ++ cdcActions, "MERGE", operationMetrics = metrics)
        metrics
      }
    }
  }

  private def applyInsertProjection(
      sourceOnly: DataFrame,
      insertClauses: Seq[NotMatchedInsert],
      schema: org.apache.spark.sql.types.StructType,
      spark: SparkSession): DataFrame = {
    require(insertClauses.nonEmpty, "insert-only MERGE needs an insert clause")
    val srcCols = sourceOnly.columns.map(_.toLowerCase).toSet
    // First applicable clause wins; rows matching none are dropped.
    val clauseConds = insertClauses.map(c =>
      c.condition.map(coalesce(_, lit(false))).getOrElse(lit(true)))
    val anyCond = clauseConds.reduce(_ || _)
    val filtered = sourceOnly.filter(anyCond)
    val outCols = schema.fieldNames.map { name =>
      var result: Column = lit(null)
      insertClauses.zip(clauseConds).reverse.foreach { case (c, cc) =>
        val values = Option(c.values).getOrElse(
          schema.fieldNames.filter(n => srcCols.contains(n.toLowerCase))
            .map(n => n -> col(n)).toMap)
        val v = values.collectFirst { case (k, x) if k.equalsIgnoreCase(name) => x }
          .getOrElse(lit(null))
        result = when(cc, v).otherwise(result)
      }
      result.cast(schema(name).dataType).as(name)
    }
    filtered.select(outCols.toIndexedSeq: _*)
  }
}
