package graft.commands

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftTable
import graft.log._

/**
 * INSERT … REPLACE ON / REPLACE USING: append every source row and, in
 * the SAME commit, delete every existing table row that matches ANY
 * source row under the join condition — a criteria-driven replace where
 * the replaced set derives from the inserted data itself (a generalized
 * replaceWhere). `REPLACE USING (c1..cn)` is the equi-join special case.
 * (Reference concept: commands/DeltaInsertReplaceOnOrUsingCommand.scala:39
 * + the replaceOn/replaceUsing branch of WriteIntoDelta — re-designed:
 * one transaction composing the DELETE machinery's matched-row paths —
 * DV bitmaps or survivor rewrites — with the normal write path, instead
 * of an EXISTS-subquery rewrite.)
 *
 * Condition columns resolve through the `t` (target) / `s` (source)
 * aliases, the same convention as MERGE: `t.insertReplaceOn(src,
 * expr("t.k = s.k"))`.
 *
 * Scale shape: one candidate-pruned target scan joined with the source
 * (Catalyst picks broadcast vs shuffle), rewrites bounded to files that
 * actually contain matches (or KB-scale DV sidecars), and the insert is
 * the plain distributed write path. A non-deterministic source pins once
 * up front so the match phase and the insert phase see identical rows.
 */
object InsertReplaceCommand {

  def run(
      table: GraftTable,
      source: DataFrame,
      condition: Column,
      targetAlias: String = "t",
      sourceAlias: String = "s"): Map[String, String] = {
    // Up to 4 passes read the source (key-range agg, match join, survivor
    // anti-join + insert write, CDF union) — the shared decision pins
    // non-deterministic sources for correctness; `all` lets an expensive
    // multi-join source compute once instead of 4x.
    MaterializeSource.withPinned(source, passes = 4) { pinned =>
      runInternal(table, pinned, condition, targetAlias, sourceAlias)
    }
  }

  private def runInternal(
      table: GraftTable,
      source: DataFrame,
      condition: Column,
      targetAlias: String,
      sourceAlias: String): Map[String, String] = {
    val spark = table.spark
    val log = table.log
    log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      require(graft.schema.SchemaUtils.isWriteCompatible(m.schema, source.schema),
        s"REPLACE ON source schema ${source.schema.simpleString} is not " +
          s"write-compatible with the table's ${m.schema.simpleString}")
      val now = System.currentTimeMillis()
      val cdf = Cdc.isEnabled(m)
      // Candidate pruning: a target file whose stats refute the
      // condition's exact data filters (its target-only conjuncts, and each
      // equi-join key bounded by the source's range) cannot contain a
      // match, so a small daily batch touches only the bracketed files —
      // replaceWhere economics on a join-derived predicate. The filters
      // also register as the conflict read set: appends outside the
      // range cannot produce matches, so they need not conflict.
      val src = source.alias(sourceAlias)
      val candidates = txn.filterFiles(Nil, Dml.joinFilters(spark,
        Dml.scanFiles(spark, log, txn, Nil).alias(targetAlias), src, condition))
      val useDv = graft.dv.DeletionVectors.isEnabled(m)

      val (removes, rewriteAdds, deleteCdcRows, deletedCount) =
        if (candidates.isEmpty) {
          (Nil, Nil, None, 0L)
        } else {
          // Matched rows carry their file and row index through the semi
          // join; the match pass folds them per file in its scan tasks,
          // into the touched files and, under DVs, their bitmaps.
          val FILE = "__graft_file"
          val RID = "__graft_rid"
          val targetScan = Dml.scanFiles(spark, log, txn, candidates)
            .withColumn(FILE, Dml.fileUri).withColumn(RID, Dml.rowIndex)
          val matched = targetScan.alias(targetAlias).join(src, condition, "left_semi")
          val touched = Dml.touchedFiles(log, candidates,
            matched.select(col(FILE), if (useDv) col(RID) else lit(null)))
          if (useDv) {
            val (rm, dvAdds, n) = graft.dv.DeletionVectors.writeBitmaps(spark, log,
              touched.map { case (f, r) => f -> r.appliedRows })
            (rm, dvAdds, if (cdf) Some(matched.drop(FILE, RID)) else None, n)
          } else if (touched.isEmpty) (Nil, Nil, None, 0L)
          else {
            // rewrite path: only files that actually contain matches
            val files = touched.map(_._1)
            val base = Dml.scanFiles(spark, log, txn, files)
            val survivors = base.alias(targetAlias).join(src, condition, "left_anti")
            val newAdds = txn.writeFiles(survivors)
            val deleted = (for {
              r <- Dml.statsRowCount(files)
              a <- Dml.statsRowCount(newAdds)
            } yield r - a).getOrElse(-1L)
            (files.map(_.remove(now)), newAdds,
              if (cdf) Some(base.alias(targetAlias).join(src, condition, "left_semi"))
              else None, deleted)
          }
        }

      // insert side: the normal write-path normalization
      val (withDefaults, genChecks) =
        graft.schema.ColumnDefaults.applyDefaults(source, m)
      var normalized = graft.schema.SchemaUtils.normalize(withDefaults, m.schema)
      normalized = graft.constraints.Constraints.enforce(normalized, m)
      genChecks.foreach { case (name, ok) =>
        if (normalized.columns.nonEmpty) {
          val first = normalized.columns.head
          val ft = normalized.schema(first).dataType
          normalized = normalized.withColumn(first,
            when(coalesce(ok, lit(false)), col(first)).otherwise(
              raise_error(lit(s"provided value violates $name")).cast(ft)))
        }
      }
      val insertAdds = txn.writeFiles(normalized)
      graft.schema.ColumnDefaults.advanceWatermarks(txn.metadata, insertAdds)
        .foreach(txn.updateMetadata)

      val cdcActions =
        if (cdf) {
          val deletes = deleteCdcRows.map(
            _.withColumn(Cdc.CHANGE_TYPE, lit("delete")))
          val inserts = normalized.withColumn(Cdc.CHANGE_TYPE, lit("insert"))
          Cdc.writeChangeFiles(spark, log,
            deletes.map(d => d.unionByName(inserts)).getOrElse(inserts))
        } else Nil
      val metrics = Map(
        "numRemovedFiles" -> removes.size.toString,
        "numAddedFiles" -> (rewriteAdds.size + insertAdds.size).toString,
        "numTargetRowsDeleted" -> deletedCount.toString) ++
        Dml.statsRowCount(insertAdds).map("numTargetRowsInserted" -> _.toString)
      txn.commit(removes ++ rewriteAdds ++ insertAdds ++ cdcActions,
        "INSERT REPLACE",
        operationParameters = Map("predicate" -> condition.toString),
        operationMetrics = metrics)
      metrics
    }
  }
}
