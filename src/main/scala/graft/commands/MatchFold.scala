package graft.commands

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.unsafe.types.UTF8String

import graft.dv.Bitmap64
import graft.log.{AddFile, GraftLog}

/**
 * The match pass of a row-level DML, rolled up per file inside its scan
 * tasks. Each input row is one matched pair, or a target row that
 * matched nothing where the pass keeps those; its columns are, in order:
 *
 *  - the target row's file, [[Dml.fileUri]];
 *  - the index of the matched clause that applies to the pair, -1 for none;
 *  - the target row's index in its file, where the pair is weighed by a
 *    multi-match guard (else null);
 *  - the target row's index, where the DML retires the row through a
 *    deletion vector (else null);
 *  - the index of the local source row of the pair (else null).
 *
 * Each task folds its pairs into one [[MatchFold]]; the driver ORs each
 * task's fold into one as it arrives. No shuffle and no final stage: the
 * driver holds one entry per file with matches, as a collected group-by
 * would.
 * (Reference concept: the touched-files `SetAccumulator` of
 * merge/ClassicMergeExecutor.scala:72-185 — re-designed: pair counts and
 * row bitmaps ride the same per-task fold.)
 */
private[commands] final class MatchFold(clauses: Int) extends Serializable {
  /** Per file URI: its pairs' counts and row bitmaps. */
  val files = mutable.HashMap.empty[String, MatchFold.File]
  /** The local source rows with a pair, and those each clause applies to. */
  val sourceMatched = new Bitmap64()
  val sourceApplied: Array[Bitmap64] = Array.fill(clauses)(new Bitmap64())

  // A scan task's rows arrive grouped by file, so a row looks its file
  // up only when the URI differs from the previous row's (a sort-merge
  // join's pairs need not be grouped: they only look up more often).
  @transient private var lastUri: UTF8String = _
  @transient private var last: MatchFold.File = _

  private def add(r: InternalRow): Unit = {
    val uri = r.getUTF8String(0)
    if (uri != lastUri) {
      lastUri = uri.clone()
      last = files.getOrElseUpdate(uri.toString, new MatchFold.File(clauses))
    }
    val f = last
    val clause = r.getInt(1)
    if (clause >= 0) f.applied(clause) += 1
    if (!r.isNullAt(2)) { f.weighed += 1; f.rows.add(r.getLong(2)) }
    if (!r.isNullAt(3)) f.appliedRows.add(r.getLong(3))
    if (!r.isNullAt(4)) {
      sourceMatched.add(r.getLong(4))
      if (clause >= 0) sourceApplied(clause).add(r.getLong(4))
    }
  }

  /** Each file with matches, as its candidate AddFile, with its rollup,
    * in URI order. */
  def touched(log: GraftLog, candidates: Seq[AddFile]): Seq[(AddFile, MatchFold.File)] = {
    val byUri = files.toSeq.sortBy(_._1)
    Dml.resolveTouched(log, candidates, byUri.map(_._1)).zip(byUri.map(_._2))
  }

  private def merge(o: MatchFold): MatchFold = {
    o.files.foreach { case (uri, f) =>
      files.get(uri) match {
        case Some(mine) => mine.merge(f)
        case None => files(uri) = f
      }
    }
    sourceMatched.or(o.sourceMatched)
    sourceApplied.zip(o.sourceApplied).foreach { case (a, b) => a.or(b) }
    this
  }
}

private[commands] object MatchFold {

  /** One file's matched pairs: those the guard weighs, those each clause
    * applies to, and the index sets of the weighed and the retired rows.
    * More weighed pairs than weighed rows is a multi-match. */
  final class File(clauses: Int) extends Serializable {
    var weighed = 0L
    val applied = new Array[Long](clauses)
    val rows = new Bitmap64()
    val appliedRows = new Bitmap64()

    private[MatchFold] def merge(o: File): Unit = {
      weighed += o.weighed
      applied.indices.foreach(i => applied(i) += o.applied(i))
      rows.or(o.rows)
      appliedRows.or(o.appliedRows)
    }
  }

  /** Fold the pairs of `pairs` (columns as in [[MatchFold]]) of a DML
    * with `clauses` matched clauses. The pass runs as one tracked SQL
    * execution, so its scans report their metrics to listeners as any
    * query's do. */
  def run(pairs: DataFrame, clauses: Int): MatchFold = {
    val qe = pairs.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft match pass")) {
      qe.toRdd.mapPartitions { it =>
        val fold = new MatchFold(clauses)
        it.foreach(fold.add)
        Iterator.single(fold)
      }.fold(new MatchFold(clauses))(_ merge _)
    }
  }
}
