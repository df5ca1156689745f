package graft.commands

import scala.util.DynamicVariable

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.storage.StorageLevel

/**
 * Shared source-materialization decision for the multi-pass DML commands
 * (MERGE, INSERT ... REPLACE ON/USING). Both scan their source DataFrame
 * several times — match phase, write phase, CDF rows — so
 *
 *  - a NON-DETERMINISTIC source (rand(), non-deterministic UDFs) must pin
 *    or the phases see divergent rows and silently corrupt the command;
 *  - an EXPENSIVE deterministic source (joins/aggregations/windows in its
 *    plan) re-computes its shuffles once per pass — correct but 2-4x the
 *    cost of materializing it once.
 *
 * The pin is a locally-CHECKPOINTED `RDD[InternalRow]`, not a plain cache:
 * `localCheckpoint` severs the lineage, so on a real cluster a lost block
 * (executor death) FAILS LOUDLY with a checkpoint-block-not-found error
 * instead of silently recomputing from lineage — which for the
 * non-deterministic sources that `auto` pins would re-roll the dice and
 * hand later phases different rows than earlier ones saw. On that loud
 * failure the whole command retries (at most [[LOST_BLOCK_ATTEMPTS]] times)
 * with the blocks replicated, matching the failure-handling contract of
 * the reference (merge/MergeIntoMaterializeSource.scala:52-63,108-116,
 * 187-192 — re-designed: one shared helper for both commands, conf-driven
 * modes, and the retry driven from the pin site rather than a per-command
 * mixin).
 *
 * Modes (`spark.graft.dml.materializeSource`):
 *  - `auto` (default): pin exactly what correctness demands — a
 *    non-deterministic source. Like the reference's auto, it is NOT a
 *    cost decision: pinning a deterministic source forces full
 *    materialization (losing the column pruning and filter pushdown the
 *    per-pass plans enjoy), which measurably REGRESSES the common
 *    cheap-source case; the multi-pass savings only win when the source
 *    is genuinely expensive, which the engine cannot know up front.
 *  - `all`: always pin — the knob for an expensive multi-join source
 *    that would otherwise compute once per pass (up to 4x for INSERT
 *    REPLACE).
 */
object MaterializeSource {

  val CONF = "spark.graft.dml.materializeSource"

  /** Attempts a computation over locally checkpointed blocks gets before
    * a lost block fails it for good: attempt 1 stores its blocks once,
    * every retry replicates them so a single further loss cannot strand
    * it again. */
  val LOST_BLOCK_ATTEMPTS = 4

  /** Fault-injection seam, scoped to one call with `withValue`: invoked
    * after each materialization completes, before the command body runs,
    * with (attempt, checkpointed RDD). Tests unpersist the RDD here to
    * simulate executor/block loss. */
  private[graft] val onPinned =
    new DynamicVariable[(Int, RDD[_]) => Unit]((_, _) => ())

  /** Pin `source` per the conf mode, run `body` against the (possibly
    * materialized) frame, and release the blocks afterwards. `passes` is
    * how many times the calling command scans the source — a single-pass
    * command never pins (each row is read once; nothing can diverge). */
  def withPinned[T](source: DataFrame, passes: Int)(body: DataFrame => T): T = {
    val spark = source.sparkSession
    val mode = spark.conf.get(CONF, "auto").toLowerCase
    require(mode == "auto" || mode == "all", s"$CONF must be auto|all, got '$mode'")
    val analyzed = source.queryExecution.analyzed
    val nonDeterministic =
      analyzed.exists(p => p.expressions.exists(e => !e.deterministic))
    // the correctness floor (non-deterministic) never lifts; `all` adds
    // the cost pin — but a single-pass command has nothing to pin for
    val pin = passes > 1 && (mode == "all" || nonDeterministic)
    if (!pin) return body(source)

    retryOnLostBlocks("DML source materialization lost its checkpointed " +
        s"blocks on all $LOST_BLOCK_ATTEMPTS attempts; the command made no " +
        "partial commit and can be re-run.") { attempt =>
      val level =
        if (attempt == 1) StorageLevel.DISK_ONLY else StorageLevel.DISK_ONLY_2
      // InternalRow buffers are reused by the scan — copy before storing
      val rdd = source.queryExecution.toRdd.map(_.copy())
      rdd.setName(s"graft.materializedSource(attempt=$attempt)")
      rdd.persist(level)
      rdd.localCheckpoint() // sever lineage: lost block => loud failure
      try {
        rdd.count() // evaluate the source exactly once, before any phase
        onPinned.value(attempt, rdd)
        body(SparkShims.internalCreateDataFrame(spark, rdd, source.schema))
      } finally rdd.unpersist(blocking = false)
    }
  }

  /** Run `attempt(n)` for n = 1, 2, ... until it completes without losing
    * its locally checkpointed blocks; after [[LOST_BLOCK_ATTEMPTS]] losses,
    * fail with `exhausted` and the last loss as cause. Any other failure
    * propagates at once. */
  private[graft] def retryOnLostBlocks[T](exhausted: => String)(
      attempt: Int => T): T = {
    var lastLoss: Throwable = null
    var n = 1
    while (n <= LOST_BLOCK_ATTEMPTS) {
      try return attempt(n)
      catch {
        case t: Throwable if isMaterializedBlockLost(t) =>
          lastLoss = t
          n += 1
      }
    }
    throw new SparkException(exhausted, lastLoss)
  }

  /** True when the failure (anywhere in the cause chain) is Spark's
    * checkpoint-block-not-found — the one signal that the materialized
    * blocks were evicted by executor loss or an external unpersist. */
  private[graft] def isMaterializedBlockLost(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      val lost = cur match {
        case st: org.apache.spark.SparkThrowable
            if st.getCondition == "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" => true
        case _ =>
          val m = Option(cur.getMessage).getOrElse("")
          m.contains("Checkpoint block rdd_") && m.contains("not found")
      }
      if (lost) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }
}
