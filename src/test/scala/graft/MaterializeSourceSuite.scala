package graft

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.commands.MaterializeSource

/**
 * Fault injection for the pinned DML source: the materialized blocks are
 * the ONLY copy of a non-deterministic source's rows, so losing them
 * mid-command (cluster executor death) must either retry to the SAME
 * final result or fail loudly — never silently recompute divergent rows.
 * The hook unpersists the locally-checkpointed RDD between
 * materialization and the command body, which is exactly what block loss
 * looks like to the executing tasks.
 */
class MaterializeSourceSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-mat").toString

  private def seed(dir: String): Unit =
    Graft.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir)

  private def nonDetSource(acc: org.apache.spark.util.LongAccumulator) = {
    val bump = udf((x: Long) => { acc.add(1); x }).asNondeterministic()
    spark.range(0, 10).select(bump(col("id")).as("k"),
      concat(lit("s"), col("id")).as("v"))
  }

  private def withHook[T](hook: (Int, org.apache.spark.rdd.RDD[_]) => Unit)(f: => T): T =
    MaterializeSource.onPinned.withValue(hook)(f)

  test("block loss on attempt 1 retries the whole command to the same result") {
    val dir = tmpDir()
    seed(dir)
    val acc = spark.sparkContext.longAccumulator("mat-retry-rows")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    withHook { (attempt, rdd) =>
      attempts.set(attempt)
      if (attempt == 1) rdd.unpersist(blocking = true) // simulate executor loss
    } {
      GraftTable.forPath(spark, dir).insertReplaceUsing(nonDetSource(acc), Seq("k"))
    }
    assert(attempts.get === 2, "command should have re-materialized once")
    // attempt 1 evaluated 10 rows before its blocks were lost; attempt 2
    // re-evaluated 10 — and the command's phases all read attempt 2's pin
    assert(acc.value === 20L, s"rows evaluated ${acc.value} times, want 20")
    val rows = Graft.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows === ((0L until 10L).map(i => i -> s"s$i").toSet
      ++ Set((1L, "a"), (2L, "b"), (3L, "c")).filter(_._1 >= 10)))
  }

  test("persistent block loss fails loudly and leaves the table unchanged") {
    val dir = tmpDir()
    seed(dir)
    val before = Graft.read(spark, dir).as[(Long, String)].collect().toSet
    val acc = spark.sparkContext.longAccumulator("mat-fail-rows")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[SparkException] {
      withHook { (attempt, rdd) =>
        attempts.set(attempt)
        rdd.unpersist(blocking = true)
      } {
        GraftTable.forPath(spark, dir)
          .insertReplaceUsing(nonDetSource(acc), Seq("k"))
      }
    }
    assert(e.getMessage.contains("materialization lost its checkpointed blocks"),
      e.getMessage)
    assert(MaterializeSource.isMaterializedBlockLost(e.getCause),
      s"cause should be the checkpoint-block-not-found: ${e.getCause}")
    assert(attempts.get === MaterializeSource.LOST_BLOCK_ATTEMPTS)
    val after = Graft.read(spark, dir).as[(Long, String)].collect().toSet
    assert(after === before, "a failed command must not partially commit")
  }

  test("MERGE retries on block loss with an exactly-once pinned source") {
    val dir = tmpDir()
    seed(dir)
    val acc = spark.sparkContext.longAccumulator("mat-merge-rows")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    withHook { (attempt, rdd) =>
      attempts.set(attempt)
      if (attempt == 1) rdd.unpersist(blocking = true)
    } {
      GraftTable.forPath(spark, dir).merge(nonDetSource(acc), "t.k = s.k")
        .whenMatched().updateAll().whenNotMatched().insertAll().execute()
    }
    assert(attempts.get === 2)
    val rows = Graft.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows === ((0L until 10L).map(i => i -> s"s$i").toSet))
  }

  test("single-pass commands never pin (passes=1 honors the signature)") {
    // withPinned with passes=1 runs the body on the original frame even
    // for a non-deterministic source under mode=all
    spark.conf.set(MaterializeSource.CONF, "all")
    val pinned = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      withHook { (_, _) => pinned.incrementAndGet() } {
        MaterializeSource.withPinned(
          spark.range(3).select(rand().as("r")), passes = 1) { df =>
          assert(df.count() === 3)
        }
      }
    } finally spark.conf.unset(MaterializeSource.CONF)
    assert(pinned.get === 0, "passes=1 must skip the pin")
  }

  test("materializeSource accepts only auto|all") {
    spark.conf.set(MaterializeSource.CONF, "none")
    try {
      val e = intercept[IllegalArgumentException] {
        MaterializeSource.withPinned(spark.range(3).toDF(), passes = 2)(_.count())
      }
      assert(e.getMessage.contains("must be auto|all"), e.getMessage)
    } finally spark.conf.unset(MaterializeSource.CONF)
  }

  test("lost-block detector matches the Spark error and nothing else") {
    val hit = new SparkException(
      "Checkpoint block rdd_42_3 not found! Either the executor ... is no longer alive ...")
    assert(MaterializeSource.isMaterializedBlockLost(
      new RuntimeException("wrapper", hit)))
    assert(!MaterializeSource.isMaterializedBlockLost(
      new RuntimeException("some other failure")))
  }
}
