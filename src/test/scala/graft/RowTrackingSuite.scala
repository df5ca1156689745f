package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.log.GraftLog

class RowTrackingSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def tmpDir(): String = Files.createTempDirectory("graft-rt").toString

  private val rtConf = Map(
    "graft.enableRowTracking" -> "true",
    "graft.enableDeletionVectors" -> "true")

  private def idsOf(dir: String): Map[Long, Long] =
    GraftTable.forPath(spark, dir).toDFWithRowIds
      .select($"id", $"_graft_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fresh rows get sequential ids across appends") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id").orderBy("id").coalesce(1), dir,
      configuration = rtConf)
    Graft.write(spark.range(10, 15).toDF("id").orderBy("id").coalesce(1), dir)
    val ids = idsOf(dir)
    assert(ids.values.toSet.size === 15)           // all distinct
    assert(ids.values.min === 0L && ids.values.max === 14L)
    assert((0L until 10L).map(ids) === (0L until 10L))   // first file 0..9
    // commit version stamped
    val vers = GraftTable.forPath(spark, dir).toDFWithRowIds
      .select($"_graft_row_commit").distinct().as[Long].collect().toSet
    assert(vers === Set(0L, 1L))
  }

  test("row ids survive DV deletes and OPTIMIZE compaction") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id").orderBy("id").coalesce(1), dir,
      configuration = rtConf)
    Graft.write(spark.range(10, 20).toDF("id").orderBy("id").coalesce(1), dir)
    val before = idsOf(dir)
    GraftTable.forPath(spark, dir).delete($"id" % 4 === 1)
    val afterDelete = idsOf(dir)
    assert(afterDelete === before.filter { case (k, _) => k % 4 != 1 })
    // compaction materializes the ids into the rewritten file
    GraftTable.forPath(spark, dir).optimize().executeCompaction()
    assert(GraftTable.forPath(spark, dir).snapshot.allFiles.size === 1)
    assert(idsOf(dir) === afterDelete)
  }

  test("watermark survives checkpoint and cold reload") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id").coalesce(1), dir,
      configuration = rtConf ++ Map("graft.checkpointInterval" -> "2"))
    (0 until 3).foreach(i =>
      Graft.write(spark.range(5 + i, 6 + i).toDF("id").coalesce(1), dir))
    GraftLog.clearCache()
    Graft.write(spark.range(90, 92).toDF("id").coalesce(1), dir)
    val ids = idsOf(dir).values.toSeq
    assert(ids.size === 10 && ids.toSet.size === 10)   // no id reuse after reload
  }

  test("late enablement backfills existing rows before the property flips") {
    val dir = tmpDir()
    // two commits WITHOUT row tracking
    Graft.write(spark.range(10).toDF("id").coalesce(1), dir)
    Graft.write(spark.range(10, 20).toDF("id").coalesce(1), dir)
    GraftTable.forPath(spark, dir)
      .upsertProperties(Map("graft.enableRowTracking" -> "true"))
    val df = GraftTable.forPath(spark, dir).toDFWithRowIds
    // every pre-existing row has a NON-NULL, distinct id and a non-null
    // commit version (the backfill commit's)
    assert(df.filter($"_graft_row_id".isNull || $"_graft_row_commit".isNull)
      .count() === 0)
    val ids = idsOf(dir)
    assert(ids.size === 20 && ids.values.toSet.size === 20)
    // the watermark continues past the backfilled range for new writes
    Graft.write(spark.range(20, 25).toDF("id").coalesce(1), dir)
    val ids2 = idsOf(dir)
    assert(ids2.size === 25 && ids2.values.toSet.size === 25)
    // COLD load revalidates the checksum chain: backfill's re-adds must
    // not have poisoned the incremental file counts
    GraftLog.clearCache()
    assert(idsOf(dir).size === 25)
  }

  test("malformed stats read as absent: COUNT(*) scans, backfill takes the footer count") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id").coalesce(1), dir)
    val txn = GraftLog.forTable(spark, dir).startTransaction()
    val bad = txn.writeFiles(spark.range(10, 15).toDF("id").coalesce(1), dataChange = true)
      .map(_.copy(stats = "{\"numRecords\":5,\"minValues\":{\"id\":"))
    txn.commit(bad, "WRITE")
    assert(graft.stats.StatsSpace.numRecords(bad.head.stats).isEmpty)
    // no metadata answer from a file without a readable count: a real scan
    val counted = Graft.read(spark, dir).groupBy().count()
    val plan = counted.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LocalRelation"), s"expected a scan in:\n$plan")
    assert(counted.head.getLong(0) === 15L)
    // backfill reads the malformed file's count from its parquet footer
    GraftTable.forPath(spark, dir)
      .upsertProperties(Map("graft.enableRowTracking" -> "true"))
    val fixed = GraftTable.forPath(spark, dir).snapshot.allFiles
      .find(_.path == bad.head.path).get
    assert(graft.stats.StatsSpace.numRecords(fixed.stats) === Some(5L))
    assert(fixed.baseRowId === Some(10L))
    assert(idsOf(dir).values.toSet === (0L until 15L).toSet)
    assert(Graft.read(spark, dir).count() === 15L)
  }

  test("backfill batches commit bounded and survive a pre-assigned mix") {
    val dir = tmpDir()
    (0 until 4).foreach(i =>
      Graft.write(spark.range(i * 5, i * 5 + 5).toDF("id").coalesce(1), dir))
    val t = GraftTable.forPath(spark, dir)
    t.backfillRowTracking(maxFilesPerCommit = 1)
    // one commit per file
    val ops = t.history().select($"operation").as[String].collect()
    assert(ops.count(_ == "ROW TRACKING BACKFILL") === 4)
    // idempotent: nothing left to backfill
    val v = t.version
    t.backfillRowTracking(maxFilesPerCommit = 1)
    assert(t.version === v)
    // property flip after manual backfill does not re-run it
    t.upsertProperties(Map("graft.enableRowTracking" -> "true"))
    val ids = idsOf(dir)
    assert(ids.size === 20 && ids.values.toSet.size === 20)
  }

  test("dropFeature(rowTracking) unbackfills every trace; re-enable backfills fresh") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id").coalesce(1), dir,
      configuration = rtConf)
    Graft.write(spark.range(10, 20).toDF("id").coalesce(1), dir)
    val t = GraftTable.forPath(spark, dir)
    t.dropFeature("rowTracking")
    val s = t.snapshot
    // every trace gone: file ids, watermark domain, properties, protocol
    assert(s.allFiles.forall(f =>
      f.baseRowId.isEmpty && f.defaultRowCommitVersion.isEmpty))
    assert(!s.domains.contains(graft.log.RowTracking.DOMAIN))
    assert(!s.metadata.configuration.contains("graft.enableRowTracking"))
    assert(!s.metadata.configuration.contains("graft.rowTrackingSuspended"))
    assert(!s.protocol.writerFeatureNames.contains("rowTracking"))
    intercept[IllegalArgumentException] { t.toDFWithRowIds }
    // data unchanged throughout
    assert(Graft.read(spark, dir).count() === 20)
    // re-enabling backfills from a FRESH watermark, all ids distinct
    t.upsertProperties(Map("graft.enableRowTracking" -> "true"))
    val ids = idsOf(dir)
    assert(ids.size === 20 && ids.values.toSet.size === 20)
  }

  test("backfill bounds consecutive commit-race losses with a named error") {
    val dir = tmpDir()
    val t = FaultyLogStore.installed(spark) {
      // 25 single-file appends: every batch loss has a fresh file to blame
      (0 until 25).foreach(i =>
        Graft.write(spark.range(i * 5L, i * 5L + 5).toDF("id").coalesce(1), dir))
      GraftTable.forPath(spark, dir)
    }
    // The backfill's protocol upgrade commits first, so that every commit
    // the backfill makes below is a batch commit.
    t.addFeatureSupport("rowTracking")
    // adversarial winner: on EVERY batch commit attempt, whole-file-delete
    // the next untouched file (a batch member, since one batch selects all
    // null-id files) — the re-add would resurrect it, so the batch loses.
    var k = 0
    val e = intercept[IllegalArgumentException] {
      FaultyLogStore.beforeEachCommit { _ =>
        if (k < 25) { t.delete($"id" >= k * 5L && $"id" < k * 5L + 5); k += 1 }
      }(t.backfillRowTracking())
    }
    assert(e.getMessage.contains("20 consecutive commit races"))
    assert(k === 20, "a batch commit attempt ran without the adversary")
    // with the adversary gone, the same table backfills to completion
    t.backfillRowTracking()
    t.upsertProperties(Map("graft.enableRowTracking" -> "true"))
    val ids = idsOf(dir)
    assert(ids.size === Graft.read(spark, dir).count())
    assert(ids.values.toSet.size === ids.size)
  }

  test("ZORDER preserves row ids via materialization") {
    val dir = tmpDir()
    Graft.write(spark.range(100).toDF("id")
      .withColumn("x", ($"id" * 37) % 100).orderBy("id").coalesce(1), dir,
      configuration = rtConf)
    Graft.write(spark.range(100, 200).toDF("id")
      .withColumn("x", ($"id" * 37) % 100).orderBy("id").coalesce(1), dir)
    val before = GraftTable.forPath(spark, dir).toDFWithRowIds
      .select($"id", $"_graft_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraftTable.forPath(spark, dir).optimize().executeZOrderBy("x", "id")
    val after = GraftTable.forPath(spark, dir).toDFWithRowIds
      .select($"id", $"_graft_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === before)
  }
}
