package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class InsertReplaceSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def tmpDir(): String = Files.createTempDirectory("graft-ir").toString

  private def seed(dir: String, conf: Map[String, String] = Map.empty): Unit =
    Graft.write(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("k", "v").repartition(2), dir, configuration = conf)

  private def content(dir: String): Set[(Long, String)] =
    Graft.read(spark, dir).as[(Long, String)].collect().toSet

  test("replaceUsing deletes matching keys and inserts all source rows") {
    val dir = tmpDir()
    seed(dir)
    val src = Seq((3L, "C!"), (6L, "F!")).toDF("k", "v")
    GraftTable.forPath(spark, dir).insertReplaceUsing(src, Seq("k"))
    assert(content(dir) === Set((1L, "a"), (2L, "b"), (3L, "C!"),
      (4L, "d"), (5L, "e"), (6L, "F!")))
  }

  test("replaceOn true replaces everything; false appends") {
    val dir = tmpDir()
    seed(dir)
    val t = GraftTable.forPath(spark, dir)
    t.insertReplaceOn(Seq((9L, "z")).toDF("k", "v"), lit(true))
    assert(content(dir) === Set((9L, "z")))
    t.insertReplaceOn(Seq((10L, "y")).toDF("k", "v"), lit(false))
    assert(content(dir) === Set((9L, "z"), (10L, "y")))
  }

  test("replaceOn arbitrary condition deletes every matching row (dup keys too)") {
    val dir = tmpDir()
    Graft.write(Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c"))
      .toDF("k", "v").repartition(2), dir)
    val src = Seq((1L, "A")).toDF("k", "v")
    // range condition: replace all rows with k <= s.k
    GraftTable.forPath(spark, dir)
      .insertReplaceOn(src, expr("t.k <= s.k"))
    assert(content(dir) === Set((1L, "A"), (2L, "b"), (3L, "c")))
  }

  test("DV path: replace marks old rows via deletion vectors, no rewrite") {
    val dir = tmpDir()
    seed(dir, Map("graft.enableDeletionVectors" -> "true"))
    val before = GraftTable.forPath(spark, dir).snapshot.allFiles
      .map(_.path).toSet
    GraftTable.forPath(spark, dir)
      .insertReplaceUsing(Seq((2L, "B!")).toDF("k", "v"), Seq("k"))
    assert(content(dir) === Set((1L, "a"), (2L, "B!"), (3L, "c"),
      (4L, "d"), (5L, "e")))
    val after = GraftTable.forPath(spark, dir).snapshot.allFiles
    // the original data files survive (one of them now DV-masked)
    assert(before.subsetOf(after.map(_.path).toSet))
    assert(after.exists(_.dvPath.isDefined))
  }

  test("CDF: one commit carries delete + insert change rows") {
    val dir = tmpDir()
    seed(dir, Map("graft.enableChangeDataFeed" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    t.insertReplaceUsing(Seq((3L, "C!"), (6L, "F!")).toDF("k", "v"), Seq("k"))
    val v = t.version
    val ch = t.changes(v, v)
      .select($"k", $"v", col("_change_type").as[String])
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch === Set((3L, "c", "delete"), (3L, "C!", "insert"),
      (6L, "F!", "insert")))
  }

  test("SQL: INSERT INTO ... REPLACE ON / REPLACE USING") {
    val dir = tmpDir()
    seed(dir)
    spark.sql(s"INSERT INTO graft.`$dir` REPLACE ON t.k = s.k " +
      "SELECT 4L AS k, 'D!' AS v")
    assert(content(dir).contains((4L, "D!")) && !content(dir).contains((4L, "d")))
    spark.sql(s"INSERT INTO graft.`$dir` REPLACE USING (k) " +
      "SELECT 5L AS k, 'E!' AS v")
    assert(content(dir).contains((5L, "E!")) && !content(dir).contains((5L, "e")))
    assert(content(dir).size === 5)
    // plain INSERT INTO still routes through the normal path
    spark.sql(s"INSERT INTO graft.`$dir` SELECT 7L, 'g'")
    assert(content(dir).contains((7L, "g")) && content(dir).size === 6)
  }

  test("replaceUsing prunes candidates by source key range (stats space)") {
    val dir = tmpDir()
    // two well-separated files
    Graft.write((1L to 100L).map(i => (i, "lo")).toDF("k", "v").coalesce(1), dir)
    Graft.write((1000L to 1100L).map(i => (i, "hi")).toDF("k", "v").coalesce(1), dir)
    val before = GraftTable.forPath(spark, dir).snapshot.allFiles
      .map(_.path).toSet
    assert(before.size === 2)
    // source keys live entirely in the high file's range
    GraftTable.forPath(spark, dir)
      .insertReplaceUsing(Seq((1050L, "HI!")).toDF("k", "v"), Seq("k"))
    val after = GraftTable.forPath(spark, dir).snapshot.allFiles.map(_.path).toSet
    val untouched = before.intersect(after)
    assert(untouched.size === 1,
      s"stats pruning should keep the low file untouched: before=$before after=$after")
    assert(content(dir).contains((1050L, "HI!")) &&
      content(dir).contains((1L, "lo")) && !content(dir).contains((1050L, "hi")))
    assert(content(dir).size === 201)
    // all-null source keys match nothing; rows still insert
    GraftTable.forPath(spark, dir).insertReplaceUsing(
      spark.range(1).select(lit(null).cast("long").as("k"), lit("n").as("v")),
      Seq("k"))
    assert(Graft.read(spark, dir).count() === 202)
  }

  test("SQL: INSERT INTO ... REPLACE WHERE (target-side predicate)") {
    val dir = tmpDir()
    seed(dir)
    // rows matching the predicate are replaced by the query's rows; the
    // write must satisfy the predicate itself
    spark.sql(s"INSERT INTO graft.`$dir` REPLACE WHERE k <= 2 " +
      "SELECT 1L AS k, 'one' AS v")
    assert(content(dir) === Set((1L, "one"), (3L, "c"), (4L, "d"), (5L, "e")))
    // a row violating the predicate refuses the whole write
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$dir` REPLACE WHERE k = 9 " +
        "SELECT 8L AS k, 'x' AS v")
    }
    assert(e.getMessage != null)
    assert(content(dir) === Set((1L, "one"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("incompatible source schema refuses") {
    val dir = tmpDir()
    seed(dir)
    val e = intercept[IllegalArgumentException] {
      GraftTable.forPath(spark, dir)
        .insertReplaceOn(Seq((1, "x", 2.0)).toDF("k", "v", "extra"), lit(true))
    }
    assert(e.getMessage.contains("write-compatible"), e.getMessage)
  }

  // row-level execution counter: a persisted source evaluates each row
  // exactly once (the eager count), every later pass reads the cache
  private def countedSource(acc: org.apache.spark.util.LongAccumulator) = {
    val bump = udf((x: Long) => { acc.add(1); x })
    spark.range(0, 10).select(bump(col("id")).as("k"),
      concat(lit("s"), col("id")).as("v"))
  }

  test("materializeSource=all computes a deterministic source exactly once") {
    val dir = tmpDir()
    seed(dir)
    val acc = spark.sparkContext.longAccumulator("ir-src-rows")
    spark.conf.set(graft.commands.MaterializeSource.CONF, "all")
    try GraftTable.forPath(spark, dir).insertReplaceUsing(countedSource(acc), Seq("k"))
    finally spark.conf.unset(graft.commands.MaterializeSource.CONF)
    assert(acc.value === 10L, s"source rows evaluated ${acc.value} times, want 10")
    assert(content(dir) === (0L until 10L).map(i => i -> s"s$i").toSet)
  }

  test("auto re-scans a deterministic source (pushdown-friendly plans per pass)") {
    val dir = tmpDir()
    seed(dir)
    val acc = spark.sparkContext.longAccumulator("ir-src-rows-auto")
    GraftTable.forPath(spark, dir).insertReplaceUsing(countedSource(acc), Seq("k"))
    assert(acc.value > 10L,
      "a deterministic source under auto should re-scan per pass " +
        "(pinning would force full materialization and lose pushdown)")
    // a NON-deterministic source pins under auto too — the correctness floor
    val dir2 = tmpDir()
    seed(dir2)
    val acc2 = spark.sparkContext.longAccumulator("ir-src-rows-nondet")
    val bump2 = udf((x: Long) => { acc2.add(1); x }).asNondeterministic()
    val src2 = spark.range(0, 10).select(bump2(col("id")).as("k"),
      concat(lit("s"), col("id")).as("v"))
    GraftTable.forPath(spark, dir2).insertReplaceUsing(src2, Seq("k"))
    assert(acc2.value === 10L,
      s"non-deterministic source evaluated ${acc2.value} times, want 10")
  }
}
