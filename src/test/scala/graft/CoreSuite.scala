package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.GraftLog

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtension")
    .config("spark.sql.catalog.spark_catalog", "graft.catalog.GraftCatalog")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

class CoreSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def tmpDir(): String = Files.createTempDirectory("graft-test").toString

  def lineitem: DataFrame = spark.read.parquet(s"$sf/lineitem.parquet")

  override def afterAll(): Unit = GraftLog.clearCache()

  test("append + read roundtrip") {
    val dir = tmpDir()
    Graft.write(lineitem, dir)
    val back = Graft.read(spark, dir)
    assert(back.count() === lineitem.count())
    assert(back.schema.fieldNames.sorted === lineitem.schema.fieldNames.sorted)
    // second append doubles
    Graft.write(lineitem, dir)
    assert(Graft.read(spark, dir).count() === 2 * lineitem.count())
  }

  test("partitioned write, partition values from log, pruning") {
    val dir = tmpDir()
    Graft.write(lineitem, dir, partitionBy = Seq("l_returnflag"))
    val back = Graft.read(spark, dir)
    assert(back.count() === lineitem.count())
    val one = back.filter(col("l_returnflag") === "R")
    val expected = lineitem.filter(col("l_returnflag") === "R").count()
    assert(one.count() === expected)
    // pruning: scanned files should be a strict subset
    val t = GraftTable.forPath(spark, dir)
    val flags = t.snapshot.allFiles.map(_.partitionValues("l_returnflag")).distinct
    assert(flags.size >= 2)
  }

  test("overwrite replaces content") {
    val dir = tmpDir()
    Graft.write(lineitem, dir)
    val filtered = lineitem.filter(col("l_quantity") > 25)
    Graft.write(filtered, dir, mode = "overwrite")
    assert(Graft.read(spark, dir).count() === filtered.count())
  }

  test("replaceWhere overwrites only matching partition") {
    val dir = tmpDir()
    Graft.write(lineitem, dir, partitionBy = Seq("l_returnflag"))
    val repl = lineitem.filter(col("l_returnflag") === "R").limit(10)
    Graft.write(repl, dir, mode = "overwrite",
      replaceWhere = Some("l_returnflag = 'R'"))
    val total = lineitem.filter(col("l_returnflag") =!= "R").count() + 10
    assert(Graft.read(spark, dir).count() === total)
  }

  test("stats skipping prunes files") {
    val dir = tmpDir()
    // write in 4 chunks by orderkey ranges so files have disjoint stats
    val li = lineitem
    val hi = li.agg(max("l_orderkey")).head.getLong(0)
    val step = hi / 4 + 1
    (0 until 4).foreach { i =>
      Graft.write(li.filter(col("l_orderkey") >= i * step &&
        col("l_orderkey") < (i + 1) * step).repartition(1), dir)
    }
    val t = GraftTable.forPath(spark, dir)
    assert(t.snapshot.allFiles.forall(_.stats != null))
    val maxKey = li.agg(max("l_orderkey")).head.getLong(0)
    import graft.stats.StatsSkipping
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.LongType
    val pred = EqualTo(AttributeReference("l_orderkey", LongType)(), Literal(maxKey))
    val kept = StatsSkipping.filterFiles(spark, t.snapshot.allFiles,
      t.snapshot.metadata.dataSchema, Seq(pred))
    assert(kept.size < t.snapshot.allFiles.size)
    // correctness preserved
    assert(Graft.read(spark, dir).filter(col("l_orderkey") === maxKey).count() ===
      li.filter(col("l_orderkey") === maxKey).count())
  }

  test("delete with rewrite") {
    val dir = tmpDir()
    Graft.write(lineitem, dir)
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("l_quantity") < 10)
    val expected = lineitem.filter(!(col("l_quantity") < 10)).count()
    assert(Graft.read(spark, dir).count() === expected)
  }

  test("metadata-only delete on partition column") {
    val dir = tmpDir()
    Graft.write(lineitem, dir, partitionBy = Seq("l_returnflag"))
    val t = GraftTable.forPath(spark, dir)
    val v0 = t.version
    t.delete(col("l_returnflag") === "R")
    val expected = lineitem.filter(col("l_returnflag") =!= "R").count()
    assert(Graft.read(spark, dir).count() === expected)
    // metadata-only: no files added
    val commit = t.log.readCommit(v0 + 1)
    assert(!commit.exists(_.isInstanceOf[graft.log.AddFile]))
  }

  test("update rewrites matching rows") {
    val dir = tmpDir()
    Graft.write(lineitem, dir)
    val t = GraftTable.forPath(spark, dir)
    t.update(col("l_quantity") === 1, Map("l_tax" -> lit(9.99)))
    val got = Graft.read(spark, dir)
    assert(got.filter(col("l_tax") === 9.99).count() ===
      lineitem.filter(col("l_quantity") === 1).count())
    assert(got.count() === lineitem.count())
  }

  test("arbitrary replaceWhere preserves non-matching rows sharing a file") {
    val dir = tmpDir()
    // one file holding BOTH matching (id < 10) and non-matching rows
    Graft.write(spark.range(100).toDF("id").repartition(1), dir)
    Graft.write(spark.range(5).toDF("id"), dir,
      mode = "overwrite", replaceWhere = Some("id < 10"))
    val got = Graft.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted
    // 90 surviving originals + 5 replacements; rows 10..99 NOT lost
    assert(got === ((0L until 5L) ++ (10L until 100L)).toArray)
    // files without any matching row are untouched (not rewritten)
    val dir2 = tmpDir()
    Graft.write(spark.range(50).toDF("id").repartition(1), dir2)
    Graft.write(spark.range(100, 150).toDF("id").repartition(1), dir2)
    val before = GraftLog.forTable(spark, dir2).update().allFiles.map(_.path).toSet
    Graft.write(spark.range(7).toDF("id"), dir2,
      mode = "overwrite", replaceWhere = Some("id < 10"))
    val after = GraftLog.forTable(spark, dir2).update().allFiles.map(_.path).toSet
    assert(after.intersect(before).size === 1, "untouched file must survive")
    assert(Graft.read(spark, dir2).count() === 100 - 10 + 7)
  }

  test("UPDATE that changes a partition column moves rows across partitions") {
    val dir = tmpDir()
    val df = spark.range(100).toDF("id")
      .withColumn("p", (col("id") % 2).cast("string"))
    Graft.write(df, dir, partitionBy = Seq("p"))
    GraftTable.forPath(spark, dir).update(col("id") < 10, Map("p" -> lit("9")))
    val got = Graft.read(spark, dir)
    assert(got.count() === 100)
    assert(got.where(col("p") === "9").count() === 10)
    assert(got.where(col("p") === "0").count() === 45)
    // moved rows are physically in the new partition: pruning on p=9
    // alone must find them
    val pruned = Graft.read(spark, dir).where(col("p") === "9")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(pruned === (0L until 10L).toArray)
  }

  test("merge upsert") {
    val dir = tmpDir()
    val target = spark.range(10).select(col("id"), lit("old").as("v"))
    Graft.write(target, dir)
    val source = spark.range(5, 15).select(col("id"), lit("new").as("v"))
    val t = GraftTable.forPath(spark, dir)
    t.merge(source, expr("t.id = s.id"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    val got = Graft.read(spark, dir)
    assert(got.count() === 15)
    assert(got.filter(col("v") === "new").count() === 10)
    assert(got.filter(col("v") === "old").count() === 5)
  }

  test("merge with delete clause and conditions") {
    val dir = tmpDir()
    Graft.write(spark.range(10).select(col("id"), lit(1).as("x")), dir)
    val src = spark.range(10).select(col("id"), (col("id") % 2).cast("int").as("x"))
    val t = GraftTable.forPath(spark, dir)
    t.merge(src, expr("t.id = s.id"))
      .whenMatched(expr("s.x = 0")).delete()
      .whenMatched().update(Map("x" -> lit(7)))
      .execute()
    val got = Graft.read(spark, dir)
    assert(got.count() === 5)       // even ids deleted
    assert(got.filter(col("x") === 7).count() === 5)
  }

  test("insert-only merge fast path") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir)
    val t = GraftTable.forPath(spark, dir)
    val before = t.version
    t.merge(spark.range(5, 20).toDF("id"), expr("t.id = s.id"))
      .whenNotMatched().insertAll()
      .execute()
    assert(Graft.read(spark, dir).count() === 20)
    // fast path must not remove files
    val commit = t.log.readCommit(before + 1)
    assert(!commit.exists(_.isInstanceOf[graft.log.RemoveFile]))
  }

  test("time travel and restore") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir)          // v0
    GraftTable.forPath(spark, dir).delete(col("id") < 5)  // v1
    val t = GraftTable.forPath(spark, dir)
    assert(t.toDF.count() === 5)
    assert(t.asOfVersion(0).count() === 10)
    t.restoreToVersion(0)                                  // v2
    assert(Graft.read(spark, dir).count() === 10)
    assert(t.asOfVersion(1).count() === 5)
  }

  test("optimize compacts small files") {
    val dir = tmpDir()
    (0 until 6).foreach(_ => Graft.write(spark.range(100).toDF("id"), dir))
    val t = GraftTable.forPath(spark, dir)
    val before = t.snapshot.numFiles
    t.optimize().executeCompaction()
    val after = GraftTable.forPath(spark, dir).snapshot.numFiles
    assert(after < before)
    assert(Graft.read(spark, dir).count() === 600)
    // dataChange=false on optimize adds
    val commit = t.log.readCommit(t.version)
    assert(commit.collect { case a: graft.log.AddFile => a }.forall(!_.dataChange))
  }

  test("zorder rewrite keeps data") {
    val dir = tmpDir()
    Graft.write(lineitem, dir)
    val t = GraftTable.forPath(spark, dir)
    t.optimize().executeZOrderBy("l_orderkey", "l_partkey")
    assert(Graft.read(spark, dir).count() === lineitem.count())
  }

  test("zorder with an empty sample still splits into the target file count") {
    // Stats that overstate numRecords shrink the sample fraction until no
    // row is drawn; with no zkey cuts the rewrite must still spread the
    // rows over its target file count instead of one giant file.
    val dir = tmpDir()
    val maxSize = 16384L
    Graft.write(lineitem.limit(0), dir,
      configuration = Map("graft.optimize.maxFileSize" -> maxSize.toString))
    val txn = GraftLog.forTable(spark, dir).startTransaction()
    val adds = txn.writeFiles(lineitem.repartition(2), dataChange = true)
    assert(adds.forall(a => graft.stats.StatsSpace.numRecords(a.stats).isDefined))
    txn.commit(adds.map(a => a.copy(stats = a.stats.replaceFirst(
      "\"numRecords\":\\d+", "\"numRecords\":1000000000000"))), "WRITE")
    val targetFiles = (GraftTable.forPath(spark, dir).snapshot.allFiles
      .map(_.size).sum / maxSize).toInt
    assert(targetFiles > 4)
    GraftTable.forPath(spark, dir).optimize().executeZOrderBy("l_orderkey", "l_partkey")
    val files = GraftTable.forPath(spark, dir).snapshot.allFiles.filter(f =>
      graft.stats.StatsSpace.numRecords(f.stats).exists(_ > 0))
    assert(files.size > targetFiles / 2,
      s"expected about $targetFiles files, got ${files.size}")
    assert(files.map(f => graft.stats.StatsSpace.numRecords(f.stats).get).sum
      === lineitem.count())
    assert(Graft.read(spark, dir).exceptAll(lineitem).isEmpty)
    // The rows are z-ordered, not split in input order: each output file
    // covers a slice of the l_orderkey range, not the whole of it.
    import org.apache.spark.sql.functions.{input_file_name, max, min}
    val Array(lo, hi) = lineitem.agg(min("l_orderkey"), max("l_orderkey")).head()
      .toSeq.map(_.asInstanceOf[Number].longValue).toArray
    val widths = Graft.read(spark, dir).groupBy(input_file_name())
      .agg(min("l_orderkey"), max("l_orderkey")).collect()
      .map(r => r.getAs[Number](2).longValue - r.getAs[Number](1).longValue)
    assert(widths.length === files.size)
    assert(widths.forall(_ < hi - lo), s"a file spans the whole key range: ${widths.toSeq}")
    assert(widths.sum < files.size * (hi - lo) * 3 / 4,
      s"files are not clustered on l_orderkey: ${widths.toSeq} of ${hi - lo}")
  }

  test("partitionRouting inverts repartition placement exactly") {
    import org.apache.spark.sql.functions.spark_partition_id
    Seq(1, 2, 7, 37, 256).foreach { n =>
      val route = graft.commands.OptimizeCommand.partitionRouting(n)
      spark.range(n).select(col("id").cast("int").as("b"))
        .withColumn("r", element_at(lit(route), col("b") + 1))
        .repartition(n, col("r"))
        .select(col("b"), spark_partition_id().as("p"))
        .collect()
        .foreach(r => assert(r.getInt(1) === r.getInt(0),
          s"n=$n: bucket ${r.getInt(0)} landed in partition ${r.getInt(1)}"))
    }
  }

  test("zorder multi-file rewrite keeps data and stats-skips point queries") {
    val dir = tmpDir()
    // tiny maxFileSize so the rewrite targets many output files — the
    // sampled zkey boundaries + exact bucket routing must produce files
    // whose min/max stats prune a corner point query
    Graft.write(lineitem, dir,
      configuration = Map("graft.optimize.maxFileSize" -> "16384"))
    val t = GraftTable.forPath(spark, dir)
    t.optimize().executeZOrderBy("l_orderkey", "l_partkey")
    val t2 = GraftTable.forPath(spark, dir)
    val files = t2.snapshot.allFiles
    assert(files.size > 3, s"expected a multi-file rewrite, got ${files.size}")
    assert(Graft.read(spark, dir).count() === lineitem.count())
    val maxKey = lineitem.agg(max("l_orderkey")).head.getLong(0)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.LongType
    val pred = EqualTo(AttributeReference("l_orderkey", LongType)(), Literal(maxKey))
    val kept = graft.stats.StatsSkipping.filterFiles(spark, files,
      t2.snapshot.metadata.dataSchema, Seq(pred))
    assert(kept.size < files.size,
      s"zorder layout should skip files for a point query " +
        s"(kept ${kept.size} of ${files.size})")
    assert(Graft.read(spark, dir).filter(col("l_orderkey") === maxKey).count()
      === lineitem.filter(col("l_orderkey") === maxKey).count())
  }

  test("vacuum removes orphans after delete, keeps live data") {
    val dir = tmpDir()
    Graft.write(lineitem, dir)
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("l_quantity") < 30)   // rewrites files
    // Safety guard: sub-retention vacuum is refused unless overridden.
    intercept[IllegalArgumentException] { t.vacuum(retentionHours = 0.0) }
    spark.conf.set(graft.commands.VacuumCommand.retentionCheckConf, "false")
    try {
      val removed = t.vacuum(retentionHours = 0.0, dryRun = true).count()
      assert(removed > 0)
      t.vacuum(retentionHours = 0.0)
    } finally spark.conf.set(graft.commands.VacuumCommand.retentionCheckConf, "true")
    val expected = lineitem.filter(!(col("l_quantity") < 30)).count()
    assert(Graft.read(spark, dir).count() === expected)
  }

  test("timestamp data skipping is correct under a non-UTC session timezone") {
    val dir = tmpDir()
    val base = 1609459200L // 2021-01-01T00:00:00Z
    val df = spark.range(5).select(
      col("id"), timestamp_seconds(lit(base) + col("id") * 3600).as("ts"))
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      Graft.write(df, dir)
      val target = java.time.Instant.ofEpochSecond(base + 2 * 3600)
      // A zone-less stats string parsed in LA time shifts bounds by +8h and
      // wrongly skips the (only) file for this equality predicate.
      val got = Graft.read(spark, dir).filter(col("ts") === lit(target)).count()
      assert(got === 1)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("dynamic partition overwrite conflicts with a concurrent append") {
    val dir = tmpDir()
    val mk = (p: Int, n: Int) => spark.range(n)
      .select(col("id"), lit(p).as("p"))
    Graft.write(mk(1, 5).unionAll(mk(2, 5)), dir, partitionBy = Seq("p"))
    val log = GraftLog.forTable(spark, dir)
    val txn = log.startTransaction()   // pins the pre-append snapshot
    Graft.write(mk(1, 3), dir)         // concurrent append into p=1
    intercept[graft.tx.ConcurrentAppendException] {
      graft.commands.WriteIntoGraft.run(spark, dir, mk(1, 2), txn,
        mode = "overwrite", dynamicPartitionOverwrite = true)
    }
    // The concurrent append must have survived.
    assert(Graft.read(spark, dir).filter(col("p") === 1).count() === 8)
  }

  test("deletion vectors: delete writes bitmaps, not data files") {
    val dir = tmpDir()
    Graft.write(lineitem, dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    val dataFilesBefore = t.snapshot.allFiles.map(_.path).toSet
    t.delete(col("l_quantity") < 30)
    val snap1 = t.snapshot
    // no new data files: every live path existed before, now carrying a DV
    assert(snap1.allFiles.map(_.path).toSet.subsetOf(dataFilesBefore))
    assert(snap1.allFiles.exists(_.dvPath.isDefined))
    val expected1 = lineitem.filter(!(col("l_quantity") < 30)).count()
    assert(Graft.read(spark, dir).count() === expected1)
    // second delete merges into existing DVs
    t.delete(col("l_quantity") > 40)
    val expected2 = lineitem
      .filter(!(col("l_quantity") < 30) && !(col("l_quantity") > 40)).count()
    assert(Graft.read(spark, dir).count() === expected2)
    assert(t.snapshot.allFiles.map(_.path).toSet.subsetOf(dataFilesBefore))
    // update on a DV'd table: DVs mark the old rows, a new file carries
    // ONLY the updated rows — originals are never rewritten
    t.update(col("l_quantity") === 35, Map("l_tax" -> lit(0.5)))
    assert(Graft.read(spark, dir).count() === expected2)
    val afterUpdate = GraftTable.forPath(spark, dir).snapshot.allFiles
    val newFiles = afterUpdate.filterNot(f => dataFilesBefore.contains(f.path))
    assert(newFiles.nonEmpty && newFiles.forall(_.dvPath.isEmpty))
    assert(Graft.read(spark, dir)
      .filter(col("l_quantity") === 35 && col("l_tax") =!= 0.5).count() === 0)
    // vacuum keeps referenced DV sidecars (deleting only superseded ones)
    spark.conf.set(graft.commands.VacuumCommand.retentionCheckConf, "false")
    try GraftTable.forPath(spark, dir).vacuum(retentionHours = 0.0)
    finally spark.conf.set(graft.commands.VacuumCommand.retentionCheckConf, "true")
    assert(Graft.read(spark, dir).count() === expected2)
    // time travel still sees the pre-delete state
    assert(t.asOfVersion(0).count() === lineitem.count())
  }

  test("MERGE on a DV-enabled table marks rows instead of rewriting files") {
    val dir = tmpDir()
    Graft.write(spark.range(100).select(col("id").as("k"), lit(0L).as("v")), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    val before = t.snapshot.allFiles.map(_.path).toSet
    val src = spark.range(90, 120).select(col("id").as("k"), lit(1L).as("v"))
    t.merge(src, expr("t.k = s.k"))
      .whenMatched(expr("s.k < 95")).delete()
      .whenMatched().updateExpr(Map("v" -> "s.v"))
      .whenNotMatched().insertAll()
      .execute()
    val snap = GraftTable.forPath(spark, dir).snapshot
    // originals still live (now DV'd), plus new files for changed rows only
    assert(before.subsetOf(snap.allFiles.map(_.path).toSet))
    assert(snap.allFiles.exists(_.dvPath.isDefined))
    val out = Graft.read(spark, dir)
    // 100 - 5 deleted (90..94) + 20 inserted (100..119) = 115
    assert(out.count() === 115)
    assert(out.filter(col("k") >= 95 && col("k") < 100 && col("v") =!= 1L).count() === 0)
    assert(out.filter(col("k") < 90 && col("v") =!= 0L).count() === 0)
    assert(out.filter(col("k").between(90, 94)).count() === 0)
  }

  test("checkpoint + cold snapshot load") {
    val dir = tmpDir()
    (0 until 12).foreach(i => Graft.write(spark.range(10).toDF("id"), dir))
    // interval 10 → checkpoint at v10 exists
    val log = GraftLog.forTable(spark, dir)
    assert(log.store.list(log.logPath)
      .exists(_.getPath.getName.contains("checkpoint")))
    GraftLog.clearCache()  // force cold build from checkpoint
    val cold = GraftLog.forTable(spark, dir).update()
    assert(cold.version === 11)
    assert(Graft.read(spark, dir).count() === 120)
  }

  test("schema evolution with mergeSchema") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    val extra = spark.range(5).select(col("id"), lit("x").as("tag"))
    intercept[IllegalArgumentException] { Graft.write(extra, dir) }
    Graft.write(extra, dir, mergeSchema = true)
    val got = Graft.read(spark, dir)
    assert(got.columns.toSet === Set("id", "tag"))
    assert(got.count() === 10)
    assert(got.filter(col("tag").isNull).count() === 5)
  }

  test("8 racing appender threads all land through commit retry") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = tmpDir()
    Graft.write(spark.range(0).toDF("id"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = (0 until 8).map { i =>
      Future {
        // real races on the put-if-absent log write: each thread's commit
        // may lose the version race repeatedly and must retry-rebase.
        // 16 total commits keeps the worst-case loss count (15) inside
        // the transaction's fixed retry budget (20).
        (0 until 2).foreach { j =>
          Graft.write(spark.range(i * 100 + j * 10, i * 100 + j * 10 + 10)
            .toDF("id"), dir)
        }
      }
    }
    try Await.result(Future.sequence(futures), Duration.Inf)
    finally pool.shutdown()
    val got = Graft.read(spark, dir)
    assert(got.count() === 160)
    assert(got.distinct().count() === 160)      // nothing lost or doubled
    val log = GraftLog.forTable(spark, dir)
    assert(log.update().version === 16)         // v0 create + 16 appends
  }

  test("predicate-level conflicts: disjoint-range append retries, overlap aborts") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, Literal}
    import org.apache.spark.sql.types.LongType
    val dir = tmpDir()
    Graft.write(spark.range(100).toDF("id").repartition(1), dir)
    val log = GraftLog.forTable(spark, dir)
    val id = AttributeReference("id", LongType)()

    // Victim reads id < 100; winner appends ids 1000-1999, whose stats
    // provably miss the read predicate — no logical conflict, the victim
    // lands on retry (partition-granular checking would have aborted).
    val txn = log.startTransaction()
    txn.filterFiles(dataFilters = Seq(LessThan(id, Literal(100L))))
    Graft.write(spark.range(1000, 2000).toDF("id").repartition(1), dir)
    val adds = txn.writeFiles(spark.range(100, 200).toDF("id"))
    txn.commit(adds, "WRITE")
    assert(Graft.read(spark, dir).count() === 1200)

    // Same shape but the winner's range overlaps the read predicate.
    val txn2 = log.startTransaction()
    txn2.filterFiles(dataFilters = Seq(LessThan(id, Literal(100L))))
    Graft.write(spark.range(50, 60).toDF("id").repartition(1), dir)
    val adds2 = txn2.writeFiles(spark.range(200, 300).toDF("id"))
    intercept[graft.tx.ConcurrentAppendException] { txn2.commit(adds2, "WRITE") }
  }

  test("dataChange=false rearrangement lands over a concurrent append") {
    // OPTIMIZE-shaped commit: reads the whole table, rewrites its rows
    // into new files with dataChange=false. A concurrent append must NOT
    // abort it (effective SnapshotIsolation for no-data-change commits);
    // both the compacted rows and the appended rows survive.
    val dir = tmpDir()
    Graft.write(spark.range(100).toDF("id"), dir)
    Graft.write(spark.range(100, 200).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    val txn = log.startTransaction()
    val files = txn.filterFiles() // whole-table read, like bin-packing
    Graft.write(spark.range(200, 300).toDF("id"), dir) // winner lands first
    val adds = txn.writeFiles(spark.range(200).toDF("id"), dataChange = false)
    val removes = files.map(f => graft.log.RemoveFile(
      f.path, Some(System.currentTimeMillis()), dataChange = false,
      partitionValues = f.partitionValues, size = Some(f.size)))
    txn.commit(adds ++ removes, "OPTIMIZE")
    val got = Graft.read(spark, dir)
    assert(got.count() === 300)
    assert(got.distinct().count() === 300)
  }

  test("concurrent append conflict detection") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    val txn1 = log.startTransaction()
    txn1.filterFiles()  // reads whole table
    // a competing writer commits first
    Graft.write(spark.range(10).toDF("id"), dir)
    val adds = txn1.writeFiles(spark.range(5).toDF("id"))
    intercept[graft.tx.ConcurrentAppendException] {
      txn1.commit(adds, "WRITE")
    }
    // blind append (no reads) succeeds via retry
    val txn2 = log.startTransaction()
    val adds2 = txn2.writeFiles(spark.range(5).toDF("id"))
    Graft.write(spark.range(10).toDF("id"), dir)
    txn2.commit(adds2, "WRITE")
    assert(Graft.read(spark, dir).count() === 35)
  }

  test("change data feed: delete + update + merge") {
    val dir = tmpDir()
    Graft.write(spark.range(10).select(col("id"), lit(0).as("v")), dir,
      configuration = Map("graft.enableChangeDataFeed" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("id") >= 8)                              // v1
    t.update(col("id") === 0, Map("v" -> lit(5)))         // v2
    val ch = t.changes(1, 2)
    val byType = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("delete") === 2)
    assert(byType("update_preimage") === 1)
    assert(byType("update_postimage") === 1)
    // insert CDF from the initial append
    val ch0 = t.changes(0, 0)
    assert(ch0.filter(col("_change_type") === "insert").count() === 10)
  }

  test("convert existing parquet dir") {
    val dir = tmpDir()
    lineitem.write.mode("overwrite").parquet(dir)
    val t = Graft.convertFromParquet(spark, dir)
    assert(t.toDF.count() === lineitem.count())
  }

  test("REORG purge materializes deletion vectors, table streams again") {
    val dir = tmpDir()
    Graft.write(lineitem, dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("l_quantity") < 30)
    assert(t.snapshot.allFiles.exists(_.dvPath.isDefined))
    val expected = lineitem.filter(!(col("l_quantity") < 30)).count()
    t.reorgPurge()
    val after = GraftTable.forPath(spark, dir).snapshot
    assert(after.allFiles.forall(_.dvPath.isEmpty))
    assert(Graft.read(spark, dir).count() === expected)
    // dataChange=false: a purge is invisible to change-based semantics
    val commit = t.log.readCommit(after.version)
    assert(commit.collect { case a: graft.log.AddFile => a }.forall(!_.dataChange))
  }

  test("log cleanup removes pre-checkpoint deltas; cold load survives") {
    val dir = tmpDir()
    (0 until 12).foreach(_ => Graft.write(spark.range(5).toDF("id"), dir))
    val log = GraftLog.forTable(spark, dir)
    val removed = log.cleanUpExpiredLogs(retentionMillis = 0L)
    assert(removed > 0)
    GraftLog.clearCache()
    val cold = GraftLog.forTable(spark, dir).update()
    assert(cold.version === 11)
    assert(Graft.read(spark, dir).count() === 60)
  }

  test("expired log cleanup rides the checkpoint cadence automatically") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir, configuration = Map(
      "graft.checkpointInterval" -> "2",
      "graft.logRetentionHours" -> "0"))
    (1 to 4).foreach(i => Graft.write(spark.range(5).toDF("id"), dir))
    // checkpoints fired at v2 and v4; the v4 hook's cleanup (retention 0)
    // expired every commit file below v4 without any explicit call
    val logDir = new java.io.File(dir, "_graft_log")
    val jsons = logDir.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.json")).sorted
    assert(jsons.head === f"${4L}%020d.json",
      s"pre-checkpoint commits survived the automatic cleanup: ${jsons.toSeq}")
    GraftLog.clearCache()
    assert(Graft.read(spark, dir).count() === 25)
    // default retention (30 days) keeps everything: fresh table unaffected
    val dir2 = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir2,
      configuration = Map("graft.checkpointInterval" -> "2"))
    (1 to 4).foreach(_ => Graft.write(spark.range(5).toDF("id"), dir2))
    val jsons2 = new java.io.File(dir2, "_graft_log").listFiles()
      .map(_.getName).count(_.matches("\\d{20}\\.json"))
    assert(jsons2 === 5, "default 30-day retention expired fresh commits")
  }

  test("optimized write bin-packs: hot partition splits, trickle partitions stay single-file") {
    val dir = tmpDir()
    // tiny bin so the hot partition spans several bins at test scale
    spark.conf.set(graft.files.TransactionalWrite.BIN_SIZE_CONF,
      (256 * 1024).toString)
    try {
      val df = spark.range(300000)
        .select(lit(0).as("p"), col("id"), rand(7).as("v"))
        .unionAll(spark.range(90)
          .select((col("id") % 9 + 1).cast("int").as("p"), col("id"),
            rand(8).as("v")))
      Graft.write(df, dir, partitionBy = Seq("p"))
      val byPart = GraftLog.forTable(spark, dir).update().allFiles
        .groupBy(_.partitionValues("p")).view.mapValues(_.size).toMap
      assert(byPart("0") > 1,
        s"hot partition wrote one giant file instead of size-targeted bins: $byPart")
      (1 to 9).foreach(i => assert(byPart(i.toString) === 1,
        s"trickle partition $i fragmented into ${byPart(i.toString)} files"))
    } finally spark.conf.unset(graft.files.TransactionalWrite.BIN_SIZE_CONF)
  }

  test("write-time conf overrides are plan-scoped: caller session never mutates") {
    val dir = tmpDir()
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = (spark.conf.getOption(tsKey), spark.conf.getOption(advisoryKey))
    // slow the write so the concurrent sampler observes it IN FLIGHT
    val slow = org.apache.spark.sql.functions.udf { (x: Long) =>
      Thread.sleep(2); x
    }
    val df = spark.range(2000)
      .select((col("id") % 4).as("p"), slow(col("id")).as("id"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var leaked: Option[(Option[String], Option[String])] = None
    @volatile var writing = true
    val sampler = Future {
      while (writing) {
        val now = (spark.conf.getOption(tsKey), spark.conf.getOption(advisoryKey))
        if (now != before && leaked.isEmpty) leaked = Some(now)
        Thread.sleep(5)
      }
    }
    try Graft.write(df, dir, partitionBy = Seq("p"))
    finally { writing = false; Await.ready(sampler, 30.seconds) }
    assert(leaked.isEmpty,
      s"an in-flight write leaked conf overrides to the shared session: $leaked")
    // and the write itself still carried the annotated-timestamp contract
    assert(Graft.read(spark, dir).count() === 2000)
    assert((spark.conf.getOption(tsKey), spark.conf.getOption(advisoryKey)) === before)
  }

  test("log cleanup deletes superseded checkpoint DIRECTORIES recursively") {
    // Both checkpoint layouts are superseded and removed: the v10 FILE a
    // driver-held snapshot writes, and the v11 DIRECTORY of part files
    // written from a checkpoint-backed snapshot, which must delete
    // recursively, not throw.
    val dir = tmpDir()
    def cp(v: Long) = new java.io.File(s"$dir/_graft_log", f"$v%020d.checkpoint.parquet")
    (0 until 12).foreach(_ => Graft.write(spark.range(3).toDF("id"), dir))
    assert(cp(10L).isFile, s"expected a checkpoint file at ${cp(10L)}")
    GraftLog.clearCache()
    spark.conf.set(graft.log.Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "0")
    try {
      val backed = GraftLog.forTable(spark, dir).update()
      assert(backed.checkpointBacked && backed.version === 11L)
      GraftLog.forTable(spark, dir).checkpoint(backed)
    } finally spark.conf.unset(graft.log.Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
    assert(cp(11L).isDirectory, s"expected a checkpoint dir at ${cp(11L)}")
    GraftLog.clearCache()
    (12 until 22).foreach(_ => Graft.write(spark.range(3).toDF("id"), dir))
    assert(cp(20L).isFile)
    val removed = GraftLog.forTable(spark, dir).cleanUpExpiredLogs(retentionMillis = 0L)
    assert(removed > 0)
    assert(!cp(10L).exists, "superseded checkpoint file survived cleanup")
    assert(!cp(11L).exists, "superseded checkpoint directory survived cleanup")
    GraftLog.clearCache()
    assert(Graft.read(spark, dir).count() === 66)
  }

  test("a checkpoint directory left by a crashed writer is loaded past") {
    // A distributed writer that dies before its job commits leaves the
    // checkpoint name holding only `_temporary/`. Loads and log cleanup
    // both pass over it for the checkpoint below.
    import graft.log.FileNames
    val dir = tmpDir()
    (0 until 12).foreach(i =>
      Graft.write(spark.range(i * 10L, i * 10L + 10).toDF("id"), dir))
    val log = GraftLog.forTable(spark, dir)
    val crashed = FileNames.checkpointFile(log.logPath, 11L)
    assert(!log.store.exists(crashed))
    log.store.mkdirs(new org.apache.hadoop.fs.Path(crashed, "_temporary/0"))
    GraftLog.clearCache()
    assert(Graft.read(spark, dir).count() === 120)
    Graft.write(spark.range(120, 130).toDF("id"), dir)
    // the boundary is the v10 checkpoint: commit 10 and the v10
    // checkpoint stay, or the next cold load would have nothing to fold
    GraftLog.forTable(spark, dir).cleanUpExpiredLogs(retentionMillis = 0L)
    assert(!log.store.exists(FileNames.deltaFile(log.logPath, 9L)))
    assert(log.store.exists(FileNames.deltaFile(log.logPath, 10L)))
    GraftLog.clearCache()
    assert(Graft.read(spark, dir).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq === (0L until 130L))
  }

  test("show partitions and truncate") {
    val dir = tmpDir()
    Graft.write(spark.range(10).selectExpr("id", "id % 3 AS p"), dir,
      partitionBy = Seq("p"))
    val t = GraftTable.forPath(spark, dir)
    val parts = t.showPartitions().collect()
      .map(_.getMap[String, String](0)("p")).sorted
    assert(parts.toSeq === Seq("0", "1", "2"))
    t.truncate()
    assert(Graft.read(spark, dir).count() === 0)
    assert(t.version === 1)   // truncate is a commit, data recoverable
    assert(t.asOfVersion(0).count() === 10)
  }

  test("WriteSerializable lets an append land over a concurrent append") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir,
      configuration = Map("graft.isolationLevel" -> "WriteSerializable"))
    val log = GraftLog.forTable(spark, dir)
    val txn = log.startTransaction()
    txn.filterFiles()   // reads the whole table
    Graft.write(spark.range(10, 20).toDF("id"), dir)   // concurrent append
    val adds = txn.writeFiles(spark.range(20, 25).toDF("id"))
    txn.commit(adds, "WRITE")   // would throw under Serializable
    assert(Graft.read(spark, dir).count() === 25)
  }

  test("every conflict class fires deterministically (no sleeps, no races)") {
    // The interleaving is pinned by construction: the victim transaction
    // stages its intent, the winner commits from the test thread, and the
    // victim's first write attempt collides and runs the conflict check —
    // each Concurrent*Exception class provoked exactly, run after run.
    import graft.tx._

    // 1. ProtocolChangedException: winner upgrades the protocol.
    locally {
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir)
      val log = GraftLog.forTable(spark, dir)
      val txn = log.startTransaction()
      val adds = txn.writeFiles(spark.range(5).toDF("id"))
      GraftTable.forPath(spark, dir).upgradeTableProtocol(2, 2)
      intercept[ProtocolChangedException] { txn.commit(adds, "WRITE") }
    }

    // 2. MetadataChangedException: winner rewrites table metadata.
    locally {
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir)
      val log = GraftLog.forTable(spark, dir)
      val txn = log.startTransaction()
      val adds = txn.writeFiles(spark.range(5).toDF("id"))
      GraftTable.forPath(spark, dir).upsertProperties(Map("k" -> "v"))
      intercept[MetadataChangedException] { txn.commit(adds, "WRITE") }
    }

    // 3. ConcurrentAppendException: winner's added files overlap the
    //    victim's read set under Serializable.
    locally {
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir)
      val log = GraftLog.forTable(spark, dir)
      val txn = log.startTransaction()
      txn.filterFiles()
      Graft.write(spark.range(3).toDF("id"), dir)
      val adds = txn.writeFiles(spark.range(5).toDF("id"))
      intercept[ConcurrentAppendException] { txn.commit(adds, "WRITE") }
    }

    // 4. ConcurrentDeleteReadException: winner removes a file the victim
    //    read.
    locally {
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir)
      val log = GraftLog.forTable(spark, dir)
      val txn = log.startTransaction()
      txn.filterFiles()
      // whole-table delete: removes only, no rewrite adds (a partial
      // delete would trip the append-over-reads check first)
      GraftTable.forPath(spark, dir).delete()
      val adds = txn.writeFiles(spark.range(5).toDF("id"))
      intercept[ConcurrentDeleteReadException] { txn.commit(adds, "WRITE") }
    }

    // 5. ConcurrentDeleteDeleteException: both remove the same file.
    locally {
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir)
      val log = GraftLog.forTable(spark, dir)
      val txn = log.startTransaction()
      // take the file list WITHOUT recording reads, so the delete-read
      // check (which runs first) stays quiet and delete-delete fires
      val doomed = txn.snapshot.allFiles
      GraftTable.forPath(spark, dir).delete()   // removes every file
      val now = System.currentTimeMillis()
      intercept[ConcurrentDeleteDeleteException] {
        txn.commit(doomed.map(_.remove(now)), "DELETE")
      }
    }

    // 6. ConcurrentTransactionException: same idempotent appId committed
    //    by both (covered standalone below, pinned here for completeness).
    locally {
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir)
      val log = GraftLog.forTable(spark, dir)
      val txn = log.startTransaction()
      val adds = txn.writeFiles(spark.range(5).toDF("id"))
      Graft.write(spark.range(3).toDF("id"), dir,
        txnAppId = Some("race-app"), txnVersion = Some(1L))
      intercept[ConcurrentTransactionException] {
        txn.commit(adds :+ graft.log.SetTransaction("race-app", 1L), "WRITE")
      }
    }
  }

  test("concurrent idempotent transactions with the same appId conflict") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    val txn = log.startTransaction()
    val adds = txn.writeFiles(spark.range(5).toDF("id"))
    // competing writer lands the same appId's batch first
    Graft.write(spark.range(5).toDF("id"), dir,
      txnAppId = Some("streamA"), txnVersion = Some(7L))
    intercept[graft.tx.ConcurrentTransactionException] {
      txn.commit(adds :+ graft.log.SetTransaction("streamA", 7L, None), "WRITE")
    }
  }

  test("commit checksum detects a corrupted log on cold load") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir)
    Graft.write(spark.range(10).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    // sanity: checksum sidecars exist and cold load validates clean
    assert(log.store.exists(graft.log.FileNames.checksumFile(log.logPath, 1L)))
    GraftLog.clearCache()
    assert(GraftLog.forTable(spark, dir).update().version === 1)
    // corrupt: claim a different file count for v1
    val crc = graft.log.FileNames.checksumFile(log.logPath, 1L)
    log.store.writeOverwrite(crc, """{"tableSizeBytes":1,"numFiles":999}""")
    GraftLog.clearCache()
    val e = intercept[IllegalStateException] {
      GraftLog.forTable(spark, dir).update()
    }
    assert(e.getMessage.contains("Checksum mismatch"))
  }

  test("time travel by timestamp uses in-commit timestamps, not mtimes") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)          // v0
    Thread.sleep(1100)
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    GraftTable.forPath(spark, dir).delete(col("id") < 3) // v1
    val log = GraftLog.forTable(spark, dir)
    // vandalize the commit files' mtimes (as a backup/restore would)
    val fs = log.store.fs(log.logPath)
    log.store.list(log.logPath).foreach(s =>
      fs.setTimes(s.getPath, 1000L, -1))
    assert(log.getVersionAtTime(between) === 0L)
    assert(GraftTable.forPath(spark, dir)
      .asOfTimestamp(new java.sql.Timestamp(between).toString).count() === 5)
  }

  test("protocol gates: DV/mapping bump reader version; unknown versions refuse") {
    // declaring DVs at creation births the table on feature vectors
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val log = GraftLog.forTable(spark, dir)
    assert(log.snapshot.protocol.minReaderVersion === 3)
    assert(log.snapshot.protocol.readerFeatureNames === Set("deletionVectors"))
    // a plain table stays at the base protocol until a feature lands
    val dirPlain = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dirPlain)
    assert(GraftLog.forTable(spark, dirPlain).snapshot.protocol ===
      graft.log.Protocol(1, 1))
    // a table demanding a future reader version refuses loudly
    val dir2 = tmpDir()
    Graft.write(spark.range(3).toDF("id"), dir2)
    val log2 = GraftLog.forTable(spark, dir2)
    log2.store.write(graft.log.FileNames.deltaFile(log2.logPath, 1L),
      graft.log.Actions.serialize(Seq(graft.log.Protocol(99, 99))))
    GraftLog.clearCache()
    val e = intercept[IllegalStateException] {
      GraftLog.forTable(spark, dir2).update()
    }
    assert(e.getMessage.contains("reader version 99"))
  }

  test("SnapshotIsolation permits append over a concurrently-deleted read set") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir,
      configuration = Map("graft.isolationLevel" -> "SnapshotIsolation"))
    val log = GraftLog.forTable(spark, dir)
    val txn = log.startTransaction()
    txn.filterFiles()   // reads the whole table
    GraftTable.forPath(spark, dir).delete(col("id") < 5)   // concurrent delete
    val adds = txn.writeFiles(spark.range(100, 103).toDF("id"))
    txn.commit(adds, "WRITE")   // would throw ConcurrentDeleteRead otherwise
    assert(Graft.read(spark, dir).count() === 8)
  }

  test("DROP FEATURE retires DVs and downgrades the protocol") {
    import graft.log.TableFeatures
    val dir = tmpDir()
    Graft.write(spark.range(20).toDF("id"), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("id") < 5)
    // DV tables live on table-feature vectors: explicit per-feature
    // negotiation, not bare numeric versions
    val p0 = t.log.update().protocol
    assert(p0.minReaderVersion === 3 && p0.minWriterVersion === 7)
    assert(p0.readerFeatureNames.contains("deletionVectors"))
    assert(p0.writerFeatureNames.contains("deletionVectors"))
    // a reader that knows nothing about DVs must be locked out...
    assert(!TableFeatures.readable(p0, 3, Set.empty))
    assert(!TableFeatures.readable(p0, 1, Set.empty))
    // refused while DVs are live
    intercept[IllegalArgumentException] { t.dropFeature("deletionVectors") }
    t.reorgPurge()
    t.dropFeature("deletionVectors")
    val snap = t.log.update()
    assert(snap.protocol.minReaderVersion === 1)
    assert(snap.protocol.readerFeatures.isEmpty)
    assert(!snap.metadata.configuration.contains("graft.enableDeletionVectors"))
    // ...and after the downgrade a bare version-1 reader is welcome again
    assert(TableFeatures.readable(snap.protocol, 1, Set.empty))
    // subsequent deletes rewrite instead of writing DVs
    GraftTable.forPath(spark, dir).delete(col("id") === 5)
    assert(t.log.update().allFiles.forall(_.dvPath.isEmpty))
    assert(Graft.read(spark, dir).count() === 14)
  }

  test("unknown reader feature in the log blocks the read loudly") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    log.store.write(graft.log.FileNames.deltaFile(log.logPath, 1L),
      graft.log.Actions.serialize(Seq(graft.log.Protocol(3, 7,
        readerFeatures = Some(Seq("quantumCompression")),
        writerFeatures = Some(Seq("quantumCompression"))))))
    GraftLog.clearCache()
    val e = intercept[IllegalStateException] { Graft.read(spark, dir).count() }
    assert(e.getMessage.contains("quantumCompression"))
  }

  test("v2 checkpoints: sidecar manifest round-trips and cold-loads") {
    val dir = tmpDir()
    (1 to 4).foreach { i =>
      Graft.write(spark.range(i * 10, i * 10 + 10).toDF("id"), dir,
        configuration = if (i == 1) Map(
          "graft.checkpointPolicy" -> "v2",
          "graft.checkpointInterval" -> "2") else Map.empty)
    }
    val log = GraftLog.forTable(spark, dir)
    val cpV = log.update().version - (log.update().version % 2)
    // the manifest holds pointers, not file actions
    import spark.implicits._
    val manifest = spark.read.parquet(
      graft.log.FileNames.checkpointFile(log.logPath, cpV).toString)
    assert(manifest.where($"checkpointMetadata".isNotNull).count() === 1)
    val nSidecars = manifest.where($"sidecar".isNotNull).count()
    assert(nSidecars >= 1)
    assert(manifest.where($"add".isNotNull).count() === 0,
      "v2 manifest must not inline file actions")
    // cold load reconstructs through manifest + sidecars + delta tail
    GraftLog.clearCache()
    val cold = GraftLog.forTable(spark, dir).update()
    assert(cold.numFiles === log.snapshot.numFiles)
    assert(Graft.read(spark, dir).count() === 40)
    // time travel through the v2 checkpoint also works
    assert(GraftTable.forPath(spark, dir).asOfVersion(1).count() === 20)
  }

  test("_last_checkpoint has one codec: round trip, classic vs v2, malformed is absent") {
    import graft.log.{Actions, FileNames, LastCheckpoint}
    val classic = LastCheckpoint(12L, 345L)
    val v2 = LastCheckpoint(20L, 678L, Some(16))
    assert(Actions.lastCheckpointToJson(classic) === """{"version":12,"size":345}""")
    assert(Actions.lastCheckpointToJson(v2) ===
      """{"version":20,"size":678,"sidecarBuckets":16}""")
    Seq(classic, v2).foreach { c =>
      assert(Actions.lastCheckpointFromJson(Actions.lastCheckpointToJson(c)) === Some(c))
    }
    // hand-written pointers in the same field names still parse
    assert(Actions.lastCheckpointFromJson("""{"version":1,"size":150002}""") ===
      Some(LastCheckpoint(1L, 150002L)))
    Seq("", "{", "not json", "[1,2]", "null", """{"version":"x","size":1}""",
        """{"version":-1,"size":1}""", """{"size":1}""",
        """{"size":1,"sidecarBuckets":16}""").foreach { j =>
      assert(Actions.lastCheckpointFromJson(j) === None, j)
    }
    // through the log: the pointer a checkpoint writes is the one read
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    assert(log.lastCheckpoint === None)
    log.checkpoint()
    val written = log.lastCheckpoint
    assert(written.map(_.version) === Some(0L))
    assert(written.exists(_.sidecarBuckets.isEmpty))
    assert(written.exists(_.size === 2 + log.snapshot.numFiles))
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath), "{truncated")
    assert(log.lastCheckpoint === None)
  }

  test("a commit that brings a table its first DV files brings the DV feature") {
    val dir = tmpDir()
    Graft.write(spark.range(20).toDF("id"), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("id") < 5)
    assert(t.log.update().allFiles.exists(_.dvPath.isDefined))
    // DVs switched off after some were written: a clone's metadata no
    // longer asks for them, but its files still carry them
    t.upsertProperties(Map("graft.enableDeletionVectors" -> "false"))
    val dest = tmpDir()
    t.shallowCloneTo(dest)
    val cloned = GraftLog.forTable(spark, dest).update()
    assert(cloned.allFiles.exists(_.dvPath.isDefined))
    assert(graft.dv.DeletionVectors.supported(cloned.protocol),
      s"clone carries DV files under ${cloned.protocol}")
    assert(Graft.read(spark, dest).count() === 15)
  }

  test("DV files under a protocol without the DV feature still apply on read") {
    // Tables written before every DV commit carried the feature: a shallow
    // clone taken after DVs were switched off, a convert sync that brought
    // the first DVs. Reads apply their DVs whatever the protocol says.
    import graft.log.{CommitInfo, Snapshot}
    val dir = tmpDir()
    Graft.write(spark.range(20).toDF("id"), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("id") < 5)
    val snap = t.log.update()
    val dvFiles = snap.allFiles.filter(_.dvPath.isDefined)
    assert(dvFiles.nonEmpty)
    val noDv = (fs: Option[Seq[String]]) => fs.map(_.filterNot(_ == "deletionVectors"))
    val bare = snap.protocol.copy(readerFeatures = noDv(snap.protocol.readerFeatures),
      writerFeatures = noDv(snap.protocol.writerFeatures))
    t.log.writeCommit(snap.version + 1, Seq(
      CommitInfo(timestamp = 1L, operation = "NOOP"), bare,
      snap.metadata.copy(configuration =
        snap.metadata.configuration - "graft.enableDeletionVectors")) ++ dvFiles)
    val driverHeld = t.log.update()
    assert(!graft.dv.DeletionVectors.supported(driverHeld.protocol))
    assert(driverHeld.allFiles.exists(_.dvPath.isDefined))
    def ids(): Seq[Long] =
      Graft.read(spark, dir).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids() === (5L until 20L))
    // the same table cold-loaded over its checkpoint
    t.log.checkpoint()
    GraftLog.clearCache()
    spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "0")
    try {
      val backed = GraftLog.forTable(spark, dir).update()
      assert(backed.checkpointBacked)
      Graft.read(spark, dir).queryExecution.optimizedPlan
      assert(!backed.materialized, "read planning loaded every file onto the driver")
      assert(ids() === (5L until 20L))
    } finally spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
  }

  test("feature gates install wherever a feature turns on") {
    import graft.log.TableFeatures
    // v2 checkpoints are reader-gating: a build that would fold the
    // manifest as full state must be locked out
    val dirV2 = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dirV2,
      configuration = Map("graft.checkpointPolicy" -> "v2"))
    val pV2 = GraftLog.forTable(spark, dirV2).update().protocol
    assert(pV2.readerFeatureNames.contains("v2Checkpoint"))

    // writer-only features stay readable by legacy readers: (1, 7)
    val dirRt = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dirRt,
      configuration = Map("graft.enableRowTracking" -> "true"))
    val pRt = GraftLog.forTable(spark, dirRt).update().protocol
    assert(pRt.minReaderVersion === 1 && pRt.minWriterVersion === 7)
    assert(pRt.readerFeatures.isEmpty)
    assert(pRt.writerFeatureNames.contains("rowTracking"))
    assert(TableFeatures.readable(pRt, 1, Set.empty))

    // enabling CDF via SET TBLPROPERTIES installs its writer gate
    val dirCdf = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dirCdf)
    GraftTable.forPath(spark, dirCdf)
      .upsertProperties(Map("graft.enableChangeDataFeed" -> "true"))
    val pCdf = GraftLog.forTable(spark, dirCdf).update().protocol
    assert(pCdf.minWriterVersion >= 4)

    // type widening flips its switch and reader gate in the same commit
    val dirTw = tmpDir()
    Graft.write(spark.range(5).select(col("id").cast("int").as("v")), dirTw)
    GraftTable.forPath(spark, dirTw)
      .alterColumnType("v", org.apache.spark.sql.types.LongType)
    val twSnap = GraftLog.forTable(spark, dirTw).update()
    assert(twSnap.metadata.configuration
      .get("graft.enableTypeWidening").contains("true"))
    assert(twSnap.protocol.readerFeatureNames.contains("typeWidening"))
    assert(Graft.read(spark, dirTw).count() === 5)

    // addFeatureSupport markers survive dropping an unrelated feature,
    // and a bare version upgrade keeps the vectors
    val dirKeep = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dirKeep,
      configuration = Map("graft.enableChangeDataFeed" -> "true"))
    val tk = GraftTable.forPath(spark, dirKeep)
    tk.addFeatureSupport("deletionVectors")
    tk.dropFeature("changeDataFeed")
    val pKeep = tk.log.update().protocol
    assert(pKeep.readerFeatureNames.contains("deletionVectors"),
      s"support marker lost on unrelated drop: $pKeep")
    tk.upgradeTableProtocol(3, 7)
    assert(tk.log.update().protocol.readerFeatureNames.contains("deletionVectors"))
  }

  test("addFeatureSupport upgrades the protocol without flipping metadata") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    val t = GraftTable.forPath(spark, dir)
    t.addFeatureSupport("deletionVectors")
    val p = t.log.update().protocol
    assert(p.minReaderVersion === 3)
    assert(p.readerFeatureNames.contains("deletionVectors"))
    // the metadata switch stays off: deletes rewrite, no DVs appear
    assert(!t.snapshot.metadata.configuration.contains("graft.enableDeletionVectors"))
    t.delete(col("id") === 0)
    assert(t.log.update().allFiles.forall(_.dvPath.isEmpty))
    intercept[IllegalArgumentException] { t.addFeatureSupport("warpDrive") }
  }

  test("unknown writer feature blocks commits but not reads") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    val log = GraftLog.forTable(spark, dir)
    log.store.write(graft.log.FileNames.deltaFile(log.logPath, 1L),
      graft.log.Actions.serialize(Seq(graft.log.Protocol(1, 7,
        writerFeatures = Some(Seq("externalIndexMaintenance"))))))
    GraftLog.clearCache()
    // reading is fine: the unknown feature gates only writers
    assert(Graft.read(spark, dir).count() === 5)
    val e = intercept[IllegalStateException] {
      Graft.write(spark.range(3).toDF("id"), dir)
    }
    assert(e.getMessage.contains("externalIndexMaintenance"))
  }

  test("expired tombstones drop out of checkpoints") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir,
      configuration = Map("graft.deletedFileRetentionHours" -> "0.0"))
    val t = GraftTable.forPath(spark, dir)
    t.delete(col("id") < 5)          // rewrites: tombstones appear
    val log = GraftLog.forTable(spark, dir)
    assert(log.update().tombstones.nonEmpty)
    log.checkpoint()
    GraftLog.clearCache()
    val cold = GraftLog.forTable(spark, dir).update()
    assert(cold.tombstones.isEmpty,
      s"expired tombstones survived the checkpoint: ${cold.tombstones}")
    assert(Graft.read(spark, dir).count() === 5)
  }

  test("v2 checkpoints reuse sidecars of untouched buckets") {
    val dir = tmpDir()
    // single-file commits so each checkpoint interval touches few buckets
    (1 to 5).foreach { i =>
      Graft.write(spark.range(i * 10, i * 10 + 10).toDF("id").coalesce(1), dir,
        configuration = if (i == 1) Map(
          "graft.checkpointPolicy" -> "v2",
          "graft.checkpointInterval" -> "2",
          "graft.checkpointNumSidecars" -> "16") else Map.empty)
    }
    // checkpoints exist at v2 and v4; v4's manifest must point some
    // sidecars back into v2's sidecar directory (unchanged buckets)
    val log = GraftLog.forTable(spark, dir)
    import spark.implicits._
    def sidecarPaths(v: Long): Seq[String] =
      spark.read.parquet(graft.log.FileNames.checkpointFile(log.logPath, v).toString)
        .where($"sidecar".isNotNull).select($"sidecar.path").as[String]
        .collect().toSeq
    val p2 = sidecarPaths(2L)
    val p4 = sidecarPaths(4L)
    assert(p2.nonEmpty && p4.nonEmpty)
    // Deterministic expectation from the actual bucket function: a v2
    // sidecar is reused iff no v3/v4 file hashed into its bucket. (UUID
    // file names make a fixed "some bucket survived" assertion flaky —
    // two new files CAN cover every occupied bucket.)
    val k = 16
    val f2 = log.getSnapshotAt(2L).allFiles.map(_.path).toSet
    val newFiles = log.getSnapshotAt(4L).allFiles.map(_.path).toSet -- f2
    assert(newFiles.size === 2)
    val touched = newFiles.map(log.sidecarBucket(_, k))
    val survivors = f2.map(log.sidecarBucket(_, k)) -- touched
    val reused = p4.toSet.intersect(p2.toSet)
    assert(reused.nonEmpty === survivors.nonEmpty,
      s"reuse mismatch: survivors=$survivors v2=$p2 v4=$p4")
    assert(p4.toSet != p2.toSet, "v4 must write fresh sidecars for new files")
    // and the reconstructed state is complete either way
    GraftLog.clearCache()
    assert(Graft.read(spark, dir).count() === 50)
    assert(GraftTable.forPath(spark, dir).asOfVersion(2).count() === 30)
  }

  test("checksum sidecar catches a tampered metadata fold on cold load") {
    val dir = tmpDir()
    Graft.write(spark.range(10).toDF("id"), dir,
      configuration = Map("k" -> "v1"))
    Graft.write(spark.range(5).toDF("id"), dir)   // v1, carries the .crc
    val log = GraftLog.forTable(spark, dir)
    // tamper the log: rewrite v0's Metadata action with a different
    // configuration (simulated corruption / malicious edit)
    val v0 = graft.log.FileNames.deltaFile(log.logPath, 0L)
    val tampered = graft.log.Actions.deserialize(log.store.read(v0)).map {
      case m: graft.log.Metadata =>
        m.copy(configuration = Map("k" -> "EVIL")): graft.log.Action
      case a => a
    }
    log.store.writeOverwrite(v0, graft.log.Actions.serialize(tampered))
    GraftLog.clearCache()
    val e = intercept[IllegalStateException] {
      GraftLog.forTable(spark, dir).update()
    }
    assert(e.getMessage.contains("metadata"), e.getMessage)
    // aggregates alone would NOT have caught this (file counts unchanged)
  }

  test("history and detail") {
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir)
    GraftTable.forPath(spark, dir).delete(col("id") === 0)
    val t = GraftTable.forPath(spark, dir)
    val h = t.history().collect()
    assert(h.length === 2)
    assert(h.head.getAs[String]("operation") === "DELETE")
    assert(t.detail().head.getAs[Long]("numFiles") === t.snapshot.numFiles)
  }

  test("torn tail commit fails loudly; orphan temp files are invisible") {
    // A truncated commit JSON (torn write; cannot happen through the
    // LogStore's link(2) protocol, but can through operator error or a
    // broken copy tool) must fail the read loudly — never silently
    // serve the pre-torn state as if the commit didn't exist.
    val dir = tmpDir()
    Graft.write(lineitem.limit(5), dir)
    Graft.write(lineitem.limit(5), dir)
    val torn = new java.io.File(dir, "_graft_log/00000000000000000002.json")
    val w = new java.io.FileWriter(torn)
    w.write("""{"add":{"path":"x.parquet","si""")
    w.close()
    GraftLog.clearCache()
    val e = intercept[Exception] { Graft.read(spark, dir).count() }
    assert(e.getMessage != null)

    // A temp file that was never linked into place is not a commit.
    val dir2 = tmpDir()
    Graft.write(lineitem.limit(5), dir2)
    val tmp = new java.io.File(dir2, "_graft_log/.00000000000000000001.json.tmp")
    val w2 = new java.io.FileWriter(tmp); w2.write("{\"add\":{"); w2.close()
    GraftLog.clearCache()
    assert(Graft.read(spark, dir2).count() === 5)
  }

  test("Bitmap64 DV bitmap handles row indexes past 2^31") {
    import graft.dv.Bitmap64
    val bm = new Bitmap64()
    val big = Seq(0L, 5L, Int.MaxValue.toLong, Int.MaxValue.toLong + 1,
      (1L << 33) + 7, (1L << 40) - 1)
    big.foreach(bm.add)
    big.foreach(i => assert(bm.contains(i), s"missing $i"))
    assert(!bm.contains(1L))
    assert(!bm.contains(Int.MaxValue.toLong + 2))
    assert(bm.cardinality === big.size)
    // 32-bit truncation collision check: (2^33+7).toInt == 7
    assert(!bm.contains(7L))
    // serialize -> deserialize roundtrip preserves high buckets
    val bos = new java.io.ByteArrayOutputStream()
    bm.runOptimize()
    bm.serialize(new java.io.DataOutputStream(bos))
    val back = Bitmap64.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)))
    big.foreach(i => assert(back.contains(i)))
    assert(back.cardinality === big.size)
    // merge across buckets
    val other = new Bitmap64()
    other.add(1L); other.add((1L << 35) + 2)
    back.or(other)
    assert(back.cardinality === big.size + 2)
    assert(back.contains((1L << 35) + 2) && back.contains(1L))
  }

  test("timestamp watermark chain heals a missing predecessor sidecar") {
    import graft.log.{Actions, FileNames}
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir) // v0
    Graft.write(spark.range(5, 10).toDF("id"), dir) // v1
    val log = GraftLog.forTable(spark, dir)
    // simulate a racing writer whose v1 sidecar has not landed yet
    log.store.delete(FileNames.checksumFile(log.logPath, 1L))
    Graft.write(spark.range(10, 15).toDF("id"), dir) // v2 — must heal
    val crc2 = Actions.checksumFromJson(
      log.store.read(FileNames.checksumFile(log.logPath, 2L)))
    assert(crc2.commitTimestamp >= 0,
      "one missing predecessor sidecar broke the watermark chain")
    // exact: the healed watermark equals the clamped prefix-max fold
    val clamped = log.listCommitTimestamps().toMap
    assert(crc2.commitTimestamp === clamped(2L))
  }

  test("checksum sidecar describes the version just committed, not a racer's") {
    import graft.log.{Actions, FileNames}
    val dir = tmpDir()
    Graft.write(spark.range(5).toDF("id"), dir) // v0
    Graft.write(spark.range(5, 10).toDF("id"), dir) // v1
    val log = GraftLog.forTable(spark, dir)
    val acts1 = log.readCommit(1)
    // a racer already committed v3 (a replay of v1's adds: identical paths
    // fold to the identical state) before our v2's post-commit refresh runs
    log.store.write(FileNames.deltaFile(log.logPath, 3L), Actions.serialize(acts1))
    log.writeCommit(2, acts1)
    assert(log.store.exists(FileNames.checksumFile(log.logPath, 2L)),
      "the committed version's own sidecar was skipped")
    assert(!log.store.exists(FileNames.checksumFile(log.logPath, 3L)),
      "the racer's version got a sidecar written from the wrong commit")
    val crc2 = Actions.checksumFromJson(
      log.store.read(FileNames.checksumFile(log.logPath, 2L)))
    assert(crc2.numFiles === log.getSnapshotAt(2).numFiles)
    assert(crc2.commitTimestamp >= 0)
  }

  test("write sessions are cached, immutable, and track parent conf changes") {
    import graft.files.TransactionalWrite
    val s1 = TransactionalWrite.writeSession(spark, Map.empty)
    assert(s1 ne spark)
    // same parent confs -> the SAME clone (no per-write clone churn)
    assert(TransactionalWrite.writeSession(spark, Map.empty) eq s1)
    val s3 = TransactionalWrite.writeSession(spark,
      Map("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "123456"))
    assert(s3 ne s1)
    assert(s3.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "123456")
    // write-scoped overrides live in the cache KEY, not on the parent:
    // alternating overridden/plain writes keep BOTH cached clones live
    // instead of churning fresh SessionStates (and bus listeners)
    val s3b = TransactionalWrite.writeSession(spark,
      Map("spark.sql.variant.writeShredding.enabled" -> "false",
        "spark.sql.variant.inferShreddingSchema" -> "false"))
    assert(s3b ne s1)
    assert(TransactionalWrite.writeSession(spark, Map.empty) eq s1)
    assert(TransactionalWrite.writeSession(spark,
      Map("spark.sql.variant.inferShreddingSchema" -> "false",
        "spark.sql.variant.writeShredding.enabled" -> "false")) eq s3b)
    assert(s1.conf.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
    // the overrides never leak back into the caller's session
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") !== "TIMESTAMP_MICROS")
    // a parent conf change yields a FRESH clone carrying it — the old
    // clone is never mutated, so an in-flight write cannot observe the
    // change mid-job
    spark.conf.set("spark.graft.test.probe", "42")
    try {
      val s4 = TransactionalWrite.writeSession(spark, Map.empty)
      assert(s4 ne s1)
      assert(s4.conf.get("spark.graft.test.probe") === "42")
      assert(s1.conf.getOption("spark.graft.test.probe").isEmpty)
      spark.conf.unset("spark.graft.test.probe")
      assert(TransactionalWrite.writeSession(spark, Map.empty)
        .conf.getOption("spark.graft.test.probe").isEmpty)
    } finally spark.conf.unset("spark.graft.test.probe")
  }

  test("stats schema keeps nested nullCount parseable (struct of longs)") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    val data = new StructType().add("i", IntegerType)
      .add("nest", new StructType().add("a", StringType)
        .add("b", new StructType().add("c", IntegerType)))
    val st = graft.stats.StatsSkipping.statsSchema(data)
    val nc = st("nullCount").dataType.asInstanceOf[StructType]
    assert(nc("i").dataType === LongType)
    val nest = nc("nest").dataType.asInstanceOf[StructType]
    assert(nest("a").dataType === LongType)
    assert(nest("b").dataType.asInstanceOf[StructType]("c").dataType === LongType)
    // a converted Delta table's nested-nullCount stats JSON must parse
    // whole — a flat Long typing nulled the entire parsed row
    val json = """{"numRecords":3,"minValues":{"i":1,"nest":{"a":"x"}},""" +
      """"maxValues":{"i":5},"nullCount":{"i":0,"nest":{"a":1,"b":{"c":2}}}}"""
    val row = spark.range(1)
      .select(from_json(lit(json), st).as("p"))
      .select("p.numRecords", "p.nullCount.nest.b.c").head
    assert(row.getLong(0) === 3L && row.getLong(1) === 2L)
  }

  test("checksum aggregates fold incrementally and stay exact across DML") {
    val dir = tmpDir()
    Graft.write(spark.range(100).toDF("id"), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 10") // DV: remove+add, net 0
    Graft.write(spark.range(100, 120).toDF("id"), dir) // append
    GraftTable.forPath(spark, dir).delete(col("id") >= 110) // rewrite delete
    spark.sql(s"OPTIMIZE graft.`$dir`") // dataChange=false rewrite
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES('graft.k'='v')")
    // The sidecars above were written INCREMENTALLY (prev counts + commit
    // actions, no snapshot aggregate); a cold load re-derives the fold
    // and validates them strictly — any drift throws here.
    graft.log.GraftLog.clearCache()
    val log = GraftLog.forTable(spark, dir)
    val snap = log.update()
    val crc = graft.log.Actions.checksumFromJson(log.store.read(
      graft.log.FileNames.checksumFile(log.logPath, snap.version)))
    assert(crc.numFiles === snap.numFiles)
    assert(crc.tableSizeBytes === snap.sizeInBytes)
    assert(Graft.read(spark, dir).count() === 100)
  }

  test("RESTORE over a DV table keeps checksum aggregates exact on cold load") {
    val dir = tmpDir()
    Graft.write(spark.range(50).toDF("id"), dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 5") // v1: DV remove+add
    val t = GraftTable.forPath(spark, dir)
    t.restoreToVersion(0) // re-adds the live path WITHOUT a paired remove
    Graft.write(spark.range(50, 60).toDF("id"), dir) // trusted fold resumes
    // A drifted sidecar would make this cold load throw "Checksum
    // mismatch ... corrupted" — a healthy table becoming unloadable.
    graft.log.GraftLog.clearCache()
    val log = GraftLog.forTable(spark, dir)
    val snap = log.update()
    val crc = graft.log.Actions.checksumFromJson(log.store.read(
      graft.log.FileNames.checksumFile(log.logPath, snap.version)))
    assert(crc.numFiles === snap.numFiles)
    assert(crc.tableSizeBytes === snap.sizeInBytes)
    assert(Graft.read(spark, dir).count() === 60)
  }

  test("failed checksum/checkpoint post-commit hooks never fail a durable commit") {
    // Once the commit file is durable, a sidecar or checkpoint-pointer
    // write failure surfacing as a failed write would make the caller
    // retry and double-apply the data. Inject failures on every .crc /
    // _last_checkpoint overwrite and assert commits still succeed, then
    // lift the fault and assert the chain heals on the next commit.
    FaultyLogStore.installed(spark) {
      val dir = tmpDir()
      val df = spark.range(0, 10).toDF("id")
      Graft.write(df, dir,
        configuration = Map("graft.checkpointInterval" -> "2"))
      // v1 (checksum fails) and v2 (checksum + checkpoint pointer fail)
      FaultyLogStore.failing(p =>
          p.getName.endsWith(".crc") || p.getName == "_last_checkpoint") {
        Graft.write(df, dir, mode = "append")
        Graft.write(df, dir, mode = "append")
      }
      assert(Graft.read(spark, dir).count() === 30,
        "a post-commit hook failure lost or failed a durable commit")
      val log = GraftLog.forTable(spark, dir)
      assert(!log.store.exists(
        graft.log.FileNames.checksumFile(log.logPath, 2L)))
      // chain heals: the next commit's sidecar lands with exact counts
      Graft.write(df, dir, mode = "append")
      val snap = log.update()
      val crc = graft.log.Actions.checksumFromJson(log.store.read(
        graft.log.FileNames.checksumFile(log.logPath, snap.version)))
      assert(crc.numFiles === snap.numFiles)
      assert(Graft.read(spark, dir).count() === 40)
    }
  }

  test("a failed checkpoint write leaves no entry and heals at the next interval") {
    import graft.log.FileNames
    FaultyLogStore.installed(spark) {
      val dir = tmpDir()
      def batch(i: Int) = spark.range(i * 10L, i * 10L + 10).toDF("id")
      (0 until 10).foreach(i => Graft.write(batch(i), dir))
      val log = GraftLog.forTable(spark, dir)
      val cp10 = FileNames.checkpointFile(log.logPath, 10L)
      val v = FaultyLogStore.failing(_.getName == cp10.getName) {
        val txn = log.startTransaction()
        txn.commit(txn.writeFiles(batch(10)), "WRITE")
      }
      assert(v === 10L, "a failed checkpoint failed its durable commit")
      assert(!log.store.exists(cp10), "a failed checkpoint write left an entry")
      def ids(): Seq[Long] = {
        GraftLog.clearCache()
        Graft.read(spark, dir).as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      }
      assert(ids() === (0L until 110L))
      (11 until 21).foreach(i => Graft.write(batch(i), dir))
      val log2 = GraftLog.forTable(spark, dir)
      assert(log2.store.exists(FileNames.checkpointFile(log2.logPath, 20L)))
      // with every commit below it gone, a cold load can only start from
      // the v20 checkpoint
      log2.cleanUpExpiredLogs(retentionMillis = 0L)
      assert(!log2.store.exists(FileNames.deltaFile(log2.logPath, 0L)))
      assert(ids() === (0L until 210L))
    }
  }
}
