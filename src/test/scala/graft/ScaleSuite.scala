package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Driver-memory behavior at large file counts: the checkpoint fold must
  * stream (no whole-checkpoint collect) and state maps must not be
  * quadratic in file count. */
class ScaleSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Wall-clock bounds only hold when the suite runs alone on the host;
    * under `sbt test` several suites share the cores and a 6 s step can
    * read as 300 s. The behavioral assertions (exact file selection,
    * streaming fold, incremental advance) always run; the timing bounds
    * are opt-in for isolated perf runs. */
  private val strictPerf = sys.env.get("SPARK_GRAFT_STRICT_PERF").contains("1")
  private def assertPerf(cond: => Boolean, msg: => String): Unit =
    if (strictPerf) assert(cond, msg) else if (!cond) info(s"perf-bound miss (non-strict): $msg")

  test("distributed skipping path selects the same files as the driver path") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal}
    import org.apache.spark.sql.types.StringType
    val dir = Files.createTempDirectory("graft-distsk").toString
    // partitioned table with a NULL partition value and per-file stats
    val df = spark.range(400).toDF("id")
      .withColumn("p", when(col("id") % 4 === 3, lit(null: String))
        .otherwise(concat(lit("p"), (col("id") % 4).cast("string"))))
    // one file per (partition, id-range) so both phases have work to do
    (0 until 4).foreach { i =>
      Graft.write(df.where(col("id") >= i * 100 && col("id") < (i + 1) * 100)
        .repartition(1), dir, partitionBy = Seq("p"))
    }
    val log = GraftLog.forTable(spark, dir)
    val snap = log.update()
    assert(snap.allFiles.size >= 12)
    val p = AttributeReference("p", StringType)()
    val id = AttributeReference("id", LongType)()
    val cases = Seq(
      (Seq(EqualTo(p, Literal("p1"))), Seq[org.apache.spark.sql.catalyst.expressions.Expression]()),
      (Seq(EqualTo(p, Literal("p1"))), Seq(GreaterThan(id, Literal(250L)))),
      (Nil, Seq(GreaterThan(id, Literal(350L)))),
      (Seq(EqualTo(p, Literal("nope"))), Nil))
    val partSchema = new StructType().add("p", StringType)
    val dataSchema = new StructType().add("id", LongType).add("p", StringType)
    cases.foreach { case (pf, dfilters) =>
      val driver = graft.stats.StatsSkipping.pruneAndFilter(
        spark, snap, None, partSchema, pf, dataSchema, dfilters)
      spark.conf.set("spark.graft.distributedSkipping.threshold", "1")
      val dist = try graft.stats.StatsSkipping.pruneAndFilter(
        spark, snap, None, partSchema, pf, dataSchema, dfilters)
      finally spark.conf.unset("spark.graft.distributedSkipping.threshold")
      assert(dist.map(_.path).toSet === driver.map(_.path).toSet,
        s"paths diverged for pf=$pf df=$dfilters")
      assert(dist.nonEmpty || pf.exists(_.toString.contains("nope")))
    }
    // end-to-end: a filtered read through the distributed path returns
    // the same rows as the driver path
    val expect = Graft.read(spark, dir)
      .where(col("p") === "p2" && col("id") > 42).count()
    spark.conf.set("spark.graft.distributedSkipping.threshold", "1")
    try {
      val got = Graft.read(spark, dir)
        .where(col("p") === "p2" && col("id") > 42).count()
      assert(got === expect)
    } finally spark.conf.unset("spark.graft.distributedSkipping.threshold")
  }

  test("skipping venues agree and stay sound over a seeded predicate matrix") {
    import java.time.{Instant, LocalDate}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftshim.SparkShims
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val dir = Files.createTempDirectory("graft-skipfuzz").toString
    // One row per id; `i` is null on every 7th, `c` is a UTF8_LCASE string
    // whose byte order differs from its collation order.
    def rows(lo: Long, hi: Long, allNull: Boolean = false): DataFrame = {
      val base = spark.range(lo, hi).select(
        col("id").as("l"),
        when(col("id") % 7 =!= 0, col("id").cast("int")).as("i"),
        format_string("k%03d", col("id")).as("s"),
        date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
        timestamp_seconds(col("id") * 3600).as("ts"),
        (col("id") < 150).as("b"),
        expr("collate(CASE WHEN id % 2 = 0 THEN format_string('k%03d', id) " +
          "ELSE format_string('K%03d', id) END, 'UTF8_LCASE')").as("c"))
      val out = if (allNull) base.select(base.columns.map(n =>
        when(lit(false), col(n)).as(n)): _*) else base
      out.coalesce(1)
    }
    (0 until 4).foreach(k => Graft.write(rows(k * 100L, (k + 1) * 100L), dir))
    Graft.write(rows(500, 520, allNull = true), dir) // no min/max at all
    // files whose stats are missing, or not JSON at all
    val txn = GraftLog.forTable(spark, dir).startTransaction()
    val nullStats = txn.writeFiles(rows(400, 450), dataChange = true)
      .map(_.copy(stats = null))
    val badStats = txn.writeFiles(rows(450, 500), dataChange = true)
      .map(_.copy(stats = "{\"numRecords\":50,\"minValues\":{\"l\":"))
    txn.commit(nullStats ++ badStats, "WRITE")
    val snap = GraftLog.forTable(spark, dir).update()
    val schema = snap.metadata.schema
    val collated = schema("c").dataType
    assert(collated != StringType)
    val files = snap.allFiles
    assert(files.size === 7)
    val scan = Graft.read(spark, dir).withColumn("_file", input_file_name()).cache()
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName

    val rnd = new scala.util.Random(20261018L)
    val cols = Seq("l", "i", "s", "d", "ts", "b", "c")
    def n(): Int = rnd.nextInt(540) - 10
    def value(c: String): Literal = c match {
      case "l" => Literal(n().toLong)
      case "i" => Literal(n())
      case "s" => Literal(f"k${n()}%03d")
      case "d" => Literal(LocalDate.of(2020, 1, 1).plusDays(n()))
      case "ts" => Literal(Instant.ofEpochSecond(n() * 3600L))
      case "b" => Literal(rnd.nextBoolean())
      case "c" => Literal.create(UTF8String.fromString(f"K${n()}%03d"), collated)
    }
    // a literal of another type than its column's: skipping must keep the file
    def foreign(c: String): Literal = c match {
      case "l" => if (rnd.nextBoolean()) Literal(n()) else Literal(n() + 0.5)
      case "i" => Literal(n().toLong)
      case "d" => Literal(Instant.ofEpochSecond(n() * 86400L + 1577836800L))
      case _ => value(c)
    }
    def leaf(): Expression = {
      val c = cols(rnd.nextInt(cols.size))
      val a = UnresolvedAttribute(c)
      rnd.nextInt(10) match {
        case k if k < 5 =>
          val v = if (rnd.nextInt(3) == 0) foreign(c) else value(c)
          val ops = Seq[(Expression, Expression) => Expression](
            EqualTo, LessThan, LessThanOrEqual, GreaterThan, GreaterThanOrEqual)
          val op = ops(rnd.nextInt(ops.size))
          if (rnd.nextBoolean()) op(a, v) else op(v, a)
        case 5 =>
          val size = if (rnd.nextInt(3) == 0) 101 + rnd.nextInt(20) else 1 + rnd.nextInt(5)
          In(a, Seq.fill(size)(value(c)))
        case 6 =>
          val t = if (rnd.nextBoolean()) "s" else "c"
          val v = value(t)
          val prefix = v.value.toString.take(1 + rnd.nextInt(3))
          StartsWith(UnresolvedAttribute(t),
            Literal.create(UTF8String.fromString(prefix), v.dataType))
        case 7 => IsNull(a)
        case _ => IsNotNull(a)
      }
    }
    def pred(depth: Int): Expression =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextBoolean()) And(pred(depth - 1), pred(depth - 1))
      else Or(pred(depth - 1), pred(depth - 1))
    def skip(p: Expression): Set[String] = graft.stats.StatsSkipping.pruneAndFilter(
      spark, snap, None, new StructType(), Nil, schema, Seq(p)).map(_.path).toSet

    var pruned = 0
    (0 until 60).foreach { _ =>
      val p = pred(2)
      val driver = skip(p)
      spark.conf.set("spark.graft.distributedSkipping.threshold", "1")
      val dist = try skip(p)
        finally spark.conf.unset("spark.graft.distributedSkipping.threshold")
      assert(dist === driver, s"venues diverged for $p")
      val matching = scan.where(SparkShims.column(p)).select("_file").distinct()
        .collect().map(r => name(r.getString(0))).toSet
      val keptNames = driver.map(name)
      assert(matching.subsetOf(keptNames),
        s"dropped a file with matching rows for $p: ${matching -- keptNames}")
      if (driver.size < files.size) pruned += 1
    }
    assert(pruned > 10, s"only $pruned of 60 predicates pruned any file")
    scan.unpersist()
  }

  test("1M-AddFile checkpoint cold-loads and advances without collect") {
    val dir = Files.createTempDirectory("graft-scale").toString
    Graft.create(spark, dir, new StructType().add("id", LongType))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))

    // Fabricate a 1M-file checkpoint at v1 (building a real 1M-file table
    // would dominate the suite's runtime; the load path can't tell).
    val n = 1000000
    import spark.implicits._
    val adds = (0 until n).iterator
      .map(i => AddFile(f"part-$i%07d.parquet", Map.empty, 100L, 0L,
        dataChange = true,
        stats = s"""{"numRecords":10,"minValues":{"id":${i * 10L}},""" +
          s""""maxValues":{"id":${i * 10L + 9}},"nullCount":{"id":0}}""").wrap)
    // plus 50k retained tombstones: the lazy state must keep these in
    // checkpoint parquet too, not on the driver
    val nTombs = 50000
    val tombs = (0 until nTombs).iterator.map(i =>
      RemoveFile(f"gone-$i%07d.parquet",
        Some(System.currentTimeMillis()), dataChange = true).wrap)
    val cpRows = Iterator(Protocol().wrap, meta.wrap) ++ adds ++ tombs
    spark.createDataset(cpRows.toSeq).repartition(8)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${n + nTombs + 2}}""")
    // keep the fabricated state consistent with v1's checksum sidecar
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 100L},"numFiles":$n}""")

    GraftLog.clearCache()
    val t0 = System.nanoTime()
    val cold = GraftLog.forTable(spark, dir).update()
    val loadSecs = (System.nanoTime() - t0) / 1e9
    assert(cold.version === 1L)
    assert(cold.numFiles === n)
    info(f"cold 1M-file checkpoint load: $loadSecs%.1f s")
    assertPerf(loadSecs < 120.0, s"checkpoint load too slow: $loadSecs s")

    // Distributed stats skipping over the 1M-file snapshot: point lookup
    // must pick exactly the one file whose min/max bracket the key, and
    // stay fast (first call also builds + persists the parsed view).
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val idAttr = AttributeReference("id", LongType)()
    val t1 = System.nanoTime()
    val kept = graft.stats.StatsSkipping.pruneAndFilter(
      spark, cold, None, new StructType(), Nil,
      new StructType().add("id", LongType),
      Seq(EqualTo(idAttr, Literal(4999995L))))
    val coldSkip = (System.nanoTime() - t1) / 1e9
    assert(kept.map(_.path) === Seq("part-0499999.parquet"))
    val t2 = System.nanoTime()
    val kept2 = graft.stats.StatsSkipping.pruneAndFilter(
      spark, cold, None, new StructType(), Nil,
      new StructType().add("id", LongType),
      Seq(EqualTo(idAttr, Literal(7L))))
    val warmSkip = (System.nanoTime() - t2) / 1e9
    assert(kept2.map(_.path) === Seq("part-0000000.parquet"))
    info(f"1M-file distributed skipping: cold $coldSkip%.1f s, warm $warmSkip%.2f s")
    assertPerf(coldSkip < 120.0 && warmSkip < 30.0,
      f"skipping too slow: cold $coldSkip%.1f s, warm $warmSkip%.1f s")
    // The whole read path so far — cold load, checksum validation, counts,
    // two skipping queries — must run off the checkpoint parquet without
    // ever pulling the 1M-entry file map onto the driver.
    assert(!cold.materialized,
      "read-only cold load + skipping materialized the 1M-file map")
    assert(cold.tombstonesDS.count() === nTombs)
    assert(!cold.tombsMaterialized,
      "read path pulled the tombstone set onto the driver")

    // Incremental advance on top of the large state stays incremental —
    // and stays LAZY: new commits extend the driver-held overlay only.
    val log2 = GraftLog.forTable(spark, dir)
    log2.writeCommit(2, Seq(AddFile("extra.parquet", Map.empty, 1L, 0L,
      dataChange = true)))
    assert(log2.snapshot.numFiles === n + 1)
    assert(!log2.snapshot.materialized,
      "advancing a lazy snapshot materialized the base file map")
    assert(!log2.snapshot.tombsMaterialized,
      "advancing a lazy snapshot materialized the tombstone set")
    assert(log2.snapshot.getAddFile("part-0999999.parquet").isDefined)

    // Checkpoint WRITE at 1M files: the snapshot is checkpoint-backed, so
    // its rows come from the base checkpoint parquet masked by the
    // overlay, on the executors — the tombstones never reach the driver.
    val t3 = System.nanoTime()
    log2.checkpoint()
    val cpSecs = (System.nanoTime() - t3) / 1e9
    assert(!log2.snapshot.tombsMaterialized,
      "1M-file checkpoint pulled the tombstone set onto the driver")
    // classic checkpoints of large states write MULTI-PART (one parquet
    // part per ~100k actions, in parallel) — a single-file write would be
    // a straggler at 10M+ actions
    val cpDir2 = new java.io.File(s"$dir/_graft_log",
      f"${2L}%020d.checkpoint.parquet")
    assert(cpDir2.listFiles().count(_.getName.endsWith(".parquet")) > 1,
      "1M-action classic checkpoint was written as a single part")
    info(f"1M-file distributed checkpoint write: $cpSecs%.1f s")
    assertPerf(cpSecs < 120.0, f"checkpoint write too slow: $cpSecs%.1f s")
    GraftLog.clearCache()
    val reloaded = GraftLog.forTable(spark, dir).update()
    assert(reloaded.version === 2L)
    assert(reloaded.numFiles === n + 1)
    assert(reloaded.getAddFile("extra.parquet").isDefined)
    assert(reloaded.getAddFile("part-0999999.parquet").isDefined)

    // RESTORE across the 1M-file state: the diff runs as dataset
    // anti-joins, so the driver holds only the one changed entry, and
    // time travel to version 1 (whose size hint the moved-on
    // `_last_checkpoint` no longer carries) still loads lazily.
    // (Fresh cold log: the getAddFile probes above intentionally
    // materialized the cached snapshot.)
    GraftLog.clearCache()
    val log3 = GraftLog.forTable(spark, dir)
    graft.commands.RestoreCommand.run(spark, log3, 1L)
    assert(log3.snapshot.numFiles === n)
    assert(log3.snapshot.allFilesDS
      .where(org.apache.spark.sql.functions.col("path") === "extra.parquet")
      .isEmpty)
    assert(!log3.snapshot.materialized,
      "RESTORE materialized the 1M-file map on the driver")
  }

  test("stream start on a 100k-file snapshot stays off the driver") {
    val dir = Files.createTempDirectory("graft-streamscale").toString
    Graft.create(spark, dir, new StructType().add("id", LongType))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))
    // fabricated 150k-file checkpoint (over the 100k driver threshold)
    val n = 150000
    import spark.implicits._
    val rows = Iterator(Protocol().wrap, meta.wrap) ++
      (0 until n).iterator.map(i => AddFile(f"part-$i%06d.parquet",
        Map.empty, 100L, i.toLong % 977, dataChange = true).wrap)
    spark.createDataset(rows.toSeq).repartition(8)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${n + 2}}""")
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 100L},"numFiles":$n}""")
    GraftLog.clearCache()
    // force the lazy checkpoint-backed snapshot (the default driver-fold
    // threshold is 200k; the 1M-file test covers it at natural scale)
    spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "1000")
    val coldLog = GraftLog.forTable(spark, dir)
    val source = new graft.streaming.GraftSource(spark, coldLog, Map.empty)
    // first trigger admits the default 1000 files: index 0..999 of the
    // (modificationTime, path)-sorted order, built as a distributed job
    val off1 = source.latestOffset(null,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles(1000))
      .asInstanceOf[graft.streaming.GraftSourceOffset]
    assert(off1.isInitialSnapshot && off1.index === 999L)
    val batch = source.getBatch(None, off1)
    assert(batch.isStreaming)
    // a later trigger resumes mid-snapshot by index
    val off2 = source.latestOffset(off1,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles(500))
      .asInstanceOf[graft.streaming.GraftSourceOffset]
    assert(off2.isInitialSnapshot && off2.index === 1499L)
    // the snapshot backing the stream never materialized its file map
    assert(!coldLog.snapshot.materialized,
      "stream start materialized the 150k-file map on the driver")
    source.stop()
    spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
  }

  test("1M-file delta table converts distributed; first graft load is lazy") {
    import org.apache.spark.sql.functions.{concat, lit => flit}
    val dir = Files.createTempDirectory("graft-cnvscale").toString
    val deltaLog = new java.io.File(dir, "_delta_log")
    deltaLog.mkdirs()
    // fabricate a delta table whose classic checkpoint holds 1M adds
    val n = 1000000
    import spark.implicits._
    val schemaJson = com.fasterxml.jackson.databind.json.JsonMapper.builder.build
      .writeValueAsString(new StructType().add("id", LongType).json)
    val header = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":""" +
        s"""{"provider":"parquet","options":{}},"schemaString":$schemaJson,""" +
        """"partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""")
    val addLines = spark.range(n).select(concat(
      flit("""{"add":{"path":"part-"""), $"id",
      flit(""".parquet","partitionValues":{},"size":100,"modificationTime":0,""" +
        """"dataChange":true}}""")).as("line")).as[String]
    val actionSchema = org.apache.spark.sql.types.DataType.fromDDL(
      """add STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>,
           size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN>,
         metaData STRUCT<id: STRING, format: STRUCT<provider: STRING,
           options: MAP<STRING,STRING>>, schemaString: STRING,
           partitionColumns: ARRAY<STRING>, configuration: MAP<STRING,STRING>,
           createdTime: BIGINT>,
         protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT>"""
    ).asInstanceOf[StructType]
    val scratch = Files.createTempDirectory("graft-cnvcp").toString
    spark.read.schema(actionSchema).json(header.toDS.union(addLines))
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(deltaLog, f"${1L}%020d.checkpoint.parquet").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(deltaLog, "_last_checkpoint").toPath,
      s"""{"version":1,"size":${n + 2}}""")

    val t0 = System.nanoTime()
    val t = Graft.convertFromDelta(spark, dir)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"1M-file distributed convert: $secs%.1f s")
    assert(t.snapshot.numFiles === n)
    // the fold, the graft commit, and the graft checkpoint all ran
    // distributed: the first snapshot is lazy checkpoint-backed
    assert(!t.snapshot.materialized,
      "converting a 1M-file delta table materialized the file map")
    val cpDir = new java.io.File(s"$dir/_graft_log",
      f"${0L}%020d.checkpoint.parquet")
    assert(cpDir.isDirectory &&
      cpDir.listFiles().count(_.getName.endsWith(".parquet")) > 1,
      "graft checkpoint 0 was not written multi-part")
    assertPerf(secs < 180.0, f"convert too slow: $secs%.1f s")

    // Incremental SYNC of one appended delta commit: window fold is
    // commit-scaled and the live-membership check is a distributed join
    // against the lazy snapshot — the 1M-file map must never materialize.
    java.nio.file.Files.writeString(
      new java.io.File(deltaLog, f"${2L}%020d.json").toPath,
      """{"add":{"path":"tail-0.parquet","partitionValues":{},"size":100,""" +
        """"modificationTime":0,"dataChange":true}}""" + "\n")
    val t1 = System.nanoTime()
    val synced = Graft.syncFromDelta(spark, dir)
    val syncSecs = (System.nanoTime() - t1) / 1e9
    info(f"1-commit sync over 1M files: $syncSecs%.1f s")
    assert(synced.snapshot.numFiles === n + 1)
    assert(!synced.snapshot.materialized,
      "syncing one appended commit materialized the 1M-file map")
    assertPerf(syncSecs < 15.0, f"sync too slow: $syncSecs%.1f s")
  }

  test("mirror bootstrap on a 150k-file lazy snapshot stays off the driver") {
    val dir = Files.createTempDirectory("graft-mirrorscale").toString
    Graft.create(spark, dir, new StructType().add("id", LongType))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))
    val n = 150000
    import spark.implicits._
    val rows = Iterator(Protocol().wrap, meta.wrap) ++
      (0 until n).iterator.map(i => AddFile(f"part-$i%06d.parquet",
        Map.empty, 100L, 0L, dataChange = true).wrap)
    spark.createDataset(rows.toSeq).repartition(8)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${n + 2}}""")
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 100L},"numFiles":$n}""")
    GraftLog.clearCache()
    spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "1000")
    try {
      val log2 = GraftLog.forTable(spark, dir)
      val snap = log2.update()
      assert(!snap.materialized)
      // enabling the Delta mirror triggers the full-state bootstrap hook
      log2.writeCommit(2, Seq(meta.copy(configuration = meta.configuration +
        (graft.commands.DeltaMirror.PROP -> "delta")),
        CommitInfo(timestamp = 2L, operation = "SET TBLPROPERTIES")))
      assert(!log2.snapshot.materialized,
        "mirror bootstrap materialized the 150k-file map on the driver")
      val mirror0 = new java.io.File(s"$dir/_delta_log",
        f"${0L}%020d.json")
      assert(mirror0.exists, "mirror commit 0 missing")
      val lineCount = {
        val src = scala.io.Source.fromFile(mirror0)
        try src.getLines().count(_.nonEmpty) finally src.close()
      }
      assert(lineCount === n + 3,
        s"mirror bootstrap carried $lineCount lines, expected ${n + 3}")
    } finally spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
  }

  test("timestamp time travel on a long log reads O(log n) commit files") {
    val dir = Files.createTempDirectory("graft-tslog").toString
    val log = GraftLog.forTable(spark, dir)
    // fabricate a 512-commit log with increasing CommitInfo timestamps
    // (building it with real writes would dominate the suite's runtime;
    // the resolution path can't tell)
    val schemaJson = new StructType().add("id", LongType).json
    log.store.write(FileNames.deltaFile(log.logPath, 0L),
      Actions.serialize(Seq(Protocol(), Metadata(schemaString = schemaJson),
        CommitInfo(timestamp = 1000L, operation = "CREATE"))))
    (1 to 511).foreach { v =>
      log.store.write(FileNames.deltaFile(log.logPath, v.toLong),
        Actions.serialize(Seq(
          CommitInfo(timestamp = 1000L * (v + 1), operation = "NOOP"))))
    }
    assert(log.getVersionAtTime(1000L * 301 + 5) === 300L)
    // bisection (~log2 512) + the bounded clock-skew verify window (32)
    assert(log.commitTsReads <= 56,
      s"timestamp search read ${log.commitTsReads} commit files " +
        "(expected ~log2(512) + skew window)")
    assert(log.getVersionAtTime(1000L * 512) === 511L)
    assert(log.getVersionAtTime(1000L) === 0L)
    intercept[IllegalArgumentException] { log.getVersionAtTime(10L) }
  }

  test("timestamp bisection stays exact under bounded writer clock skew") {
    val dir = Files.createTempDirectory("graft-tsskew").toString
    val log = GraftLog.forTable(spark, dir)
    val schemaJson = new StructType().add("id", LongType).json
    log.store.write(FileNames.deltaFile(log.logPath, 0L),
      Actions.serialize(Seq(Protocol(), Metadata(schemaString = schemaJson),
        CommitInfo(timestamp = 1000L, operation = "CREATE"))))
    (1 to 255).foreach { v =>
      // a skewed writer plants a FUTURE timestamp at v=200; under the
      // monotonic clamp every later commit inherits it
      val ts = if (v == 200) 1000L * 1000 else 1000L * (v + 1)
      log.store.write(FileNames.deltaFile(log.logPath, v.toLong),
        Actions.serialize(Seq(CommitInfo(timestamp = ts, operation = "NOOP"))))
    }
    // ts=220500 naively bisects past the violator; the clamped answer is
    // the last commit BEFORE the skewed one
    assert(log.getVersionAtTime(1000L * 220 + 500) === 199L)
    GraftLog.clearCache()
    // and matches the exhaustive small-log path exactly
    val small = GraftLog.forTable(spark, dir)
    val probe = 1000L * 220 + 500
    val viaList = small.listCommitTimestamps().filter(_._2 <= probe).map(_._1).max
    assert(viaList === 199L)
  }

  test("checksum watermark chain: exact resolution under skew FAR beyond the window") {
    val dir = Files.createTempDirectory("graft-tschain").toString
    val log = GraftLog.forTable(spark, dir)
    val schemaJson = new StructType().add("id", LongType).json
    // 512 commits; a skewed-high timestamp at v=100 — 300+ commits before
    // where a raw bisection lands, far outside any bounded verify window.
    // The per-commit checksum chain carries the CLAMPED watermark, so the
    // bisection runs over already-monotone values and stays exact.
    var clamped = 0L
    (0 to 511).foreach { v =>
      val ts = if (v == 100) 1000L * 1000 else 1000L * (v + 1)
      val acts: Seq[Action] =
        if (v == 0) Seq(Protocol(), Metadata(schemaString = schemaJson),
          CommitInfo(timestamp = ts, operation = "CREATE"))
        else Seq(CommitInfo(timestamp = ts, operation = "NOOP"))
      log.store.write(FileNames.deltaFile(log.logPath, v.toLong),
        Actions.serialize(acts))
      clamped = math.max(clamped, ts)
      log.store.writeOverwrite(FileNames.checksumFile(log.logPath, v.toLong),
        Actions.checksumToJson(VersionChecksum(commitTimestamp = clamped)))
    }
    // any query between the skew point and its value resolves BEFORE it
    assert(log.getVersionAtTime(1000L * 450) === 99L)
    // O(log n) checksum reads, no raw commit-file scan
    assert(log.commitTsReads <= 4,
      s"chain bisection still read ${log.commitTsReads} commit files")
    // past the skew value everything is eligible again
    assert(log.getVersionAtTime(1000L * 1000 + 5) === 511L)
  }

  test("driver and distributed checkpoint writes produce identical state") {
    // The same state at a new version, checkpointed once from a
    // driver-held snapshot (rows shipped from the driver maps) and once
    // from a checkpoint-backed one (rows read from the base checkpoint
    // parquet masked by the commit overlay, on the executors).
    import org.apache.spark.sql.functions.{col, sum}
    Seq("classic", "v2").foreach { policy =>
      val dir = Files.createTempDirectory("graft-cpw").toString
      Graft.write(spark.range(100).toDF("id"), dir,
        configuration = Map("graft.checkpointPolicy" -> policy))
      spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 10")
      val log = GraftLog.forTable(spark, dir)
      val now = System.currentTimeMillis()
      // inside the default retention when the base checkpoint is
      // written, outside it once the tail shortens retention to 30 min
      log.writeCommit(log.snapshot.version + 1, Seq(
        CommitInfo(timestamp = now, operation = "NOOP"),
        RemoveFile("aged.parquet", Some(now - 3600L * 1000))))
      log.checkpoint()
      val pointerAtBase = log.store.read(FileNames.lastCheckpointFile(log.logPath))
      // the commit tail the checkpoint-backed snapshot folds as overlay
      Graft.write(spark.range(100, 150).toDF("id"), dir)
      spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 140")
      GraftTable.forPath(spark, dir)
        .upsertProperties(Map("graft.deletedFileRetentionHours" -> "0.5"))
      log.writeCommit(log.update().version + 1, Seq(
        CommitInfo(timestamp = now, operation = "NOOP"),
        RemoveFile("ancient.parquet", Some(1L))))
      val v = log.update().version
      val cpPath = FileNames.checkpointFile(log.logPath, v)

      def reloaded(): (Seq[(String, Long)], Seq[String], Long) = {
        GraftLog.clearCache()
        val s = GraftLog.forTable(spark, dir).update()
        assert(s.version === v)
        (s.allFiles.map(f => (f.path, f.size)).sorted,
          s.tombstones.map(_.path).sorted,
          Graft.read(spark, dir).agg(sum(col("id"))).head.getLong(0))
      }
      def coldBacked(): (GraftLog, Snapshot) = {
        GraftLog.clearCache()
        val l = GraftLog.forTable(spark, dir)
        (l, l.update())
      }

      val driverHeld = log.snapshot
      assert(!driverHeld.checkpointBacked)
      log.checkpoint(driverHeld)
      val viaDriver = reloaded()

      // Back to the base checkpoint, then write version v again from a
      // cold checkpoint-backed load.
      log.store.deleteRecursive(cpPath)
      log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
        pointerAtBase)
      spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "0")
      try {
        val (log2, backed) = coldBacked()
        assert(backed.checkpointBacked && backed.version === v)
        log2.checkpoint(backed)
        assert(!backed.materialized && !backed.tombsMaterialized,
          s"$policy: the checkpoint-backed write pulled state onto the driver")
      } finally spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
      val viaBacked = reloaded()
      assert(viaBacked === viaDriver, s"$policy: the two writes disagree")
      assert(viaDriver._3 === (10L until 140L).sum)
      assert(viaDriver._2.nonEmpty, s"$policy: retained tombstones lost")
      assert(!viaDriver._2.contains("ancient.parquet"))
      // v2 reuses untouched sidecar buckets, where an expired tombstone
      // lingers until its bucket rewrites
      if (policy == "classic") assert(!viaDriver._2.contains("aged.parquet"))

      // Same version: a snapshot backed by the checkpoint at its own
      // version is already checkpointed, and is not rewritten.
      def cpFiles(): Seq[(String, Long)] = {
        val entry = new java.io.File(cpPath.toUri.getPath)
        (if (entry.isDirectory) entry.listFiles.toSeq else Seq(entry).filter(_.exists))
          .map(f => (f.getName, f.lastModified)).sorted
      }
      val filesBefore = cpFiles()
      assert(filesBefore.nonEmpty)
      spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "0")
      try {
        val (log3, same) = coldBacked()
        assert(same.checkpointBacked && same.version === v)
        log3.checkpoint(same)
      } finally spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
      assert(cpFiles() === filesBefore, s"$policy: same-version checkpoint rewritten")
      assert(reloaded() === viaDriver)
    }
  }

  test("distributed and driver-fold state reconstruction agree") {
    val dir = Files.createTempDirectory("graft-recon").toString
    Graft.create(spark, dir, new StructType().add("id", LongType))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))
    val n = 5000
    import spark.implicits._
    val rows = Seq(Protocol().wrap, meta.wrap,
        SetTransaction("app1", 7L).wrap,
        RemoveFile("gone.parquet", Some(1L)).wrap) ++
      (0 until n).map(i => AddFile(f"part-$i%05d.parquet", Map.empty, 100L,
        0L, dataChange = true).wrap)
    spark.createDataset(rows).repartition(4)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${rows.size}}""")
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 100L},"numFiles":$n}""")

    def coldLoad(threshold: Long): Snapshot = {
      spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, threshold.toString)
      GraftLog.clearCache()
      GraftLog.forTable(spark, dir).update()
    }
    try {
      val distributed = coldLoad(0)        // everything above 0 -> Spark job
      val driverFold = coldLoad(Long.MaxValue)
      assert(distributed.numFiles === driverFold.numFiles)
      assert(distributed.allFiles.map(_.path).sorted ===
        driverFold.allFiles.map(_.path).sorted)
      assert(distributed.tombstones.map(_.path) === driverFold.tombstones.map(_.path))
      assert(distributed.setTransactions === driverFold.setTransactions)
      assert(distributed.metadata.id === driverFold.metadata.id)
    } finally {
      spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
    }
  }

  test("LSH hot-bucket cap keeps pathological duplication sub-quadratic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 20k copies of one document: every band bucket holds all 20k ids, so
    // an uncapped pair explode would build 20k^2 = 4e8 pairs per band. The
    // cap drops oversized buckets whole; the run must stay fast and empty
    // rather than melt — the guard a boilerplate-heavy 100 TB corpus needs.
    val boiler = spark.range(20000)
      .select($"id".as("doc_id"),
        lit("the same boilerplate text repeated in every document of the batch").as("text"))
    val t0 = System.nanoTime()
    val pairs = graft.ml.Dedup.minHashPairs(
      boiler.toDF, col("doc_id"), col("text"),
      numHashes = 64, bands = 8, shingleSize = 4, threshold = 0.5,
      maxBucketSize = 1000)
    assert(pairs.count() === 0)
    val secs = (System.nanoTime() - t0) / 1e9
    assertPerf(secs < 60.0, f"hot-bucket guard too slow: $secs%.1f s")
    // distinct corpora still pair normally under the same cap
    val mixed = boiler.limit(3).unionByName(
      spark.range(100, 200).select($"id".as("doc_id"),
        concat(lit("unique text body number "), $"id",
          lit(" with enough tokens to shingle")).as("text")))
    val found = graft.ml.Dedup.minHashPairs(
      mixed.toDF, col("doc_id"), col("text"),
      numHashes = 64, bands = 8, shingleSize = 4, threshold = 0.5,
      maxBucketSize = 1000)
    // the 3 surviving boilerplate copies pair with each other
    assert(found.where($"idA" < 3 && $"idB" < 3).count() === 3)
  }

  test("embedding index: small batch against a 200k-vector index stays batch-scaled") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 200k random 16-dim vectors indexed once; a 50-row batch (half
    // jittered copies of indexed vectors, half fresh) must dedup in
    // seconds — its cost is the batch's band keys joined against ONLY
    // the touched buckets, never a corpus-sized scan-and-aggregate.
    val rnd = new scala.util.Random(47)
    val corpus = spark.range(200000).select($"id",
      array((0 until 16).map(i =>
        (rand(seed = 47 + i) * 2 - 1).cast("float")): _*).as("emb"))
    val idx = Files.createTempDirectory("graft-scale-embidx").toString
    graft.ml.Dedup.buildEmbeddingIndex(corpus, col("id"), col("emb"), idx,
      threshold = 0.999)
    val dup = corpus.where($"id" < 25)
      .select(($"id" + 1000000L).as("id"),
        transform($"emb", v => v * 1.0001f).as("emb"))
    val freshRows = (0 until 25)
      .map(i => (2000000L + i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "emb")
    val t0 = System.nanoTime()
    val got = graft.ml.Dedup.dedupEmbeddingsAgainstIndex(
      dup.unionByName(freshRows), col("id"), col("emb"), idx,
      threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.size === 50)
    assert((0 until 25).forall(i => got(1000000L + i)),
      "jittered copies of indexed vectors must flag")
    // fresh random 16-dim gaussians vs random uniform vectors: cosine
    // 0.999 collisions are impossible in practice
    assert((0 until 25).forall(i => !got(2000000L + i)))
    assertPerf(secs < 30.0, f"batch dedup not batch-scaled: $secs%.1f s")
  }

  test("row-id scan, SHOW PARTITIONS and the DV gate stay off the driver at 150k files") {
    val dir = Files.createTempDirectory("graft-scale-rt").toString
    Graft.create(spark, dir,
      new StructType().add("id", LongType)
        .add("p", org.apache.spark.sql.types.StringType),
      partitionBy = Seq("p"),
      configuration = Map("graft.enableRowTracking" -> "true"))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))

    // Fabricate a 150k-file row-tracked checkpoint at v1 (above the
    // distributed-skipping threshold) across 100 partitions, every file
    // carrying a baseRowId + commit version.
    val n = 150000
    import spark.implicits._
    val proto = Protocol(1, 7,
      writerFeatures = Some(Seq("domainMetadata", "rowTracking")))
    val adds = (0 until n).iterator.map(i =>
      AddFile(f"p=${i % 100}/f-$i%06d.parquet", Map("p" -> s"${i % 100}"),
        1000L, 0L, dataChange = true,
        stats = """{"numRecords":10}""",
        baseRowId = Some(i * 10L),
        defaultRowCommitVersion = Some(1L)).wrap)
    val dom = DomainMetadata(graft.log.RowTracking.DOMAIN,
      s"""{"rowIdHighWaterMark":${n * 10L - 1}}""").wrap
    val cpRows = Iterator(proto.wrap, meta.wrap, dom) ++ adds
    spark.createDataset(cpRows.toSeq).repartition(4)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${n + 3}}""")
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 1000L},"numFiles":$n}""")
    GraftLog.clearCache()

    spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "50000")
    try {
      val t = GraftTable.forPath(spark, dir)
      // 1. row-id scan: lookup derives from the DISTRIBUTED file view —
      // analysis + physical planning must not pull the file map
      val df = t.toDFWithRowIds
      df.queryExecution.executedPlan // force planning
      assert(!t.log.snapshot.materialized,
        "toDFWithRowIds materialized the 150k-file map on the driver")
      // 2. SHOW PARTITIONS runs as a distributed distinct
      val parts = t.showPartitions().collect()
      assert(parts.length === 100)
      assert(!t.log.snapshot.materialized,
        "showPartitions materialized the 150k-file map on the driver")
      // 3. the DV-free gate (dropFeature's probe shape) is a distributed
      // existence check
      assert(t.log.snapshot.allFilesDS
        .filter(org.apache.spark.sql.functions.col("dvPath").isNotNull)
        .isEmpty)
      assert(!t.log.snapshot.materialized,
        "the DV gate materialized the 150k-file map on the driver")
      // 4. a plain read plans without the file list: the DV reader
      // format is built from the DV-carrying files alone, collected by a
      // distributed filter
      t.toDF.where(org.apache.spark.sql.functions.col("id") > 5L)
        .queryExecution.optimizedPlan
      assert(!t.log.snapshot.materialized,
        "planning a plain read materialized the 150k-file map on the driver")
    } finally spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
  }

  test("auto-compact on a 150k-file table selects without materializing the snapshot") {
    val dir = Files.createTempDirectory("graft-scale-ac").toString
    Graft.create(spark, dir,
      new StructType().add("id", LongType)
        .add("p", org.apache.spark.sql.types.StringType),
      partitionBy = Seq("p"),
      configuration = Map(
        "graft.autoCompact" -> "true",
        "graft.autoCompact.minNumFiles" -> "5"))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))

    // Fabricate a 150k-file checkpoint at v1 (above the distributed-
    // skipping threshold of 100k) across 1000 partitions.
    val n = 150000
    import spark.implicits._
    val adds = (0 until n).iterator.map(i =>
      AddFile(f"p=${i % 1000}/big-$i%06d.parquet", Map("p" -> s"${i % 1000}"),
        1000000000L, 0L, dataChange = true).wrap)
    val cpRows = Iterator(Protocol().wrap, meta.wrap) ++ adds
    spark.createDataset(cpRows.toSeq).repartition(4)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${n + 2}}""")
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 1000000000L},"numFiles":$n}""")
    GraftLog.clearCache()

    // Commit 5 small files into ONE partition: pressure crosses the
    // threshold and the post-commit hook fires an OPTIMIZE targeted at
    // that partition. The rewrite itself fails (the fabricated files do
    // not exist) and is swallowed as best-effort — the probe pins the
    // SELECTION path: pruning must run distributed, never pulling the
    // 150k-entry file map onto the driver.
    // Force the lazy checkpoint-backed venue at this (test-sized) file
    // count: production tables cross the 200k driver-fold default
    // naturally; the probe pins the behavior, not the threshold.
    spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "50000")
    try {
      val log2 = GraftLog.forTable(spark, dir)
      val small = (0 until 5).map(i =>
        AddFile(s"p=42/small-$i.parquet", Map("p" -> "42"), 10L,
          0L, dataChange = true))
      log2.writeCommit(2,
        CommitInfo(timestamp = 2L, operation = "WRITE") +: small)
      val snap = log2.snapshot
      assert(snap.version === 2L)
      assert(snap.numFiles === n + 5)
      assert(!snap.materialized,
        "auto-compact selection materialized the whole file map on the driver")
    } finally spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
  }

  test("whole-table DML candidate selection at 150k files: transient Seq, snapshot stays lazy") {
    // The driver-ceiling probe for unpredicated DELETE / non-equi REPLACE
    // ON: the candidate Seq[AddFile] itself is inherent (the commit
    // carries one remove per file — the reference's own DML design), but
    // it must be a TRANSIENT driver cost. Selection collects from the
    // distributed view; the lazy snapshot's cached state never
    // materializes, so post-DML queries keep planning off the checkpoint.
    val dir = Files.createTempDirectory("graft-scale-dml").toString
    Graft.create(spark, dir,
      new StructType().add("id", LongType)
        .add("p", org.apache.spark.sql.types.StringType),
      partitionBy = Seq("p"))
    val log = GraftLog.forTable(spark, dir)
    val meta = log.snapshot.metadata
    log.writeCommit(1, Seq(CommitInfo(timestamp = 1L, operation = "NOOP")))
    val n = 150000
    import spark.implicits._
    val adds = (0 until n).iterator.map(i =>
      AddFile(f"p=${i % 100}/f-$i%06d.parquet", Map("p" -> s"${i % 100}"),
        1000L, 0L, dataChange = true, stats = """{"numRecords":10}""").wrap)
    val cpRows = Iterator(Protocol().wrap, meta.wrap) ++ adds
    spark.createDataset(cpRows.toSeq).repartition(4)
      .write.mode("overwrite")
      .parquet(FileNames.checkpointFile(log.logPath, 1L).toString)
    log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
      s"""{"version":1,"size":${n + 2}}""")
    log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 1L),
      s"""{"tableSizeBytes":${n * 1000L},"numFiles":$n}""")
    GraftLog.clearCache()
    spark.conf.set(Snapshot.DRIVER_FOLD_THRESHOLD_CONF, "50000")
    spark.conf.set("spark.graft.distributedSkipping.threshold", "50000")
    try {
      val log2 = GraftLog.forTable(spark, dir)
      // REPLACE-ON-shaped whole-table read: predicate-less filterFiles()
      val txn = log2.startTransaction()
      val candidates = txn.filterFiles()
      assert(candidates.size === n)
      assert(!log2.snapshot.materialized,
        "whole-table candidate selection materialized the lazy snapshot")
      // unpredicated DELETE end-to-end: 150k metadata-only removes commit
      GraftTable.forPath(spark, dir).delete()
      val after = log2.update()
      assert(after.numFiles === 0L)
      assert(!after.materialized,
        "unpredicated DELETE materialized the lazy snapshot")
    } finally {
      spark.conf.unset(Snapshot.DRIVER_FOLD_THRESHOLD_CONF)
      spark.conf.unset("spark.graft.distributedSkipping.threshold")
    }
  }
}
