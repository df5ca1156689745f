package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftTable
import graft.log.GraftLog
import graft.stats.StatsSkipping

/** One workload run in this JVM: set-up, warm-up, a closed loop of ops
  * from one client thread, then an oracle check of the final table. Raw
  * samples go to `--out` as JSON (and spans to `--spans` when traced);
  * `perfbench/run.py` turns them into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --dir D
  *   --out FILE [--spans FILE] [--cores N] [--ops N]
  *
  * `--ops` lowers the loop's minimum op count, for the short training run
  * that dumps the class-data archive. */
object Main {
  /** Set-up repetitions; set-up time is their median. */
  val SetupReps = 3
  /** The loop runs at least this many ops, whatever `--seconds` says. */
  val MinOps = 16
  /** Write and space amplification are taken after exactly this many
    * timed ops, so they do not depend on how fast the ops ran. */
  val AmpOps = 10
  /** Ops whose inputs are generated together, untimed. */
  val Chunk = 8
  /** The host control runs (untimed) after every this many timed ops. */
  val ControlEvery = 4

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** Milliseconds the JIT compilers and the collectors have run so far. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map {
      case b: java.lang.management.GarbageCollectorMXBean => b.getCollectionTime max 0L
    }.sum

  /** Relative path -> size of every regular file under `dir`. */
  def walk(dir: File): Map[String, Long] = {
    val base = dir.toPath
    val b = Map.newBuilder[String, Long]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      else b += base.relativize(f.toPath).toString -> f.length()
    go(dir)
    b.result()
  }

  private def category(p: String): String =
    if (p.startsWith("_graft_log")) {
      if (p.contains("checkpoint")) "ckpt" else if (p.endsWith(".json")) "commit" else "logother"
    } else if (p.endsWith(".crc")) "crc"
    else if (p.startsWith("_dv") || p.contains("/_dv/") || p.endsWith(".bin")) "dv"
    else if (p.endsWith(".parquet")) "data"
    else "other"

  /** Bytes and file counts by category of files new or grown since `a`. */
  def added(a: Map[String, Long], b: Map[String, Long]): Map[String, (Long, Long)] =
    b.iterator.filter { case (p, s) => a.get(p).forall(_ != s) }
      .toSeq.groupBy(kv => category(kv._1))
      .map { case (c, fs) => c -> (fs.map(_._2).sum, fs.size.toLong) }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = new File(opt("dir")).getAbsoluteFile
    val cores = opt.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString)
    val minOps = opt.get("ops").map(_.toInt).getOrElse(MinOps)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtension")
      .config("spark.sql.catalog.spark_catalog", "graft.catalog.GraftCatalog")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tr = new Tracer(t0)
    // Wall-clock seconds since start at the end of each phase.
    val phases = ArrayBuffer("session" -> sessionS)
    def phase(name: String): Unit = phases += name -> (System.nanoTime() - t0) / 1e9
    val counters = new SparkCounters
    if (traced) spark.sparkContext.addSparkListener(counters)
    val w = Workload(workloadName, spark, seed, tr)

    // The generated base rows, made once; set-up writes them into tables.
    w.input = Data.base(spark, seed).persist(StorageLevel.MEMORY_ONLY)
    w.input.count()
    phase("inputs")
    // Plain parquet of the first 40k base rows: the graft-free host
    // yardstick that op times are expressed in, and the user bytes per
    // row that amplification is measured against.
    val plain = new File(dir, "plain").toString
    val plainOrders = 10000L
    w.input.where(col("l_orderkey") <= plainOrders).coalesce(1).write.parquet(plain)
    val bytesPerRow = walk(new File(plain)).filter(_._1.endsWith(".parquet")).values.sum
      .toDouble / (plainOrders * Data.BaseLines)
    val controls = ArrayBuffer.empty[Double]
    def control(): Unit = {
      val s = System.nanoTime()
      spark.read.parquet(plain).where(col("l_quantity") > 25).groupBy("l_returnflag")
        .agg(sum("l_extendedprice"), count(lit(1))).collect()
      controls += (System.nanoTime() - s) / 1e9
    }
    phase("plain")

    val opens = ArrayBuffer.empty[Double]
    def coldOpen(p: String): Double = {
      GraftLog.clearCache()
      val s = System.nanoTime()
      GraftTable.forPath(spark, p).snapshot
      val e = System.nanoTime()
      tr.record("log.open", -1, s, e)
      opens += (e - s) / 1e9
      (e - s) / 1e9
    }
    val setups = (0 until SetupReps).map { r =>
      val p = new File(dir, s"table$r").toString
      val s = System.nanoTime()
      w.build(p)
      tr.record("setup.build", -1, s, System.nanoTime())
      (System.nanoTime() - s) / 1e9 + coldOpen(p)
    }
    w.path = new File(dir, s"table${SetupReps - 1}").toString
    for (r <- 0 until SetupReps - 1) deleteAll(new File(dir, s"table$r"))
    val tableDir = new File(w.path)
    val setupBytes = walk(tableDir).values.sum

    phase("setup")
    // Free the cached inputs so the retained heap is the engine's; the
    // oracle regenerates them.
    w.input.unpersist(blocking = true)
    w.input = Data.base(spark, seed)
    phase("prepare")
    var failed = 0
    var attempted = 0
    /** An untimed warm-up op, checked like the timed ones. */
    def once(op: Op): Boolean = {
      attempted += 1
      val ok = try { op.run(); op.check() } catch {
        case e: Exception => System.err.println(s"op failed: $e"); false
      }
      if (!ok) failed += 1
      ok
    }
    // Ops come in chunks whose inputs are generated by one Spark job.
    val queued = scala.collection.mutable.Queue.empty[Op]
    def next(i: Int): Op = {
      if (queued.isEmpty) queued ++= w.ops(i until i + Chunk)
      queued.dequeue()
    }
    for (i <- 0 until w.warmOps) once(next(i))
    // The control's first timings come after the warm-up, so it is timed
    // in the same JIT state as the ops it is the unit of.
    control(); control()
    phase("warm")

    // The timed loop. In a traced run every other op is traced, so the
    // untraced ops in between give the tracing overhead in the same JVM.
    val ops = ArrayBuffer.empty[String]
    var fs = walk(tableDir)
    var files = w.log.update().allFiles.map(f => f.path -> f).toMap
    val numRecords = "\"numRecords\":(\\d+)".r
    def records(f: graft.log.AddFile): Long = Option(f.stats)
      .flatMap(numRecords.findFirstMatchIn(_)).map(_.group(1).toLong).getOrElse(0L)
    val ampStart = fs
    var ampRows = 0L
    var writeAmp = Double.NaN
    var spaceAmp = Double.NaN
    var busy = 0.0
    var n = 0
    val sc = spark.sparkContext
    while (n < minOps || busy < seconds) {
      val i = w.warmOps + n
      val op = next(i)
      val tracedOp = traced && n % 2 == 1
      tr.begin(n, tracedOp)
      if (tracedOp) sc.setLocalProperty(counters.Property, n.toString)
      val c0 = cpuNs()
      val j0 = jitMs()
      val g0 = gcMs()
      val e0 = System.currentTimeMillis()
      val s = System.nanoTime()
      var ran = true
      try tr.span(s"op.${op.kind}")(op.run()) catch {
        case e: Exception => System.err.println(s"op failed: $e"); ran = false
      }
      val lat = (System.nanoTime() - s) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val e1 = System.currentTimeMillis()
      val jit = jitMs() - j0
      val gc = gcMs() - g0
      sc.setLocalProperty(counters.Property, null)
      tr.end()
      attempted += 1
      val ok = ran && op.check()
      if (!ok) failed += 1
      busy += lat
      val rec = ArrayBuffer(
        "kind" -> Json.str(op.kind), "lat" -> Json.num(lat), "cpu" -> Json.num(cpu),
        "rows" -> (if (ran) op.rows else 0L).toString, "changed" -> op.changed.toString,
        "ok" -> ok.toString, "traced" -> tracedOp.toString,
        "t0_ms" -> e0.toString, "t1_ms" -> e1.toString,
        "jit_ms" -> jit.toString, "gc_ms" -> gc.toString)
      if (n < AmpOps) ampRows += op.changed
      if (traced) {
        // Untimed probes after the op: what it wrote, which files now
        // carry a new DV, and what the skipping layer keeps for its keys.
        val now = walk(tableDir)
        val add = added(fs, now)
        fs = now
        for ((c, (bytes, count)) <- add)
          rec ++= Seq(s"${c}_bytes" -> bytes.toString, s"${c}_files" -> count.toString)
        val snap = w.log.update()
        val nowFiles = snap.allFiles.map(f => f.path -> f).toMap
        rec += "dvs_written" -> nowFiles.values.count(f =>
          f.dvPath.isDefined && files.get(f.path).forall(_.dvPath != f.dvPath)).toString
        rec += "rows_written" ->
          nowFiles.values.filterNot(f => files.contains(f.path)).map(records).sum.toString
        files = nowFiles
        if (tracedOp) {
          val (lo, hi) = op.keyRange
          val ps = System.nanoTime()
          val kept = StatsSkipping.filterFiles(spark, snap.allFiles, snap.metadata.schema,
            Seq(Workload.keyFilter(lo, hi)))
          tr.record("stats.skip", n, ps, System.nanoTime(), Map(
            "kept" -> kept.size.toDouble, "files" -> snap.allFiles.size.toDouble))
        }
      }
      ops += Json.obj(rec)
      n += 1
      if (n % ControlEvery == 0) control()
      if (n == AmpOps) {
        val now = walk(tableDir)
        val addedBytes = now.iterator.filter { case (p, s) => ampStart.get(p).forall(_ != s) }
          .map(_._2).sum
        writeAmp =
          if (ampRows > 0) addedBytes / (ampRows * bytesPerRow)
          else setupBytes / (Data.Orders * Data.BaseLines * bytesPerRow) // set-up's writes
        spaceAmp = now.values.sum.toDouble / w.log.update().sizeInBytes
      }
    }

    phase("loop")
    // Heap still held with the table open, after a forced collection.
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (traced) counters.drain()
    val endSnap = w.log.update()
    val endFiles = endSnap.allFiles
    val liveRows = endFiles.map(records).sum
    control(); control()

    // Oracle: reopen cold and compare the content fingerprint with the
    // generated inputs after every op that ran.
    coldOpen(w.path)
    val got = Data.fingerprint(GraftTable.forPath(spark, w.path).toDF)
    val want = Data.fingerprint(w.expected(w.warmOps + n))
    val contentOk = got == want
    if (!contentOk) {
      failed += 1
      System.err.println(s"content mismatch: table $got, oracle $want")
    }

    phase("verify")
    val opCounts = if (!traced) Nil else (0 until n).flatMap(i => counters.counts(i).map { c =>
      i.toString -> Json.obj(Seq(
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
        "cpu_s" -> Json.num(c.cpuNs / 1e9), "gc_s" -> Json.num(c.gcMs / 1e3),
        "shuffle_bytes" -> c.shuffleBytes.toString,
        "scan_files" -> c.scanFiles.toString, "scan_bytes" -> c.scanBytes.toString,
        "scan_rows" -> c.scanRows.toString,
        "job_spans" -> c.jobSpans.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")))
    })
    val out = Json.obj(Seq(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString, "cores" -> cores,
      "traced" -> traced.toString,
      "attempted" -> (attempted + 1).toString, "failed" -> failed.toString,
      "content_ok" -> contentOk.toString, "warm_ops" -> w.warmOps.toString,
      "session_s" -> Json.num(sessionS), "setup_table_s" -> Json.arr(setups),
      "open_s" -> Json.arr(opens), "control_s" -> Json.arr(controls),
      "write_amp" -> Json.num(writeAmp), "space_amp" -> Json.num(spaceAmp),
      "retained_heap_mb" -> Json.num(heapMb),
      "phase_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "live_files" -> endFiles.size.toString,
      "files_with_dv" -> endFiles.count(_.dvPath.isDefined).toString,
      "dv_rows" -> endFiles.flatMap(_.dvCardinality).sum.toString,
      "live_rows_with_deleted" -> liveRows.toString,
      "ops" -> ops.mkString("[", ",", "]"),
      "op_counts" -> Json.obj(opCounts)))
    writeFile(opt("out"), Seq(out))
    opt.get("spans").foreach(p => writeFile(p, tr.jsonl.toSeq))
    spark.stop()
    System.exit(if (contentOk) 0 else 1)
  }

  private def writeFile(path: String, lines: Seq[String]): Unit = {
    val pw = new PrintWriter(path, "UTF-8")
    try lines.foreach(pw.println) finally pw.close()
  }

  private def deleteAll(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteAll))
    f.delete()
  }
}
