package graft.commands

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}

import graft.GraftTable
import graft.expressions.ZOrder
import graft.files.{GraftCommitProtocol, GraftFileIndex}
import graft.log._
import graft.stats.FooterStats
import graft.tx.OptimisticTransaction

/**
 * OPTIMIZE: greedy bin-packing of small files into ~targetFileSize
 * outputs, per partition, committed with dataChange=false so streaming
 * readers skip it. OPTIMIZE ZORDER BY: rewrite the selection clustered on
 * an interleaved-bits curve over quantile bucket ids, laid out with
 * `repartitionByRange` + `sortWithinPartitions` (one range shuffle).
 * (Reference concept: commands/OptimizeTableCommand.scala:263-559 +
 * skipping/MultiDimClustering.scala:66-120 — re-designed.)
 */
class OptimizeBuilder(table: GraftTable) {
  private var predicate: Option[String] = None
  private var fullMode: Boolean = false
  def where(p: String): OptimizeBuilder = { predicate = Some(p); this }

  /** OPTIMIZE FULL: on a clustered table, re-cluster EVERY selected file,
    * not just the ones written since the last OPTIMIZE. Rejected on
    * non-clustered tables and with ZORDER/HILBERT BY (which always
    * rewrite the full selection anyway) — never a silent no-op. */
  def full(): OptimizeBuilder = { fullMode = true; this }

  def executeCompaction(): DataFrame = {
    require(!fullMode ||
      table.snapshot.metadata.configuration.contains("graft.clusterBy"),
      "OPTIMIZE FULL requires a clustered table (graft.clusterBy)")
    OptimizeCommand.compact(table, predicate, fullMode)
  }

  def executeZOrderBy(cols: String*): DataFrame = {
    require(!fullMode, "OPTIMIZE FULL cannot be combined with ZORDER BY; " +
      "ZORDER already rewrites the full selection")
    OptimizeCommand.cluster(table, predicate, cols, hilbert = false)
  }

  /** Hilbert-curve clustering: same quantile bucketing, better locality
    * (no Z-shape jumps), so multi-column range scans prune harder. */
  def executeHilbertBy(cols: String*): DataFrame = {
    require(!fullMode, "OPTIMIZE FULL cannot be combined with HILBERT BY; " +
      "HILBERT already rewrites the full selection")
    OptimizeCommand.cluster(table, predicate, cols, hilbert = true)
  }
}

object OptimizeCommand {
  val defaultMaxFileSize: Long = 1024L * 1024 * 1024

  private def conf(m: Metadata, key: String, default: Long): Long =
    m.configuration.get(key).map(_.toLong).getOrElse(default)

  /** Files already laid out by incremental clustering carry this tag. */
  val CLUSTERED_TAG = "clustered"

  /** Cube id tag: every incremental clustering pass stamps its output
    * with one fresh cube id. A cube whose files total at least
    * `graft.cluster.targetCubeSize` is STABLE and never revisited by
    * incremental OPTIMIZE; smaller cubes stay eligible, so successive
    * passes merge undersized cubes with fresh writes instead of freezing
    * early small layouts forever — steady-state cost still tracks
    * ingest, but locality converges to target-size cubes. (Reference
    * concept: clustering ZCUBEs — re-designed onto AddFile tags.) */
  val CUBE_TAG = "clusterCube"

  def compact(table: GraftTable, predicate: Option[String],
      full: Boolean = false,
      partitions: Option[Set[Map[String, String]]] = None): DataFrame = {
    val spark = table.spark
    val log = table.log
    val metrics = log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      // Liquid-style clustering: with `graft.clusterBy` set, OPTIMIZE is
      // INCREMENTAL clustering — only files not yet carrying the
      // clustered tag (i.e. new writes since the last OPTIMIZE) are
      // rewritten onto the Hilbert curve; steady-state cost tracks
      // ingest, not table size. (Reference concept: liquid clustering /
      // clusteredTable — re-designed onto AddFile tags.)
      val clusterBy = m.configuration.get("graft.clusterBy")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).filter(_.nonEmpty)
      clusterBy.foreach { cols =>
        // FULL ignores cube state: everything re-clusters (the way to
        // recover global locality after ALTER ... CLUSTER BY changed the
        // columns). Incremental passes rewrite unclustered files PLUS
        // any undersized (unstable) cubes, merging them into one new
        // cube; stable cubes are never touched.
        val selected = selectFiles(spark, txn, m, predicate, partitions)
        val targetCube = conf(m, "graft.cluster.targetCubeSize",
          10L * 1024 * 1024 * 1024)
        def cubeOf(f: AddFile): Option[String] =
          Option(f.tags).flatMap(_.get(CUBE_TAG))
        val cubeSizes: Map[String, Long] = selected
          .flatMap(f => cubeOf(f).map(_ -> f.size))
          .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
        def stableCube(f: AddFile): Boolean =
          cubeOf(f).exists(c => cubeSizes(c) >= targetCube)
        // Untagged files (and legacy clustered-without-cube files) have
        // no cube, hence are never stable, hence always eligible.
        val eligible = if (full) selected else selected.filterNot(stableCube)
        // No-op guard: when every eligible file already sits in the SAME
        // cube and nothing new arrived, a rewrite would churn bytes for
        // zero locality gain.
        val cubes = eligible.flatMap(cubeOf).distinct
        val noGain = !full && eligible.nonEmpty &&
          eligible.forall(f => cubeOf(f).isDefined) && cubes.size == 1
        val candidates = if (noGain) Nil else eligible
        val newCube = java.util.UUID.randomUUID().toString
        val metrics =
          if (candidates.isEmpty) Map("numFilesClustered" -> "0")
          else {
            val adds = clusterRewrite(spark, log, txn, m, candidates, cols,
                hilbert = true)
              .map(a => a.copy(tags =
                Option(a.tags).getOrElse(Map.empty) +
                  (CLUSTERED_TAG -> "true") + (CUBE_TAG -> newCube)))
            val now = System.currentTimeMillis()
            val removes = candidates.map(_.remove(now, dataChange = false))
            val mm = Map(
              "numFilesClustered" -> candidates.size.toString,
              "numFilesAdded" -> adds.size.toString,
              "clusterBy" -> cols.mkString(","))
            txn.commit(removes ++ adds, "OPTIMIZE CLUSTER", operationMetrics = mm)
            mm
          }
        return metricsDF(spark, metrics)
      }
      val minSize = conf(m, "graft.optimize.minFileSize", defaultMaxFileSize / 2)
      val maxSize = conf(m, "graft.optimize.maxFileSize", defaultMaxFileSize)
      val files = selectFiles(spark, txn, m, predicate, partitions)
        .filter(_.size < minSize)
      val bins = files.groupBy(_.partitionValues).toSeq.flatMap { case (_, fs) =>
        binPack(fs, maxSize)
      }.filter(_.size > 1)
      // Bins rewrite as CONCURRENT Spark jobs from a bounded pool: at
      // scale a table has thousands of bins and serializing them leaves
      // the cluster idle (reference: OptimizeTableCommand.scala:303+).
      val adds = runBinsInParallel(spark, bins) { bin =>
        // Row-tracked tables: materialize the row ids into the compacted
        // file so identity survives the rewrite.
        val df =
          if (graft.log.RowTracking.isEnabled(m))
            graft.log.RowTracking.scanWithRowIds(spark, log, txn.snapshot, Some(bin)).coalesce(1)
          else Dml.scanFiles(spark, log, txn, bin).coalesce(1)
        txn.writeFiles(df, dataChange = false)
      }
      val now = System.currentTimeMillis()
      val removes = bins.flatten.map(_.remove(now, dataChange = false))
      val metrics = Map(
        "numFilesRemoved" -> removes.size.toString,
        "numFilesAdded" -> adds.size.toString)
      if (bins.nonEmpty) txn.commit(removes ++ adds, "OPTIMIZE",
        operationMetrics = metrics)
      metrics
    }
    metricsDF(spark, metrics)
  }

  def cluster(
      table: GraftTable,
      predicate: Option[String],
      cols: Seq[String],
      hilbert: Boolean): DataFrame = {
    require(cols.nonEmpty, "clustering requires at least one column")
    val spark = table.spark
    val log = table.log
    val metrics = log.withNewTransaction { txn =>
      val m = txn.snapshot.metadata
      require(cols.forall(c => !m.partitionColumns.contains(c)),
        "Cannot ZORDER BY a partition column")
      val files = selectFiles(spark, txn, m, predicate)
      if (files.isEmpty) return metricsDF(spark, Map.empty)
      val adds = clusterRewrite(spark, log, txn, m, files, cols, hilbert)
      val now = System.currentTimeMillis()
      val removes = files.map(_.remove(now, dataChange = false))
      val metrics = Map(
        "numFilesRemoved" -> removes.size.toString,
        "numFilesAdded" -> adds.size.toString,
        (if (hilbert) "hilbertBy" else "zOrderBy") -> cols.mkString(","))
      txn.commit(removes ++ adds,
        if (hilbert) "OPTIMIZE HILBERT" else "OPTIMIZE ZORDER",
        operationMetrics = metrics)
      metrics
    }
    metricsDF(spark, metrics)
  }

  /** Rewrite `files` laid out on the chosen curve over `cols` in TWO
    * corpus passes, the floor for data-dependent clustering: one bounded
    * deterministic sample yields BOTH the per-column quantile-bucket
    * boundaries and the zkey range boundaries (the old shape paid a
    * third pass — approxQuantile scanned everything, then
    * `repartitionByRange` re-sampled the scan + curve kernel to place
    * its ranges), then the write pass routes each row by binary search
    * over those boundaries. Routing uses [[partitionRouting]]'s exact
    * murmur-inversion table, so ORDERED zkey buckets land in ordered
    * partitions — contiguous zkey ranges per output file, exactly the
    * min/max locality ZORDER exists for (NOT the hash-scatter trap:
    * bucket b maps to partition b, not to pmod(hash(b), n)). Returns the
    * new AddFiles (dataChange=false). */
  private def clusterRewrite(
      spark: SparkSession,
      log: GraftLog,
      txn: OptimisticTransaction,
      m: Metadata,
      files: Seq[AddFile],
      cols: Seq[String],
      hilbert: Boolean): Seq[AddFile] = {
    val maxSize = conf(m, "graft.optimize.maxFileSize", defaultMaxFileSize)
    val df =
      if (graft.log.RowTracking.isEnabled(m))
        graft.log.RowTracking.scanWithRowIds(spark, log, txn.snapshot, Some(files))
      else Dml.scanFiles(spark, log, txn, files)
    val buckets = 1 << math.max(4, 15 / cols.size)
    def asDouble(c: String): Column = m.schema(c).dataType match {
      case _: NumericType => col(c).cast("double")
      case _: TimestampType => col(c).cast("double")
      case _: DateType => col(c).cast("timestamp").cast("double")
      // No natural order statistics: hash (loses locality, keeps function)
      case _ => (xxhash64(col(c)) % 1000000L).cast("double")
    }
    val zNames = cols.indices.map(i => s"__z$i")
    val probe = df.select(cols.zip(zNames).map { case (c, n) => asDouble(c).as(n) }: _*)
    val targetFiles = math.max(1, (files.map(_.size).sum / maxSize).toInt)
    // Sample size: enough for stable per-column equi-depth cuts AND
    // ~200 rows per output range; row count estimated from AddFile stats
    // (free — no count pass), so the fraction needs no extra scan.
    val want = math.min(1000000L, math.max(10000L, targetFiles * 200L))
    val estRows = estimateRows(files)
    val fraction = math.min(1.0, want.toDouble / math.max(estRows, 1L))
    // Stats that overstate numRecords (or stats-less files of very wide
    // rows) can shrink the fraction until no row is drawn; the leading
    // rows then stand in, so a non-empty table always yields cuts.
    val sampled = Some(probe.sample(withReplacement = false, fraction, seed = 42)
      .collect()).filter(_.nonEmpty).getOrElse(probe.limit(want.toInt).collect())
    def cuts(sorted: Array[Double], k: Int): Array[Double] =
      (1 to k).map(j => sorted(math.min(sorted.length - 1,
        (j.toLong * sorted.length / (k + 1)).toInt))).toArray
    val allBoundaries = zNames.indices.map { i =>
      val vs = sampled.iterator.filter(r => !r.isNullAt(i))
        .map(_.getDouble(i)).toArray
      java.util.Arrays.sort(vs)
      if (vs.isEmpty) Array.empty[Double] else cuts(vs, buckets - 1)
    }
    val zparts = cols.zip(allBoundaries).map { case (c, boundaries) =>
      ZOrder.boundaryBucket(asDouble(c), boundaries)
    }
    val bitsPerDim = math.max(4, 15 / cols.size)
    def curve(parts: Seq[Column]): Column =
      if (hilbert) ZOrder.hilbertIndex(parts, bitsPerDim)
      else ZOrder.interleaveBits(parts)
    // zkey range boundaries: the SAME bucket+curve expressions evaluated
    // over the sample (a driver-local frame — one metadata-sized job), so
    // the write pass and the boundary derivation can never diverge.
    val zBounds: Array[Double] =
      if (sampled.isEmpty || targetFiles <= 1) Array.empty
      else {
        val localDf = spark.createDataFrame(
          java.util.Arrays.asList(sampled: _*), probe.schema)
        val localParts = zNames.zip(allBoundaries).map { case (n, b) =>
          ZOrder.boundaryBucket(col(n), b)
        }
        val zs = localDf.select(curve(localParts).as("z")).collect()
          .map(_.getLong(0).toDouble)
        java.util.Arrays.sort(zs)
        cuts(zs, targetFiles - 1)
      }
    val route = partitionRouting(targetFiles)
    val clustered = df
      .withColumn("__zkey", curve(zparts))
      .withColumn("__route", element_at(lit(route),
        ZOrder.boundaryBucket(col("__zkey").cast("double"), zBounds) + 1))
      .repartition(targetFiles, col("__route"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey", "__route")
    txn.writeFiles(clustered, dataChange = false)
  }

  /** Estimated selected-row count from AddFile stats (numRecords), byte
    * heuristic when a file carries none — only steers the sample
    * fraction, never correctness. */
  private def estimateRows(files: Seq[AddFile]): Long =
    files.map(f => graft.stats.StatsSpace.numRecords(f.stats).filter(_ >= 0L)
      .getOrElse(math.max(1L, f.size / 64))).sum

  /** Exact inversion of Spark's `repartition(n, expr)` placement
    * (pmod(murmur3(expr, seed 42), n)): route(b) is an int that lands in
    * partition b, so `repartition(n, element_at(route, bucket + 1))`
    * places ordered bucket ids in ordered partitions. Expected n·ln n
    * probes; n is the rewrite's output-file count. A unit test pins this
    * against Spark's actual placement. */
  private[graft] def partitionRouting(n: Int): Array[Int] = {
    val route = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var x = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; route(p) = x; remaining -= 1 }
      x += 1
    }
    route
  }

  private def metricsDF(spark: SparkSession, m: Map[String, String]): DataFrame = {
    import spark.implicits._
    m.toSeq.toDF("metric", "value")
  }

  /** Candidate files for OPTIMIZE: an optional partition-only SQL
    * predicate (user-facing `WHERE`), narrowed by an optional exact
    * PHYSICAL partitionValues set (auto-compact targets the pressured
    * partitions this way — no SQL literal round-trip, so values with
    * quotes/backslashes and parser-mode differences cannot misroute). */
  def selectFiles(
      spark: SparkSession,
      txn: OptimisticTransaction,
      m: Metadata,
      predicate: Option[String],
      partitions: Option[Set[Map[String, String]]] = None): Seq[AddFile] = {
    val base = (predicate, partitions) match {
      case (Some(p), _) =>
        val cond = spark.sessionState.sqlParser.parseExpression(p)
        val (partF, dataF) = WriteIntoGraft.splitPredicates(cond, m)
        require(dataF.isEmpty, s"OPTIMIZE predicate must be partition-only: $p")
        txn.filterFiles(partF, Nil)
      case (None, Some(ps)) if m.partitionColumns.nonEmpty && ps.nonEmpty =>
        // Prune to the target partitions IN the scan (distributed above
        // the venue threshold) — a bare filterFiles() would materialize
        // the whole file list on the driver just to drop most of it.
        // splitPredicates resolves the attributes against the schema;
        // the exact-set filter below then makes the selection precise
        // regardless of cast corner cases in the pruning predicate.
        val (partF, _) =
          WriteIntoGraft.splitPredicates(partitionSetPredicate(m, ps), m)
        txn.filterFiles(partF, Nil)
      case _ => txn.filterFiles()
    }
    partitions.fold(base)(ps => base.filter(f => ps(f.partitionValues)))
  }

  /** OR-of-ANDs pruning predicate (LOGICAL names, as user predicates
    * arrive) for an exact set of PHYSICAL partitionValues maps — the
    * same Expression shape `WHERE part = CAST('v' AS t)` parses to, so
    * it rides the standard partition-pruning path. */
  private def partitionSetPredicate(
      m: Metadata, ps: Set[Map[String, String]])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{
      And, Cast, EqualTo, Expression, IsNull, Literal, Or}
    val phys = graft.schema.ColumnMapping.physicalPartitionColumns(m)
    val typeOf = m.schema.map(f => f.name -> f.dataType).toMap
    ps.toSeq.map { pv =>
      m.partitionColumns.zip(phys).map { case (c, ph) =>
        pv.get(ph) match {
          case Some(v) if v != null =>
            EqualTo(UnresolvedAttribute.quoted(c), Cast(Literal(v),
              typeOf.getOrElse(c,
                org.apache.spark.sql.types.StringType))): Expression
          case _ => IsNull(UnresolvedAttribute.quoted(c)): Expression
        }
      }.reduceOption[Expression](And(_, _)).getOrElse(Literal(true))
    }.reduceOption[Expression](Or(_, _)).getOrElse(Literal(true))
  }

  /** Run one Spark job per bin from a bounded thread pool. */
  private def runBinsInParallel[T](
      spark: SparkSession,
      bins: Seq[Seq[AddFile]])(body: Seq[AddFile] => Seq[T]): Seq[T] = {
    if (bins.isEmpty) return Nil
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val threads = math.max(1, math.min(bins.size, 8))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(bins.map(b => Future(body(b)))), Duration.Inf).flatten
    finally pool.shutdown()
  }

  def binPack(files: Seq[AddFile], maxSize: Long): Seq[Seq[AddFile]] = {
    val bins = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[AddFile]]
    var current = mutable.ArrayBuffer.empty[AddFile]
    var size = 0L
    files.sortBy(_.size).foreach { f =>
      if (size + f.size > maxSize && current.nonEmpty) {
        bins += current; current = mutable.ArrayBuffer.empty; size = 0
      }
      current += f; size += f.size
    }
    if (current.nonEmpty) bins += current
    bins.map(_.toSeq).toSeq
  }
}

/**
 * REORG TABLE ... APPLY (PURGE): rewrite exactly the files carrying
 * deletion vectors, materializing the DVs into clean parquet — the
 * sidecars become unreferenced and VACUUM-able, and the table becomes
 * streamable again. Committed with dataChange=false (no logical change).
 * (Reference concept: commands/ReorgTableCommand.scala — re-designed.)
 */
object ReorgCommand {
  /** `where`: optional partition predicate bounding the purge (reference
    * grammar: REORG TABLE t WHERE <pred> APPLY (PURGE)) — pruning runs
    * through the normal filterFiles path, so only DV-carrying files in
    * the selected partitions rewrite. */
  def purge(
      spark: SparkSession,
      log: GraftLog,
      where: Option[String] = None): DataFrame = {
    import spark.implicits._
    val metrics = log.withNewTransaction { txn =>
      val candidates = where match {
        case Some(cond) =>
          val e = spark.sessionState.sqlParser.parseExpression(cond)
          val (partF, dataF) =
            WriteIntoGraft.splitPredicates(e, txn.snapshot.metadata)
          require(dataF.isEmpty,
            s"REORG WHERE supports partition predicates only, got: $cond")
          txn.filterFiles(partF, Nil)
        case None => txn.filterFiles()
      }
      val dvFiles = candidates.filter(_.dvPath.isDefined)
      if (dvFiles.isEmpty) Map("numFilesRewritten" -> "0")
      else {
        val df = Dml.scanFiles(spark, log, txn, dvFiles)  // DV-filtered
        val adds = txn.writeFiles(df, dataChange = false)
        val now = System.currentTimeMillis()
        val removes = dvFiles.map(_.remove(now, dataChange = false))
        val m = Map(
          "numFilesRewritten" -> dvFiles.size.toString,
          "numFilesAdded" -> adds.size.toString,
          "numDeletionVectorsRemoved" -> dvFiles.size.toString)
        txn.commit(removes ++ adds, "REORG", operationMetrics = m)
        m
      }
    }
    metrics.toSeq.toDF("metric", "value")
  }
}

/**
 * VACUUM: physically delete files no longer referenced by the current
 * snapshot whose tombstones (or mtimes) are older than the retention
 * window. The driver lists only the table root; each subdirectory walks
 * on an executor, and the survivors are found by a distributed anti-join
 * against the snapshot's file list — so a 100 TB table's millions of
 * files never serialize through the driver. Deletion runs distributed
 * with fully-qualified URIs (any scheme, not just file:); only
 * already-gone files are silently skipped, every other failure fails
 * the job. (Reference concept: commands/VacuumCommand.scala:147 —
 * re-designed.)
 */
object VacuumCommand {

  /** Safety floor mirroring the reference's checkRetentionPeriodSafety:
    * retention below the table's tombstone-retention window risks
    * deleting files still referenced by readers or by in-flight
    * (not-yet-committed) transactions whose mtime is ~now. */
  val defaultRetentionHours: Double = 7 * 24.0
  val retentionCheckConf = "spark.graft.vacuum.retentionCheck.enabled"

  /** @param inventory user-supplied listing replacing the filesystem walk
    *   (reference concept: VacuumCommand inventory option — re-designed):
    *   columns (path, length, isDir, modificationTime), e.g. from a cloud
    *   storage inventory report. Paths may be absolute URIs or
    *   table-relative. Rows under the log/CDC directories are ignored. */
  def run(
      spark: SparkSession,
      log: GraftLog,
      retentionHours: Double,
      dryRun: Boolean,
      lite: Boolean = false,
      inventory: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val snap = log.update()
    // vacuumProtocolCheck: deleting files is a write even though it never
    // commits, so a table carrying the feature demands the full writer
    // gate — a client ignorant of some writer feature (say, an index it
    // should maintain) must not be the one unlinking data files.
    if (snap.protocol.writerFeatureNames.contains("vacuumProtocolCheck") ||
        snap.protocol.readerFeatureNames.contains("vacuumProtocolCheck")) {
      require(graft.log.TableFeatures.writable(snap.protocol,
        graft.log.TableFeatures.FEATURES_WRITER_VERSION,
        graft.log.TableFeatures.supportedWriterFeatures),
        s"VACUUM on ${log.dataPath} requires writer features " +
          s"${snap.protocol.writerFeatureNames.mkString(", ")} " +
          "(vacuumProtocolCheck is active)")
    }
    val checkEnabled =
      spark.conf.getOption(retentionCheckConf).forall(_.toBoolean)
    val minRetention = snap.metadata.configuration
      .get("graft.deletedFileRetentionHours").map(_.toDouble)
      .getOrElse(defaultRetentionHours)
    require(!checkEnabled || retentionHours >= minRetention,
      s"VACUUM retentionHours=$retentionHours is below the table's safety " +
        s"window of $minRetention h; uncommitted or still-read files could " +
        s"be deleted. Set $retentionCheckConf=false to override.")
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    if (lite) return runLite(spark, log, snap, cutoff, dryRun)
    val fs = log.store.fs(log.dataPath)
    val confBc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val rootUri = log.dataPath.toUri

    val rootScheme = rootUri.getScheme
    val rootAuthority = rootUri.getAuthority
    val rootStr = log.dataPath.toString
    def qualify(rel: String): String = {
      val p = new Path(rel)
      if (!p.isAbsolute) new Path(new Path(rootStr), rel).toString
      else if (p.toUri.getScheme != null) p.toString
      else new Path(rootScheme, rootAuthority, p.toUri.getPath).toString
    }
    val qualifyF = qualify _

    inventory match {
      case Some(inv) =>
        val cols = inv.columns.map(_.toLowerCase)
        require(cols.contains("path") && cols.contains("modificationtime"),
          "vacuum inventory needs at least (path, modificationTime) columns")
        // modificationTime must become epoch MILLIS whatever the column
        // type: a timestamp column naively cast to long yields SECONDS,
        // which would make every file look ancient and defeat the
        // retention guard.
        val mtimeCol = inv.schema(inv.columns.find(
          _.equalsIgnoreCase("modificationTime")).get).dataType match {
          case _: org.apache.spark.sql.types.TimestampType =>
            unix_millis(col("modificationTime"))
          case _: org.apache.spark.sql.types.TimestampNTZType =>
            unix_millis(col("modificationTime").cast("timestamp"))
          case _: org.apache.spark.sql.types.NumericType =>
            col("modificationTime").cast("long")
          case other => throw new IllegalArgumentException(
            s"inventory modificationTime must be numeric epoch-millis or " +
              s"timestamp, got $other")
        }
        val listed = inv
          .where(if (cols.contains("isdir")) !col("isDir") else lit(true))
          .select(col("path").cast("string").as[String], mtimeCol.as[Long])
          .map { case (p, m) => (qualifyF(p), m) }
          .toDF("path", "mtime")
          // A cloud inventory report commonly spans the whole bucket:
          // only rows under THIS table's root are vacuum candidates —
          // anything else (other tables, unrelated data) must never be
          // deleted. (Reference: VacuumCommand filters inventory with
          // startswith(path, basePath).)
          .where(col("path").startsWith(rootStr + "/") &&
            !col("path").contains("/_graft_log/") &&
            !col("path").contains("/_change_data/") &&
            // same hidden-file surface as the filesystem walk
            !element_at(split(col("path"), "/"), -1).startsWith(".") &&
            !element_at(split(col("path"), "/"), -1).startsWith("_"))
        return finish(spark, log, snap, cutoff, dryRun, listed, confBc, qualifyF)
      case None => ()
    }

    // Distributed recursive listing: driver lists the root once, each
    // top-level subdirectory (e.g. a hive partition dir) walks on an
    // executor. Skips the log, the CDC directory, and hidden files.
    val rootStatuses = fs.listStatus(log.dataPath).filterNot { st =>
      val n = st.getPath.getName
      st.isDirectory && (n == "_graft_log" || n == "_change_data" ||
        n == "_delta_log")
    }
    val (dirs, plainFiles) = rootStatuses.partition(_.isDirectory)
    val rootFiles = plainFiles.toSeq
      .filterNot(st => st.getPath.getName.startsWith(".") ||
        st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("deletion_vector_"))
      .map(st => (st.getPath.toString, st.getModificationTime))
    val dirPaths = dirs.map(_.getPath.toString).toSeq
    val walked =
      if (dirPaths.isEmpty) spark.emptyDataset[(String, Long)]
      else spark.createDataset(dirPaths)
        .repartition(math.max(1, math.min(dirPaths.size, 64)))
        .flatMap { d =>
          val out = mutable.ArrayBuffer.empty[(String, Long)]
          val stack = mutable.Stack(new Path(d))
          val efs = stack.top.getFileSystem(confBc.value)
          while (stack.nonEmpty) {
            efs.listStatus(stack.pop()).foreach { st =>
              val name = st.getPath.getName
              if (st.isDirectory) {
                // _delta_log is the Delta-format mirror / a converted
                // table's original log — VACUUM must never eat it.
                if (name != "_graft_log" && name != "_change_data" &&
                  name != "_delta_log") stack.push(st.getPath)
              } else if (!name.startsWith(".") && !name.startsWith("_") &&
                  // spec-format Delta DV files written by the mirror are
                  // referenced from _delta_log, which the survivor set
                  // does not model — leave them out of candidacy.
                  !name.startsWith("deletion_vector_")) {
                out += ((st.getPath.toString, st.getModificationTime))
              }
            }
          }
          out
        }
    val listed = walked.union(spark.createDataset(rootFiles)).toDF("path", "mtime")
    finish(spark, log, snap, cutoff, dryRun, listed, confBc, qualifyF)
  }

  /** Anti-join the listing against the survivors and delete the rest. */
  private def finish(
      spark: SparkSession,
      log: GraftLog,
      snap: graft.log.Snapshot,
      cutoff: Long,
      dryRun: Boolean,
      listed: DataFrame,
      confBc: org.apache.spark.util.SerializableConfiguration,
      qualify: String => String): DataFrame = {
    import spark.implicits._
    // Survivors = current files (+ their DV sidecars) + tombstones still
    // inside retention, all as fully-qualified URIs matching the
    // listing's format. One executor-side pass over the file state — on a
    // lazy checkpoint-backed snapshot the driver never holds it.
    val liveDS = snap.allFilesDS
      .flatMap(f => f.dvPath.toSeq :+ f.path).map(qualify)
    val keptTombstones = snap.tombstonesDS
      .filter((r: graft.log.RemoveFile) =>
        r.deletionTimestamp.forall(_ >= cutoff))
      .map(r => qualify(r.path))
    val keep = liveDS.union(keptTombstones).toDF("path")

    val candidates = listed
      .join(keep, Seq("path"), "left_anti")
      .where($"mtime" < cutoff)
      .select($"path")
      .persist()
    candidates.count()  // materialize the listing before any deletion

    if (!dryRun) {
      candidates.as[String].foreachPartition { it: Iterator[String] =>
        val conf = confBc.value
        it.foreach { pstr =>
          val p = new Path(pstr)
          // Already-gone is fine (concurrent vacuum); anything else fails
          // the job rather than silently leaking storage.
          try p.getFileSystem(conf).delete(p, false)
          catch { case _: java.io.FileNotFoundException => () }
        }
      }
    }
    candidates
  }

  /** LITE mode: reclaim from the LOG's tombstones instead of listing the
    * filesystem — O(removed files) instead of O(all files), the cheap
    * steady-state vacuum for a 100 TB table (a full listing pass is only
    * needed to catch orphans from crashed writes; run FULL occasionally).
    * Reconciled tombstones can never name a live file: a re-add of the
    * same path clears its tombstone during log replay. */
  private def runLite(
      spark: SparkSession,
      log: GraftLog,
      snap: graft.log.Snapshot,
      cutoff: Long,
      dryRun: Boolean): DataFrame = {
    import spark.implicits._
    val rootStr = log.dataPath.toString
    val rootUri = log.dataPath.toUri
    def qualify(rel: String): String = {
      val p = new Path(rel)
      if (!p.isAbsolute) new Path(new Path(rootStr), rel).toString
      else if (p.toUri.getScheme != null) p.toString
      else new Path(rootUri.getScheme, rootUri.getAuthority, p.toUri.getPath).toString
    }
    val expired = snap.tombstonesDS
      .filter((r: graft.log.RemoveFile) =>
        r.deletionTimestamp.exists(_ < cutoff))
      .map(r => qualify(r.path))
    val candidates = expired.toDF("path").persist()
    candidates.count()
    if (!dryRun) {
      val confBc = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      candidates.as[String].foreachPartition { it: Iterator[String] =>
        val conf = confBc.value
        it.foreach { pstr =>
          val p = new Path(pstr)
          try p.getFileSystem(conf).delete(p, false)
          catch { case _: java.io.FileNotFoundException => () }
        }
      }
    }
    candidates
  }
}

/**
 * RESTORE TABLE t TO VERSION v: one metadata commit re-adding the files
 * of the target snapshot and removing the ones added since — no data is
 * copied. (Reference concept: commands/RestoreTableCommand.scala:88-197.)
 */
object RestoreCommand {
  def run(spark: SparkSession, log: GraftLog, version: Long): Unit = {
    log.withNewTransaction { txn =>
      val current = txn.snapshot
      val target = log.getSnapshotAt(version)
      val now = System.currentTimeMillis()
      // Diff on (path, deletion vector), not the path alone: the same
      // path can carry a different DV across versions (a DV delete
      // rewrites no file), and restoring must re-commit the target's
      // entry so those rows resurrect — data files themselves are
      // immutable, so (path, dvPath) IS the entry's identity. Re-adding
      // overwrites the path in the log fold, so no paired remove is
      // needed. The diff runs as dataset anti-joins: the driver holds
      // only the CHANGED entries (what the restore commit must carry
      // anyway), never two full snapshots — restoring a 10M-file table
      // to a recent version is diff-sized.
      import org.apache.spark.sql.functions.col
      val enc = org.apache.spark.sql.Encoders.product[graft.log.AddFile]
      val curKeys = current.allFilesDS.select(
        col("path").as("__cp"), col("dvPath").as("__cdv"))
      val adds = target.allFilesDS.as("t")
        .join(curKeys, col("path") === col("__cp") &&
          col("dvPath") <=> col("__cdv"), "left_anti")
        .as[graft.log.AddFile](enc).collect().toSeq
      val removes = current.allFilesDS.as("c")
        .join(target.allFilesDS.select(col("path").as("__tp")),
          col("path") === col("__tp"), "left_anti")
        .as[graft.log.AddFile](enc).collect().toSeq
        .map(_.remove(now))
      txn.readWholeTable()
      // RESTORE replaces the WHOLE table state — schema, partitioning AND
      // configuration (reference RestoreTableCommand restores the full
      // metadata action). Identity high watermarks only ever advance:
      // keep the max of both sides so a restored table never re-issues
      // ids (the reference merges them the same way). The row-id domain
      // watermark is untouched for the same reason (monotone).
      val tm = target.metadata; val cm = current.metadata
      if (tm.schemaString != cm.schemaString ||
          tm.configuration != cm.configuration ||
          tm.partitionColumns != cm.partitionColumns) {
        val hwmKeys = (tm.configuration.keySet ++ cm.configuration.keySet)
          .filter(k => k.startsWith("graft.identity.") &&
            k.endsWith(".highWatermark"))
        val watermarked = tm.configuration ++ hwmKeys.flatMap { k =>
          val vs = (tm.configuration.get(k) ++ cm.configuration.get(k))
            .map(_.toLong)
          vs.maxOption.map(k -> _.toString)
        }
        // Redirect state is LIVE table state managed only by its state
        // machine (ENABLE/READY/DROP) — RESTORE neither clears an active
        // redirect nor resurrects a dropped one by reverting config. The
        // commit gate independently refuses file changes at a redirected
        // source, so this also keeps RESTORE from laundering the freeze.
        val redirectKeys =
          Seq(graft.log.TableRedirect.PROP, graft.log.TableRedirect.PROP_WRITER_ONLY)
        val merged = (watermarked -- redirectKeys) ++
          redirectKeys.flatMap(k => cm.configuration.get(k).map(k -> _))
        txn.updateMetadata(tm.copy(configuration = merged))
      }
      // restored configuration may re-require features (e.g. restoring
      // across a feature drop): re-install the gate in the same commit
      val bump = graft.log.TableFeatures
        .requiredUpgradeForMetadata(txn.snapshot.protocol, txn.metadata).toSeq
      txn.commit(bump ++ adds ++ removes, "RESTORE",
        operationParameters = Map("version" -> version.toString),
        operationMetrics = Map(
          "numRestoredFiles" -> adds.size.toString,
          "numRemovedFiles" -> removes.size.toString))
    }
  }
}

/**
 * CONVERT TO GRAFT: register an existing (optionally hive-partitioned)
 * Parquet directory as a graft table by listing its files into commit 0 —
 * data is never rewritten. (Reference: ConvertToDeltaCommand.scala:71.)
 */
object ConvertCommand {
  def run(spark: SparkSession, path: String): GraftTable = {
    val log = GraftLog.forTable(spark, path)
    require(!log.tableExists, s"$path is already a graft table")
    val df = spark.read.parquet(path)
    val schema = df.schema
    val fs = log.store.fs(log.dataPath)
    val rootUri = log.dataPath.toUri.getPath

    val files = mutable.ArrayBuffer.empty[AddFile]
    def walk(dir: Path, partitionValues: Map[String, String]): Unit = {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val pv = if (name.contains("=")) {
            partitionValues ++ GraftCommitProtocol.parsePartitions(name)
          } else partitionValues
          if (!name.startsWith("_") && !name.startsWith(".")) walk(st.getPath, pv)
        } else if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")) {
          val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
          files += AddFile(rel, partitionValues, st.getLen, st.getModificationTime,
            dataChange = true)
        }
      }
    }
    walk(log.dataPath, Map.empty)

    val partitionCols = files.headOption.map(_.partitionValues.keys.toSeq).getOrElse(Nil)
    val metadata = Metadata(
      schemaString = graft.schema.SchemaUtils.toNullable(schema).json,
      partitionColumns = partitionCols,
      createdTime = Some(System.currentTimeMillis()))
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionCols.contains(f.name)))
    val withStats = FooterStats.withStats(spark, log.dataPath, files.toSeq, dataSchema)
    log.withNewTransaction { txn =>
      txn.updateMetadata(metadata)
      txn.commit(withStats, "CONVERT",
        operationMetrics = Map("numConvertedFiles" -> files.size.toString))
    }
    new GraftTable(spark, log)
  }
}
