package graft.stats

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.log.{Actions, AddFile}

/**
 * Per-file column statistics (numRecords / minValues / maxValues /
 * nullCount) computed from Parquet footers — exact, and pure metadata
 * reads, so stats collection costs no data scan. Runs as a distributed
 * Spark job over the newly written files. (Reference concept:
 * stats/StatisticsCollection.scala:294-448, which aggregates during the
 * write; footers give the same numbers after the fact.)
 */
object FooterStats {

  val MAX_INDEXED_COLS = 32
  val MAX_STRING_LEN = 64

  /**
   * Which columns carry stats: the first `numIndexed` schema fields by
   * default, or an explicit physical-name list when the table sets
   * `graft.dataSkippingStatsColumns` (reference concept:
   * delta.dataSkippingStatsColumns, StatisticsCollection.scala
   * statsColumnSpec — re-designed). An explicit list both trims write
   * cost on wide tables AND extends skipping to columns past the
   * first-N cutoff.
   */
  case class StatsColumns(
      numIndexed: Int = MAX_INDEXED_COLS,
      explicit: Option[Seq[String]] = None) {
    def select(schema: StructType): Array[StructField] = {
      val base = explicit match {
        case Some(names) =>
          val wanted = names.map(_.toLowerCase).toSet
          schema.fields.filter(f => wanted(f.name.toLowerCase))
        case None => schema.fields.take(numIndexed)
      }
      base.flatMap(f => statsEligibleType(f.dataType)
        .map(t => f.copy(dataType = t)))
    }
  }

  /** Stats-space projection of a column's type — the shared
    * [[StatsSpace]] rule, so collection can never diverge from the
    * skipping/convert side. */
  private[stats] def statsEligibleType(dt: DataType): Option[DataType] =
    StatsSpace.eligibleType(dt)

  /** A small write's footers read faster on the driver than the fixed
    * cost of scheduling a Spark job; large writes distribute. */
  val DRIVER_READ_MAX_FILES = 32

  /** Attach a stats JSON to each AddFile. Distributed over the cluster
    * for large writes; driver-side for small ones (footer reads are a
    * few ms each, far below job-scheduling latency). */
  def withStats(
      spark: SparkSession,
      tablePath: Path,
      files: Seq[AddFile],
      dataSchema: StructType,
      statsColumns: StatsColumns = StatsColumns()): Seq[AddFile] = {
    if (files.isEmpty) return files
    val statCols = statsColumns.select(dataSchema)
      .filter(f => supported(f.dataType)).map(f => f.name -> f.dataType).toVector
    val root = tablePath.toString
    val statsByPath: Map[String, String] =
      if (files.size <= DRIVER_READ_MAX_FILES) {
        // Footer reads are independent ~2-5 ms I/O calls; a small thread
        // pool cuts the per-commit stats pass from ~150 ms to ~30 ms.
        val conf = spark.sessionState.newHadoopConf()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, files.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(files.map { f =>
            new java.util.concurrent.Callable[(String, String)] {
              def call(): (String, String) =
                f.path -> computeStatsJson(new Path(root, f.path), conf, statCols)
            }
          }.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      } else {
        val confBc = new SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        val sc = spark.sparkContext
        val slices = math.min(files.size, math.max(1, sc.defaultParallelism))
        sc.parallelize(files.map(_.path), slices)
          .map { rel =>
            rel -> computeStatsJson(new Path(root, rel), confBc.value, statCols)
          }.collect().toMap
      }
    files.map(f => f.copy(stats = statsByPath.getOrElse(f.path, null)))
  }

  private def supported(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: DoubleType | _: FloatType | _: StringType | _: BooleanType |
         _: DateType | _: TimestampType => true
    case _ => false
  }

  /** Read one footer and aggregate row-group stats into a stats JSON. */
  def computeStatsJson(
      file: Path,
      conf: Configuration,
      statCols: Vector[(String, DataType)]): String = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())
    val footer = try reader.getFooter finally reader.close()
    val blocks = footer.getBlocks
    var numRecords = 0L
    val mins = mutable.LinkedHashMap.empty[String, Any]
    val maxs = mutable.LinkedHashMap.empty[String, Any]
    val nulls = mutable.LinkedHashMap.empty[String, Long]
    blocks.forEach(b => numRecords += b.getRowCount)
    statCols.foreach { case (name, dt) =>
      var nullCount = 0L
      var nullsValid = true
      var min: Any = null
      var max: Any = null
      var valid = true
      blocks.forEach { b =>
        val col = b.getColumns.stream()
          .filter(c => c.getPath.size == 1 && c.getPath.toDotString == name)
          .findFirst().orElse(null)
        if (col == null) { valid = false; nullsValid = false }
        else {
          val s = col.getStatistics
          if (s == null) { valid = false; nullsValid = false }
          else {
            if (s.isNumNullsSet) nullCount += s.getNumNulls else nullsValid = false
            if (!s.hasNonNullValue) {
              // all-null row group: contributes nothing to min/max
            } else {
              val lo = convert(s.genericGetMin, dt, col)
              val hi = convert(s.genericGetMax, dt, col)
              if (lo == null || hi == null) valid = false
              else {
                if (min == null || compare(lo, min, dt) < 0) min = lo
                if (max == null || compare(hi, max, dt) > 0) max = hi
              }
            }
          }
        }
      }
      if (nullsValid) nulls(name) = nullCount
      if (valid && min != null) {
        (truncateMin(min, dt), truncateMax(max, dt)) match {
          case (Some(lo), Some(hi)) => mins(name) = lo; maxs(name) = hi
          case (Some(lo), None) => mins(name) = lo
          case _ =>
        }
      }
    }
    Actions.statsToJson(Map(
      "numRecords" -> numRecords,
      "minValues" -> mins.toMap,
      "maxValues" -> maxs.toMap,
      "nullCount" -> nulls.toMap))
  }

  private def convert(
      v: Any,
      dt: DataType,
      col: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Any = {
    dt match {
      case _: IntegerType | _: ShortType | _: ByteType =>
        v.asInstanceOf[Number].longValue()
      case _: LongType => v.asInstanceOf[Number].longValue()
      case _: DoubleType => v.asInstanceOf[Number].doubleValue()
      case _: FloatType => v.asInstanceOf[Number].doubleValue()
      case _: BooleanType => v.asInstanceOf[Boolean]
      case _: StringType => v.asInstanceOf[Binary].toStringUsingUTF8
      case _: DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString
      case _: TimestampType =>
        // INT96 timestamps surface as Binary and their footer min/max has
        // no defined ordering (Parquet spec) — treat as "no stats".
        if (v.isInstanceOf[Binary]) return null
        val anno = col.getPrimitiveType.getLogicalTypeAnnotation
        val micros = anno match {
          case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MILLIS =>
            v.asInstanceOf[Number].longValue() * 1000L
          case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS =>
            Math.floorDiv(v.asInstanceOf[Number].longValue(), 1000L)
          case _ => v.asInstanceOf[Number].longValue()
        }
        formatMicros(micros)
      case _ => null
    }
  }

  /** Format with an EXPLICIT UTC offset: the stats JSON is parsed back by
    * `from_json` under the reader's session timezone, so a zone-less
    * string would shift the bounds whenever the session zone is not UTC —
    * wrongly skipping files for queries AND for DML candidate selection. */
  private def formatMicros(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(secs, frac.toInt * 1000,
      java.time.ZoneOffset.UTC)
    ldt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")) + "Z"
  }

  private def compare(a: Any, b: Any, dt: DataType): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => 0
  }

  /** A prefix of a string is always a valid lower bound. */
  private def truncateMin(v: Any, dt: DataType): Option[Any] = v match {
    case s: String if s.length > MAX_STRING_LEN => Some(s.take(MAX_STRING_LEN))
    case other => Some(other)
  }

  /** For an upper bound we must round the truncated prefix UP. */
  private def truncateMax(v: Any, dt: DataType): Option[Any] = v match {
    case s: String if s.length > MAX_STRING_LEN =>
      val prefix = s.take(MAX_STRING_LEN).toCharArray
      var i = prefix.length - 1
      while (i >= 0 && prefix(i) == Char.MaxValue) i -= 1
      if (i < 0) None
      else Some(new String(prefix, 0, i) + (prefix(i) + 1).toChar)
    case other => Some(other)
  }
}
