package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.files.GraftFileIndex

/**
 * Session extension (enable with
 * `spark.sql.extensions=graft.sql.GraftSparkSessionExtension`):
 *
 *  - COUNT(*) over a graft table answers from per-file `numRecords`
 *    stats — a metadata lookup instead of a scan (reference concept:
 *    perf/OptimizeMetadataOnlyDeltaQuery.scala:48-160)
 *  - LIMIT n over a bare graft table pins just enough files to satisfy n
 *    before the scan is planned (reference concept:
 *    stats/PrepareDeltaScan.scala:276-288)
 *  - SQL DML (`MERGE INTO` / `UPDATE` / `DELETE FROM` over graft targets)
 *    routed to the graft commands, plus a delegating parser for
 *    `OPTIMIZE` / `VACUUM` / `DESCRIBE HISTORY` (see GraftSqlSurface)
 */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => MetadataOnlyCountRule)
    ext.injectOptimizerRule(_ => LimitFilePushdownRule)
    ext.injectResolutionRule(session => new GraftDmlRule(session))
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.sql.TableChangesFunction", "table_changes"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TableChangesFunction.plan(args)))
    // Path-only variant for API parity with the reference's
    // table_changes_by_path; the shared impl accepts both forms.
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes_by_path"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.sql.TableChangesFunction", "table_changes_by_path"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TableChangesFunction.plan(args)))
  }
}

/** `SELECT * FROM table_changes('name-or-path', start[, end])` — the SQL
  * face of the change data feed. Bounds are versions (integer literals)
  * OR timestamps (string/timestamp literals, resolved to the last commit
  * at-or-before that time; a string parses as `yyyy-MM-dd[ HH:mm:ss]`).
  * (Reference concept: DeltaTableValueFunctions.scala:45-60 —
  * re-designed over Cdc.changes.) */
object TableChangesFunction {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.graftshim.SparkShims

  /** A bound expression -> version: integer literals are versions;
    * timestamps (typed, NTZ, or date/timestamp strings) resolve to the
    * last commit at or before that wall-clock time. Strings are ALWAYS
    * timestamps — '1700000000' is a malformed timestamp, never version
    * 1700000000 (the reference's typed-argument rule). */
  private def boundVersion(log: graft.log.GraftLog, e: Expression): Long = {
    val v = e.eval()
    e.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        String.valueOf(v).toLong
      case _: org.apache.spark.sql.types.TimestampType |
           _: org.apache.spark.sql.types.TimestampNTZType =>
        log.getVersionAtTime(v.asInstanceOf[Long] / 1000L)   // micros -> ms
      case _: org.apache.spark.sql.types.DateType =>
        log.getVersionAtTime(v.asInstanceOf[Int].toLong * 86400000L)
      case _ =>
        val s = String.valueOf(v)
        val ts = if (s.length == 10) s + " 00:00:00" else s
        val parsed =
          try new java.sql.Timestamp(graft.log.GraftLog.parseUserTimestamp(ts))
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"table_changes bound '$s' is neither an integer version nor " +
                "a 'yyyy-MM-dd[ HH:mm:ss]' timestamp")
          }
        log.getVersionAtTime(parsed.getTime)
    }
  }

  def plan(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      "table_changes(table, start[, end]) — version or timestamp bounds")
    val spark = SparkSession.active
    val target = String.valueOf(args.head.eval())
    val path =
      if (target.contains("/")) target
      else {
        val cat = spark.sessionState.catalog
        val ti = spark.sessionState.sqlParser.parseTableIdentifier(target)
        val meta = cat.getTableMetadata(ti)
        require(meta.provider.exists(_.equalsIgnoreCase("graft")),
          s"$target is not a graft table")
        meta.location.toString
      }
    val log = graft.log.GraftLog.forTable(spark, path)
    log.update()
    val start = boundVersion(log, args(1))
    val end = args.lift(2).map(boundVersion(log, _)).getOrElse(Long.MaxValue)
    SparkShims.logicalPlan(graft.commands.Cdc.changes(spark, log, start, end))
  }
}

object GraftRuleUtil {
  def graftIndex(plan: LogicalPlan): Option[(LogicalRelation, GraftFileIndex)] =
    plan match {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location match {
          case gi: GraftFileIndex => Some((lr, gi))
          case _ => None
        }
      case _ => None
    }

  private def logicalCount(f: graft.log.AddFile): Option[Long] =
    graft.stats.StatsSpace.numRecords(f.stats).map(_ - f.dvCardinality.getOrElse(0L))

  /** LOGICAL numRecords per file (physical stats minus deletion-vector
    * cardinality); None if any file lacks stats. */
  def numRecords(index: GraftFileIndex): Option[Seq[Long]] = {
    val counts = index.files.map(logicalCount)
    if (counts.forall(_.isDefined)) Some(counts.flatten) else None
  }

  /** Logical row count of one file; -1 when stats are absent. */
  def logicalRows(f: graft.log.AddFile): Long = logicalCount(f).getOrElse(-1L)
}

/** COUNT(*) / MIN(col) / MAX(col) with no filters or groups, answered
  * from per-file stats and partition values — a metadata lookup instead
  * of a scan (reference concept:
  * perf/OptimizeMetadataOnlyDeltaQuery.scala:48-160). MIN/MAX bail out
  * when any file with rows lacks bounds, when a string bound may be
  * truncated, or when any file carries a deletion vector (the DV may
  * have removed the extremal row — bounds are no longer tight). */
object MetadataOnlyCountRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) if isSupported(aggExprs) =>
      val base = child match {
        case Project(projections, grandchild)
            if projections.forall(_.isInstanceOf[AttributeReference]) => grandchild
        case other => other
      }
      GraftRuleUtil.graftIndex(base) match {
        case Some((_, index)) =>
          answer(aggExprs, index) match {
            case Some(values) =>
              LocalRelation(agg.output.map(_.asInstanceOf[AttributeReference]),
                Seq(InternalRow.fromSeq(values)))
            case None => agg
          }
        case None => agg
      }
  }

  private def isSupported(aggExprs: Seq[NamedExpression]): Boolean =
    aggExprs.nonEmpty && aggExprs.forall {
      case Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), _) => true
      case Alias(AggregateExpression(Min(_: AttributeReference), _, false, None, _), _) => true
      case Alias(AggregateExpression(Max(_: AttributeReference), _, false, None, _), _) => true
      case _ => false
    }

  private def answer(
      aggExprs: Seq[NamedExpression],
      index: GraftFileIndex): Option[Seq[Any]] = {
    val counts = GraftRuleUtil.numRecords(index)
    val values = aggExprs.map {
      case Alias(AggregateExpression(Count(_), _, _, _, _), _) =>
        counts.map(_.sum)
      case Alias(AggregateExpression(Min(a: AttributeReference), _, _, _, _), _) =>
        bound(index, a, isMin = true)
      case Alias(AggregateExpression(Max(a: AttributeReference), _, _, _, _), _) =>
        bound(index, a, isMin = false)
      case _ => None
    }
    // Option[Any] per agg; any None = cannot answer from metadata.
    // (A null min over an empty table is Some(null) — still answerable.)
    if (values.forall(_.isDefined)) Some(values.map(_.get)) else None
  }

  /** Exact global bound for one column, or None if not derivable. */
  private def bound(
      index: GraftFileIndex,
      a: AttributeReference,
      isMin: Boolean): Option[Any] = {
    // A file with unknown row count might be empty or not — can't tell
    // whether its (possibly absent) bounds matter. Bail.
    if (index.files.exists(f => GraftRuleUtil.logicalRows(f) < 0)) return None
    val partSchema = index.partitionSchema
    if (partSchema.fieldNames.exists(_.equalsIgnoreCase(a.name))) {
      // Partition column: bound over the typed partition values.
      val idx = partSchema.indexWhere(_.name.equalsIgnoreCase(a.name))
      val vals = index.files
        .filter(f => GraftRuleUtil.logicalRows(f) > 0)
        .map(f => GraftFileIndex.partitionRow(f.partitionValues, partSchema).get(
          idx, partSchema(idx).dataType))
        .filter(_ != null)
      return Some(if (vals.isEmpty) null else reduceVals(vals, isMin))
    }
    if (index.files.exists(_.dvPath.isDefined)) return None
    val section = if (isMin) "minValues" else "maxValues"
    val perFile = index.files.filter(f => GraftRuleUtil.logicalRows(f) > 0).map { f =>
      Option(f.stats).map(mapper.readTree).map { t =>
        val node = t.path(section).path(a.name)
        val nulls = t.path("nullCount").path(a.name)
        val rows = t.path("numRecords")
        if (!node.isMissingNode && !node.isNull) fromJson(node, a.dataType)
        else if (nulls.isNumber && rows.isNumber && nulls.asLong == rows.asLong) {
          null  // all-null file: contributes nothing
        } else NotDerivable
      }.getOrElse(NotDerivable)
    }
    if (perFile.contains(NotDerivable)) None
    else {
      val vals = perFile.filter(_ != null)
      Some(if (vals.isEmpty) null else reduceVals(vals, isMin))
    }
  }

  private object NotDerivable

  private def reduceVals(vals: Seq[Any], isMin: Boolean): Any =
    vals.reduce { (x, y) =>
      val c = x.asInstanceOf[Comparable[Any]].compareTo(y)
      if ((c <= 0) == isMin) x else y
    }

  /** JSON stat value -> catalyst value; NotDerivable when not exact. */
  private def fromJson(node: com.fasterxml.jackson.databind.JsonNode,
      dt: DataType): Any = dt match {
    case _: IntegerType => node.asInt
    case _: LongType => node.asLong
    case _: ShortType => node.asLong.toShort
    case _: ByteType => node.asLong.toByte
    case _: DoubleType => node.asDouble
    case _: FloatType => node.asDouble.toFloat
    case _: BooleanType => node.asBoolean
    case _: StringType =>
      val s = node.asText
      // A 64-char bound may be a truncated prefix (not the exact value).
      if (s.length >= graft.stats.FooterStats.MAX_STRING_LEN) NotDerivable
      else UTF8String.fromString(s)
    case _: DateType =>
      java.time.LocalDate.parse(node.asText).toEpochDay.toInt
    case _: TimestampType =>
      val t = java.time.Instant.parse(node.asText)
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    case _ => NotDerivable
  }
}

/** LIMIT n over a bare graft scan -> pin only enough files to cover n. */
object LimitFilePushdownRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case ll @ LocalLimit(Literal(n: Int, _), child) =>
      GraftRuleUtil.graftIndex(child) match {
        case Some((lr, index)) if index.pinnedFiles.isEmpty =>
          GraftRuleUtil.numRecords(index) match {
            case Some(counts) =>
              val files = index.files
              var acc = 0L
              val keep = files.zip(counts).takeWhile { case (_, c) =>
                val before = acc; acc += c; before < n.toLong
              }.map(_._1)
              val fs = lr.relation.asInstanceOf[HadoopFsRelation]
              val pinned = index.withPinned(keep)
              val newRel = fs.copy(location = pinned)(fs.sparkSession)
              ll.copy(child = lr.copy(relation = newRel))
            case None => ll
          }
        case _ => ll
      }
  }
}
