package graft.stats

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.log.AddFile

/**
 * File-pruning from per-file min/max/nullCount statistics: data predicates
 * are compiled into ONE resolved "stats-space" Catalyst predicate over the
 * parsed stats struct, evaluated in one of two venues. Below the
 * distributed threshold a plain driver loop parses each file's stats and
 * runs the interpreted predicate: no plan, no analyzer, no generated code,
 * no job. At or above it the same predicate runs as a filter over the
 * snapshot's cached parsed-stats view, so metadata-scale work distributes.
 * (Reference concept: stats/DataSkippingReader.scala:612-705 +
 * DataFiltersBuilder.scala:263-436 — re-designed.)
 *
 * Soundness: any sub-predicate we cannot compile, and any file whose stats
 * are missing/unparseable, KEEPS the file (three-valued logic resolved
 * toward inclusion).
 */
object StatsSkipping {

  /** Schema of the per-file stats JSON, derived from the (already
    * stats-truncated) data schema. One definition for collection,
    * skipping and convert — see [[StatsSpace]]. */
  def statsSchema(dataSchema: StructType): StructType =
    StatsSpace.statsDocSchema(dataSchema)

  /**
   * Prune `files` using data filters on the driver. Returns the surviving
   * files. Each file's stats JSON is parsed by the same `from_json`
   * expression (schema, options, session time zone) the distributed
   * venue uses, so malformed, partial and nested stats resolve alike.
   */
  def filterFiles(
      spark: SparkSession,
      files: Seq[AddFile],
      dataSchema: StructType,
      dataFilters: Seq[Expression],
      statsColumns: FooterStats.StatsColumns = FooterStats.StatsColumns()): Seq[AddFile] = {
    if (files.isEmpty || dataFilters.isEmpty) return files
    // Only the stats-carrying fields are visible here; truncating the
    // schema keeps compile() from emitting stats-space predicates for
    // columns that were never collected.
    val statsVisible = StructType(statsColumns.select(dataSchema))
    val keep = compileAll(dataFilters, statsVisible).getOrElse(return files)
    val parse = JsonToStructs(statsSchema(statsVisible), Map.empty,
      BoundReference(0, StringType, nullable = true),
      Some(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)))
    val pred = Predicate.createInterpreted(keep)
    pred.initialize(0)
    val json, parsed = new GenericInternalRow(1)
    files.filter { f =>
      f.stats == null || {
        json.update(0, UTF8String.fromString(f.stats))
        val doc = parse.eval(json)
        doc == null || { parsed.update(0, doc); pred.eval(parsed) }
      }
    }
  }

  /** The conjunction of every compilable filter, each null resolved to
    * "keep"; None when no filter compiles. */
  private def compileAll(filters: Seq[Expression], statsVisible: StructType)
      : Option[Expression] = {
    val preds = filters.flatMap(f => compile(f, statsVisible))
    if (preds.isEmpty) None else Some(preds.map(orTrue).reduce(And))
  }

  /** Unified file selection: partition pruning + stats skipping, choosing
    * the execution venue by file count. Below the threshold (or for a
    * pinned DML candidate subset) both phases are interpreted predicates
    * in a driver loop — no Spark job, no plan, no generated code. At or
    * above it, both phases run as ONE distributed filter over the
    * snapshot's cached parsed-stats view, so a 10M-file table neither
    * re-serializes its file list per query nor prunes partitions in a
    * single driver thread. */
  def pruneAndFilter(
      spark: SparkSession,
      snapshot: graft.log.Snapshot,
      pinned: Option[Seq[AddFile]],
      partitionSchema: StructType,
      partitionFilters: Seq[Expression],
      dataSchema: StructType,
      dataFilters: Seq[Expression],
      statsColumns: FooterStats.StatsColumns = FooterStats.StatsColumns())
      : Seq[AddFile] = {
    val threshold = spark.conf.getOption("spark.graft.distributedSkipping.threshold")
      .map(_.toInt).getOrElse(100000)
    // numFiles, not allFiles.size: on a lazy checkpoint-backed snapshot
    // the count is one distributed agg — touching allFiles here would
    // force the whole file map onto the driver before the venue choice.
    if (pinned.isEmpty && snapshot.numFiles >= threshold) {
      pruneAndFilterDistributed(spark, snapshot, partitionSchema,
        partitionFilters, dataSchema, dataFilters, statsColumns)
    } else {
      val pruned = graft.files.GraftFileIndex.prunePartitions(
        pinned.getOrElse(snapshot.allFiles), partitionSchema, partitionFilters)
      filterFiles(spark, pruned, dataSchema, dataFilters, statsColumns)
    }
  }

  private[stats] def pruneAndFilterDistributed(
      spark: SparkSession,
      snapshot: graft.log.Snapshot,
      partitionSchema: StructType,
      partitionFilters: Seq[Expression],
      dataSchema: StructType,
      dataFilters: Seq[Expression],
      statsColumns: FooterStats.StatsColumns): Seq[AddFile] = {
    import org.apache.spark.sql.graftshim.SparkShims
    val statsVisible = StructType(statsColumns.select(dataSchema))
    val view = snapshot.skippingView(statsVisible)
    val conds = Seq.newBuilder[Column]
    if (partitionFilters.nonEmpty && partitionSchema.nonEmpty) {
      // Same predicate the driver path binds, with each partition
      // attribute replaced by a UTC-cast map lookup (null partition
      // values and unknown attributes resolve exactly as the driver
      // path's Predicate.eval: null drops, unknown keeps).
      val pvCol = view("partitionValues")
      val mapped = partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val idx = partitionSchema.indexWhere(f => f.name.equalsIgnoreCase(a.name))
          if (idx < 0) Literal(true)
          else Cast(
            SparkShims.expression(element_at(pvCol, partitionSchema(idx).name)),
            partitionSchema(idx).dataType, Some("UTC"))
      }
      conds += SparkShims.column(mapped)
    }
    compileAll(dataFilters, statsVisible).foreach { keep =>
      conds += (col("_parsed").isNull || col("stats").isNull ||
        SparkShims.column(byName(keep)))
    }
    val all = conds.result()
    // Nothing compiled to a pushable condition: the answer is the full
    // file list. Collect it from the distributed view so a LAZY snapshot
    // stays lazy — the caller's Seq is transient, the snapshot's cached
    // state is not.
    if (all.isEmpty) return snapshot.allFilesCollected
    import spark.implicits._
    view.where(all.reduce(_ && _)).drop("_parsed").as[AddFile].collect().toSeq
  }

  /** Rebind a compiled predicate from the driver venue's bound stats row
    * to the view's `_parsed` column, resolving every stats field BY NAME
    * (the view's schema is its first caller's). */
  private def byName(keep: Expression): Expression = keep.transformUp {
    case _: BoundReference => UnresolvedAttribute("_parsed")
    case GetStructField(child, _, Some(name)) => UnresolvedExtractValue(child, Literal(name))
  }

  private def orTrue(e: Expression): Expression = Coalesce(Seq(e, Literal.TrueLiteral))

  /** Types whose min/max stats skipping compares against literals. */
  def statsType(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: DoubleType | _: FloatType | _: StringType | _: BooleanType |
         _: DateType | _: TimestampType => true
    case _ => false
  }

  private def statsLiteral(l: Literal): Boolean = l.value != null && statsType(l.dataType)

  /** Stats min/max are byte-ordered (parquet footer order). A string
    * column under a non-default collation (e.g. UTF8_LCASE) orders
    * differently, so a stats-space comparison could wrongly prune a
    * file whose matches sort outside the byte range — those columns are
    * invisible to skipping (the reference makes the same choice for
    * collated columns in its skipping logic). */
  private def statsComparable(dt: DataType): Boolean =
    dt match {
      case st: StringType => st == StringType
      case _ => true
    }

  private def attrField(e: Expression, schema: StructType): Option[StructField] = {
    val name = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case _ => None
    }
    name.flatMap(n => schema.fields.find(_.name.equalsIgnoreCase(n))
      .filter(f => statsComparable(f.dataType)))
  }

  /**
   * Compile one data predicate into a resolved stats-space predicate over
   * `BoundReference(0, statsSchema(schema))`, the parsed stats document.
   * No analyzer runs over it, so a comparison is built only where the
   * literal already has its column's type. None = cannot decide from
   * stats (file must be kept).
   */
  def compile(e: Expression, schema: StructType): Option[Expression] = {
    val parsed = BoundReference(0, statsSchema(schema), nullable = true)
    def field(of: Expression, name: String): Expression =
      GetStructField(of, of.dataType.asInstanceOf[StructType].fieldIndex(name), Some(name))
    def stat(section: String, name: String): Expression = field(field(parsed, section), name)
    /** `op(stat, l)`; a literal of another type than its column's keeps
      * the file (analyzed filters arrive with their types coerced). */
    def cmp(a: Expression, l: Literal, section: String)(
        op: (Expression, Expression) => Expression): Option[Expression] =
      attrField(a, schema).filter(f => statsLiteral(l) && f.dataType == l.dataType)
        .map(f => op(stat(section, f.name), l))
    def within(a: Expression, l: Literal): Option[Expression] =
      for (lo <- cmp(a, l, "minValues")(LessThanOrEqual);
           hi <- cmp(a, l, "maxValues")(GreaterThanOrEqual)) yield And(lo, hi)
    def atomic(a: Expression): Option[String] =
      attrField(a, schema).filterNot(_.dataType.isInstanceOf[StructType]).map(_.name)
    def go(e: Expression): Option[Expression] = e match {
      case And(l, r) =>
        (go(l), go(r)) match {
          case (Some(a), Some(b)) => Some(And(orTrue(a), orTrue(b)))
          case (a, b) => a.orElse(b)
        }
      case Or(l, r) =>
        for (a <- go(l); b <- go(r)) yield Or(orTrue(a), orTrue(b))
      case Literal(false, BooleanType) => Some(Literal.FalseLiteral)
      case EqualTo(a, l: Literal) => within(a, l)
      case EqualTo(l: Literal, a) => within(a, l)
      case LessThan(a, l: Literal) => cmp(a, l, "minValues")(LessThan)
      case LessThan(l: Literal, a) => cmp(a, l, "maxValues")(GreaterThan)
      case LessThanOrEqual(a, l: Literal) => cmp(a, l, "minValues")(LessThanOrEqual)
      case LessThanOrEqual(l: Literal, a) => cmp(a, l, "maxValues")(GreaterThanOrEqual)
      case GreaterThan(a, l: Literal) => cmp(a, l, "maxValues")(GreaterThan)
      case GreaterThan(l: Literal, a) => cmp(a, l, "minValues")(LessThan)
      case GreaterThanOrEqual(a, l: Literal) => cmp(a, l, "maxValues")(GreaterThanOrEqual)
      case GreaterThanOrEqual(l: Literal, a) => cmp(a, l, "minValues")(LessThanOrEqual)
      case IsNull(a) =>
        atomic(a).map(n => GreaterThan(stat("nullCount", n), Literal(0L)))
      case IsNotNull(a) =>
        atomic(a).map(n => LessThan(stat("nullCount", n), field(parsed, "numRecords")))
      case In(a, list) if list.nonEmpty && list.size <= 100 &&
          list.forall(_.isInstanceOf[Literal]) =>
        val each = list.map(l => within(a, l.asInstanceOf[Literal]))
        if (each.exists(_.isEmpty)) None else Some(each.flatten.reduce(Or))
      case StartsWith(a, l @ Literal(v, StringType)) if v != null =>
        val len = Literal(v.asInstanceOf[UTF8String].numChars())
        def prefix(s: Expression) = Substring(s, Literal(0), len)
        for (lo <- cmp(a, l, "minValues")((s, p) => LessThanOrEqual(prefix(s), p));
             hi <- cmp(a, l, "maxValues")((s, p) => GreaterThanOrEqual(prefix(s), p)))
          yield And(lo, hi)
      case _ => None
    }
    go(e)
  }
}
