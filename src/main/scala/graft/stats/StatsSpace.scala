package graft.stats

import org.apache.spark.sql.types._

/**
 * The ONE definition of the stats space: which column types carry
 * ordered min/max stats, and the shape of the per-file stats document
 * (`numRecords`/`minValues`/`maxValues`/`nullCount`). Collection
 * (FooterStats), skipping (StatsSkipping) and import
 * (ConvertFromDelta) all project through here — a rule change in one
 * place cannot silently diverge the write vs read vs convert schemas,
 * which in the `from_json` PERMISSIVE parse would surface as
 * whole-row nulls and disabled skipping.
 *
 * (Reference concept: DataSkippingReader statsSchema / StatisticsCollection
 * — re-designed as a single recursive type projection.)
 */
object StatsSpace {

  /** Stats-space projection of a column's type: atomic leaves keep their
    * ordered min/max; structs recurse (a converted Delta table's stats
    * JSON nests per-field mins); maps, arrays, binary and variant carry
    * no ordered stats — and a MAP with a non-string key cannot even
    * appear in a `from_json` schema — so they drop out of the stats
    * space entirely. `rename` maps each struct field to the name used in
    * the stats document (identity normally; the physical name when
    * importing a column-mapped Delta table). */
  def eligibleType(
      dt: DataType,
      rename: StructField => String = _.name): Option[DataType] = dt match {
    case s: StructType =>
      val kept = s.fields.flatMap(f => eligibleType(f.dataType, rename)
        .map(t => StructField(rename(f), t, nullable = true)))
      if (kept.isEmpty) None else Some(StructType(kept))
    case _: MapType | _: ArrayType | _: BinaryType | _: VariantType => None
    case _ => Some(dt)
  }

  /** nullCount mirrors the value schema's SHAPE with Long leaves: a
    * converted Delta table writes nullCount.<structCol> as a nested
    * object, and typing it flat-Long would make from_json null the
    * whole parsed row (PERMISSIVE), silently disabling skipping for
    * every column of every converted file. */
  def longLeaves(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, longLeaves(f.dataType), nullable = true)))
    case _ => LongType
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A stats document's `numRecords`: the one reader of row counts from
    * stats. None when the stats are absent, malformed, or carry no
    * numeric count — the same "no stats" that skipping keeps a file for. */
  def numRecords(stats: String): Option[Long] =
    if (stats == null) None
    else try Some(mapper.readTree(stats).path("numRecords")).filter(_.isNumber).map(_.asLong)
    catch { case _: java.io.IOException => None }

  /** Schema of the per-file stats JSON for an ALREADY stats-projected
    * value schema (all fields forced nullable — any file may omit any
    * stat). */
  def statsDocSchema(valueSchema: StructType): StructType = {
    val leaf = StructType(valueSchema.fields
      .map(f => StructField(f.name, f.dataType, nullable = true)))
    val nullCnt = StructType(leaf.map(f =>
      StructField(f.name, longLeaves(f.dataType), nullable = true)))
    StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", leaf),
      StructField("maxValues", leaf),
      StructField("nullCount", nullCnt)))
  }
}
