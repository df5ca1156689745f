package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded lineitem-shaped rows. Every column of a row is a pure function
  * of its key `(l_orderkey, l_linenumber)`, the run seed and a row
  * version, so any input the benchmark feeds the engine can be rebuilt
  * with plain Spark for the oracle. Amounts are decimals so oracle sums
  * are exact. */
object Data {
  /** Orders in the base table; four lines each gives 300k rows, half of
    * TPC-H sf0.1 lineitem, which keeps a run's set-up within seconds. */
  val Orders = 75000L
  val BaseLines = 4
  val KeyCols = Seq("l_orderkey", "l_linenumber")

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DecimalType(15, 2)),
    StructField("l_extendedprice", DecimalType(15, 2)),
    StructField("l_discount", DecimalType(15, 2)),
    StructField("l_tax", DecimalType(15, 2)),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType),
    StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType),
    StructField("l_comment", StringType)))

  /** The choice at index `i` (0-based, already in range). */
  private def pick(i: Column, choices: String*): Column =
    element_at(array(choices.map(lit): _*), (i + 1).cast("int"))

  /** Full rows for a frame of unique keys (`l_orderkey` long,
    * `l_linenumber` int) with a row-version column `v`. Two hashes per
    * row feed every column through disjoint bit fields. */
  def rows(keys: DataFrame, seed: Long, keepVersion: Boolean = false): DataFrame = {
    val h1 = xxhash64(col("l_orderkey"), col("l_linenumber"), col("v"), lit(seed))
    val h2 = xxhash64(h1)
    def bits(h: Column, shift: Int, mod: Long): Column = pmod(shiftright(h, shift), lit(mod))
    val qty = (bits(h1, 25, 50) + 1).cast(DecimalType(15, 2))
    val ship = date_add(lit("1992-01-02").cast("date"), bits(h2, 0, 2500).cast("int"))
    val cols = Seq(
      col("l_orderkey"),
      (bits(h1, 0, 20000) + 1).as("l_partkey"),
      (bits(h1, 15, 1000) + 1).as("l_suppkey"),
      col("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (bits(h1, 31, 100000) / 100 + 900)).cast(DecimalType(15, 2))
        .as("l_extendedprice"),
      (bits(h1, 48, 11) / 100).cast(DecimalType(15, 2)).as("l_discount"),
      (bits(h1, 52, 9) / 100).cast(DecimalType(15, 2)).as("l_tax"),
      pick(bits(h1, 56, 3), "A", "N", "R").as("l_returnflag"),
      pick(bits(h1, 58, 2), "O", "F").as("l_linestatus"),
      ship.as("l_shipdate"),
      date_add(ship, bits(h2, 12, 60).cast("int")).as("l_commitdate"),
      date_add(ship, bits(h2, 18, 30).cast("int") + 1).as("l_receiptdate"),
      pick(bits(h2, 24, 4), "DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
        .as("l_shipinstruct"),
      pick(bits(h2, 27, 7), "REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
        .as("l_shipmode"),
      substring(concat(lower(hex(h2)), lit(" "), lower(hex(h1))), lit(1),
        (bits(h2, 32, 24) + 10).cast("int")).as("l_comment"))
    keys.select(cols ++ (if (keepVersion) Seq(col("v")) else Nil): _*)
  }

  /** Base keys of orders [lo, hi), `BaseLines` lines each, version 0. */
  def baseKeys(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo * BaseLines, hi * BaseLines).select(
      (col("id") / BaseLines).cast("long").plus(1).as("l_orderkey"),
      (pmod(col("id"), lit(BaseLines.toLong)) + 1).cast("int").as("l_linenumber"),
      lit(0L).as("v"))

  def base(spark: SparkSession, seed: Long): DataFrame =
    rows(baseKeys(spark, 0, Orders), seed)

  /** The rows of several ops' batches, generated by one Spark job from
    * their keys (deduplicated per batch) and split by row version `v`.
    * Each batch comes back as an array and as a local relation over it, so
    * the engine sees the same fixed rows however often it evaluates the
    * source. */
  def batches(spark: SparkSession, keys: DataFrame, seed: Long)
      : Map[Long, (DataFrame, Array[Row])] =
    rows(keys.dropDuplicates(KeyCols :+ "v"), seed, keepVersion = true).collect()
      .groupBy(_.getLong(schema.size)).map { case (v, rs) =>
        val batch = rs.map(r => Row.fromSeq(r.toSeq.init))
        v -> ((spark.createDataFrame(java.util.Arrays.asList(batch: _*), schema), batch))
      }

  /** Order-independent content fingerprint: row count plus two hash
    * folds over every column. */
  def fingerprint(df: DataFrame): Seq[Any] = {
    val h = xxhash64(schema.fieldNames.map(col).toIndexedSeq: _*)
    df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L)).cast(DecimalType(38, 0))),
      bit_xor(h)).head().toSeq
  }

  /** Splitmix-style mix for driver-side seeded choices. */
  def mix(seed: Long, a: Long, b: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
