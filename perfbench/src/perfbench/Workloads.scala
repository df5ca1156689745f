package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression,
  GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Graft, GraftTable}
import graft.log.GraftLog

/** One timed op. Its inputs are generated when it is built; only `run`
  * is timed; `check` compares what `run` saw with the oracle. */
trait Op {
  def kind: String
  def run(): Unit
  /** User rows handled: rows changed plus rows returned. */
  def rows: Long
  /** Rows the op inserted or updated. */
  def changed: Long = 0L
  def check(): Boolean
  /** The op's key range, for the stats-skipping probe. */
  def keyRange: (Long, Long)
}

abstract class Workload(val spark: SparkSession, val seed: Long, val tr: Tracer) {
  /** Untimed ops run on the table before the timed loop. */
  def warmOps: Int
  /** Writes the workload's table at `path` from the generated inputs. */
  def build(path: String): Unit
  /** Ops `is`, with their inputs generated together. */
  def ops(is: Seq[Int]): Seq[Op]
  /** The table's full content after ops 0 until `ops`, from plain Spark. */
  def expected(ops: Int): DataFrame

  var path: String = _
  /** The generated base rows (`Data.base`), cached for the run. */
  var input: DataFrame = _
  lazy val table: GraftTable = GraftTable.forPath(spark, path)
  def log: GraftLog = GraftLog.forTable(spark, path)

  protected def refresh(): Unit = tr.span("log.refresh")(log.update())
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, tr: Tracer): Workload = name match {
    case "merge_upsert" => new MergeUpsert(spark, seed, tr)
    case "append_read_mix" => new AppendReadMix(spark, seed, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `l_orderkey BETWEEN lo AND hi` as the catalyst filter the
    * skipping layer takes. */
  def keyFilter(lo: Long, hi: Long): Expression = {
    val k = AttributeReference("l_orderkey", LongType)()
    And(GreaterThanOrEqual(k, Literal(lo)), LessThanOrEqual(k, Literal(hi)))
  }
}

/** Repeated MERGE upserts into a DV-enabled table range-clustered on
  * `l_orderkey`. Each batch covers one window of orders: about a quarter
  * of the window's lines are updated and one order in eight gains a
  * fifth line. */
final class MergeUpsert(spark: SparkSession, seed: Long, tr: Tracer)
    extends Workload(spark, seed, tr) {
  // The first merges run several times slower while classes load and the
  // JIT compiles the merge paths; timing starts past the steep part.
  val warmOps = 6
  private val Window = 1500L
  private val Files = 20

  def build(p: String): Unit =
    Graft.write(input.repartitionByRange(Files, col("l_orderkey"))
      .sortWithinPartitions(Data.KeyCols.map(col): _*), p,
      configuration = Map("graft.enableDeletionVectors" -> "true"))

  private def windowStart(i: Int): Long =
    1 + java.lang.Math.floorMod(Data.mix(seed, i), Data.Orders - Window)

  /** Keys (with row version `i + 1`) of the batches `i` in `ops`, as
    * one plan however many ops there are. */
  private def batchKeys(ops: Seq[Int]): DataFrame = {
    val h = pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed), col("i")), lit(8L))
    spark.createDataFrame(ops.map(i => (i, windowStart(i)))).toDF("i", "w")
      .select(col("i"), col("w"), explode(sequence(lit(0L), lit(Window * 5 - 1))).as("x"))
      .select(col("i"),
        ((col("w") - 1) * 5 + col("x")).as("id"))
      .select(col("i"),
        (col("id") / 5).cast("long").plus(1).as("l_orderkey"),
        (pmod(col("id"), lit(5L)) + 1).cast("int").as("l_linenumber"),
        (col("i") + 1L).as("v"))
      .where((col("l_linenumber") <= 4 && h < 2) || (col("l_linenumber") === 5 && h === 0))
      .drop("i")
  }

  def ops(is: Seq[Int]): Seq[Op] = {
    val inputs = Data.batches(spark, batchKeys(is), seed)
    is.map(i => op(i, inputs(i + 1L)))
  }

  private def op(i: Int, input: (DataFrame, Array[Row])): Op = new Op {
    private val (src, batch) = input
    private var metrics: Map[String, String] = Map.empty
    val kind = "merge"
    def keyRange = (windowStart(i), windowStart(i) + Window - 1)
    def run(): Unit = {
      refresh()
      metrics = tr.spanWith("commands.merge",
          (m: Map[String, String]) => m.flatMap { case (k, v) => v.toDoubleOption.map(k -> _) }) {
        table.merge(src, expr("t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"))
          .whenMatched().updateAll().whenNotMatched().insertAll().execute()
      }
    }
    def rows: Long = batch.length
    override def changed: Long = batch.length
    def check(): Boolean = {
      def m(k: String) = metrics.get(k).map(_.toLong).getOrElse(-1L)
      m("numTargetRowsUpdated") + m("numTargetRowsInserted") == batch.length &&
        m("numTargetRowsDeleted") == 0
    }
  }

  /** Base rows with every batched key replaced by its latest version. */
  def expected(ops: Int): DataFrame = {
    val latest = batchKeys(0 until ops)
      .groupBy(Data.KeyCols.map(col): _*).agg(max("v").as("v"))
    input.join(latest, Data.KeyCols, "left_anti").unionByName(Data.rows(latest, seed))
  }
}

/** Each op appends a small batch of new orders through a transaction and
  * reads the same keys back, so every read plans against a new version
  * and the small-file count grows. */
final class AppendReadMix(spark: SparkSession, seed: Long, tr: Tracer)
    extends Workload(spark, seed, tr) {
  val warmOps = 8
  private val BatchOrders = 125L
  private val Files = 24

  def build(p: String): Unit =
    Graft.write(input.repartitionByRange(Files, col("l_orderkey"))
      .sortWithinPartitions(Data.KeyCols.map(col): _*), p)

  private def first(i: Int): Long = Data.Orders + 1 + i * BatchOrders

  /** Keys of batches `lo until hi`, with row version `i + 1`. */
  private def batchKeys(lo: Int, hi: Int): DataFrame =
    Data.baseKeys(spark, first(lo) - 1, first(hi) - 1)
      .withColumn("v", ((col("l_orderkey") - first(0)) / BatchOrders).cast("long") + 1)

  private def read(df: => DataFrame): Array[Row] =
    tr.spanWith("spark.read", (r: Array[Row]) => Map("rows" -> r.length.toDouble))(df.collect())

  private def sortRows(rs: Seq[Row]): Seq[Row] =
    rs.sortBy(r => (r.getLong(0), r.getInt(3)))

  def ops(is: Seq[Int]): Seq[Op] = {
    val inputs = Data.batches(spark, batchKeys(is.head, is.last + 1), seed)
    is.map(i => op(i, inputs(i + 1L)))
  }

  private def op(i: Int, input: (DataFrame, Array[Row])): Op = new Op {
    private val (src, batch) = input
    private var got: Seq[Row] = Nil
    val kind = "append_read"
    def keyRange = (first(i), first(i) + BatchOrders - 1)
    def run(): Unit = {
      refresh()
      val txn = tr.span("tx.start")(log.startTransaction())
      val adds = tr.spanWith("files.write", (a: Seq[graft.log.AddFile]) =>
        Map("files" -> a.size.toDouble, "bytes" -> a.map(_.size).sum.toDouble)) {
        txn.writeFiles(src.coalesce(1))
      }
      tr.spanWith("tx.commit", (v: Long) =>
        Map("retries" -> (v - txn.readVersion - 1).toDouble)) {
        txn.commit(adds, "WRITE")
      }
      got = read(table.toDF.where(col("l_orderkey").between(keyRange._1, keyRange._2))).toSeq
    }
    def rows: Long = batch.length + got.size
    override def changed: Long = batch.length
    def check(): Boolean = sortRows(got) == sortRows(batch.toSeq)
  }

  def expected(ops: Int): DataFrame =
    input.unionByName(Data.rows(batchKeys(0, ops), seed))
}
