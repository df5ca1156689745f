package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.commands.MergeBuilder
import graft.log.GraftLog

/**
 * Cross-feature DML matrix: the same DELETE -> UPDATE -> MERGE lifecycle
 * under every combination of {deletion vectors on/off} x {change data
 * feed on/off} x {column mapping none/name/id} — 12 configs. Single-
 * feature suites pass while cross-feature composition breaks (a DV
 * bitmap resolved against a renamed physical column, CDF rows emitted
 * from a DV-filtered scan, ...), which is exactly where the reference's
 * generated suite matrix catches bugs. Every config folds the same
 * in-memory model of the table, so the expected state is derived
 * independently of any engine code path.
 */
class DmlMatrixSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-dmlmx").toString

  for {
    dv <- Seq(false, true)
    cdf <- Seq(false, true)
    mapping <- Seq("none", "name", "id")
  } test(s"dml lifecycle: dv=$dv cdf=$cdf mapping=$mapping") {
    import spark.implicits._
    val conf = Map.newBuilder[String, String]
    if (dv) conf += "graft.enableDeletionVectors" -> "true"
    if (cdf) conf += "graft.enableChangeDataFeed" -> "true"
    if (mapping != "none") conf += "graft.columnMapping.mode" -> mapping
    val path = tmp()

    val df = spark.range(100).select(
      col("id"),
      (col("id") % 5).cast("int").as("k"),
      col("id").cast("double").as("v"),
      concat(lit("t"), col("id")).as("tag"))
    Graft.write(df, path, configuration = conf.result())        // v0

    // Schema surgery first (mapping modes only): all later DML and CDF
    // must resolve the renamed logical column across the boundary.
    val tagCol = if (mapping != "none") "label" else "tag"
    if (mapping != "none")
      GraftTable.forPath(spark, path).renameColumn("tag", "label")
    val dmlBase = if (mapping != "none") 2L else 1L // first DML version

    GraftTable.forPath(spark, path).delete(col("id") % 10 === 3)
    if (dv) {
      // DV delete marks rows, it does not rewrite data files
      val snap = GraftLog.forTable(spark, path).update()
      assert(snap.allFiles.exists(_.dvPath.isDefined),
        "DV-enabled DELETE wrote no deletion vector")
    }
    GraftTable.forPath(spark, path)
      .update(col("id") % 7 === 0, Map("v" -> (col("v") + 100)))
    val src = spark.range(90, 110).select(
      col("id"),
      (col("id") % 5).cast("int").as("k"),
      lit(-1.0).as("v"),
      concat(lit("n"), col("id")).as(tagCol))
    GraftTable.forPath(spark, path)
      .merge(src, expr("t.id = s.id"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()

    // Independent model of the same lifecycle.
    var m: Map[Long, (Int, Double, String)] =
      (0L until 100L).map(id => id -> ((id % 5).toInt, id.toDouble, s"t$id")).toMap
    m = m.filter { case (id, _) => id % 10 != 3 }
    m = m.map { case (id, (k, v, t)) =>
      id -> (if (id % 7 == 0) (k, v + 100, t) else (k, v, t))
    }
    (90L until 110L).foreach { id =>
      m += id -> ((id % 5).toInt, -1.0, s"n$id")
    }

    val got = Graft.read(spark, path)
      .select(col("id"), col("k"), col("v"), col(tagCol))
      .as[(Long, Int, Double, String)].collect().sortBy(_._1).toSeq
    val want = m.toSeq.map { case (id, (k, v, t)) => (id, k, v, t) }.sortBy(_._1)
    assert(got === want)

    if (cdf) {
      def types(ver: Long): Map[String, Long] =
        GraftTable.forPath(spark, path).changes(ver, ver)
          .groupBy("_change_type").count()
          .as[(String, Long)].collect().toMap
      // DELETE: ids ending in 3 -> 10 delete rows
      assert(types(dmlBase) === Map("delete" -> 10L))
      // UPDATE: multiples of 7 in 0..99 minus deleted 63 -> 14 pairs
      assert(types(dmlBase + 1) ===
        Map("update_preimage" -> 14L, "update_postimage" -> 14L))
      // MERGE: 90..99 present except 93 -> 9 matched pairs; 100..109
      // plus deleted 93 -> 11 inserts
      assert(types(dmlBase + 2) === Map("update_preimage" -> 9L,
        "update_postimage" -> 9L, "insert" -> 11L))
      // CDF rows carry the LOGICAL column name after a rename
      val cdfCols = GraftTable.forPath(spark, path)
        .changes(dmlBase, dmlBase).columns
      assert(cdfCols.contains(tagCol), s"CDF schema missing $tagCol")
    }

    // Re-read through a cold log (checkpoint-free replay) for good measure
    GraftLog.clearCache()
    assert(Graft.read(spark, path).count() === m.size)
  }

  test("everything-on composite: dv+cdf+mapping+DEFAULT+shredded variant") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = tmp()
    Graft.create(spark, path, StructType(Seq(
      StructField("id", LongType),
      StructField("v", DoubleType),
      graft.schema.ColumnDefaults.defaultField("src", StringType, "'web'"),
      StructField("payload", VariantType))),
      configuration = Map(
        "graft.enableDeletionVectors" -> "true",
        "graft.enableChangeDataFeed" -> "true",
        "graft.columnMapping.mode" -> "name",
        "graft.enableVariantShredding" -> "true"))
    // append OMITS src -> the default fills under mapping + shredding
    Graft.write(spark.range(40).select($"id", $"id".cast("double").as("v"),
      parse_json(concat(lit("""{"n":"""), $"id", lit("}"))).as("payload")), path)
    GraftTable.forPath(spark, path).renameColumn("src", "origin")
    GraftTable.forPath(spark, path).delete($"id" % 4 === 1)
    GraftTable.forPath(spark, path)
      .update($"id" % 5 === 0, Map("v" -> ($"v" + 1000)))
    val mergeSrc = spark.range(35, 45).select($"id",
      lit(-1.0).as("v"), lit("api").as("origin"),
      parse_json(concat(lit("""{"n":"""), $"id", lit("}"))).as("payload"))
    GraftTable.forPath(spark, path).merge(mergeSrc, expr("t.id = s.id"))
      .whenMatched().updateAll().whenNotMatched().insertAll().execute()

    var m: Map[Long, (Double, String)] =
      (0L until 40L).map(id => id -> ((id.toDouble, "web"))).toMap
    m = m.filter { case (id, _) => id % 4 != 1 }
    m = m.map { case (id, (v, s)) =>
      id -> (if (id % 5 == 0) (v + 1000, s) else (v, s)) }
    (35L until 45L).foreach(id => m += id -> ((-1.0, "api")))

    val got = Graft.read(spark, path)
      .select($"id", $"v", $"origin",
        variant_get($"payload", "$.n", "long").as("n"))
      .as[(Long, Double, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === m.toSeq.map { case (id, (v, s)) => (id, v, s, id) }.sortBy(_._1))
    // protocol carries the whole feature stack
    val p = GraftTable.forPath(spark, path).snapshot.protocol
    Seq("deletionVectors", "changeDataFeed", "columnMapping",
      "allowColumnDefaults", "variantShredding").foreach(f =>
      assert(p.writerFeatureNames.contains(f) || p.readerFeatureNames.contains(f),
        s"missing $f in $p"))
    // CDF across the stack resolves logical names
    assert(GraftTable.forPath(spark, path).changes(0, 100)
      .columns.contains("origin"))
  }

  // ---- MERGE multi-match semantics (reference:
  // MergeIntoCommandBase.scala:267-283, ClassicMergeExecutor.scala:158-180)

  for (dv <- Seq(false, true)) {
    def mkTable(cdf: Boolean = false): String = {
      import spark.implicits._
      val path = tmp()
      val conf = Map.newBuilder[String, String]
      if (dv) conf += "graft.enableDeletionVectors" -> "true"
      if (cdf) conf += "graft.enableChangeDataFeed" -> "true"
      Graft.write(spark.range(10).select(col("id"),
        col("id").cast("double").as("v")), path, configuration = conf.result())
      path
    }
    // source with ids 3 and 5 duplicated
    def dupSource = {
      import spark.implicits._
      Seq(3L, 3L, 5L, 5L, 7L).toDF("id")
        .withColumn("v", lit(-1.0))
    }

    test(s"merge multi-match: sole unconditional DELETE is legal (dv=$dv)") {
      import spark.implicits._
      val path = mkTable()
      val metrics = GraftTable.forPath(spark, path)
        .merge(dupSource, expr("t.id = s.id"))
        .whenMatched().delete()
        .execute()
      val left = Graft.read(spark, path).select("id").as[Long].collect().sorted
      assert(left.toSeq === Seq(0L, 1L, 2L, 4L, 6L, 8L, 9L))
      // each duplicated target row deletes ONCE in the metrics
      assert(metrics("numTargetRowsDeleted") === "3")
    }

    test(s"merge multi-match: update clause still throws (dv=$dv)") {
      val path = mkTable()
      val e = intercept[IllegalStateException] {
        GraftTable.forPath(spark, path)
          .merge(dupSource, expr("t.id = s.id"))
          .whenMatched().update(Map("v" -> lit(0.0)))
          .execute()
      }
      assert(e.getMessage.contains("multiple source rows"))
    }

    test(s"merge multi-match: CONDITIONAL delete still throws (dv=$dv)") {
      val path = mkTable()
      val e = intercept[IllegalStateException] {
        GraftTable.forPath(spark, path)
          .merge(dupSource, expr("t.id = s.id"))
          .whenMatched(expr("s.v < 0")).delete()
          .execute()
      }
      assert(e.getMessage.contains("multiple source rows"))
    }

    test(s"merge multi-match: NMBS-only merge throws, no duplicate copies (dv=$dv)") {
      val path = mkTable()
      intercept[IllegalStateException] {
        GraftTable.forPath(spark, path)
          .merge(dupSource, expr("t.id = s.id"))
          .whenNotMatchedBySource().delete()
          .execute()
      }
      // table untouched by the failed merge
      assert(Graft.read(spark, path).count() === 10)
    }

    test(s"merge multi-match: duplicates all failing the clause are no-ops (dv=$dv)") {
      import spark.implicits._
      val path = mkTable()
      // every duplicate carries v = -1.0, so s.v > 0 fails for all of them:
      // no pair qualifies, the merge is a legal no-op (reference concept:
      // ClassicMergeExecutor.scala:105-110 matchedPredicate pruning)
      val metrics = GraftTable.forPath(spark, path)
        .merge(dupSource, expr("t.id = s.id"))
        .whenMatched(expr("s.v > 0")).update(Map("v" -> lit(0.0)))
        .execute()
      val got = Graft.read(spark, path).select($"id", $"v")
        .as[(Long, Double)].collect().sorted
      assert(got.toSeq === (0L until 10L).map(i => (i, i.toDouble)))
      assert(metrics("numTargetRowsUpdated") === "0")
    }

    test(s"merge multi-match: one passing duplicate updates once, no copies (dv=$dv)") {
      import spark.implicits._
      val path = mkTable()
      // id 3 matches two source rows but only one satisfies the clause —
      // unambiguous: the passing row updates, the failing row is a no-op
      val src = Seq((3L, 1), (3L, 0), (7L, 1)).toDF("id", "w")
        .withColumn("v", lit(-1.0))
      val metrics = GraftTable.forPath(spark, path)
        .merge(src, expr("t.id = s.id"))
        .whenMatched(expr("s.w = 1")).update(Map("v" -> lit(0.0)))
        .execute()
      val got = Graft.read(spark, path).select($"id", $"v")
        .as[(Long, Double)].collect().sorted
      assert(got.toSeq === (0L until 10L).map(i =>
        (i, if (i == 3 || i == 7) 0.0 else i.toDouble)))
      assert(metrics("numTargetRowsUpdated") === "2")
      // two passing duplicates stay ambiguous
      val e = intercept[IllegalStateException] {
        GraftTable.forPath(spark, path)
          .merge(Seq((3L, 1), (3L, 1)).toDF("id", "w").withColumn("v", lit(-1.0)),
            expr("t.id = s.id"))
          .whenMatched(expr("s.w = 1")).update(Map("v" -> lit(0.0)))
          .execute()
      }
      assert(e.getMessage.contains("multiple source rows"))
    }

    test(s"merge multi-match delete-only: CDF emits one delete per target row (dv=$dv)") {
      import spark.implicits._
      val path = mkTable(cdf = true)
      GraftTable.forPath(spark, path)
        .merge(dupSource, expr("t.id = s.id"))
        .whenMatched().delete()
        .execute()
      val types = GraftTable.forPath(spark, path).changes(1, 1)
        .groupBy("_change_type").count().as[(String, Long)].collect().toMap
      assert(types === Map("delete" -> 3L))
    }
  }

  test("merge matched-only: file whose matches all fail the clause condition is not rewritten") {
    import spark.implicits._
    val path = tmp()
    // two files: ids 0-4 (small v) and 100-104 (big v)
    Graft.write(spark.range(5).select(col("id"), col("id").cast("double").as("v"))
      .repartition(1), path)
    Graft.write(spark.range(100, 105).select(col("id"), col("id").cast("double").as("v"))
      .repartition(1), path, mode = "append")
    val before = GraftLog.forTable(spark, path).update().allFiles.map(_.path).toSet
    // source matches rows in BOTH files, but the clause condition only
    // holds for the big-v file
    val src = Seq(2L, 102L).toDF("id")
    GraftTable.forPath(spark, path)
      .merge(src, expr("t.id = s.id"))
      .whenMatched(expr("t.v >= 100")).update(Map("v" -> lit(0.0)))
      .execute()
    val after = GraftLog.forTable(spark, path).update().allFiles.map(_.path).toSet
    // the small-v file survived untouched
    assert(before.intersect(after).size === 1,
      s"expected exactly one untouched file, before=$before after=$after")
    val got = Graft.read(spark, path).select("id", "v")
      .as[(Long, Double)].collect().toMap
    assert(got(2L) === 2.0 && got(102L) === 0.0)
  }

  // ---- MERGE skipping: the cases that must not prune, or must prune
  // exactly. Every table starts as four files clustered on `id` (0-9,
  // 10-19, 20-29, 30-39) with v = id; each case checks how many files the
  // merge kept and the rows it left against a model.

  private def clustered(conf: Map[String, String], dir: String = tmp()): String = {
    (0 until 4).foreach(i => Graft.write(spark.range(i * 10L, i * 10L + 10)
      .select(col("id"), col("id").cast("double").as("v")).coalesce(1), dir,
      configuration = if (i > 0) Map.empty else conf))
    dir
  }

  private def base: Map[Long, Double] = (0L until 40L).map(i => i -> i.toDouble).toMap

  /** Table rows keyed by `key`, a null key read as -1. */
  private def rowsOf(path: String, key: String = "id"): Map[Long, Double] = {
    import spark.implicits._
    Graft.read(spark, path).select(coalesce(col(key), lit(-1L)), col("v"))
      .as[(Long, Double)].collect().toMap
  }

  /** Source rows (id, v); a None id is a null key. */
  private def source(rows: (Option[Long], Double)*): DataFrame = {
    import spark.implicits._
    rows.map { case (i, v) => (i.map(Long.box).orNull, v) }
      .toDF("id", "v")
  }

  /** Upsert: matched rows take the source's v, unmatched source rows are
    * inserted; returns the files before and after skipping. */
  private def upsert(path: String, src: DataFrame, cond: String,
      nmbsDelete: Option[String] = None): (Int, Int) = {
    val b = GraftTable.forPath(spark, path).merge(src, expr(cond))
      .whenMatched().update(Map("v" -> col("s.v")))
      .whenNotMatched().insertAll()
    val m = nmbsDelete.map(c => b.whenNotMatchedBySource(expr(c)).delete())
      .getOrElse(b).execute()
    (m("numTargetFilesBeforeSkipping").toInt, m("numTargetFilesAfterSkipping").toInt)
  }

  private val keys1213 = Seq(Some(12L) -> -1.0, Some(13L) -> -2.0)
  private val upserted1213 = base ++ Map(12L -> -1.0, 13L -> -2.0)

  for (dv <- Seq(false, true)) {
    val conf = if (dv) Map("graft.enableDeletionVectors" -> "true") else Map.empty[String, String]

    test(s"merge skipping: an equi-join key prunes to the source's key range (dv=$dv)") {
      val path = clustered(conf)
      assert(upsert(path, source(keys1213 :+ (Some(25L) -> -3.0): _*), "t.id = s.id") === (4, 2))
      assert(rowsOf(path) === upserted1213 + (25L -> -3.0))
    }

    test(s"merge skipping: a NOT MATCHED BY SOURCE clause reads every file (dv=$dv)") {
      val path = clustered(conf)
      assert(upsert(path, source(keys1213: _*), "t.id = s.id",
        nmbsDelete = Some("t.id = 35")) === (4, 4))
      assert(rowsOf(path) === upserted1213 - 35L)
    }

    test(s"merge skipping: OR, non-equi and <=> conditions prune nothing (dv=$dv)") {
      Seq("t.id = s.id OR t.v = s.v", "t.id <= s.id AND t.id >= s.id",
          "t.id <=> s.id").foreach { cond =>
        val path = clustered(conf)
        assert(upsert(path, source(keys1213: _*), cond) === (4, 4), cond)
        assert(rowsOf(path) === upserted1213, cond)
      }
    }

    test(s"merge skipping: null source keys match nothing and bound nothing (dv=$dv)") {
      val some = clustered(conf)
      assert(upsert(some, source(None -> -5.0, Some(12L) -> -1.0), "t.id = s.id") === (4, 1))
      assert(rowsOf(some) === base ++ Map(12L -> -1.0, -1L -> -5.0))
      // every key null: no file can hold a match, and the row inserts
      val none = clustered(conf)
      assert(upsert(none, source(None -> -5.0), "t.id = s.id") === (4, 0))
      assert(rowsOf(none) === base + (-1L -> -5.0))
    }

    test(s"merge skipping: an empty source reads no file (dv=$dv)") {
      val path = clustered(conf)
      assert(upsert(path, source(), "t.id = s.id") === (4, 0))
      assert(rowsOf(path) === base)
    }

    test(s"merge skipping: a source-side expression key bounds by its values (dv=$dv)") {
      val path = clustered(conf)
      // s.id + 1 spans 12..13: one file, although s.id itself is 11..12
      assert(upsert(path, source(Some(11L) -> -1.0, Some(12L) -> -2.0),
        "t.id = s.id + 1") === (4, 1))
      assert(rowsOf(path) === upserted1213)
    }

    test(s"merge skipping: a column-mapped target prunes by its logical name (dv=$dv)") {
      import spark.implicits._
      val path = clustered(conf + ("graft.columnMapping.mode" -> "name"))
      GraftTable.forPath(spark, path).renameColumn("id", "key")
      val src = Seq((12L, -1.0), (13L, -2.0)).toDF("key", "v")
      assert(upsert(path, src, "t.key = s.key") === (4, 1))
      assert(rowsOf(path, "key") === upserted1213)
    }

    test(s"merge skipping: a file without stats is kept (dv=$dv)") {
      val path = clustered(conf)
      val txn = GraftLog.forTable(spark, path).startTransaction()
      val adds = txn.writeFiles(spark.range(100, 110)
        .select(col("id"), col("id").cast("double").as("v")).coalesce(1))
      txn.commit(adds.map(_.copy(stats = null)), "WRITE")
      assert(upsert(path, source(keys1213: _*), "t.id = s.id") === (5, 2))
      assert(rowsOf(path) === upserted1213 ++ (100L until 110L).map(i => i -> i.toDouble))
    }

    test(s"merge skipping: a table path with a space and a plus (dv=$dv)") {
      val path = clustered(conf, Files.createDirectories(
        java.nio.file.Paths.get(tmp(), "a b+c")).toString)
      assert(upsert(path, source(keys1213: _*), "t.id = s.id") === (4, 1))
      assert(rowsOf(path) === upserted1213)
      if (dv) assert(GraftLog.forTable(spark, path).update().allFiles
        .exists(_.dvPath.isDefined), "the upsert wrote no deletion vector")
      // DELETE, UPDATE, INSERT REPLACE and a NOT MATCHED BY SOURCE merge
      // find their rows' files under the same path
      val table = GraftTable.forPath(spark, path)
      table.delete(col("id") === 25L)
      assert(rowsOf(path) === upserted1213 - 25L)
      table.update(col("id") === 26L, Map("v" -> lit(-26.0)))
      table.insertReplaceOn(source(Some(27L) -> -27.0), "t.id = s.id")
      table.merge(source(Some(28L) -> -28.0), expr("t.id = s.id"))
        .whenMatched().updateAll()
        .whenNotMatchedBySource(expr("t.id = 29")).update(Map("v" -> lit(-29.0)))
        .execute()
      assert(rowsOf(path) === upserted1213 - 25L ++
        Map(26L -> -26.0, 27L -> -27.0, 28L -> -28.0, 29L -> -29.0))
    }
  }

  // ---- MERGE skipping's two venues for the source's key bounds: a local
  // source's rows are bounded on the driver, any other source by an
  // aggregate. The same rows through each must give the same filters,
  // keep the same files, report the same metrics and leave the same
  // table. Every table starts as four files clustered on `k`, the key
  // `keyOf(id)` of ids 0-39, with v = id.

  private def keyed(keyOf: String, conf: Map[String, String]): String = {
    val dir = tmp()
    (0 until 4).foreach(i => Graft.write(spark.range(i * 10L, i * 10L + 10)
      .selectExpr(s"$keyOf as k", "cast(id as double) as v").coalesce(1), dir,
      configuration = if (i > 0) Map.empty else conf))
    dir
  }

  /** A venue case: the target's key `keyOf(id)`, the source's ids (None
    * a null id), the rows the merge inserts, the ON clause `t.k = on`
    * (also the key an inserted row gets), and the source's key of id
    * where it is not the target's. */
  private case class Venue(name: String, keyOf: String, ids: Seq[Option[Long]],
      inserts: Int, on: String = "s.k", sourceKeyOf: String = "")

  private val dateKey = "date_add(date'2024-01-01', cast(id as int))"
  private val venueCases = Seq(
    Venue("long", "id", Seq(Some(12L), Some(13L), Some(45L)), 1),
    Venue("int", "cast(id as int)", Seq(Some(12L), Some(13L), Some(45L)), 1),
    Venue("string", "lpad(cast(id as string), 3, '0')", Seq(Some(12L), Some(25L), Some(45L)), 1),
    Venue("date", dateKey, Seq(Some(12L), Some(13L), Some(45L)), 1),
    Venue("timestamp", "timestamp_seconds(1700000000 + id)",
      Seq(Some(12L), Some(13L), Some(45L)), 1),
    Venue("decimal", "cast(id * 0.25 as decimal(10, 2))", Seq(Some(12L), Some(25L), Some(45L)), 1),
    Venue("double holding NaN", "if(id = 39, double('NaN'), cast(id as double))",
      Seq(Some(12L), Some(39L), Some(45L)), 1),
    Venue("null", "id", Seq(None, Some(12L)), 1),
    Venue("all-null", "id", Seq(None, None), 2),
    Venue("empty-source", "id", Nil, 0),
    Venue("s.k + 1", "id", Seq(Some(11L), Some(12L)), 0, on = "s.k + 1"),
    // Keys the analyzer leaves as expressions that only the optimizer
    // rewrites into evaluable ones.
    Venue("to_date(s.k)", dateKey, Seq(Some(12L), Some(13L), Some(45L)), 1,
      on = "to_date(s.k)", sourceKeyOf = s"cast($dateKey as string)"),
    Venue("nvl(s.k, 0)", "id", Seq(None, Some(12L), Some(45L)), 1, on = "nvl(s.k, 0)"))

  for (dv <- Seq(false, true); c <- venueCases) {
    val conf = if (dv) Map("graft.enableDeletionVectors" -> "true") else Map.empty[String, String]

    test(s"merge skipping venues: a local and a shuffled source agree, ${c.name} key (dv=$dv)") {
      import spark.implicits._
      val cond = expr(s"t.k = ${c.on}")
      val rows = c.ids.toDF("id").selectExpr(
        s"${if (c.sourceKeyOf.isEmpty) c.keyOf else c.sourceKeyOf} as k",
        "cast(coalesce(-id, -100) as double) as v")
      val local = spark.createDataFrame(rows.collectAsList(), rows.schema)
      val shuffled = local.repartition(2)
      val target = Graft.read(spark, keyed(c.keyOf, conf)).alias("t")
      def filters(src: DataFrame) =
        graft.commands.Dml.joinFilters(spark, target, src.alias("s"), cond)
      assert(filters(local) === filters(shuffled))
      // The files a merge adds follow its source's partitioning, which the
      // repartition changes whatever the bounds; every other metric agrees.
      // Each source goes through two clause shapes: one that sets a column
      // and keeps the target's key, and the full-row updateAll/insertAll,
      // which a local source under DVs writes from its own rows.
      def merged(src: DataFrame, fullRow: Boolean) = {
        val path = keyed(c.keyOf, conf)
        val b = GraftTable.forPath(spark, path).merge(src, cond)
        val metrics = (if (fullRow) b.whenMatched().updateAll().whenNotMatched().insertAll()
          else b.whenMatched().update(Map("v" -> col("s.v")))
            .whenNotMatched().insert(Map("k" -> expr(c.on), "v" -> col("s.v"))))
          .execute()
        val table = Graft.read(spark, path)
          .select(coalesce(col("k").cast("string"), lit("null")), col("v"))
          .as[(String, Double)].collect().sorted.toSeq
        (metrics - "numTargetFilesAdded", table)
      }
      for (fullRow <- Seq(false, true)) {
        val (localMetrics, localTable) = merged(local, fullRow)
        val (metrics, table) = merged(shuffled, fullRow)
        assert(localMetrics === metrics, s"fullRow=$fullRow")
        assert(localTable === table, s"fullRow=$fullRow")
        assert(table.size === 40 + c.inserts, s"fullRow=$fullRow")
      }
    }
  }

  // ---- MERGE phase 2's two venues for a local source: under DVs, with
  // no NOT MATCHED BY SOURCE clause and no change data feed, a local
  // source's own rows, tagged by phase 1, are written when updates and
  // inserts read only source columns and no source row applied to two
  // target rows; otherwise, and for any other source, phase 2 joins. Each
  // shape runs from a local source and from the same rows repartitioned,
  // against a model. The target is four files of k = 0-39 with v = k; a
  // source row is (k, -k).

  /** A phase-2 venue case: the source's keys, the clauses, the keys whose
    * rows the merge updates, deletes and inserts, whether the source
    * carries `v`, and whether the target holds a second row of key 12. */
  private case class Shape(name: String, ids: Seq[Long],
      clauses: MergeBuilder => MergeBuilder, updated: Set[Long] = Set.empty,
      deleted: Set[Long] = Set.empty, inserted: Set[Long] = Set.empty,
      withV: Boolean = true, dupKey: Boolean = false)

  private def upsertAll(b: MergeBuilder) = b.whenMatched().updateAll().whenNotMatched().insertAll()
  private val shapes = Seq(
    Shape("updateAll and insertAll", Seq(12L, 13L, 45L), upsertAll,
      updated = Set(12L, 13L), inserted = Set(45L)),
    Shape("a duplicated target key", Seq(12L, 13L, 45L), upsertAll,
      updated = Set(12L, 13L), inserted = Set(45L), dupKey = true),
    Shape("a matched condition on t", Seq(12L, 13L, 45L),
      b => b.whenMatched(expr("t.v < 13")).updateAll().whenNotMatched().insertAll(),
      updated = Set(12L), inserted = Set(45L)),
    Shape("a conditional insert", Seq(12L, 41L, 45L),
      b => b.whenMatched().updateAll().whenNotMatched(expr("s.v < -44")).insertAll(),
      updated = Set(12L), inserted = Set(45L)),
    Shape("a matched row no clause applies to", Seq(12L, 13L, 45L),
      b => b.whenMatched(expr("s.k = 12")).updateAll().whenNotMatched().insertAll(),
      updated = Set(12L), inserted = Set(45L)),
    Shape("update and delete", Seq(12L, 13L, 45L),
      b => b.whenMatched(expr("s.k = 12")).updateAll().whenMatched().delete()
        .whenNotMatched().insertAll(),
      updated = Set(12L), deleted = Set(13L), inserted = Set(45L)),
    Shape("a source without v", Seq(12L, 45L), upsertAll,
      updated = Set(12L), inserted = Set(45L), withV = false),
    Shape("a source without v, delete and insertAll", Seq(12L, 45L),
      b => b.whenMatched().delete().whenNotMatched().insertAll(),
      deleted = Set(12L), inserted = Set(45L), withV = false),
    // A NOT MATCHED BY SOURCE clause keeps phase 2 on the target-side
    // join, whatever the source.
    Shape("a NOT MATCHED BY SOURCE update", Seq(12L, 13L, 45L),
      b => upsertAll(b).whenNotMatchedBySource(expr("t.k >= 30"))
        .update(Map("v" -> expr("-t.k"))),
      updated = Set(12L, 13L) ++ (30L until 40L), inserted = Set(45L)))

  for (dv <- Seq(false, true); sh <- shapes) {
    val conf = if (dv) Map("graft.enableDeletionVectors" -> "true") else Map.empty[String, String]

    test(s"merge venues: a local and a shuffled source agree, ${sh.name} (dv=$dv)") {
      import spark.implicits._
      val full = sh.ids.toDF("id").selectExpr("id as k", "cast(-id as double) as v")
      val rows = if (sh.withV) full else full.drop("v")
      val local = spark.createDataFrame(rows.collectAsList(), rows.schema)
      val targetRows = (0L until 40L).map(k => k -> k.toDouble) ++
        (if (sh.dupKey) Seq(12L -> 112.0) else Nil)
      val expected = (targetRows.collect {
        case (k, v) if !sh.deleted(k) =>
          k -> Some(if (sh.updated(k) && sh.withV) -k.toDouble else v)
      } ++ sh.inserted.toSeq.map(k => k -> (if (sh.withV) Some(-k.toDouble) else None)))
        .sorted
      def merged(src: DataFrame) = {
        val path = keyed("id", conf)
        if (sh.dupKey) Graft.write(Seq((12L, 112.0)).toDF("k", "v"), path)
        val metrics = sh.clauses(GraftTable.forPath(spark, path).merge(src, expr("t.k = s.k")))
          .execute()
        val table = Graft.read(spark, path).select("k", "v")
          .as[(Long, Option[Double])].collect().sorted.toSeq
        (metrics - "numTargetFilesAdded", table)
      }
      val (localMetrics, localTable) = merged(local)
      val (metrics, table) = merged(local.repartition(2))
      assert(localTable === expected)
      assert(table === expected)
      assert(localMetrics === metrics)
      // The row counts a merge reports follow the model with DVs or
      // without, and under DVs it retires exactly the rows it updates or
      // deletes.
      def count(keys: Set[Long]) = targetRows.count { case (k, _) => keys(k) }
      Map("numTargetRowsUpdated" -> count(sh.updated),
        "numTargetRowsDeleted" -> count(sh.deleted),
        "numTargetRowsInserted" -> sh.inserted.size).foreach { case (key, n) =>
        metrics.get(key).foreach(got => assert(got === n.toString, key))
      }
      if (dv) assert(metrics("numChangedTargetRows") === count(sh.updated ++ sh.deleted).toString)
    }
  }
}
