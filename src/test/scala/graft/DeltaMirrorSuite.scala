package graft

import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta-format mirror: every graft commit doubles as a Delta JSON
  * commit; proven by round-tripping the mirror through CONVERT FROM
  * DELTA into a fresh table. */
class DeltaMirrorSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    JFiles.createTempDirectory("graft-mirror").toString

  /** Hardlink the data files + _delta_log (NOT _graft_log) of `src` into
    * a fresh dir — what a pure Delta reader of the mirror would see. */
  private def deltaViewOf(src: String): String = {
    val dst = tmpDir()
    def walk(rel: String): Unit = {
      val d = new java.io.File(s"$src/$rel")
      d.listFiles().foreach { f =>
        val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
        if (f.isDirectory) {
          if (r != "_graft_log") { JFiles.createDirectories(Paths.get(dst, r)); walk(r) }
        } else if (!r.startsWith("_graft_log")) {
          try JFiles.createLink(Paths.get(dst, r), f.toPath)
          catch { case _: Exception => JFiles.copy(f.toPath, Paths.get(dst, r)) }
        }
      }
    }
    walk("")
    dst
  }

  test("mirrored commits round-trip through CONVERT FROM DELTA") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 50).select($"id", ($"id" % 5).as("k")), dir,
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
    Graft.write(spark.range(50, 80).select($"id", ($"id" % 5).as("k")), dir)
    GraftTable.forPath(spark, dir).delete($"id" >= 70)
    val mirrors = new java.io.File(s"$dir/_delta_log").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).sorted
    assert(mirrors.length === 3, s"expected 3 mirror commits, got ${mirrors.toSeq}")

    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    val a = Graft.read(spark, dir).orderBy("id").as[(Long, Long)].collect().toSeq
    val b = Graft.read(spark, view).orderBy("id").as[(Long, Long)].collect().toSeq
    assert(a === b)
    assert(a.map(_._1) === (0L until 70L))
  }

  test("late enablement bootstraps a full-state mirror commit 0") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 20).toDF("id"), dir)
    Graft.write(spark.range(20, 30).toDF("id"), dir)
    assert(!new java.io.File(s"$dir/_delta_log").exists())
    GraftTable.forPath(spark, dir).upsertProperties(
      Map(graft.commands.DeltaMirror.PROP -> "delta"))
    // bootstrap happened at the property commit; a later append mirrors too
    Graft.write(spark.range(30, 33).toDF("id"), dir)
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
      (0L until 33L))
  }

  test("deletion-vector commits mirror as spec-format Delta DVs") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 40).toDF("id"), dir,
      configuration = Map(
        graft.commands.DeltaMirror.PROP -> "delta",
        "graft.enableDeletionVectors" -> "true"))
    GraftTable.forPath(spark, dir).delete($"id" < 5)
    // a delta-format DV file landed next to the data
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")))
    val mirror1 = JFiles.readString(
      Paths.get(dir, "_delta_log", f"${1L}%020d.json"))
    assert(mirror1.contains(""""storageType":"u""""))
    assert(mirror1.contains(""""cardinality":5"""))
    // the whole mirror (incl. the DV) reads back through the importer
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
      (5L until 40L))
  }

  test("a lost mirror commit backfills on the next commit (no permanent hole)") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 10).toDF("id"), dir,
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
    Graft.write(spark.range(10, 20).toDF("id"), dir)
    // simulate a hook that died after its graft commit: mirror 1 vanishes
    val lost = Paths.get(dir, "_delta_log", f"${1L}%020d.json")
    assert(JFiles.deleteIfExists(lost))
    Graft.write(spark.range(20, 25).toDF("id"), dir)
    // the next hook backfilled the hole from the graft commit
    assert(JFiles.exists(lost), "mirror hole was not backfilled")
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
      (0L until 25L))
  }

  /** Run `body` with the table's write of mirror commit `v` failing. */
  private def failingMirror[T](v: Long)(body: => T): T =
    FaultyLogStore.failing(p => p.getParent.getName == "_delta_log" &&
      p.getName == f"$v%020d.json")(body)

  test("mirror hook is best-effort: a mirror failure never fails the commit") {
    FaultyLogStore.installed(spark) {
      val dir = tmpDir()
      Graft.write(spark.range(0, 10).toDF("id"), dir,
        configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
      // the graft commit must succeed even though its mirror hook blows up
      failingMirror(1L)(Graft.write(spark.range(10, 20).toDF("id"), dir))
      assert(Graft.read(spark, dir).count() === 20)
      assert(!JFiles.exists(Paths.get(dir, "_delta_log", f"${1L}%020d.json")),
        "the injected fault did not suppress the mirror write")
      // the next commit's hook repairs the hole
      Graft.write(spark.range(20, 25).toDF("id"), dir)
      assert(JFiles.exists(Paths.get(dir, "_delta_log", f"${1L}%020d.json")))
      assert(JFiles.exists(Paths.get(dir, "_delta_log", f"${2L}%020d.json")))
      val view = deltaViewOf(dir)
      Graft.convertFromDelta(spark, view)
      assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
        (0L until 25L))
    }
  }

  test("backfilled protocol derives from the commit's own state, not the current one") {
    FaultyLogStore.installed(spark) {
      val dir = tmpDir()
      Graft.write(spark.range(0, 10).toDF("id"), dir,
        configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
      // v1 enables CDF but its mirror hook dies; v2 then enables DVs and
      // its hook backfills mirror v1 — which must carry the v1-era protocol
      // (writer 4, no reader features), not the v2-era DV protocol.
      failingMirror(1L)(GraftTable.forPath(spark, dir).upsertProperties(
        Map("graft.enableChangeDataFeed" -> "true")))
      assert(!JFiles.exists(Paths.get(dir, "_delta_log", f"${1L}%020d.json")))
      GraftTable.forPath(spark, dir).upsertProperties(
        Map("graft.enableDeletionVectors" -> "true"))
      val m1 = JFiles.readString(Paths.get(dir, "_delta_log", f"${1L}%020d.json"))
      val m2 = JFiles.readString(Paths.get(dir, "_delta_log", f"${2L}%020d.json"))
      if (m1.contains(""""protocol"""")) {
        assert(!m1.contains("deletionVectors"),
          s"backfilled v1 leaked the v2 protocol: $m1")
        assert(m1.contains(""""minWriterVersion":4"""), m1)
      }
      assert(m2.contains("deletionVectors"), m2)
      // the repaired mirror still folds to the right state
      val view = deltaViewOf(dir)
      Graft.convertFromDelta(spark, view)
      assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
        (0L until 10L))
    }
  }

  test("mirror checkpoint carries unexpired tombstones, dataChange=false") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 30).toDF("id"), dir,
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
    GraftTable.forPath(spark, dir).delete(col("id") < 10)
    (0 until 10).foreach(i =>
      Graft.write(spark.range(100 + i * 5L, 105 + i * 5L).toDF("id"), dir))
    val logDir = new java.io.File(s"$dir/_delta_log")
    val cp = logDir.listFiles().find(_.getName.endsWith(".checkpoint.parquet"))
      .getOrElse(fail("no mirror checkpoint written"))
    val cpDF = spark.read.parquet(cp.getPath)
    import org.apache.spark.sql.functions.{col => c}
    // the DELETE's tombstones are present (retention window is 7 days)
    assert(cpDF.where(c("remove").isNotNull).count() > 0,
      "mirror checkpoint dropped the remove tombstones")
    // every file action in a checkpoint is dataChange=false
    assert(cpDF.where(c("add.dataChange") === true).count() === 0)
    assert(cpDF.where(c("remove.dataChange") === true).count() === 0)
  }

  test("long mirrors checkpoint; importer cold-loads past cleaned JSON") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 5).toDF("id"), dir,
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
    (1 until 12).foreach(i =>
      Graft.write(spark.range(i * 5L, i * 5L + 5).toDF("id"), dir))
    val logDir = new java.io.File(s"$dir/_delta_log")
    assert(logDir.listFiles().exists(_.getName.endsWith(".checkpoint.parquet")),
      "no mirror checkpoint written")
    assert(JFiles.exists(Paths.get(dir, "_delta_log", "_last_checkpoint")))
    // delta-style metadata cleanup: pre-checkpoint JSON commits removed
    logDir.listFiles().filter { f =>
      graft.log.FileNames.deltaVersion(f.getName).exists(_ < 10)
    }.foreach(_.delete())
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
      (0L until 60L))
  }

  test("DV-bearing mirrors checkpoint too; importer cold-loads with DVs applied") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 40).toDF("id"), dir,
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta",
        "graft.enableDeletionVectors" -> "true"))
    GraftTable.forPath(spark, dir).delete(col("id") < 10) // DV commit
    (0 until 10).foreach(i =>
      Graft.write(spark.range(100 + i * 5L, 105 + i * 5L).toDF("id"), dir))
    val logDir = new java.io.File(s"$dir/_delta_log")
    assert(logDir.listFiles().exists(_.getName.endsWith(".checkpoint.parquet")),
      "DV-bearing state skipped the mirror checkpoint")
    // the checkpoint's add rows carry spec-format DV descriptors
    val cp = logDir.listFiles().find(_.getName.endsWith(".checkpoint.parquet")).get
    assert(spark.read.parquet(cp.getPath)
      .where(col("add.deletionVector.cardinality") > 0).count() > 0,
      "checkpoint lost the DV descriptors")
    // delta-style metadata cleanup: pre-checkpoint JSON commits removed —
    // a Delta reader must reconstruct DV state from the checkpoint alone
    logDir.listFiles().filter { f =>
      graft.log.FileNames.deltaVersion(f.getName).exists(_ < 10)
    }.foreach(_.delete())
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).orderBy("id").as[Long].collect().toSeq ===
      ((10L until 40L) ++ (100L until 150L)))
  }

  test("VACUUM never eats the mirror log or its DV files") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 40).toDF("id"), dir,
      configuration = Map(
        graft.commands.DeltaMirror.PROP -> "delta",
        "graft.enableDeletionVectors" -> "true"))
    GraftTable.forPath(spark, dir).delete($"id" < 5)
    // an orphan data file that SHOULD be vacuumed, to prove vacuum ran
    JFiles.writeString(Paths.get(dir, "part-orphan.parquet"), "junk")
    JFiles.setLastModifiedTime(Paths.get(dir, "part-orphan.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 100000))
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    try GraftTable.forPath(spark, dir).vacuum(retentionHours = 0.0)
    finally spark.conf.unset("spark.graft.vacuum.retentionCheck.enabled")
    assert(!JFiles.exists(Paths.get(dir, "part-orphan.parquet")),
      "vacuum did not run")
    assert(new java.io.File(s"$dir/_delta_log").listFiles().nonEmpty,
      "vacuum deleted the mirror log")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")),
      "vacuum deleted the mirror's Delta DV file")
    // the mirror still imports after vacuum
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).count() === 35)
  }

  test("paths with spaces survive the mirror round trip URI-encoded") {
    // space in the partition VALUE (a space in the column NAME is now
    // refused without column mapping, matching the reference): the
    // directory "p=a 0" must appear percent-encoded in the delta path
    val dir = tmpDir()
    Graft.write(
      spark.range(0, 12).selectExpr("id", "concat('a ', id % 2) AS p"), dir,
      partitionBy = Seq("p"),
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
    val mirror0 = JFiles.readString(
      Paths.get(dir, "_delta_log", f"${0L}%020d.json"))
    assert(mirror0.contains("p=a%20"), s"path not URI-encoded:\n$mirror0")
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    assert(Graft.read(spark, view).count() === 12)
    assert(Graft.read(spark, view).where($"p" === "a 1").count() === 6)
  }

  test("row tracking exports through the mirror: ids + watermark round-trip") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 30).toDF("id").coalesce(1), dir,
      configuration = Map(
        graft.commands.DeltaMirror.PROP -> "delta",
        "graft.enableRowTracking" -> "true"))
    Graft.write(spark.range(30, 50).toDF("id").coalesce(1), dir)
    GraftTable.forPath(spark, dir).delete($"id" >= 45)
    val mirror0 = JFiles.readString(
      Paths.get(dir, "_delta_log", f"${0L}%020d.json"))
    assert(mirror0.contains(""""baseRowId":0"""))
    assert(mirror0.contains(""""rowTracking""""), "writer feature missing")
    assert(mirror0.contains("delta.rowTracking"), "watermark domain missing")
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    def ids(d: String): Map[Long, Long] =
      GraftTable.forPath(spark, d).toDFWithRowIds
        .select($"id", $"_graft_row_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (a, b) = (ids(dir), ids(view))
    assert(b === a, "row ids did not survive the mirror round-trip")
    // the imported watermark continues the SAME id space: fresh rows on
    // the converted table get ids past every exported one
    Graft.write(spark.range(100, 103).toDF("id").coalesce(1), view)
    val after = ids(view)
    assert(after(100L) > a.values.max)
  }

  test("row tracking + deletion vectors compose through the mirror") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 30).toDF("id").coalesce(1), dir,
      configuration = Map(
        graft.commands.DeltaMirror.PROP -> "delta",
        "graft.enableRowTracking" -> "true",
        "graft.enableDeletionVectors" -> "true"))
    // DV delete: the surviving rows keep their original row ids
    GraftTable.forPath(spark, dir).delete($"id" % 3 === 0L)
    def ids(d: String): Map[Long, Long] =
      GraftTable.forPath(spark, d).toDFWithRowIds
        .select($"id", $"_graft_row_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    val (a, b) = (ids(dir), ids(view))
    assert(a.keySet === (0L until 30L).filter(_ % 3 != 0).toSet)
    assert(b === a, "row ids did not survive the DV mirror round-trip")
  }

  test("redirect property exports -preview spelling with noRedirectRules intact") {
    val src = tmpDir(); val dst = tmpDir()
    Graft.write(spark.range(0, 5).toDF("id"), src,
      configuration = Map(graft.commands.DeltaMirror.PROP -> "delta"))
    Graft.write(spark.range(9, 10).toDF("id"), dst)
    GraftTable.forPath(spark, src).redirectTo(dst,
      Seq(graft.log.TableRedirect.NoRedirectRule(
        Some("validation-job"), Set("DELETE"))))
    // the READY transition is the latest mirrored commit (version 2:
    // write, enable, ready) — its metadata must carry the Delta -preview
    // key with the rules riding verbatim in the JSON value
    val mirror = JFiles.readString(
      Paths.get(src, "_delta_log", f"${2L}%020d.json"))
    assert(mirror.contains("delta.redirectReaderWriter-preview"), mirror)
    assert(mirror.contains("noRedirectRules"), mirror)
    assert(mirror.contains("validation-job") &&
      mirror.contains("REDIRECT-READY"), mirror)
    assert(!mirror.contains("graft.redirectReaderWriter"),
      "mirror leaked the graft-spelled property key")
  }

  test("materializePartitionColumns exports: feature, property and layout") {
    val dir = tmpDir()
    Graft.write(spark.range(0, 10)
      .select($"id", ($"id" % 2).cast("string").as("k")), dir,
      partitionBy = Seq("k"),
      configuration = Map(
        graft.commands.DeltaMirror.PROP -> "delta",
        "graft.enableMaterializePartitionColumnsFeature" -> "true"))
    val mirror0 = JFiles.readString(
      Paths.get(dir, "_delta_log", f"${0L}%020d.json"))
    assert(mirror0.contains("\"materializePartitionColumns\""), mirror0)
    assert(mirror0.contains("delta.enableMaterializePartitionColumnsFeature"),
      mirror0)
    assert(!mirror0.contains("graft.enableMaterializePartitionColumnsFeature"),
      "mirror leaked the graft-spelled property key")
    // the mirrored files themselves carry the promised layout: a Delta
    // reader of the mirror that trusts the feature finds the partition
    // column physically present
    val f = GraftTable.forPath(spark, dir).snapshot.allFiles.head
    assert(spark.read.parquet(dir + "/" + f.path).columns.contains("k"))
  }

  test("constraints and appendOnly survive the round trip") {
    val dir = tmpDir()
    Graft.write(spark.range(1, 10).toDF("id"), dir,
      configuration = Map(
        graft.commands.DeltaMirror.PROP -> "delta",
        "graft.appendOnly" -> "true",
        graft.constraints.Constraints.PROP_PREFIX + "pos" -> "id > 0"))
    val mirror0 = JFiles.readString(
      Paths.get(dir, "_delta_log", f"${0L}%020d.json"))
    assert(mirror0.contains("delta.constraints.pos"))
    assert(mirror0.contains("delta.appendOnly"))
    val view = deltaViewOf(dir)
    Graft.convertFromDelta(spark, view)
    intercept[Exception] { Graft.write(Seq(-1L).toDF("id"), view) }
    intercept[Exception] {
      GraftTable.forPath(spark, view).delete($"id" === 1L)
    }
  }
}
