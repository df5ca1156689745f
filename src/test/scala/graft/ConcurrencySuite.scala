package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._
import graft.tx._

/**
 * Deterministic conflict interleavings: each test pins transaction A,
 * then has the log store inject a winning commit at the exact moment A
 * is about to write its commit file — so every Concurrent*Exception
 * class is provoked at a precise phase boundary, single-threaded, with
 * no sleeps and no timing dependence. Every table of the suite is opened
 * through [[FaultyLogStore]], whose callback before each commit file
 * write runs the winner.
 * (Reference concept: fuzzer/PhaseLockingTransactionExecutionObserver.scala
 * + concurrency/TransactionExecutionTestMixin.scala — re-designed as a
 * pre-write callback instead of thread barriers.)
 */
class ConcurrencySuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def tmpDir(): String = Files.createTempDirectory("graft-conc").toString

  override def afterAll(): Unit = GraftLog.clearCache()

  override def withFixture(test: NoArgTest) =
    FaultyLogStore.installed(spark)(super.withFixture(test))

  /** Fresh partitioned table; returns its log. */
  private def freshTable(): GraftLog = {
    val dir = tmpDir()
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .limit(200)
    Graft.write(df, dir, partitionBy = Seq("l_returnflag"))
    GraftLog.forTable(spark, dir)
  }

  /** Run `body` with `winner` committing just ahead of the first commit
    * attempt `body` makes — forcing that attempt onto the conflict-check
    * path. */
  private def injectOnFirstAttempt[T](winner: => Unit)(body: => T): T = {
    var fired = false
    val result = FaultyLogStore.beforeEachCommit(_ => if (!fired) { fired = true; winner })(body)
    assert(fired, "the winner never committed")
    result
  }

  private def addFileFor(log: GraftLog, flag: String): AddFile = {
    // A real (tiny) parquet file so later snapshot reads stay valid.
    val df = spark.range(1).select(
      lit(999999L).as("l_orderkey"), lit(1.0).as("l_quantity"),
      lit(flag).as("l_returnflag"))
    val txn = log.startTransaction()
    val adds = txn.writeFiles(df)
    adds.head.copy(partitionValues = Map("l_returnflag" -> flag))
  }

  test("ConcurrentAppendException: winner appends into A's read set at the attempt boundary") {
    val log = freshTable()
    val a = log.startTransaction()
    a.filterFiles() // whole-table read under Serializable
    val newAdd = addFileFor(log, "R")
    val e = injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(newAdd), "APPEND")
    } {
      intercept[ConcurrentAppendException] {
        a.commit(Seq(addFileFor(log, "A")), "APPEND")
      }
    }
    assert(e.getMessage.contains("overlap the read set"))
  }

  test("append into a DIFFERENT partition retries and succeeds") {
    val log = freshTable()
    val a = log.startTransaction()
    // A reads only partition R — record the predicate.
    val expr = org.apache.spark.sql.catalyst.expressions.EqualTo(
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "l_returnflag", org.apache.spark.sql.types.StringType)(),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("R"),
        org.apache.spark.sql.types.StringType))
    a.filterFiles(partitionFilters = Seq(expr))
    val newAdd = addFileFor(log, "A") // disjoint partition
    val v0 = log.update().version
    val committed = injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(newAdd), "APPEND")
    } {
      a.commit(Seq(addFileFor(log, "R")), "APPEND")
    }
    assert(committed === v0 + 2) // lost v0+1 to B, retried onto v0+2
  }

  test("ConcurrentDeleteReadException: winner removes a file A read") {
    val log = freshTable()
    val a = log.startTransaction()
    val read = a.filterFiles()
    val victim = read.head
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(victim.remove(System.currentTimeMillis())), "DELETE")
    } {
      intercept[ConcurrentDeleteReadException] {
        a.commit(Seq(addFileFor(log, "R")), "APPEND")
      }
    }
  }

  test("re-add of a winner-removed file conflicts at every isolation level") {
    // backfill-shaped commit: an EXISTING path re-added with no paired
    // remove and dataChange=false (effective isolation SnapshotIsolation)
    // — committing after a winner tombstoned the file would resurrect it,
    // so the conflict must fire even at the weakest level.
    val log = freshTable()
    val a = log.startTransaction()
    val victim = a.snapshot.allFiles.head
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(victim.remove(System.currentTimeMillis())), "DELETE")
    } {
      intercept[ConcurrentDeleteReadException] {
        a.commit(Seq(victim.copy(dataChange = false, baseRowId = Some(0L))),
          "ROW TRACKING BACKFILL")
      }
    }
  }

  test("SnapshotIsolation permits write skew: delete under A's read commits clean") {
    val log = freshTable()
    log.withNewTransaction { t =>
      t.updateMetadata(t.metadata.copy(configuration =
        t.metadata.configuration + ("graft.isolationLevel" -> "SnapshotIsolation")))
      t.commit(Nil, "SET TBLPROPERTIES")
    }
    val a = log.startTransaction()
    val victim = a.filterFiles().head
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(victim.remove(System.currentTimeMillis())), "DELETE")
    } {
      // Same interleaving as above, but SnapshotIsolation admits it.
      a.commit(Seq(addFileFor(log, "R")), "APPEND")
    }
  }

  test("ConcurrentDeleteDeleteException: both sides tombstone the same file") {
    val log = freshTable()
    val a = log.startTransaction()
    // Not via filterFiles: a file in A's read set trips the more severe
    // delete-read check first; delete-delete is the pure compaction race.
    val victim = a.snapshot.allFiles.head
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(victim.remove(System.currentTimeMillis())), "DELETE")
    } {
      intercept[ConcurrentDeleteDeleteException] {
        a.commit(Seq(victim.remove(System.currentTimeMillis())), "DELETE")
      }
    }
  }

  test("MetadataChangedException: winner alters table metadata") {
    val log = freshTable()
    val a = log.startTransaction()
    a.filterFiles()
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.updateMetadata(b.metadata.copy(configuration =
        b.metadata.configuration + ("graft.other" -> "x")))
      b.commit(Nil, "SET TBLPROPERTIES")
    } {
      intercept[MetadataChangedException] {
        a.commit(Seq(addFileFor(log, "R")), "APPEND")
      }
    }
  }

  test("racing redirect enable beats an in-flight write: MetadataChanged, not a stale append") {
    // a writer mid-commit must not slip a data commit UNDER a redirect
    // that another session just enabled — the metadata conflict aborts it
    val log = freshTable()
    val dst = tmpDir()
    Graft.write(spark.range(3).toDF("id"), dst)
    val a = log.startTransaction()
    a.filterFiles()
    injectOnFirstAttempt {
      GraftTable.forPath(spark, log.dataPath.toString)
        .enableRedirect(dst)
    } {
      intercept[MetadataChangedException] {
        a.commit(Seq(addFileFor(log, "R")), "APPEND")
      }
    }
    // ... and a FRESH write attempt refuses on the redirect gate by name
    val e = intercept[UnsupportedOperationException] {
      log.withNewTransaction(t => t.commit(Seq(addFileFor(log, "R")), "APPEND"))
    }
    assert(e.getMessage.contains("redirected"), e.getMessage)
  }

  test("racing ENABLE vs ENABLE (different destinations): loser aborts, winner stands") {
    // two sessions race to redirect the same source to DIFFERENT
    // destinations: the loser's metadata commit aborts on the property
    // conflict, and its public-API retry refuses on the state machine —
    // the redirect can never fork
    val src = tmpDir(); val dstA = tmpDir(); val dstB = tmpDir()
    Graft.write(spark.range(0, 3).toDF("id"), src)
    Graft.write(spark.range(10, 13).toDF("id"), dstA)
    Graft.write(spark.range(20, 23).toDF("id"), dstB)
    val log = GraftLog.forTableNoRedirect(spark, src)
    val a = log.startTransaction()
    val m = a.metadata
    a.updateMetadata(m.copy(configuration = m.configuration +
      (TableRedirect.PROP ->
        TableRedirect.propertyJson(TableRedirect.STATE_ENABLE, dstA))))
    injectOnFirstAttempt {
      GraftTable.forPath(spark, src).enableRedirect(dstB)
    } {
      intercept[MetadataChangedException] { a.commit(Nil, "REDIRECT ENABLE") }
    }
    // the winner's ENABLE stands, pointing at ITS destination
    val live = TableRedirect.get(log.update().metadata)
    assert(live.exists(r =>
      r.state == TableRedirect.STATE_ENABLE && r.dest == dstB), live)
    // a fresh public-API retry of the loser refuses by name
    val e = intercept[IllegalArgumentException] {
      GraftTable.forPath(spark, src).enableRedirect(dstA)
    }
    assert(e.getMessage.contains("invalid redirect transition"), e.getMessage)
    GraftTable.forPath(spark, src).cancelRedirect()
  }

  test("DROP racing a destination write: independent logs, nothing lost, no abort") {
    // a writer resolved through the public path lands at the DESTINATION
    // log, so it cannot conflict with (or be lost to) the source-side
    // DROP commit happening at the same moment — the write survives at
    // the destination and the source returns to its own frozen data
    val src = tmpDir(); val dst = tmpDir()
    Graft.write(spark.range(0, 3).toDF("id"), src)
    Graft.write(spark.range(10, 13).toDF("id"), dst)
    GraftTable.forPath(spark, src).redirectTo(dst)
    val srcLog = GraftLog.forTableNoRedirect(spark, src)
    val a = srcLog.startTransaction()
    val m = a.metadata
    a.updateMetadata(m.copy(configuration = m.configuration +
      (TableRedirect.PROP ->
        TableRedirect.propertyJson(TableRedirect.STATE_DROP, dst))))
    injectOnFirstAttempt {
      // mid-DROP (still READY on disk): the public path serves the dest
      Graft.write(spark.range(100, 102).toDF("id"), src)
    } {
      // no FileAlreadyExists at the source log: first attempt commits
      a.commit(Nil, "REDIRECT DROP")
    }
    // second transition clears via the validated route
    GraftTable.forPathNoRedirect(spark, src)
      .removeProperties(Seq(TableRedirect.PROP))
    def idsAt(p: String): Set[Long] =
      Graft.read(spark, p).select("id").collect().map(_.getLong(0)).toSet
    assert(idsAt(dst) === ((10L until 13L) ++ (100L until 102L)).toSet)
    assert(idsAt(src) === (0L until 3L).toSet)
  }

  test("ProtocolChangedException: winner upgrades the protocol") {
    val log = freshTable()
    val a = log.startTransaction()
    a.filterFiles()
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(log.update().protocol.copy(minWriterVersion = 3)), "UPGRADE")
    } {
      intercept[ProtocolChangedException] {
        a.commit(Seq(addFileFor(log, "R")), "APPEND")
      }
    }
  }

  test("ConcurrentTransactionException: same idempotent appId wins first") {
    val log = freshTable()
    val a = log.startTransaction()
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(SetTransaction("job-1", 7)), "WRITE")
    } {
      intercept[ConcurrentTransactionException] {
        a.commit(Seq(SetTransaction("job-1", 7), addFileFor(log, "R")), "WRITE")
      }
    }
  }

  test("ConcurrentTransactionException: same metadata domain advanced by both") {
    val log = freshTable()
    val a = log.startTransaction()
    injectOnFirstAttempt {
      val b = log.startTransaction()
      b.commit(Seq(DomainMetadata("graft.domain.test", """{"v":1}""")), "DOMAIN")
    } {
      intercept[ConcurrentTransactionException] {
        a.commit(Seq(DomainMetadata("graft.domain.test", """{"v":2}""")), "DOMAIN")
      }
    }
  }

  test("hook fires on every retry attempt: two straight losses then success") {
    val log = freshTable()
    val a = log.startTransaction()
    // Disjoint-partition appends: A never conflicts, only loses the race
    // twice, so the loop must walk v+1 → v+2 → v+3.
    val adds = Seq(addFileFor(log, "A"), addFileFor(log, "N"))
    var n = 0
    val v0 = log.update().version
    val committed = FaultyLogStore.beforeEachCommit { v =>
      if (n < 2) {
        assert(v === v0 + 1 + n, "the hook missed an attempt")
        val add = adds(n); n += 1
        val b = log.startTransaction()
        b.commit(Seq(add), "APPEND")
      }
    } { a.commit(Seq(addFileFor(log, "R")), "APPEND") }
    assert(committed === v0 + 3)
  }

  /** A DV table of four files clustered on `id` (0-9, 10-19, 20-29,
    * 30-39), MERGEd with source keys 12-13 while, just before the MERGE
    * writes its commit, a winner appends `appended`; returns the MERGE's
    * metrics and the table's ids after it. */
  private def mergeRacingAppend(appended: Seq[Long]): (Map[String, String], Seq[Long]) = {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 4).foreach(i =>
      Graft.write(spark.range(i * 10L, i * 10L + 10).toDF("id").coalesce(1), dir,
        configuration = if (i > 0) Map.empty
          else Map("graft.enableDeletionVectors" -> "true")))
    val mergeVersion = GraftLog.forTable(spark, dir).update().version + 1
    var firedAt = -1L
    val metrics = FaultyLogStore.beforeEachCommit { v =>
      if (firedAt < 0) {
        firedAt = v
        Graft.write(appended.toDF("id").coalesce(1), dir, mode = "append")
      }
    } {
      GraftTable.forPath(spark, dir).merge(Seq(12L, 13L).toDF("id"), expr("t.id = s.id"))
        .whenMatched().delete()
        .execute()
    }
    assert(firedAt === mergeVersion, "the winner did not commit ahead of the MERGE")
    (metrics, Graft.read(spark, dir).as[Long].collect().sorted.toSeq)
  }

  test("MERGE: a concurrent append outside the source's key range does not abort it") {
    // The MERGE reads only what its source can match (ids 12-13); an
    // append of ids 100-101 cannot hold a match, so the MERGE retries
    // onto the next version instead of aborting.
    val (metrics, ids) = mergeRacingAppend(Seq(100L, 101L))
    assert(metrics("numTargetFilesBeforeSkipping") === "4")
    assert(metrics("numTargetFilesAfterSkipping") === "1")
    assert(ids === ((0L until 40L).filterNot(Set(12L, 13L)) ++ Seq(100L, 101L)))
  }

  test("MERGE: a concurrent append inside the source's key range aborts it") {
    intercept[ConcurrentAppendException] { mergeRacingAppend(Seq(12L)) }
  }
}
