package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Randomized MERGE fuzz: seeded random clause sets (matched
 * update/delete, not-matched insert, not-matched-by-source
 * update/delete, each with a random condition from a small pool, in
 * random order) applied to random target/source overlaps, checked
 * against an independent Scala model of the reference semantics —
 * first-applicable-clause per row, clause-condition evaluation over
 * (t, s), unmatched rows untouched. Each seed runs over a one-file
 * and a four-file clustered target, with and without deletion vectors,
 * from a local source and from the same rows repartitioned, and also
 * checks which files skipping kept and how many rows the deletion
 * vectors retired. Source ids are distinct so no run trips the
 * multi-match ambiguity guard (DmlMatrixSuite pins those).
 */
class MergeFuzzSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft-mgfz").toString

  // row state: (v, w)
  private case class Row2(v: Long, w: Long)

  // condition pool: SQL text + model predicate over (target, source);
  // NMBS conditions see only t, insert conditions only s
  private case class Cond(sql: String,
      eval: (Option[Row2], Option[Row2]) => Boolean)
  private val matchedConds: Seq[Option[Cond]] = Seq(
    None,
    Some(Cond("s.v % 2 = 0", (_, s) => s.get.v % 2 == 0)),
    Some(Cond("t.v % 3 = 0", (t, _) => t.get.v % 3 == 0)),
    Some(Cond("t.w < s.w", (t, s) => t.get.w < s.get.w)))
  private val insertConds: Seq[Option[Cond]] = Seq(
    None,
    Some(Cond("s.v % 2 = 1", (_, s) => s.get.v % 2 == 1)),
    Some(Cond("s.w > 1", (_, s) => s.get.w > 1)))
  private val nmbsConds: Seq[Option[Cond]] = Seq(
    None,
    Some(Cond("t.w % 4 = 1", (t, _) => t.get.w % 4 == 1)),
    Some(Cond("t.v > 60", (t, _) => t.get.v > 60)))

  private sealed trait Clause
  private case class MU(c: Option[Cond], all: Boolean) extends Clause
  private case class MD(c: Option[Cond]) extends Clause
  private case class NI(c: Option[Cond]) extends Clause
  private case class ND(c: Option[Cond]) extends Clause
  private case class NU(c: Option[Cond]) extends Clause

  for (iter <- 0 until 8) test(s"randomized MERGE vs model (seed ${7100 + iter})") {
    import spark.implicits._
    val r = new scala.util.Random(7100 + iter)
    val target = (0L until 40L).map(i => i -> Row2(i * 3, i % 10)).toMap
    val srcMap = r.shuffle((20L until 60L).toVector).take(25)
      .map(i => i -> Row2(i * 7 + 1, i % 5)).toMap

    // random clause set: 0-2 matched, 0-1 insert, 0-1 NMBS. Every 4th
    // iteration FORCES zero matched clauses so the insert-only fast path
    // and the nmbs-without-matched composition are always fuzzed (the
    // seeded rolls alone never produce an empty matched list).
    val matched: Seq[Clause] =
      if (iter % 4 == 3) Nil
      else r.shuffle(Seq(
        MU(matchedConds(r.nextInt(matchedConds.size)), all = r.nextBoolean()),
        MD(matchedConds(r.nextInt(matchedConds.size))))).take(r.nextInt(3))
    val inserts: Seq[Clause] =
      if (r.nextBoolean() || matched.isEmpty)
        Seq(NI(insertConds(r.nextInt(insertConds.size))))
      else Nil
    val nmbs: Seq[Clause] = r.nextInt(3) match {
      case 0 => Nil
      case 1 => Seq(ND(nmbsConds(r.nextInt(nmbsConds.size))))
      case 2 => Seq(NU(nmbsConds(r.nextInt(nmbsConds.size))))
    }
    val clauses = matched ++ inserts ++ nmbs

    // independent model: first applicable clause per row; `retired`
    // holds the target rows the merge replaces or deletes
    val expected = scala.collection.mutable.Map.empty[Long, Row2]
    val retired = scala.collection.mutable.Set.empty[Long]
    target.foreach { case (id, t) =>
      srcMap.get(id) match {
        case Some(s) =>
          matched.find {
            case MU(c, _) => c.forall(_.eval(Some(t), Some(s)))
            case MD(c) => c.forall(_.eval(Some(t), Some(s)))
            case _ => false
          } match {
            case Some(MU(_, all)) =>
              retired += id
              expected(id) = if (all) s else Row2(s.v + 1000, t.w + 1)
            case Some(MD(_)) => retired += id
            case _ => expected(id) = t
          }
        case None =>
          nmbs.find {
            case ND(c) => c.forall(_.eval(Some(t), None))
            case NU(c) => c.forall(_.eval(Some(t), None))
            case _ => false
          } match {
            case Some(ND(_)) => retired += id
            case Some(NU(_)) =>
              retired += id
              expected(id) = Row2(t.v, t.w + 100)
            case _ => expected(id) = t
          }
      }
    }
    srcMap.foreach { case (id, s) =>
      if (!target.contains(id)) {
        val applies = inserts.exists {
          case NI(c) => c.forall(_.eval(None, Some(s)))
          case _ => false
        }
        if (applies) expected(id) = s
      }
    }

    // The same merge over each target layout, with and without deletion
    // vectors: one file, or four files clustered on id (0-9 .. 30-39), of
    // which skipping keeps those that meet the source's id range. A local
    // source under DVs can be written from its own rows in phase 2; the
    // repartitioned one always joins.
    for (files <- Seq(1, 4); dv <- Seq(false, true); local <- Seq(true, false)) {
      val layout = s"seed ${7100 + iter} files=$files dv=$dv local=$local clauses=$clauses"
      val dir = tmp()
      val perFile = 40 / files
      (0 until files).foreach { f =>
        Graft.write(target.toSeq.filter(_._1 / perFile == f)
          .map { case (i, x) => (i, x.v, x.w) }.toDF("id", "v", "w").coalesce(1), dir,
          configuration = if (f > 0 || !dv) Map.empty
            else Map("graft.enableDeletionVectors" -> "true"))
      }

      // drive the builder
      val src = srcMap.toSeq.map { case (i, x) => (i, x.v, x.w) }.toDF("id", "v", "w")
      var b = GraftTable.forPath(spark, dir).merge(
        if (local) src else src.repartition(2), expr("t.id = s.id"))
      clauses.foreach {
        case MU(c, all) =>
          val m = c.map(x => b.whenMatched(expr(x.sql))).getOrElse(b.whenMatched())
          b = if (all) m.updateAll()
              else m.update(Map("v" -> expr("s.v + 1000"), "w" -> expr("t.w + 1")))
        case MD(c) =>
          b = c.map(x => b.whenMatched(expr(x.sql))).getOrElse(b.whenMatched()).delete()
        case NI(c) =>
          b = c.map(x => b.whenNotMatched(expr(x.sql))).getOrElse(b.whenNotMatched()).insertAll()
        case ND(c) =>
          b = c.map(x => b.whenNotMatchedBySource(expr(x.sql)))
            .getOrElse(b.whenNotMatchedBySource()).delete()
        case NU(c) =>
          b = c.map(x => b.whenNotMatchedBySource(expr(x.sql)))
            .getOrElse(b.whenNotMatchedBySource())
            .update(Map("w" -> expr("t.w + 100")))
      }
      val metrics = b.execute()

      val got = Graft.read(spark, dir).select($"id", $"v", $"w")
        .as[(Long, Long, Long)].collect()
        .map { case (i, v, w) => i -> Row2(v, w) }.toMap
      assert(got === expected.toMap, layout)
      // skipping keeps exactly the files whose id range meets the
      // source's (all of them under a NOT MATCHED BY SOURCE clause)
      val (lo, hi) = (srcMap.keys.min, srcMap.keys.max)
      val kept = (0 until files).count(f =>
        nmbs.nonEmpty || (f * perFile <= hi && (f + 1) * perFile - 1 >= lo))
      assert(metrics("numTargetFilesBeforeSkipping") === files.toString, layout)
      assert(metrics("numTargetFilesAfterSkipping") === kept.toString, layout)
      // under DVs every retired row is marked, and only those
      if (dv && (matched.nonEmpty || nmbs.nonEmpty))
        assert(metrics("numChangedTargetRows") === retired.size.toString, layout)
    }
  }
}
