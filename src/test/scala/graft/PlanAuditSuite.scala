package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Similarity

/** Physical-plan guards for the scale-critical properties the engine
  * depends on: filter/projection pushdown into the parquet scan,
  * broadcast of small join sides, metadata-only aggregates, and measured
  * ANN recall. A refactor that silently loses one of these passes every
  * row-level correctness check but dies at 100 TB — these tests pin the
  * plan shape itself. Two source audits ride along: no global mutable
  * state on the engine's objects, and the exact set of settings the
  * engine reads. */
class PlanAuditSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def tmpDir(): String = Files.createTempDirectory("graft-plan").toString

  test("filters and projections reach the graft parquet scan") {
    val dir = tmpDir()
    Graft.write(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"), dir)
    val df = Graft.read(spark, dir)
      .filter($"l_quantity" > 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection not pruned:\n$plan")
    // stats-based skipping also pruned file selection upstream (covered
    // by graft_data_skipping); here we only pin the scan-level contract
  }

  test("SparkEntry relational queries scan through the graft file index") {
    // The correctness tier must certify the ENGINE's scan path, not
    // spark.read.parquet: q1's executed plan has to carry the log-backed
    // GraftFileIndex location and still push filters down through it.
    val df = SparkEntry.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
    val fileIndexes = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.getClass.getSimpleName
          case other => other.getClass.getSimpleName
        }
    }
    assert(fileIndexes.nonEmpty && fileIndexes.forall(_ == "GraftFileIndex"),
      s"relational tier not reading graft tables: $fileIndexes")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"pushdown lost through the graft scan:\n$plan")
  }

  test("small dimension side of a join broadcasts") {
    val dir = tmpDir()
    Graft.write(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"), dir)
    val nation = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    val joined = Graft.read(spark, dir)
      .join(nation, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey").agg(sum($"l_quantity"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("COUNT(*) and MIN/MAX answer from metadata, not a scan") {
    val dir = tmpDir()
    Graft.write(spark.range(1000).toDF("id"), dir)
    val cnt = Graft.read(spark, dir).agg(count(lit(1)).as("n"), max($"id").as("m"))
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"not metadata-only:\n$plan")
    assert(!plan.contains("FileScan"), s"still scanning files:\n$plan")
    assert(cnt.head.getLong(0) === 1000L && cnt.head.getLong(1) === 999L)
  }

  test("whole-stage codegen covers the dedup signature pipeline") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = graft.ml.Dedup.minHashSignatures(
      docs, $"doc_id", $"text", numHashes = 16, shingleSize = 3)
    sigs.collect()   // execute THIS plan so AQE finalizes it
    val plan = sigs.queryExecution.executedPlan.toString
    // AQE renders whole-stage-codegen spans as "*(n) " operator prefixes
    assert(plan.contains("*(1) ") && plan.contains("Project"),
      s"no codegen spans:\n$plan")
    // the HOF-free pipeline must not fall back to interpreted eval
    assert(!plan.contains("transform("), s"HOF leaked into hot path:\n$plan")
  }

  test("ANN recall vs brute force is measured and acceptable") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"qid".cast("long"), $"cid".cast("long")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSet(Similarity.bruteForceTopK(
      emb, $"vec_id", $"embedding", queries, $"vec_id", $"embedding", k = 10))
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val hits = exact.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      hits.sum / hits.size
    }
    val lsh = recallOf(topSet(Similarity.lshTopK(
      emb, $"vec_id", $"embedding", queries, $"vec_id", $"embedding", k = 10)))
    val ivf = recallOf(topSet(Similarity.ivfTopK(
      emb, $"vec_id", $"embedding", queries, $"vec_id", $"embedding", k = 10)))
    info(f"ANN recall@10 vs brute force: lsh=$lsh%.3f ivf=$ivf%.3f")
    // The synthetic embeddings are near-random 64-dim vectors (mean
    // pairwise cosine ~0), so recall is bounded by the scanned fraction —
    // the auto-tuned probes scan ~25-40% here. The assertion guards
    // against bucketing/probing collapse (a broken hash scores ~0.05),
    // not against the data's lack of neighborhood structure.
    assert(lsh >= 0.35, s"LSH recall collapsed: $lsh")
    assert(ivf >= 0.35, s"IVF recall collapsed: $ivf")
  }

  test("filters on a generated partition column's base prune partitions") {
    import org.apache.spark.sql.types._
    import graft.files.GraftFileIndex
    val dir = tmpDir()
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("v", LongType),
      graft.schema.ColumnDefaults.generatedField("d", DateType, "CAST(ts AS DATE)")))
    Graft.create(spark, dir, schema, partitionBy = Seq("d"))
    Graft.write(
      spark.range(30).select(
        (lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).cast("long") +
          $"id" * 86400 / 10).cast("timestamp").as("ts"),
        $"id".as("v")),
      dir)
    // Assert the inference itself (stats skipping would also prune these
    // files, so an end-to-end file count can't isolate it): a filter on
    // the BASE column must imply partition predicates that prune AddFiles
    // by their partition value alone.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThanOrEqual, Literal => CLit}
    val log = graft.log.GraftLog.forTable(spark, dir)
    val snap = log.update()
    val m = snap.metadata
    def pruneWith(filters: Seq[Expression]) = {
      val inferred = graft.schema.PartitionInference
        .inferPartitionFilters(spark, m, filters)
      assert(inferred.nonEmpty, s"nothing inferred from $filters")
      GraftFileIndex.prunePartitions(snap.allFiles,
        graft.schema.ColumnMapping.physicalPartitionSchema(m), inferred)
    }
    val tsAttr = AttributeReference("ts", TimestampType)()
    def tsLit(s: String): Expression =
      CLit.create(java.sql.Timestamp.valueOf(s), TimestampType)
    assert(snap.allFiles.map(_.partitionValues("d")).distinct.size === 3)
    val eq = pruneWith(Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(
      tsAttr, tsLit("2024-03-02 02:24:00"))))
    assert(eq.map(_.partitionValues("d")).distinct === Seq("2024-03-02"))
    val ge = pruneWith(Seq(GreaterThanOrEqual(tsAttr, tsLit("2024-03-03 00:00:00"))))
    assert(ge.map(_.partitionValues("d")).distinct.sorted === Seq("2024-03-03"))
    // and end-to-end the filtered read stays correct (no over-pruning)
    val cnt = Graft.read(spark, dir)
      .filter($"ts" >= lit(java.sql.Timestamp.valueOf("2024-03-03 00:00:00"))).count()
    assert(cnt === 10)
  }

  test("DV filtering adds no join or exchange to the scan, keeps pushdown") {
    val dir = tmpDir()
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Graft.write(lineitem, dir,
      configuration = Map("graft.enableDeletionVectors" -> "true"))
    GraftTable.forPath(spark, dir).delete($"l_quantity" < 10)
    val snap = graft.log.GraftLog.forTable(spark, dir).update()
    assert(snap.allFiles.exists(_.dvPath.isDefined), "expected DV sidecars")

    val df = Graft.read(spark, dir)
      .filter($"l_orderkey" > 100L)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    // The DV bitmap filter lives inside the per-file parquet reader:
    // the plan must stay a plain scan — no join, no shuffle, at any
    // deleted-row cardinality.
    assert(!plan.contains("Join"), s"DV read introduced a join:\n$plan")
    assert(!plan.contains("Exchange"), s"DV read introduced a shuffle:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)"),
      s"filter not pushed through DV scan:\n$plan")
    // and the rows are exactly the surviving ones
    val expected = lineitem
      .filter(!($"l_quantity" < 10) && $"l_orderkey" > 100L).count()
    assert(df.count() === expected)

    // Row indexes must stay aligned under predicate pushdown / row-group
    // skipping: values surviving near the deleted range stay correct.
    val got = Graft.read(spark, dir).agg(min($"l_quantity")).head.getDouble(0)
    assert(got >= 10.0, s"deleted row resurfaced: min quantity $got")
  }

  test("hash sampling is a pushed scan filter — no shuffle, no UDF") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = graft.ml.Curation.stratifiedHashSample(
      docs, $"doc_id", $"lang", Map("en" -> 100), defaultPermille = 500)
    val plan = s.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling shuffled:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"sampling fell off codegen:\n$plan")
    assert(plan.contains("Filter"), s"no filter node:\n$plan")
  }

  test("vocab top-k plans as TakeOrderedAndProject, not a global sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val v = graft.text.TextFunctions.vocabTopK(docs, $"doc_id", $"text", k = 50)
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k became a full sort:\n$plan")
  }

  test("k-means assignment is a single projection — no shuffle, constant plan size") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.orderBy("vec_id").limit(64)
      .select("embedding").collect().map(_.getSeq[Float](0))
    val a = emb.select($"vec_id",
      graft.ml.Clustering.assign(emb, $"embedding", cents).as("c"))
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffled:\n$plan")
    // 64 centroids must not appear as 64 plan expressions: the kernel
    // holds them in one broadcast reference.
    assert(plan.length < 6000, s"plan grows with nlist (len=${plan.length})")
  }

  test("semanticDedup candidates join on (cluster, band, bits), not cluster alone") {
    // the in-cluster banding is only real if the physical join key carries
    // the LSH band key: a cluster-only join would re-create the O(s²)
    // blow-up while every row-level test still passes
    val rows = spark.range(100).selectExpr(
      "id", "cast(id % 3 as int) as cluster",
      "array(cast(id as float), cast(id + 1 as float)) as emb")
    val plan = graft.ml.Dedup.clusterBandedPairs(rows, threshold = 0.95)
      .queryExecution.executedPlan.toString
    val joinKeys = "(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(joinKeys.nonEmpty, s"no equi-join in the candidate plan:\n$plan")
    assert(joinKeys.forall(k =>
        k.contains("cluster") && k.contains("band") && k.contains("bits")),
      s"candidate join lost the band key: $joinKeys")
  }

  test("dropSpans is one doc-keyed join — no token-grain rows, no cartesian") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val spans = docs.limit(10).select($"doc_id",
      lit(0L).as("span_start"), lit(5L).as("span_end"))
    val plan = graft.ml.Dedup.dropSpans(docs, $"doc_id", $"text", spans)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cartesian in dropSpans:\n$plan")
    assert(!plan.contains("Generate"),
      s"token-grain explode leaked into dropSpans:\n$plan")
    // exactly one equi-join (docs x per-doc span arrays)
    val joins = "(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size
    assert(joins === 1, s"expected one join, got $joins:\n$plan")
  }

  test("MERGE never plans an Expand — phase-1 distincts are rollup sums") {
    // Four countDistinct branches in one groupBy would plan as a 5-way
    // Expand of the entire phase-1 join output; phase 1 counts pairs and
    // takes distinct rows as bitmap cardinalities instead, in one
    // row-grain shuffle. Capture every physical plan the merge executes
    // and pin the absence.
    val dir = tmpDir()
    Graft.write(spark.range(1000).selectExpr("id", "id % 7 as v"), dir)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      GraftTable.forPath(spark, dir)
        .merge(spark.range(500, 1500).selectExpr("id", "id % 3 as v"),
          expr("t.id = s.id"))
        .whenMatched(expr("s.v = 0")).updateAll()
        .whenMatched().delete()
        .whenNotMatched().insertAll()
        .execute()
      // QueryExecutionListener delivery is async but ordered: run a
      // marker query AFTER the merge and wait until ITS plan shows up —
      // at that point every merge plan is guaranteed captured (polling
      // for merely plans.nonEmpty could exit with later merge plans,
      // including phase 1's, still queued on the bus).
      spark.range(424243).filter($"id" === 424242L).count()
      val deadline = System.nanoTime() + 30_000_000_000L
      def markerSeen: Boolean =
        plans.synchronized(plans.exists(_.contains("424242")))
      while (!markerSeen && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(markerSeen, "listener never delivered the marker plan")
    } finally spark.listenerManager.unregister(listener)
    val captured = plans.synchronized(plans.toList)
    assert(captured.size > 1, "listener captured no merge plans")
    val expanded = captured.filter(_.contains("Expand"))
    assert(expanded.isEmpty,
      s"merge planned an Expand:\n${expanded.headOption.getOrElse("")}")
  }

  test("a DV upsert MERGE joins target and source once after phase 1, " +
      "scanning only files that meet the source's key range") {
    // Phase 1's rollup returns the deletion vectors, so no later query
    // re-runs the join to recover the matched rows, and skipping keeps
    // every target scan to the files whose id range meets the source's.
    // Phase 1 is the first target join. A range source's phase 2 joins
    // the target once more; a local source's phase 2 writes from the
    // source's own rows and joins nothing, unless the source is above
    // AQE's minimum partition size.
    // A user optimizer rule sees every optimized plan; the write's
    // session is a clone, so a fresh parent conf makes it inherit the rule.
    import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val (lo, hi) = (250L, 349L)
    def targetScans(p: LogicalPlan): Seq[graft.files.GraftFileIndex] = p.collect {
      case LogicalRelation(HadoopFsRelation(i: graft.files.GraftFileIndex, _, _, _, _, _),
        _, _, _, _) => i
    }
    def audit(name: String, src: org.apache.spark.sql.DataFrame): Seq[Join] = {
      val dir = tmpDir()
      val log = graft.log.GraftLog.forTable(spark, dir)
      val rangeOf = (0 until 6).map { i =>
        val before = log.update().allFiles.map(_.path).toSet
        Graft.write(spark.range(i * 100L, i * 100L + 100).selectExpr("id", "id % 7 as v")
          .coalesce(1), dir, configuration = if (i > 0) Map.empty
            else Map("graft.enableDeletionVectors" -> "true"))
        val added = log.update().allFiles.map(_.path).toSet -- before
        assert(added.size === 1)
        added.head -> (i * 100L, i * 100L + 99)
      }.toMap
      val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
      val record = new Rule[LogicalPlan] {
        def apply(p: LogicalPlan): LogicalPlan = { plans.synchronized(plans += p); p }
      }
      val saved = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = saved :+ record
      spark.conf.set("spark.planaudit.marker", java.util.UUID.randomUUID.toString)
      try {
        GraftTable.forPath(spark, dir).merge(src, expr("t.id = s.id"))
          .whenMatched().updateAll()
          .whenNotMatched().insertAll()
          .execute()
      } finally {
        spark.experimental.extraOptimizations = saved
        spark.conf.unset("spark.planaudit.marker")
      }
      assert(Graft.read(spark, dir).filter($"v" === -1L).count() === hi - lo + 1, name)
      val captured = plans.synchronized(plans.toList)
      val scanned = captured.flatMap(targetScans).flatMap(_.pinnedFiles.getOrElse(Nil))
      assert(scanned.nonEmpty, s"$name: no pinned target scan captured")
      scanned.foreach { f =>
        val (fLo, fHi) = rangeOf(f.path)
        assert(fLo <= hi && fHi >= lo, s"$name: scanned ${f.path} ($fLo-$fHi) outside $lo-$hi")
      }
      captured.flatMap(_.collect { case j: Join if targetScans(j).nonEmpty => j })
    }
    val ranged = audit("range source", spark.range(lo, hi + 1).selectExpr("id", "-1L as v"))
    assert(ranged.map(_.joinType) === Seq(Inner, RightOuter),
      s"expected phase 1 and one phase-2 target join:\n${ranged.mkString("\n")}")
    val local = audit("local source", (lo to hi).map(i => (i, -1L)).toDF("id", "v"))
    assert(local.map(_.joinType) === Seq(Inner),
      s"expected phase 1's target join only:\n${local.mkString("\n")}")
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(minSize, "1k")
    val large = try audit("local source above the minimum partition size",
      (lo to hi).map(i => (i, -1L)).toDF("id", "v")) finally spark.conf.unset(minSize)
    assert(large.map(_.joinType) === Seq(Inner, RightOuter),
      s"expected phase 1 and one phase-2 target join:\n${large.mkString("\n")}")
  }

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("TPC-DS snowflake: every dimension hop broadcasts, no cartesian") {
    // Six dimension joins around the fact: each must be a broadcast
    // hash join — at cluster scale a shuffled dimension join would add
    // a fact-sized exchange per hop.
    val plan = planOf("q_ds_snowflake")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 5, s"expected >=5 broadcast joins, got $bhj:\n$plan")
    assert(!plan.contains("Cartesian"), s"cartesian product:\n$plan")
  }

  test("TPC-DS snowflake: SF-scaled dims flip with the broadcast threshold; " +
      "bounded dims stay hinted") {
    // Two-sided pin around the r15 hint release. The SF-scaled dims
    // (customer, part, supplier) must be THRESHOLD-driven: under a
    // disabled threshold they plan as shuffled joins (a re-added hard
    // broadcast() hint on any of them fails this side — at 100 TB a
    // forced broadcast of a row-scaled dim is a driver OOM), and under
    // the bench's 64 MB threshold they broadcast (losing the hint must
    // not cost the small-SF plan). The bounded dims (nation = 25 rows,
    // region = 5 at every SF) keep their explicit hints, so exactly two
    // broadcast hops survive a disabled threshold.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val shuffledPlan = planOf("q_ds_snowflake")
      val bhjOff = "BroadcastHashJoin".r.findAllIn(shuffledPlan).size
      assert(bhjOff == 2,
        s"expected exactly the 2 hinted bounded-dim broadcasts under a " +
          s"disabled threshold, got $bhjOff (a hard hint is back on an " +
          s"SF-scaled dim?):\n$shuffledPlan")
      val shuffledJoins =
        "(?:SortMergeJoin|ShuffledHashJoin)".r.findAllIn(shuffledPlan).size
      assert(shuffledJoins >= 4,
        s"expected >=4 shuffled joins (fact + 3 SF-scaled dims) under a " +
          s"disabled threshold, got $shuffledJoins:\n$shuffledPlan")

      saved.foreach { case (k, _) => conf.set(k, (64L * 1024 * 1024).toString) }
      val broadcastPlan = planOf("q_ds_snowflake")
      val bhjOn = "BroadcastHashJoin".r.findAllIn(broadcastPlan).size
      assert(bhjOn >= 5,
        s"expected >=5 broadcast joins under the bench's 64 MB " +
          s"threshold, got $bhjOn:\n$broadcastPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("TPC-DS EXISTS chain plans as semi/anti joins, not per-row subqueries") {
    val plan = planOf("q_ds_exists_chain")
    assert("LeftSemi".r.findAllIn(plan).size >= 2,
      s"EXISTS chain did not plan as semi joins:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS did not plan as an anti join:\n$plan")
    assert(!plan.contains("Cartesian"), s"cartesian product:\n$plan")
  }

  test("TPC-DS fact-fact join is co-partitioned — aggregates feed the join with no third shuffle") {
    // Both sides pre-aggregate on the join key, so their output
    // partitioning already satisfies the join: exactly the two
    // aggregation exchanges (plus the final sort's range exchange) may
    // appear. A third hash exchange means the co-partitioning was lost —
    // at 100 TB that is a second full shuffle of the bigger aggregate.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      // Count physical shuffle NODES, not plan-string occurrences — the
      // rendered string's formatting varies across Spark/AQE versions
      // while the node structure is what the bound is about. collect()
      // alone would stop at an AdaptiveSparkPlanExec boundary (its inner
      // plan is a field, not a child), so recurse through it explicitly.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val physical = SparkEntry.queries("q_ds_fact_fact")(
        spark, "/root/testdata/sf0.001").queryExecution.executedPlan
      val hashEx = allNodes(physical).count {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
        case _ => false
      }
      val plan = physical.toString
      assert(hashEx == 2,
        s"expected exactly 2 hash exchanges (one per aggregate), got $hashEx:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled join under no-broadcast conf:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** How many Spark jobs `body` starts. A listener tags each job by a
    * local property; the listener bus delivers in order, so once a
    * sentinel job started after `body` is seen, every job of `body` has
    * been seen too. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.audit")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.audit", "body")
      body
      sc.setLocalProperty("graft.audit", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("sentinel"), "listener never saw the sentinel job")
      jobs.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty("graft.audit", null)
      sc.removeSparkListener(listener)
    }
  }

  test("small-list stats skipping runs no Spark job and compiles no code") {
    // Every read and DML scan skips files through this path: a plan per
    // call, or generated code baked with each query's literals, is paid
    // on every op. Two calls with fresh literals must add neither.
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
      GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.types.LongType
    val dir = tmpDir()
    (0 until 4).foreach(i =>
      Graft.write(spark.range(i * 100L, (i + 1) * 100L).toDF("id").coalesce(1), dir))
    val snap = graft.log.GraftLog.forTable(spark, dir).update()
    val id = AttributeReference("id", LongType)()
    def kept(lo: Long): Int = graft.stats.StatsSkipping.filterFiles(spark,
      snap.allFiles, snap.metadata.schema,
      Seq(And(GreaterThanOrEqual(id, Literal(lo)), LessThanOrEqual(id, Literal(lo + 20)))))
      .size
    assert(snap.allFiles.size === 4)
    assert(kept(0L) === 1) // warm-up: class loading only
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jobs = jobsDuring { assert(kept(150L) === 1 && kept(290L) === 2) }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "stats skipping compiled generated code")
    assert(jobs === 0, "stats skipping ran a Spark job")
  }

  test("a commit that checkpoints a driver-held table runs no Spark job") {
    // The checkpoint rows are already on the driver: shipping them
    // through a Spark write put two jobs on the commit path of every
    // checkpointing op.
    Seq("classic", "v2").foreach { policy =>
      val dir = tmpDir()
      Graft.write(spark.range(10).toDF("id"), dir, configuration = Map(
        "graft.checkpointPolicy" -> policy, "graft.checkpointInterval" -> "2"))
      Graft.write(spark.range(10, 20).toDF("id"), dir)
      val log = graft.log.GraftLog.forTable(spark, dir)
      assert(!log.update().checkpointBacked)
      val txn = log.startTransaction()
      val adds = txn.writeFiles(spark.range(20, 30).toDF("id"))
      var v = -1L
      val jobs = jobsDuring { v = txn.commit(adds, "WRITE") }
      assert(v === 2L)
      assert(log.store.exists(graft.log.FileNames.checkpointFile(log.logPath, 2L)),
        s"$policy: no checkpoint written")
      assert(jobs === 0, s"$policy: the checkpointing commit ran $jobs Spark jobs")
    }
  }

  test("a cold load of a below-threshold checkpoint runs no Spark job") {
    Seq("classic", "v2").foreach { policy =>
      val dir = tmpDir()
      (0 until 3).foreach(i =>
        Graft.write(spark.range(i * 10L, i * 10L + 10).toDF("id"), dir,
          configuration = if (i > 0) Map.empty else Map(
            "graft.checkpointPolicy" -> policy, "graft.checkpointInterval" -> "2")))
      graft.log.GraftLog.clearCache()
      var snap: graft.log.Snapshot = null
      val jobs = jobsDuring { snap = graft.log.GraftLog.forTable(spark, dir).update() }
      assert(snap.version === 2L && !snap.checkpointBacked)
      assert(jobs === 0, s"$policy: the cold load ran $jobs Spark jobs")
      assert(Graft.read(spark, dir).count() === 30)
    }
  }

  test("a cold load of a below-threshold checkpoint builds one parquet reader") {
    // Building Spark's parquet reader broadcasts the Hadoop
    // configuration. A load reads the manifest and its sidecars through
    // one reader, and probes for metadata from the footers, so at most
    // one broadcast falls between two probe broadcasts around it.
    Seq("classic", "v2").foreach { policy =>
      val dir = tmpDir()
      (0 until 3).foreach(i =>
        Graft.write(spark.range(i * 10L, i * 10L + 10).toDF("id"), dir,
          configuration = if (i > 0) Map.empty else Map(
            "graft.checkpointPolicy" -> policy, "graft.checkpointInterval" -> "2")))
      graft.log.GraftLog.clearCache()
      val sc = spark.sparkContext
      val before = sc.broadcast(0)
      val log = graft.log.GraftLog.forTable(spark, dir)
      val snap = log.update()
      val after = sc.broadcast(0)
      Seq(before, after).foreach(_.destroy())
      assert(snap.version === 2L && !snap.checkpointBacked)
      assert(log.store.exists(graft.log.FileNames.checkpointFile(log.logPath, 2L)))
      val broadcasts = after.id - before.id - 1
      assert(broadcasts <= 1, s"$policy: the cold load made $broadcasts broadcasts")
    }
  }

  test("Dml.joinFilters bounds a local source's keys with no Spark job") {
    // A local source's rows are already on the driver: its key bounds
    // are evaluated there, not by a min/max aggregate (2 jobs).
    import org.apache.spark.sql.catalyst.expressions.{And, Expression,
      GreaterThanOrEqual, LessThanOrEqual, Literal}
    val dir = tmpDir()
    Graft.write(spark.range(100).selectExpr("id", "id % 7 as v"), dir)
    val target = Graft.read(spark, dir).alias("t")
    val src = Seq((40L, 1L), (12L, 2L), (25L, 3L)).toDF("id", "v").alias("s")
    var filters: Seq[Expression] = Nil
    val jobs = jobsDuring {
      filters = graft.commands.Dml.joinFilters(spark, target, src, expr("t.id = s.id"))
    }
    assert(jobs === 0, s"bounding a local source ran $jobs Spark jobs")
    filters match {
      case Seq(And(GreaterThanOrEqual(_, Literal(12L, _)), LessThanOrEqual(_, Literal(40L, _)))) =>
      case other => fail(s"expected id BETWEEN 12 AND 40, got $other")
    }
    // The analyzed condition still holds `nvl` as an expression only the
    // optimizer rewrites; the driver evaluates its rewrite all the same.
    val nvlJobs = jobsDuring {
      graft.commands.Dml.joinFilters(spark, target, src, expr("t.id = nvl(s.id, 0)"))
    }
    assert(nvlJobs === 0, s"bounding nvl over a local source ran $nvlJobs Spark jobs")
  }

  test("a DV upsert MERGE from a local source runs at most 3 Spark jobs") {
    // The source's key bounds come from its rows on the driver, phase 1
    // broadcasts the source and rolls up per file in its scan tasks, and
    // phase 2 writes from the source's own rows in one task.
    val dir = tmpDir()
    (0 until 4).foreach(i => Graft.write(spark.range(i * 100L, i * 100L + 100)
      .selectExpr("id", "id % 7 as v").coalesce(1), dir,
      configuration = if (i > 0) Map.empty else Map("graft.enableDeletionVectors" -> "true")))
    val src = (75L until 225L).map(i => (i * 2, -1L)).toDF("id", "v") // 150, 152, ..., 448
    var metrics = Map.empty[String, String]
    val jobs = jobsDuring {
      metrics = GraftTable.forPath(spark, dir).merge(src, expr("t.id = s.id"))
        .whenMatched().updateAll()
        .whenNotMatched().insertAll()
        .execute()
    }
    assert(metrics("numTargetFilesAfterSkipping") === "3")
    assert(metrics("numTargetRowsUpdated") === "125" && metrics("numTargetRowsInserted") === "25")
    assert(metrics("numTargetFilesAdded") === "1")
    assert(jobs <= 3, s"the merge ran $jobs Spark jobs")
  }

  test("UPDATE and DELETE find their touched files in one Spark job, DVs on or off") {
    // The match pass rolls up per file in its scan tasks, deletion-vector
    // bitmaps included: one job. Without DVs the rewrite's write job
    // follows; with DVs a DELETE writes no data file and an UPDATE writes
    // only its updated rows. A group-by or a shuffle of the matched rows
    // adds jobs of its own. A NOT MATCHED BY SOURCE MERGE and an INSERT
    // REPLACE, whose DVs come from the same fold, run no more jobs with
    // DVs than without.
    val counts = Seq(false, true).map { dv =>
      val dir = tmpDir()
      (0 until 4).foreach(i => Graft.write(spark.range(i * 100L, i * 100L + 100)
        .selectExpr("id", "id % 7 as v").coalesce(1), dir,
        configuration = if (i > 0 || !dv) Map.empty
          else Map("graft.enableDeletionVectors" -> "true")))
      val table = GraftTable.forPath(spark, dir)
      var updated = Map.empty[String, String]
      val updateJobs = jobsDuring {
        updated = graft.commands.UpdateCommand.run(spark, dir, Some($"v" === 3L),
          Map("v" -> lit(-3L)))
      }
      assert(updated("numUpdatedFiles") === "4" && updated("numUpdatedRows") === "57", s"dv=$dv")
      val deleteJobs = jobsDuring { table.delete($"id" < 150L) }
      val pointDeleteJobs = jobsDuring { table.delete($"id" === 222L) }
      assert(Graft.read(spark, dir).count() === 249L, s"dv=$dv")
      assert(Graft.read(spark, dir).filter($"v" === -3L).count() === 57L - 21L, s"dv=$dv")
      // Matched rows take the source's v; unmatched rows with v = 0 get -1.
      val src = Seq((160L, 100L), (310L, 100L)).toDF("id", "v")
      val mergeJobs = jobsDuring {
        table.merge(src, expr("t.id = s.id")).whenMatched().updateAll()
          .whenNotMatchedBySource(expr("t.v = 0")).update(Map("v" -> lit(-1L)))
          .execute()
      }
      assert(Graft.read(spark, dir).filter($"v" === 100L).count() === 2L, s"dv=$dv")
      assert(Graft.read(spark, dir).filter($"v" === -1L).count() === 36L, s"dv=$dv")
      val replaceJobs = jobsDuring {
        table.insertReplaceOn(Seq((310L, 7L), (500L, 7L)).toDF("id", "v"), "t.id = s.id")
      }
      assert(Graft.read(spark, dir).filter($"v" === 7L).count() === 2L, s"dv=$dv")
      assert(Graft.read(spark, dir).count() === 250L, s"dv=$dv")
      // the four first files only ever take DVs
      if (dv) assert(graft.log.GraftLog.forTable(spark, dir).update().allFiles
        .count(_.dvPath.isDefined) >= 4)
      (updateJobs, deleteJobs, pointDeleteJobs, mergeJobs, replaceJobs)
    }
    info(s"jobs of (UPDATE, DELETE, point DELETE, MERGE, INSERT REPLACE): " +
      s"${counts.head} without DVs, ${counts(1)} with DVs")
    val Seq((update, delete, _, merge, replace),
      (dvUpdate, dvDelete, dvPointDelete, dvMerge, dvReplace)) = counts
    assert(update <= 2, s"the update ran $update Spark jobs")
    assert(delete <= 2, s"the delete ran $delete Spark jobs")
    assert(dvUpdate <= 2, s"the DV update ran $dvUpdate Spark jobs")
    assert(dvDelete === 1, s"the DV delete ran $dvDelete Spark jobs")
    assert(dvPointDelete === 1, s"the DV point delete ran $dvPointDelete Spark jobs")
    assert(dvMerge <= merge,
      s"the DV NOT MATCHED BY SOURCE merge ran $dvMerge Spark jobs, $merge without DVs")
    assert(dvReplace <= replace,
      s"the DV INSERT REPLACE ran $dvReplace Spark jobs, $replace without DVs")
    // the source's broadcast, the match pass and the insert's write
    assert(dvReplace <= 3, s"the DV INSERT REPLACE ran $dvReplace Spark jobs")
  }

  /** The engine's sources, each parsed (not typed) by the Scala compiler. */
  private final class EngineSources {
    import scala.jdk.CollectionConverters._
    import scala.reflect.internal.util.BatchSourceFile
    import scala.reflect.io.AbstractFile
    import scala.tools.nsc.{Global, Settings}
    import scala.tools.nsc.reporters.StoreReporter
    private val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"no engine sources at ${root.toAbsolutePath}")
    private val settings = new Settings()
    settings.usejavacp.value = true
    private val reporter = new StoreReporter(settings)
    val global = new Global(settings, reporter)
    new global.Run
    private val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    val trees: List[(java.nio.file.Path, global.Tree)] = files.map { f =>
      f -> global.newUnitParser(new global.CompilationUnit(
        new BatchSourceFile(AbstractFile.getFile(f.toFile)))).parse()
    }
    assert(!reporter.hasErrors, reporter.infos.mkString("\n"))
    assert(files.size > 50, s"only ${files.size} sources under $root")
  }
  private lazy val engineSources = new EngineSources

  test("no top-level object in src/main/scala declares a var") {
    // A var on an object is JVM-wide mutable state: concurrent callers
    // share it, and a test hook left set by a failed test breaks every
    // later caller. Fault-injection seams are scoped to one call instead.
    val sources = engineSources
    import sources.global.{ModuleDef, PackageDef, Tree, ValDef}
    def varsOf(obj: ModuleDef, owner: String): List[String] = {
      val name = owner + obj.name
      obj.impl.body.flatMap {
        case v: ValDef if v.mods.isMutable => List(s"$name.${v.name}")
        case m: ModuleDef => varsOf(m, s"$name.")
        case _ => Nil
      }
    }
    def topLevel(t: Tree): List[ModuleDef] = t match {
      case PackageDef(_, stats) => stats.flatMap(topLevel)
      case m: ModuleDef => List(m)
      case _ => Nil
    }
    val hits = sources.trees.flatMap { case (f, t) => topLevel(t).flatMap(varsOf(_, s"$f: ")) }
    assert(hits.isEmpty, s"vars on top-level objects:\n${hits.mkString("\n")}")
  }

  test("no engine source opens a parquet reader without read options") {
    // ParquetFileReader.open(file) builds default read options, which
    // parse a fresh Hadoop configuration from the classpath: about 10 ms
    // per footer, on every write's stats and every checkpoint probe.
    val sources = engineSources
    import sources.global.{Apply, Select}
    val hits = sources.trees.flatMap { case (f, t) =>
      t.collect {
        case a @ Apply(Select(qual, name), args) if name.toString == "open" &&
            qual.toString.endsWith("ParquetFileReader") && args.size < 2 =>
          s"$f:${a.pos.line}: $a"
      }
    }
    assert(hits.isEmpty, s"parquet readers opened without read options:\n${hits.mkString("\n")}")
  }

  test("the engine reads exactly the listed spark.graft.* settings") {
    // Every setting is one more path to test and document; adding or
    // removing one must show up in the diff, here.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"no engine sources at ${root.toAbsolutePath}")
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val found = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => key.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    assert(found === Set(
      "spark.graft.convert.driverThreshold",
      "spark.graft.distributedSkipping.threshold",
      "spark.graft.dml.materializeSource",
      "spark.graft.logStore.impl",
      "spark.graft.optimizeWrite.binSizeBytes",
      "spark.graft.redirect.skipCheck",
      "spark.graft.stateReconstruction.driverThreshold",
      "spark.graft.streaming.allowSourceColumnRenameAndDrop",
      "spark.graft.vacuum.retentionCheck.enabled"))
  }
}
