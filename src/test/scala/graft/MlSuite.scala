package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{Curation, Dedup, Similarity}
import graft.expressions.VectorKernels

/** Vector kernels + dedup/similarity operators. */
class MlSuite extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(2.0f, 0.0f, 0.0f))
  ).toDF("id", "emb")

  test("cosine kernel matches hand-computed values (codegen + interpreted)") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        Similarity.cosine($"a.emb", $"b.emb").as("cos"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(got((0L, 0L)) - 1.0) < 1e-12)
    assert(math.abs(got((0L, 1L)) - 0.0) < 1e-12)
    assert(math.abs(got((0L, 2L)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(got((0L, 3L)) + 1.0) < 1e-12)
    assert(math.abs(got((0L, 4L)) - 1.0) < 1e-12)   // scale-invariant
  }

  test("hyperplane bucket is deterministic and scale-invariant") {
    val b = vecs.select($"id",
      Similarity.hyperplaneBucket($"emb", 8).as("b1"),
      Similarity.hyperplaneBucket($"emb", 8).as("b2"))
      .collect()
    b.foreach(r => assert(r.getLong(1) === r.getLong(2)))
    // positive scaling never changes sign buckets
    val scaled = vecs.select($"id",
      Similarity.hyperplaneBucket($"emb", 8).as("b1"),
      Similarity.hyperplaneBucket(transform($"emb", v => v * 3.0f), 8).as("b2"))
      .collect()
    scaled.foreach(r => assert(r.getLong(1) === r.getLong(2)))
    // id 0 and id 3 are antipodal: complementary buckets over 8 planes
    val byId = b.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((byId(0L) ^ byId(3L)) === 0xFFL)
  }

  test("multi-probe lshTopK recovers a planted neighbor straddling one plane") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val planted = q.select(($"vec_id" + 100000).as("vec_id"),
      transform($"embedding", v => v * 1.0001f).as("embedding"))
    val corpus = e.select("vec_id", "embedding").unionByName(planted)
    val top2 = Similarity.lshTopK(corpus, $"vec_id", $"embedding",
      q, $"vec_id", $"embedding", k = 2, planes = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    (0L until 10L).foreach { i =>
      assert(top2.contains((i, i)), s"self $i missing")
      assert(top2.contains((i, i + 100000)), s"planted neighbor of $i missing")
    }
  }

  test("incremental MinHash index: batches dedup against the corpus and grow it") {
    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "an entirely different document all about spark and scala programming"))
      .toDF("doc_id", "text")
    Dedup.buildMinHashIndex(corpus, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3)
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (11L, "completely novel text zz yy xx ww vv uu tt ss rr qq pp oo"))
      .toDF("doc_id", "text")
    val r1 = Dedup.dedupAgainstIndex(batch1, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3, updateIndex = true)
      .as[(Long, Boolean)].collect().toMap
    assert(r1 === Map(10L -> true, 11L -> false))
    // a later batch duplicating batch1's NOVEL doc is caught only because
    // the index grew — the incremental contract
    val batch2 = Seq(
      (20L, "completely novel text zz yy xx ww vv uu tt ss rr qq pp oo"))
      .toDF("doc_id", "text")
    val r2 = Dedup.dedupAgainstIndex(batch2, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3)
      .as[(Long, Boolean)].collect().toMap
    assert(r2 === Map(20L -> true))
    // index state: 2 corpus + 2 batch1 signatures (batch2 did not update)
    assert(Graft.read(spark, s"$idx/sigs").count() === 4)
    assert(Graft.read(spark, s"$idx/buckets").count() === 4 * 16)
    // RETRY of batch1 (its rows are now IN the index): the novel doc must
    // not match itself, the true dup still flags
    val retry = Dedup.dedupAgainstIndex(batch1, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3)
      .as[(Long, Boolean)].collect().toMap
    assert(retry === Map(10L -> true, 11L -> false))
    // mismatched banding is an error, not silent recall loss
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(batch1, $"doc_id", $"text", idx,
        numHashes = 64, bands = 8, shingleSize = 4).collect()
    }
    assert(e.getMessage.contains("mismatched banding"))
    // RETRY with WITHIN-BATCH near-dups: docs 30/31 duplicate each other
    // but nothing in the prior corpus. The first attempt appends them;
    // the retry must not let each match the other's appended copy — that
    // would flag BOTH and a dup-dropping pipeline would lose the family.
    val batch3 = Seq(
      (30L, "some brand new paragraph about distributed systems and logs ok"),
      (31L, "some brand new paragraph about distributed systems and logs yes"))
      .toDF("doc_id", "text")
    val first = Dedup.dedupAgainstIndex(batch3, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3, updateIndex = true,
      txnAppId = Some("mlsuite-b3"), txnVersion = Some(1L))
      .as[(Long, Boolean)].collect().toMap
    val retry3 = Dedup.dedupAgainstIndex(batch3, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3, updateIndex = true,
      txnAppId = Some("mlsuite-b3"), txnVersion = Some(1L))
      .as[(Long, Boolean)].collect().toMap
    assert(first === retry3,
      "a retried batch judged its within-batch dups differently")
    assert(first === Map(30L -> false, 31L -> false))
  }

  test("exact dedup collapses byte-identical rows that tie on the order key") {
    import spark.implicits._
    val df = Seq(
      (1L, "dup text", 5L), (1L, "dup text", 5L), // byte-identical pair
      (2L, "other", 9L), (2L, "other older", 3L)
    ).toDF("k", "text", "ts")
    val got = Dedup.exact(df, $"text", $"ts")
      .as[(Long, String, Long)].collect().sortBy(_._2)
    assert(got.length === 3, s"tied exact duplicates survived: ${got.toSeq}")
    assert(got.map(_._2).toSet === Set("dup text", "other", "other older"))
  }

  test("curation hashes survive non-numeric (string) ids") {
    import spark.implicits._
    val df = (0 until 500)
      .map(i => (java.util.UUID.nameUUIDFromBytes(s"doc$i".getBytes).toString, i))
      .toDF("id", "v")
    // sampling: non-degenerate keep rate (the old cast(long) dropped ALL)
    val kept = Curation.hashSample(df, $"id", permille = 300).count()
    assert(kept > 50 && kept < 450, s"string-id sample degenerate: $kept")
    // splitting: labels distribute instead of all landing in one bucket
    val splits = Curation.deterministicSplit(df, $"id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits.getOrElse("train", 0L) > 400,
      s"string-id split degenerate: $splits")
    // deterministic: identical assignment on re-run
    val again = Curation.deterministicSplit(df, $"id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits === again)
    // numeric ids keep the documented engine-portable formula
    val num = (0L until 1000L).toDF("id")
    val numKept = Curation.hashSample(num, $"id", permille = 100)
      .as[Long].collect().toSet
    assert(numKept === (0L until 1000L)
      .filter(i => math.floorMod(i * 2654435761L, 1000L) < 100).toSet)
  }

  test("index dedup: hot-bucket guard caps families and is batch-scaled") {
    val idx = java.nio.file.Files.createTempDirectory("graft-mhhot").toString
    val boiler = "shared boilerplate page about nothing in particular repeated verbatim"
    val normal = "a normal document describing spark internals and query planning"
    val corpus = ((0 until 30).map(i => (100L + i, boiler)) :+ ((1L, normal)))
      .toDF("doc_id", "text")
    Dedup.buildMinHashIndex(corpus, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3)
    val batch = Seq((200L, boiler), (201L, normal)).toDF("doc_id", "text")
    val res = Dedup.dedupAgainstIndex(batch, $"doc_id", $"text", idx,
      numHashes = 64, bands = 16, shingleSize = 3, maxBucketSize = 10)
    val got = res.as[(Long, Boolean)].collect().toMap
    // the 30-member family exceeds the cap in EVERY band -> dropped whole;
    // the normal duplicate still flags
    assert(got === Map(200L -> false, 201L -> true))
    // Scale shape: no aggregate may consume the index's bucket table
    // without first narrowing through a join (the batch's touched-bucket
    // filter) — a full-index groupBy per batch is the 100 TB killer the
    // guard rework removed.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def isBucketsRelation(r: LogicalRelation): Boolean = r.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("/buckets"))
      case _ => false
    }
    def scansBuckets(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case r: LogicalRelation if isBucketsRelation(r) => r
      }.isDefined
    val aggs = res.queryExecution.optimizedPlan.collect {
      case a: Aggregate if scansBuckets(a.child) => a
    }
    assert(aggs.nonEmpty, "expected aggregates over the index path in the plan")
    aggs.foreach { a =>
      assert(a.child.collectFirst { case j: Join => j }.isDefined,
        s"aggregate consumes the full bucket table with no batch join below:\n$a")
    }
  }

  test("embedding index dedup: hot-bucket guard and batch-scaled index scan") {
    import spark.implicits._
    // 30 identical vectors form a hot bucket in EVERY band; the guard
    // must drop it whole while a normal duplicate still flags
    val hotV = Array(1.0f, 0.5f, 0.25f, 0.125f)
    val normV = Array(-0.3f, 0.9f, -0.7f, 0.2f)
    val corpus = ((0 until 30).map(i => (100L + i, hotV)) :+ ((1L, normV)))
      .toDF("id", "emb")
    val idx = java.nio.file.Files.createTempDirectory("graft-embhot").toString
    Dedup.buildEmbeddingIndex(corpus, $"id", $"emb", idx, threshold = 0.999)
    val batch = Seq((200L, hotV), (201L, normV)).toDF("id", "emb")
    val res = Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
      threshold = 0.999, maxBucketSize = 10)
    val got = res.as[(Long, Boolean)].collect().toMap
    assert(got === Map(200L -> false, 201L -> true))
    // Scale shape: same contract as the minhash index — no aggregate may
    // consume the index's bands table without first narrowing through the
    // batch's touched-bucket join
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def isBandsRelation(r: LogicalRelation): Boolean = r.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("/bands"))
      case _ => false
    }
    def scansBands(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case r: LogicalRelation if isBandsRelation(r) => r
      }.isDefined
    val aggs = res.queryExecution.optimizedPlan.collect {
      case a: Aggregate if scansBands(a.child) => a
    }
    assert(aggs.nonEmpty, "expected aggregates over the index path in the plan")
    aggs.foreach { a =>
      assert(a.child.collectFirst { case j: Join => j }.isDefined,
        s"aggregate consumes the full bands table with no batch join below:\n$a")
    }
  }

  test("keepBest: highest quality survives, ties to lowest id, singletons keep") {
    import spark.implicits._
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0),  // family {1,2,3}: 2 wins (tie 2<3)
      (10L, 1.0), (11L, 7.0),           // family {10,11}: 11 wins
      (20L, 0.0)                        // singleton: keeps
    ).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = graft.ml.Clustering.keepBest(docs, $"id", $"q", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      10L -> ((10L, false)), 11L -> ((10L, true)),
      20L -> ((20L, true))))
  }

  test("embedding index: crash between the two appends heals on retry") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 20L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "emb")
    val idx = java.nio.file.Files.createTempDirectory("embcrash").toString
    Dedup.buildEmbeddingIndex(corpus, $"id", $"emb", idx, threshold = 0.999)
    val batch = corpus.where($"id" === 0L)
      .select(($"id" + 100L).as("id"),
        transform($"emb", v => v * 1.0001f).as("emb"))
    // Simulate the crash: the payload (embs) append committed under the
    // txn id, the bands append never ran.
    Graft.write(batch.select($"id", $"emb".cast("array<float>").as("emb")),
      s"$idx/embs", txnAppId = Some("crash-test"), txnVersion = Some(1L))
    // Retry with the SAME txn id: the embs half is skipped by the
    // idempotent-writer watermark, the missing bands half completes, and
    // the verdict is unaffected (candidates come from the bands table,
    // where the batch's ids are anti-joined out anyway).
    val got = Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
      threshold = 0.999, updateIndex = true,
      txnAppId = Some("crash-test"), txnVersion = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(100L -> true))
    // healed: each table holds the batch EXACTLY once
    assert(Graft.read(spark, s"$idx/embs").where($"id" === 100L).count() === 1)
    val bandRows = Graft.read(spark, s"$idx/bands")
      .where($"id" === 100L).count()
    assert(bandRows > 0 && bandRows ===
      Graft.read(spark, s"$idx/bands").where($"id" === 0L).count())
    // and a later batch matches the healed entry
    val later = batch.select(($"id" + 100L).as("id"), $"emb")
    val got2 = Dedup.dedupEmbeddingsAgainstIndex(later, $"id", $"emb", idx,
      threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got2 === Map(200L -> true))
  }

  test("canonicalizeUrl: case, fragment, tracking params, param order, slash") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase; PATH CASE PRESERVED (RFC 3986: /A and /a
      // may be different resources); params sorted, tracking dropped
      ("HTTPS://Ex.COM/A/?b=2&utm_source=x&a=1#frag",
        "https://ex.com/A?a=1&b=2"),
      ("https://ex.com/a?a=1&b=2", "https://ex.com/a?a=1&b=2"),
      ("https://ex.com/a/?fbclid=zz&gclid=yy", "https://ex.com/a"),
      // exact-key tracking match: fbclid_variant is a REAL param and stays
      ("https://ex.com/a?fbclid_variant=1&gclid2=x",
        "https://ex.com/a?fbclid_variant=1&gclid2=x"),
      ("https://ex.com/a", "https://ex.com/a"),
      ("https://ex.com/", "https://ex.com"),
      ("https://ex.com/a?", "https://ex.com/a"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.text.TextFunctions.canonicalizeUrl($"url"))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }

  test("embedding index: retry cannot inflate hot-bucket counts; rebuild refreshes params") {
    import spark.implicits._
    // Corpus bucket at EXACTLY the cap, holding a true duplicate of the
    // batch: the first appending run flags it; the retry re-reads an
    // index that now contains the batch's own rows, and those must NOT
    // count toward the cap (they are anti-joined as current-batch ids
    // BEFORE the hot count) — otherwise the bucket trips the guard and
    // the verdict silently flips false on retry.
    val v = Array(0.6f, -0.8f, 0.1f, 0.3f)
    val corpus = (0L until 10L).map(i => (i, v)).toDF("id", "emb")
    val idx = java.nio.file.Files.createTempDirectory("embretry").toString
    Dedup.buildEmbeddingIndex(corpus, $"id", $"emb", idx, threshold = 0.999)
    val batch = Seq((100L, v.map(_ * 1.0001f))).toDF("id", "emb")
    def run() = Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
      threshold = 0.999, updateIndex = true, maxBucketSize = 10,
      txnAppId = Some("embretry"), txnVersion = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(run() === Map(100L -> true), "first run")
    assert(run() === Map(100L -> true), "retry flipped the verdict")
    // Rebuild-in-place with DIFFERENT banding must refresh the recorded
    // properties: calls with the new parameters succeed and find dups,
    // calls with the old ones refuse.
    Dedup.buildEmbeddingIndex(corpus, $"id", $"emb", idx,
      threshold = 0.999, planesPerBand = 6)
    val got = Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
      threshold = 0.999, planesPerBand = 6)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(100L -> true), "rebuilt index lost the duplicate")
    val err = intercept[IllegalArgumentException] {
      Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
        threshold = 0.999).collect() // default planesPerBand = 12, stale
    }
    assert(err.getMessage.contains("mismatched banding"), err.getMessage)
  }

  test("embeddingPairs finds jittered duplicates via band agreement") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val jittered = e.select(($"vec_id" + 100000).as("vec_id"),
      transform($"embedding", v => v * 1.0001f).as("embedding"))
    val all = e.select("vec_id", "embedding").unionByName(jittered)
    val pairs = Dedup.embeddingPairs(all, $"vec_id", $"embedding", threshold = 0.999)
      .where($"idB" === $"idA" + 100000)
    assert(pairs.count() === 100)
  }

  test("IVF at nlist=1024 compiles and agrees with interpreted eval") {
    import spark.implicits._
    // The old greatest-of-structs assignment generated a 1024-ary
    // expression here and died in Janino; the single-kernel form must
    // plan, codegen, and rank correctly at this width.
    val dims = 8
    def emb(seed: Long): Seq[Float] =
      (0 until dims).map(d =>
        ((VectorKernels.mix(seed * 31 + d) >>> 11) / 4.503599627370496e15 - 1.0).toFloat)
    val corpus = spark.range(3000)
      .map(i => (i, emb(i)))
      .toDF("cid", "cemb")
    val queries = spark.range(5).map(i => (i + 100000, emb(i * 7 + 3)))
      .toDF("qid", "qemb")
    val got = Similarity.ivfTopK(corpus, col("cid"), col("cemb"),
        queries, col("qid"), col("qemb"), k = 5, nlist = 1024, nprobe = 256)
      .select("qid", "cid", "rank").collect()
    assert(got.length === 25, s"expected 5 queries x top-5, got ${got.length}")
    // the kernel's interpreted eval must agree with codegen: force an
    // eval-only pass through a literal row
    val m = graft.expressions.CentroidMatrix.build(
      Array(Seq(1f, 0f), Seq(0f, 1f), Seq(-1f, 0f)))
    val bc = spark.sparkContext.broadcast(m)
    val e = graft.expressions.NearestCentroids(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(0.9f, 0.1f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      bc, 2)
    val r = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(r.toIntArray().toSeq === Seq(0, 1))
  }

  test("curation: split is deterministic, cap keeps top-k, pack respects budget") {
    import graft.ml.Curation
    val docs = spark.range(1000).select($"id".as("doc_id"),
      (pmod($"id", lit(5))).cast("string").as("src"),
      (pmod($"id" * 131, lit(900)) + 100).as("toks"))
    // split: same assignment on every invocation, all rows labeled
    val s1 = Curation.deterministicSplit(docs, $"doc_id")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s2 = Curation.deterministicSplit(docs.repartition(7), $"doc_id")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 === s2)
    assert(s1.values.sum === 1000L)
    assert(s1("train") > 900L)
    // cap: exactly k rows per group, and they are the top-k by order
    val capped = Curation.capPerGroup(docs, $"src", Seq($"toks".desc, $"doc_id"), 2)
    val perGroup = capped.groupBy("src").count().collect().map(_.getLong(1))
    assert(perGroup.forall(_ === 2L) && perGroup.length === 5)
    val best = docs.groupBy("src").agg(max($"toks").as("m"))
    assert(capped.join(best, "src").where($"toks" === $"m").count() === 5)
    // pack: no shard exceeds budget except via a single oversized doc,
    // and shard ids are contiguous from 0 within each group
    val packed = Curation.packShards(docs, $"src", $"doc_id", $"toks", budget = 5000L)
    val byShard = packed.groupBy("src", "shard").agg(sum($"toks").as("t"),
      max($"toks").as("mx")).collect()
    byShard.foreach { r =>
      assert(r.getLong(2) <= 5000L + r.getLong(3),
        s"shard overflows budget by more than one doc: $r")
    }
    val shards = packed.select("src", "shard").distinct()
      .groupBy("src").agg(min("shard").as("lo"), countDistinct("shard").as("n"),
        max("shard").as("hi")).collect()
    shards.foreach(r => assert(r.getLong(1) === 0L && r.getLong(3) === r.getLong(2) - 1))
  }

  test("merge materializes a non-deterministic source exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mat").toString
    Graft.write(spark.range(100).select($"id".as("k"), lit(0L).as("v")), dir)
    MergeSourceEvals.count.set(0)
    val counting = org.apache.spark.sql.functions.udf { (x: Long) =>
      MergeSourceEvals.count.incrementAndGet(); x
    }.asNondeterministic()
    val src = spark.range(40).select(counting($"id" * 5).as("k"), lit(1L).as("v"))
    GraftTable.forPath(spark, dir)
      .merge(src, org.apache.spark.sql.functions.expr("t.k = s.k"))
      .whenMatched().updateExpr(Map("v" -> "s.v"))
      .whenNotMatched().insertAll()
      .execute()
    // evaluated once per source row during materialization, then both
    // merge phases read the cache — no re-execution
    assert(MergeSourceEvals.count.get() === 40)
    val out = Graft.read(spark, dir)
    // keys 0,5,...,195: 20 match (update in place), 20 insert
    assert(out.count() === 120)
    assert(out.filter($"v" === 1L).count() === 40)
  }

  test("hilbert index is a bijective curve with unit-step adjacency") {
    import graft.expressions.HilbertIndex
    val bits = 3; val dims = 2
    val n = 1 << (bits * dims)   // 64 grid points
    val points = for (a <- 0 until (1 << bits); b <- 0 until (1 << bits))
      yield (a.toLong, b.toLong)
    val indexed = points.map { case (a, b) =>
      HilbertIndex.transposedIndex(bits, Array(a, b)) -> (a, b)
    }
    // bijective over the grid
    assert(indexed.map(_._1).distinct.size === n)
    assert(indexed.map(_._1).min === 0L && indexed.map(_._1).max === (n - 1).toLong)
    // true Hilbert property: consecutive indexes are unit grid neighbors
    val byIndex = indexed.toMap
    (0L until (n - 1).toLong).foreach { i =>
      val (a1, b1) = byIndex(i); val (a2, b2) = byIndex(i + 1)
      assert(math.abs(a1 - a2) + math.abs(b1 - b2) === 1,
        s"index $i -> ${i + 1} jumped from ($a1,$b1) to ($a2,$b2)")
    }
  }

  test("OPTIMIZE hilbert clustering keeps data and clusters files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hil").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Graft.write(li, dir)
    val res = GraftTable.forPath(spark, dir).optimize()
      .executeHilbertBy("l_orderkey", "l_partkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(res("hilbertBy") === "l_orderkey,l_partkey")
    assert(Graft.read(spark, dir).count() === li.count())
    val ops = GraftTable.forPath(spark, dir).history()
      .select("operation").as[String].collect()
    assert(ops.contains("OPTIMIZE HILBERT"))
  }

  test("charEntropy: hand-computed values, empty/null, codegen = kernel") {
    import graft.expressions.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    assert(TextKernels.charEntropy(UTF8String.fromString("aabb")) === 1.0)
    assert(TextKernels.charEntropy(UTF8String.fromString("abcd")) === 2.0)
    assert(TextKernels.charEntropy(UTF8String.fromString("aaaa")) === 0.0)
    assert(TextKernels.charEntropy(UTF8String.fromString("")) === 0.0)
    val docs = Seq((1L, "aabb"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        graft.text.TextFunctions.charEntropy($"text").as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L) === Some(1.0))
    assert(got(2L) === Some(0.0))
    assert(got(3L) === None) // null in, null out
  }

  test("simhash of empty and null text is 0") {
    val docs = Seq((1L, "some actual text here"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val fps = Dedup.simHashes(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) !== 0L)
    assert(fps(2L) === 0L)
    assert(fps(3L) === 0L)
  }

  test("weak-supervision quality model separates clean text from corruption") {
    import graft.ml.QualityModel
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = QualityModel.train(docs, col("doc_id"), col("text"))
    val scored = docs.select(col("doc_id"),
      QualityModel.score(docs, col("text"), model).as("s_clean"),
      QualityModel.score(docs,
        concat_ws(" ", array_repeat(substring(col("text"), 1, 18), 40)),
        model).as("s_corrupt"))
    val rows = scored.as[(Long, Double, Double)].collect()
    assert(rows.forall { case (_, c, k) => c >= 0.0 && c <= 1.0 && k >= 0.0 && k <= 1.0 })
    val wins = rows.count { case (_, c, k) => c > k }
    assert(wins >= rows.length * 0.95,
      s"model separates only $wins/${rows.length} docs")
    val meanClean = rows.map(_._2).sum / rows.length
    val meanCorrupt = rows.map(_._3).sum / rows.length
    assert(meanClean - meanCorrupt > 0.3,
      f"weak separation: clean $meanClean%.2f vs corrupt $meanCorrupt%.2f")
    // scoring is a pure projection — no shuffle, no UDF
    val plan = docs.select(QualityModel.score(docs, col("text"), model))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("BatchEvalPython"),
      s"scoring must be a single projection:\n$plan")
  }

  test("paragraph dedup keeps first occurrence, preserves order and short lines") {
    import graft.ml.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "HEADER\nalpha body one\n\nFOOTER"),
      (2L, "HEADER\nbeta body two\n\nFOOTER"),
      (3L, "HEADER\nalpha body one\nunique tail\nFOOTER")).toDF("id", "text")
    val out = Dedup.dedupParagraphs(docs, col("id"), col("text"), minLen = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    // doc 1 hosts the first HEADER/FOOTER and the first "alpha body one";
    // the empty line (< minLen) survives everywhere it appears
    assert(out(0) === ((1L, "HEADER\nalpha body one\n\nFOOTER", 4L)))
    assert(out(1) === ((2L, "beta body two\n", 2L)))
    // doc 3's duplicate of doc 1's paragraph collapses; its unique line stays
    assert(out(2) === ((3L, "unique tail", 1L)))
  }
}

/** JVM-global evaluation counter for the merge-materialization test
  * (local mode: executors share the test JVM). */
object MergeSourceEvals {
  val count = new java.util.concurrent.atomic.AtomicInteger(0)


}

class MultimodalSuite extends org.scalatest.funsuite.AnyFunSuite {
  test("WAV codec: synth -> decode -> stats -> resample roundtrip") {
    val spark2 = TestSpark.spark
    import org.apache.spark.sql.functions._
    import graft.multimodal.WavFunctions._
    import graft.multimodal.WavCodec
    // driver-side reference for one clip
    val ref = WavCodec.decode(WavCodec.synth(3L, 1000, 16000))
    assert(ref.rate === 16000 && ref.n === 1000)
    assert(ref.sample(0) === ((3 * 31 % 65536) - 32768))
    // distributed: synth real bytes, decode + stats in a projection
    val df = spark2.range(20).select(col("id"),
        wavSynth(col("id"), lit(800) + (col("id") % 5).cast("int") * 100,
          lit(8000)).as("payload"))
      .withColumn("st", wavStats(col("payload")))
      .withColumn("rs", wavStats(wavResample(col("payload"), lit(4000))))
    val rows = df.select(col("id"),
      col("st.sample_rate"), col("st.n_samples"), col("st.sum_s"),
      col("rs.sample_rate").as("rs_rate"), col("rs.n_samples").as("rs_n"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0); val n = 800 + (id % 5).toInt * 100
      assert(r.getInt(1) === 8000)
      assert(r.getInt(2) === n)
      // oracle sum recomputed with plain arithmetic
      val sum = (0 until n).map(i => ((id * 31 + i.toLong * 17) % 65536L) - 32768L).sum
      assert(r.getLong(3) === sum, s"id=$id")
      // half the rate -> half the samples (floor), duration preserved
      assert(r.getInt(4) === 4000)
      assert(r.getInt(5) === n * 4000L / 8000L)
    }
    // resample to the same rate is byte-identical (pass-through)
    val same = spark2.range(3).select(
      wavSynth(col("id"), lit(100), lit(8000)).as("p"))
      .select((col("p") === wavResample(col("p"), lit(8000))).as("eq"))
      .collect()
    assert(same.forall(_.getBoolean(0)))
  }

  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.multimodal.Multimodal

  test("BMP codec: encode/decode roundtrip, padding, resize, rejects garbage") {
    import graft.multimodal.BmpCodec
    // odd width exercises the 4-byte row padding path
    val bytes = BmpCodec.synth(id = 7L, w = 5, h = 3)
    val d = BmpCodec.decode(bytes)
    assert(d.width === 5 && d.height === 3)
    // every pixel survives the roundtrip exactly
    for (y <- 0 until 3; x <- 0 until 5) {
      val expB = ((x * 7 + y * 13 + 7L * 31) % 256).toInt
      val expG = ((x * 11 + y * 17 + 7L * 43) % 256).toInt
      val expR = ((x * 19 + y * 23 + 7L * 59) % 256).toInt
      assert(d.bgr(x, y) === (expB | (expG << 8) | (expR << 16)),
        s"pixel ($x,$y)")
    }
    // in-box images pass through byte-identical; larger ones downscale
    assert(BmpCodec.resizeFit(bytes, 32) eq bytes)
    val big = BmpCodec.synth(id = 9L, w = 64, h = 16)
    val rs = BmpCodec.decode(BmpCodec.resizeFit(big, 32))
    assert(rs.width === 32 && rs.height === 8)  // 16*32/64, aspect kept
    // nearest-neighbor: resized (0,0) samples source (0,0)
    assert(rs.bgr(0, 0) === BmpCodec.decode(big).bgr(0, 0))
    intercept[IllegalArgumentException] {
      BmpCodec.decode("not a bitmap at all".getBytes)
    }
    intercept[IllegalArgumentException] {  // truncated: header says more data
      BmpCodec.decode(bytes.take(bytes.length - 4))
    }
  }

  test("resize fits images inside the box, preserves aspect, skips non-images") {
    val media = Multimodal.syntheticMedia(spark, 100)
    val out = Multimodal.resize(media, maxW = 128, maxH = 128)
    val images = out.where(col("kind") === "image")
      .select(col("meta.width"), col("meta.height")).collect()
    assert(images.nonEmpty)
    images.foreach { r =>
      assert(r.getInt(0) <= 128 && r.getInt(1) <= 128)
      assert(r.getInt(0) >= 1 && r.getInt(1) >= 1)
    }
    // aspect preserved within rounding
    val before = media.where(col("kind") === "image")
      .select(col("media_id"), col("meta.width"), col("meta.height")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    out.where(col("kind") === "image")
      .select(col("media_id"), col("meta.width"), col("meta.height")).collect()
      .foreach { r =>
        val (w0, h0) = before(r.getLong(0))
        if (w0 > 128 || h0 > 128) {
          val ratio0 = w0.toDouble / h0
          val ratio1 = r.getInt(1).toDouble / r.getInt(2)
          assert(math.abs(ratio0 - ratio1) / ratio0 < 0.2,
            s"aspect drifted: ${(w0, h0)} -> ${(r.getInt(1), r.getInt(2))}")
        }
      }
    // non-image rows untouched
    val audioBefore = media.where(col("kind") === "audio")
      .select(sum(col("meta.width"))).head.getLong(0)
    val audioAfter = out.where(col("kind") === "audio")
      .select(sum(col("meta.width"))).head.getLong(0)
    assert(audioBefore === audioAfter)
  }

  test("band join: inclusive width, bucket-boundary pairs, no duplicates") {
    import spark.implicits._
    val left = Seq((1L, 200L)).toDF("id", "t")
    val right = Seq(99L, 100L, 250L, 300L, 301L).toDF("rt")
    val got = graft.operators.RangeJoin.band(left, right, "t", "rt",
        width = 100L, rightPrefix = "m_")
      .select("id", "m_rt").collect().map(_.getLong(1)).sorted.toSeq
    // 99 is out (diff 101); 100 (boundary, other bucket), 250 (same
    // bucket), 300 (boundary) are in, each exactly once; 301 is out
    assert(got === Seq(100L, 250L, 300L))
  }

  test("band join: keys beyond 2^53 keep exact buckets (long arithmetic)") {
    import spark.implicits._
    // Nanosecond-epoch scale: double division would round these near
    // bucket boundaries and silently drop true pairs.
    val base = 1700000000000000000L          // ~1.7e18, > 2^53
    val width = 1000L
    val left = Seq((1L, base)).toDF("id", "t")
    val right = Seq(base - 1001L, base - 1000L, base + 1000L, base + 1001L)
      .toDF("rt")
    val got = graft.operators.RangeJoin.band(left, right, "t", "rt",
        width = width, rightPrefix = "m_")
      .select("m_rt").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(base - 1000L, base + 1000L))
  }

  test("asOf join: tied right timestamps resolve deterministically") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    // three right rows at the same (k, ts): the greatest payload must win
    // every run (ties were previously picked arbitrarily by sort order)
    val right = Seq((1L, 10L, "a"), (1L, 10L, "c"), (1L, 10L, "b"))
      .toDF("k", "t", "rv")
    val picks = (1 to 5).map { _ =>
      graft.operators.AsOfJoin.asOf(left, right.repartition(3), "k", "t", "m_")
        .select("m_rv").head.getString(0)
    }
    assert(picks.toSet === Set("c"), s"nondeterministic tie-break: $picks")
  }

  test("asOf join tolerates non-orderable right columns (maps)") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, Map("a" -> "1")), (1L, 8L, Map("b" -> "2")))
      .toDF("k", "t", "attrs")
    val got = graft.operators.AsOfJoin.asOf(left, right, "k", "t", "m_")
      .select("m_t").head.getLong(0)
    assert(got === 8L)   // latest prior row, map payload intact
  }

  test("connected components: chain, triangle, isolated pair, determinism") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (21L, 20L)).toDF("u", "v")
    val got = graft.ml.Clustering.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // second run identical (no RNG, no partition-order dependence)
    val again = graft.ml.Clustering.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("connected components: long path converges within the log-round budget") {
    import spark.implicits._
    // path of 200 vertices: plain min-propagation would need ~200 rounds;
    // the compression step must finish well under maxIter=25.
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("u", "v")
    val got = graft.ml.Clustering.connectedComponents(edges, maxIter = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 200 && got.forall(_._2 === 0L))
  }

  test("kMeans: separable clusters recovered, deterministic across runs") {
    import spark.implicits._
    // two tight cones around orthogonal axes
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.01f * (i % 5), 0.0f)
                 else Array(0.0f, 0.01f * (i % 5), 1.0f)
      (i.toLong, base)
    }
    val df = rows.toDF("id", "emb")
    val r1 = graft.ml.Clustering.kMeans(df, col("id"), col("emb"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // all even ids together, all odd ids together, in different clusters
    val evens = r1.filter(_._1 % 2 == 0).values.toSet
    val odds = r1.filter(_._1 % 2 == 1).values.toSet
    assert(evens.size === 1 && odds.size === 1 && evens != odds)
    val r2 = graft.ml.Clustering.kMeans(df, col("id"), col("emb"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r2 === r1)
  }

  test("stratified hash sample: rate-proportional, deterministic, pure filter") {
    // spark.range (not a local Seq): ConvertToLocalRelation would fold a
    // LocalRelation's filter away and hide the plan shape under test.
    val df = spark.range(2000).select(col("id"),
      when(col("id") % 2 === 0, "en").otherwise("xx").as("lang"))
    val s = graft.ml.Curation.stratifiedHashSample(
      df, col("id"), col("lang"), Map("en" -> 100), defaultPermille = 900)
    val byLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 candidates per stratum at 10% / 90%
    assert(byLang("en") > 50 && byLang("en") < 150)
    assert(byLang("xx") > 850 && byLang("xx") < 950)
    assert(s.queryExecution.executedPlan.toString.contains("Filter"))
    assert(!s.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("scrubPii: email/ip/number replacement and ordering") {
    import spark.implicits._
    val got = Seq("mail bob.smith+x@corp.example.org here",
        "ip 192.168.254.3 and acct 123456789",
        "short 123456 stays").toDF("t")
      .select(graft.text.TextFunctions.scrubPii(col("t")))
      .as[String].collect()
    assert(got(0) === "mail [EMAIL] here")
    assert(got(1) === "ip [IP] and acct [NUM]")
    assert(got(2) === "short 123456 stays") // under the 7-digit floor
  }

  test("salted join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // 10k rows on ONE key + a handful elsewhere
    val fact = spark.range(10000).select(
      when(col("id") < 9990, 1L).otherwise(col("id")).as("k"),
      col("id").as("v"))
    val dim = Seq((1L, "hot"), (9995L, "cold")).toDF("k", "name")
    val salted = graft.operators.SkewJoin.saltedJoin(fact, dim, "k", salt = 8)
    val plain = fact.join(
      dim.select(col("k"), col("name").as("d_name")), "k")
    assert(salted.count() === plain.count())
    assert(salted.agg(sum("v")).head.getLong(0) ===
      plain.agg(sum("v")).head.getLong(0))
    // the hot key's rows really scatter across sub-keys
    val spread = fact.where(col("k") === 1L)
      .select(pmod(xxhash64(struct(col("k"), col("v"))), lit(8L)).as("s"))
      .distinct().count()
    assert(spread === 8L, s"hot key only used $spread of 8 salts")
  }

  test("asOf join: inclusive bound, no-match nulls, per-key isolation") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 6L, "r6"))
      .toDF("k", "t", "rv")
    val got = graft.operators.AsOfJoin.asOf(left, right, "k", "t", "m_")
      .select("k", "t", "lv", "m_rv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSet
    assert(got === Set(
      (1L, 10L, "p1", Some("r10")),   // equal ts matches (inclusive <=)
      (1L, 20L, "p2", Some("r15")),   // latest prior, not first
      (2L, 5L, "p3", None)))          // right row is later -> no match
  }

  test("repetition signals: hand-computed fractions, short-doc fallbacks") {
    import spark.implicits._
    import graft.text.TextFunctions.{dupTokenFrac, topNgramFrac}
    val docs = Seq(
      (1L, "a a a b"),          // dup 1-2/4=.5, top word 3/4, top bigram "a a" 2/3
      (2L, "x y z"),            // all distinct
      (3L, "w"),                // 1 token: bigram falls back to whole doc
      (4L, "A a")               // case-folded before counting
    ).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        dupTokenFrac($"text").as("d"),
        topNgramFrac($"text", 1).as("w"),
        topNgramFrac($"text", 2).as("b"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) === ((0.5, 0.75, 2.0 / 3.0)))
    assert(got(2L) === ((0.0, 1.0 / 3.0, 0.5)))
    assert(got(3L) === ((0.0, 1.0, 1.0)))
    assert(got(4L) === ((0.5, 1.0, 1.0)))
  }

  test("repetitionProfile: hand-computed line and n-gram char fractions") {
    import spark.implicits._
    import graft.text.TextFunctions.repetitionProfile
    val docs = Seq(
      (1L, "x y\nx y\nz"),
      (2L, "a b c d e a b c d e"),
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = docs.select($"id", repetitionProfile($"text").as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    val p1 = got(1L).get
    // lines [x y, x y, z]: 2/3 dup lines, 6/7 dup chars; tokens x y x y z
    assert(math.abs(p1.getDouble(0) - 2.0 / 3) < 1e-12)
    assert(math.abs(p1.getDouble(1) - 6.0 / 7) < 1e-12)
    assert(math.abs(p1.getDouble(2) - 0.8) < 1e-12) // "x y" x2, chars 2x2/5
    assert(math.abs(p1.getDouble(3) - 0.6) < 1e-12) // any trigram, 3/5
    assert(math.abs(p1.getDouble(4) - 0.8) < 1e-12) // any 4-gram, 4/5
    assert(p1.getDouble(5) === 0.0 && p1.getDouble(6) === 0.0)
    val p2 = got(2L).get
    assert(p2.getDouble(0) === 0.0) // single line
    assert(math.abs(p2.getDouble(2) - 0.4) < 1e-12) // "a b" x2 -> 2*2/10
    assert(p2.getDouble(5) === 1.0) // "a b c d e" repeats: all 10 covered
    assert(p2.getDouble(6) === 0.0) // the lone 10-gram occurs once
    val p3 = got(3L).get
    assert((0 until 7).forall(i => p3.getDouble(i) === 0.0))
    // null text: the kernel yields null per slot (struct wrapper remains)
    assert(got(4L).exists(s => (0 until 7).forall(s.isNullAt)))
  }

  test("semanticDedup: families keep min id, null embeddings drop, guard skips") {
    import spark.implicits._
    // Two tight families along different axes plus a loner; ids chosen so
    // family membership crosses cluster-init order.
    val rows = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(1.0001f, 0.0f, 0.0f)),    // dup of 10
      (12L, Array(0.9999f, 0.0001f, 0.0f)), // dup of 10/11 (transitive family)
      (20L, Array(0.0f, 1.0f, 0.0f)),
      (21L, Array(0.0f, 1.0002f, 0.0f)),    // dup of 20
      (30L, Array(0.0f, 0.0f, 1.0f)),       // loner
      (40L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "emb")
    val got = Dedup.semanticDedup(rows, $"id", $"emb", k = 3,
      threshold = 0.999, maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(10L -> false, 11L -> true, 12L -> true,
      20L -> false, 21L -> true, 30L -> false)) // 40 (null emb) absent
    // Oversized-cluster guard: with k=1 everything is one cluster; a cap
    // below the corpus size must skip pair generation and SAY SO —
    // members come back KEPT (is_dup=false, the safe dedup failure: a
    // `where(!is_dup)` caller keeps them instead of null-dropping the
    // whole cluster) and marked skipped_cluster=true.
    val guarded = Dedup.semanticDedup(rows, $"id", $"emb", k = 1,
      threshold = 0.999, maxIter = 2, maxClusterSize = 3)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(guarded.size === 6)
    assert(guarded.values.forall { case (dup, skipped) =>
      !dup && skipped })
    // Non-skipped rows carry skipped_cluster=false
    val fine = Dedup.semanticDedup(rows, $"id", $"emb", k = 3,
      threshold = 0.999, maxIter = 5)
      .collect()
    assert(fine.forall(r => !r.getBoolean(3) && !r.isNullAt(2)))
  }

  test("semanticDedup: banded path matches all-pairs families exactly") {
    import spark.implicits._
    // 200 random unit-ish vectors + 30 planted jittered near-copies: the
    // LSH-banded in-cluster candidate generation must recover exactly the
    // families an exact all-pairs cosine pass finds.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val baseRows = (0 until 200).map(i => (i.toLong, vec()))
    val dups = (0 until 30).map { i =>
      val (oid, v) = baseRows(i * 6)
      (oid + 10000L, v.map(x => x * 1.0001f))
    }
    val all = (baseRows ++ dups).toDF("id", "emb")
    val got = Dedup.semanticDedup(all, $"id", $"emb", k = 5,
      threshold = 0.999, maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // Exact reference: brute-force all-pairs cosine >= threshold, then
    // min-id-per-family (each planted dup pairs only with its original —
    // random 16-dim gaussians are nowhere near cosine 0.999).
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val everything = baseRows ++ dups
    val expectDup = (for {
      (ia, va) <- everything; (ib, vb) <- everything
      if ia < ib && cos(va, vb) >= 0.999
    } yield ib).toSet
    assert(got.size === everything.size)
    assert(got.filter(_._2).keySet === expectDup)
  }

  test("semanticDedup scale probe: hot-cluster candidates << size^2") {
    import spark.implicits._
    // One fabricated hot cluster (k=1 forces it) of 2000 random 32-dim
    // vectors: in very low dims the sign-bit buckets skew (planes lose
    // independence), so the probe uses a realistic embedding width;
    // multi-band LSH (12 planes/band, bands from the 0.95 threshold) must
    // cut the ~2M all-pairs by >= 50x.
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000)
      .map(i => (i.toLong, 0, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("id", "cluster", "emb")
    val candidates = Dedup.clusterBandedPairs(rows, threshold = 0.95).count()
    val allPairs = 2000L * 1999 / 2
    assert(candidates < allPairs / 50,
      s"banded candidates $candidates not << $allPairs")
  }

  test("embeddingPairs recall at the default threshold is calibrated") {
    import spark.implicits._
    // 200 pairs planted at cosine ~0.955 (just above the 0.95 threshold):
    // w = cos(a)*v + sin(a)*u with u unit-orthogonal to v, so the pair
    // cosine is exactly cos(a). The single-signature multi-probe design
    // this replaced lost ~49% of these; banding must keep >= 95%.
    val rnd = new scala.util.Random(23)
    val target = 0.955
    val alpha = math.acos(target)
    val pairs = (0 until 200).map { i =>
      val v0 = Array.fill(16)(rnd.nextGaussian())
      val nv = math.sqrt(v0.map(x => x * x).sum)
      val v = v0.map(_ / nv)
      val u0 = Array.fill(16)(rnd.nextGaussian())
      val d = u0.zip(v).map { case (a, b) => a * b }.sum
      val uo = u0.zip(v).map { case (a, b) => a - d * b }
      val nu = math.sqrt(uo.map(x => x * x).sum)
      val w = v.zip(uo).map { case (vi, ui) =>
        (math.cos(alpha) * vi + math.sin(alpha) * ui / nu).toFloat }
      (i.toLong, v.map(_.toFloat), w)
    }
    val df = pairs.flatMap { case (i, v, w) =>
      Seq((i, v), (i + 10000L, w)) }.toDF("id", "emb")
    val found = Dedup.embeddingPairs(df, $"id", $"emb", threshold = 0.95)
      .where(col("idB") === col("idA") + 10000L).count()
    assert(found >= 190, s"recall ${found / 200.0} below 0.95")
  }

  test("embedding index: batch dedup, self-match pinning, retry healing") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 50L).map(i => (i, vec())).toDF("id", "emb")
    val idx = java.nio.file.Files.createTempDirectory("embidx").toString
    Dedup.buildEmbeddingIndex(corpus, $"id", $"emb", idx, threshold = 0.999)
    // batch: jittered copies (dup), negations (cosine -1, not dup), and
    // a within-batch near-dup family that must NOT flag (index is "the
    // corpus before this batch")
    val dup = corpus.select(($"id" + 100L).as("id"),
      transform($"emb", v => v * 1.0001f).as("emb"))
    val anti = corpus.select(($"id" + 200L).as("id"),
      transform($"emb", v => v * -1.0f).as("emb"))
    val fresh = Seq((300L, vec())).toDF("id", "emb")
    val family = fresh.unionByName(
      fresh.select(($"id" + 1).as("id"),
        transform($"emb", v => v * 1.0001f).as("emb")))
    val batch = dup.unionByName(anti).unionByName(family)
    val got = Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
      threshold = 0.999, updateIndex = true,
      txnAppId = Some("embidx-test"), txnVersion = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size === 102)
    (0L until 50L).foreach { i =>
      assert(got(i + 100L), s"jittered $i not flagged")
      assert(!got(i + 200L), s"negated $i wrongly flagged")
    }
    assert(!got(300L) && !got(301L), "within-batch family flagged itself")
    // RETRY the same batch (same txn id): the first append is skipped and
    // current-batch ids are excluded, so the verdicts are identical even
    // though the index now contains the batch's own rows
    val retry = Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
      threshold = 0.999, updateIndex = true,
      txnAppId = Some("embidx-test"), txnVersion = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(retry === got, "retry changed verdicts")
    // a SECOND batch sees the first batch's rows as corpus: a copy of a
    // first-batch vector now flags
    val copyOfBatch = dup.limit(1).select(($"id" + 300L).as("id"), $"emb")
    val got2 = Dedup.dedupEmbeddingsAgainstIndex(copyOfBatch,
      $"id", $"emb", idx, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got2.values.forall(_ == true), s"appended rows not indexed: $got2")
    // mismatched banding parameters refuse loudly
    val err = intercept[IllegalArgumentException] {
      Dedup.dedupEmbeddingsAgainstIndex(batch, $"id", $"emb", idx,
        threshold = 0.95).collect()
    }
    assert(err.getMessage.contains("mismatched banding"), err.getMessage)
  }

  test("embeddingPairs recall holds for locally-correlated embeddings") {
    import spark.implicits._
    // Smooth vectors (moving-average of a gaussian walk): adjacent
    // components correlate, the regime where dim-permuted (= correlated)
    // bands would agree or disagree TOGETHER and recall would collapse
    // toward a single band's. With golden-ratio-spaced band seeds the
    // bands stay independent and the ~98% calibration holds; iid-gaussian
    // tests cannot catch a seed-correlation regression.
    val rnd = new scala.util.Random(31)
    val alpha = math.acos(0.955)
    def smooth(): Array[Double] = {
      val raw = Array.fill(36)(rnd.nextGaussian())
      (0 until 32).map(i => raw(i) + raw(i + 1) + raw(i + 2) + raw(i + 3))
        .toArray
    }
    val pairs = (0 until 200).map { i =>
      val v0 = smooth()
      val nv = math.sqrt(v0.map(x => x * x).sum)
      val v = v0.map(_ / nv)
      // orthogonalized SMOOTH noise, so the jitter is correlated too
      val u0 = smooth()
      val d = u0.zip(v).map { case (a, b) => a * b }.sum
      val uo = u0.zip(v).map { case (a, b) => a - d * b }
      val nu = math.sqrt(uo.map(x => x * x).sum)
      val w = v.zip(uo).map { case (vi, ui) =>
        (math.cos(alpha) * vi + math.sin(alpha) * ui / nu).toFloat }
      (i.toLong, v.map(_.toFloat), w)
    }
    val df = pairs.flatMap { case (i, v, w) =>
      Seq((i, v), (i + 10000L, w)) }.toDF("id", "emb")
    val found = Dedup.embeddingPairs(df, $"id", $"emb", threshold = 0.95)
      .where(col("idB") === col("idA") + 10000L).count()
    assert(found >= 185, s"correlated-component recall ${found / 200.0}")
  }

  test("dropSpans: flagged token ranges removed, untouched docs pass through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),          // drop [2,5) -> "a b f g h"
      (2L, "x  y   z"),                 // no spans: original text KEPT verbatim
      (3L, "p q r")                     // all tokens dropped -> ""
    ).toDF("id", "txt")
    val spans = Seq(
      (1L, 2L, 5L),
      (3L, 0L, 3L)
    ).toDF("doc_id", "span_start", "span_end")
    val got = Dedup.dropSpans(docs, $"id", $"txt", spans)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("a b f g h", 5L, 3L)))
    assert(got(2L) === (("x  y   z", 3L, 0L)))  // whitespace untouched
    assert(got(3L) === (("", 0L, 3L)))
    // end-to-end with duplicateSpans: two docs sharing a 4-token run
    val corpus = Seq(
      (10L, "one two three four tail1 tail2"),
      (11L, "head one two three four")
    ).toDF("id", "txt")
    val sp2 = Dedup.duplicateSpans(corpus, $"id", $"txt", window = 4)
    val dropped = Dedup.dropSpans(corpus, $"id", $"txt", sp2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dropped(10L) === "tail1 tail2")
    assert(dropped(11L) === "head")
  }

  test("decontaminate: only gram-sharing train docs flagged, counts exact") {
    import spark.implicits._
    val bench = Seq((100L, "one two three four five")).toDF("id", "text")
    val train = Seq(
      (1L, "zzz one two three four five yyy"), // contains all 2 bench 5-grams? n=5: bench grams: 1
      (2L, "one two three xxx four five"),     // shares no full 5-gram
      (3L, "totally different words here now")
    ).toDF("id", "text")
    val got = Dedup.decontaminate(train, bench, col("id"), col("text"), n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench has exactly one 5-gram; only doc 1 contains it
    assert(got === Map(1L -> 1L))
    // plan shape: the corpus side is a single kernel projection — no
    // join, no exchange, no gram explosion at any corpus size
    val plan = Dedup.decontaminate(train, bench, col("id"), col("text"), n = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange") &&
      !plan.contains("Generate"),
      s"expected a join/shuffle/explode-free corpus plan:\n$plan")
  }

  test("mixtureSample: budgets follow weights, scarcest source caps N") {
    import spark.implicits._
    // a: 40 tokens over 4 docs, b: 400 over 4 docs; weights 50/50 ->
    // N = min(40/.5, 400/.5) = 80; budget 40 each: ALL of a, 40 tokens of b
    val docs = (1L to 4L).map(i => (i, "a", 10L)) ++
      (11L to 14L).map(i => (i, "b", 100L)) ++
      Seq((99L, "c", 1000L))                       // unlisted source dropped
    val df = docs.toDF("id", "src", "tok")
    val got = graft.ml.Curation.mixtureSample(
      df, col("id"), col("src"), col("tok"), Map("a" -> 0.5, "b" -> 0.5))
    val bySrc = got.groupBy("src").agg(sum("tok").as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySrc("a") === ((40L, 4L)))
    assert(bySrc.get("c").isEmpty)
    // b fills exactly to its 40-token budget: 0 docs fit (first doc is 100)
    assert(!bySrc.contains("b") || bySrc("b")._1 <= 40L)
    // deterministic: same output both runs
    val again = graft.ml.Curation.mixtureSample(
      df, col("id"), col("src"), col("tok"), Map("a" -> 0.5, "b" -> 0.5))
    assert(got.collect().toSet === again.collect().toSet)
  }

  test("chunk: full coverage, overlap, short tail, empty docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),  // 10 words
      (2L, "single"),                                   // 1 word
      (3L, "   "),                                      // whitespace only
      (4L, (1 to 4).map(i => s"x$i").mkString("  "))    // multi-space sep
    ).toDF("id", "text")
    val got = graft.ml.Curation.chunk(docs, col("text"), size = 4, stride = 3)
      .select($"id", $"chunk_id", $"chunk")
      .as[(Long, Int, Seq[String])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: starts 0,3,6 — the window at 6 already reaches the final
    // token, so no start-9 chunk (it would be a strict suffix of it,
    // re-emitting w10 as duplicated training text)
    assert(got(1L).map(_._3) === Seq(
      Seq("w1", "w2", "w3", "w4"), Seq("w4", "w5", "w6", "w7"),
      Seq("w7", "w8", "w9", "w10")))
    // every token covered; consecutive chunks overlap by size-stride
    assert(got(1L).flatMap(_._3).distinct.size === 10)
    assert(got(2L).map(_._3) === Seq(Seq("single")))
    assert(!got.contains(3L))
    assert(got(4L).map(_._3) === Seq(Seq("x1", "x2", "x3", "x4")))
    // no shuffle: pure projection + explode
    val plan = graft.ml.Curation.chunk(docs, col("text"), 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunk must not shuffle:\n$plan")
  }

  test("packSequences: hand-computed slices across sequence boundaries") {
    import spark.implicits._
    // stream (seqLen 4): d1 tokens 0-2, d2 tokens 3-7, d3 tokens 8-11;
    // d4 is empty and must vanish. d2 spans the seq0/seq1 boundary.
    val df = Seq((1L, 3L), (2L, 5L), (3L, 4L), (4L, 0L)).toDF("id", "n")
    val got = Curation.packSequences(df, $"id", $"n", seqLen = 4, buckets = 2)
      .orderBy("doc_id", "seq_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 0L, 0L, 0L, 3L),
      (2L, 0L, 0L, 3L, 1L),
      (2L, 1L, 1L, 0L, 4L),
      (3L, 2L, 0L, 0L, 4L)))
  }

  test("packSequences: bucket-count invariance and packing invariants") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tc = graft.text.TextFunctions.tokenCount(col("text"))
    def run(buckets: Int) =
      Curation.packSequences(d, $"doc_id", tc, seqLen = 256, buckets = buckets)
        .orderBy("doc_id", "seq_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the distributed prefix sum's result must not depend on the fan-out
    val one = run(1)
    assert(run(7) === one)
    // per-document slices reassemble the document exactly and in order
    val counts = d.select($"doc_id", tc.as("n")).where($"n" > 0)
      .as[(Long, Long)].collect().toMap
    one.groupBy(_._1).foreach { case (doc, slices) =>
      val s = slices.sortBy(_._2)
      assert(s.map(_._5).sum === counts(doc), s"doc $doc token coverage")
      assert(s.head._3 === 0L, s"doc $doc first slice starts at 0")
      // doc_offset resumes where the previous slice ended
      s.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 === a._3 + a._5)
        case _ =>
      }
    }
    // sequences never overflow and, except the last, are exactly full
    val bySeq = one.groupBy(_._2).toSeq.sortBy(_._1)
    bySeq.dropRight(1).foreach { case (seq, slices) =>
      assert(slices.map(_._5).sum === 256L, s"seq $seq must be full")
    }
    assert(bySeq.last._2.map(_._5).sum <= 256L)
    // slices within a sequence tile it: seq_offsets are contiguous
    bySeq.foreach { case (_, slices) =>
      val s = slices.sortBy(_._4)
      assert(s.head._4 === 0L)
      s.sliding(2).foreach {
        case Seq(a, b) => assert(b._4 === a._4 + a._5)
        case _ =>
      }
    }
  }

  test("ngram LM: hand-computed Laplace bigram cross-entropy") {
    import spark.implicits._
    // train "a b a b": vocab {a,b} (V=2), uni a=2 b=2, bi "a b"=2 "b a"=1
    val model = graft.text.NgramLm.train(
      Seq((1L, "a b a b")).toDF("id", "text"), col("text"))
    try {
      assert(model.vocab === 2L)
      // "a b c": P(b|a)=(2+1)/(2+2)=0.75, P(c|b)=(0+1)/(2+2)=0.25
      val scored = graft.text.NgramLm.crossEntropy(
        Seq((7L, "a b c"), (8L, "solo"), (9L, "")).toDF("id", "text"),
        col("id"), col("text"), model)
        .as[(Long, Long, Double, Double)].collect()
      assert(scored.map(_._1).toSet === Set(7L)) // <2 tokens: no evidence
      val (_, nbg, ce, ppl) = scored.head
      val expect = -(math.log(0.75) + math.log(0.25)) / 2
      assert(nbg === 2L)
      assert(math.abs(ce - expect) < 1e-12)
      assert(math.abs(ppl - math.exp(expect)) < 1e-9)
      // tokenization is case-folded: "A B" scores like "a b"
      val folded = graft.text.NgramLm.crossEntropy(
        Seq((1L, "A B"), (2L, "a b")).toDF("id", "text"),
        col("id"), col("text"), model)
        .as[(Long, Long, Double, Double)].collect().map(r => r._3).distinct
      assert(folded.size === 1)
    } finally model.unpersist()
  }

  test("ngram LM bucket: quantile tiers ordered by cross-entropy") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = graft.text.NgramLm.train(
      d.where(col("doc_id") % 5 === 0), col("text"))
    try {
      val scored = graft.text.NgramLm.crossEntropy(
        d, col("doc_id"), col("text"), model)
      val tiers = graft.text.NgramLm.bucket(scored, col("cross_entropy"),
        headFrac = 0.2, tailFrac = 0.2)
        .select(col("lm_bucket"), col("cross_entropy"))
        .as[(String, Double)].collect()
      val byTier = tiers.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(byTier.keySet === Set("head", "middle", "tail"))
      // every head doc scores below every tail doc; middle sits between
      assert(byTier("head").max <= byTier("middle").min + 1e-12)
      assert(byTier("middle").max <= byTier("tail").min + 1e-12)
      // quantile targets hit within sketch tolerance
      val n = tiers.length.toDouble
      assert(math.abs(byTier("head").length / n - 0.2) < 0.05)
      assert(math.abs(byTier("tail").length / n - 0.2) < 0.05)
    } finally model.unpersist()
  }

  test("decontaminateBloom: no false negatives vs exact, bounded extras") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val longEnough = graft.text.TextFunctions.tokenCount(col("text")) >= 8
    val bench = d.where(col("doc_id") % 97 === 0 && longEnough)
      .select(col("doc_id"), col("text"))
    val planted = bench.select((col("doc_id") + 200000).as("doc_id"),
      concat(lit("copied: "), col("text")).as("text"))
    val train = d.where(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text").unionByName(planted)
    val exact = Dedup.decontaminate(train, bench, col("doc_id"), col("text"), n = 8)
      .as[(Long, Long)].collect().toMap
    // fpp is PER GRAM; a doc probing g grams false-positives with odds
    // 1-(1-fpp)^g, so a doc-level bound needs fpp well under 1/grams.
    // At 1e-5 and ~200 grams/doc the expected doc-level FP rate is ~0.2%.
    val bloom = Dedup.decontaminateBloom(
      train, bench, col("doc_id"), col("text"), n = 8, fpp = 1e-5)
      .as[(Long, Long)].collect().toMap
    // a Bloom filter admits NO false negatives: every exact hit is a
    // bloom hit, and per-document bloom counts can only exceed exact
    assert(exact.keySet.subsetOf(bloom.keySet))
    exact.foreach { case (doc, hits) => assert(bloom(doc) >= hits) }
    // every planted doc flags through both paths
    val plantedIds = planted.select("doc_id").as[Long].collect().toSet
    assert(plantedIds.subsetOf(bloom.keySet))
    // flagged naturals must remain a small fraction of the corpus
    val trainCount = train.count()
    val extras = bloom.keySet -- exact.keySet
    assert(extras.size.toDouble / trainCount < 0.05,
      s"${extras.size} of $trainCount docs false-positive")
  }

  test("duplicateSpans: hand-computed spans, merging, and thresholds") {
    import spark.implicits._
    // tokens a..z as strings; w=3 grams
    def doc(id: Long, toks: String*) = (id, toks.mkString(" "))
    val df = Seq(
      // docs 1 and 2 share tokens p1..p5 (3 grams each: pos 0,1,2) at
      // different offsets; doc 2's copy starts at position 2
      doc(1L, "p1", "p2", "p3", "p4", "p5", "x1", "x2"),
      doc(2L, "y1", "y2", "p1", "p2", "p3", "p4", "p5"),
      // doc 3 repeats its own 3-gram internally (self-duplication counts)
      doc(3L, "r1", "r2", "r3", "z1", "z2", "z3", "r1", "r2", "r3"),
      // doc 4 shares nothing
      doc(4L, "u1", "u2", "u3", "u4", "u5"),
      // doc 5 too short for a gram
      doc(5L, "v1", "v2")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, col("doc_id"), col("text"), window = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 0L, 5L, 5L),   // p1..p5
      (2L, 2L, 7L, 5L),
      (3L, 0L, 3L, 3L),   // first r-run
      (3L, 6L, 9L, 3L)))  // second r-run (gap 6-0=6 > 3 splits islands)

    // adjacent gram intervals merge: doc 6/7 share an 8-token region ->
    // positions 0..5, one span [0, 8)
    val df2 = Seq(
      doc(6L, "a1", "a2", "a3", "a4", "a5", "a6", "a7", "a8"),
      doc(7L, "w1", "a1", "a2", "a3", "a4", "a5", "a6", "a7", "a8")
    ).toDF("doc_id", "text")
    val got2 = Dedup.duplicateSpans(df2, col("doc_id"), col("text"), window = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got2 === Set((6L, 0L, 8L, 8L), (7L, 1L, 9L, 8L)))

    // minCount=3: a gram present twice no longer qualifies
    val got3 = Dedup.duplicateSpans(df2, col("doc_id"), col("text"),
      window = 3, minCount = 3L)
    assert(got3.isEmpty)
  }

  test("hot-band salting: identical pair set, embeddings follow their ids") {
    import spark.implicits._
    // 60 positive scalings of one direction: every sign-bit band agrees,
    // so they form ONE hot bucket per band (n=60 > saltBlock=8 -> salted
    // sub-block join); plus 40 random cold-bucket members.
    val rnd = new scala.util.Random(31)
    val hot = (0 until 60).map { i =>
      (i.toLong, 0, Array(1.0f, 0.5f, -0.25f, 0.125f, 0.9f, -0.7f, 0.3f, 0.2f)
        .map(_ * (1.0f + i * 0.001f)))
    }
    val cold = (100 until 140).map(i =>
      (i.toLong, 0, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val rows = (hot ++ cold).toDF("id", "cluster", "emb")
    def pairSet(saltBlock: Int) =
      Dedup.clusterBandedPairs(rows, threshold = 0.95, saltBlock = saltBlock)
        .select("idA", "idB").distinct()
        .as[(Long, Long)].collect().toSet
    val salted = pairSet(8)
    val legacy = pairSet(1000000) // no bucket over the block -> legacy arm
    assert(salted === legacy, "salting changed the candidate pair set")
    // completeness: scaled copies are cosine-1, every band agrees, so all
    // C(60,2) hot pairs must be candidates in both shapes
    val hotPairs = salted.filter { case (a, b) => a < 100 && b < 100 }
    assert(hotPairs.size === 60 * 59 / 2, s"hot pairs ${hotPairs.size}")
    assert(salted.forall { case (a, b) => a < b }, "idA < idB violated")
    // the least/greatest swap must keep each embedding with its id
    val embOf = rows.select("id", "emb").as[(Long, Array[Float])]
      .collect().toMap
    val mispaired = Dedup
      .clusterBandedPairs(rows, threshold = 0.95, saltBlock = 8)
      .select("idA", "embA", "idB", "embB")
      .as[(Long, Array[Float], Long, Array[Float])].collect()
      .filterNot { case (a, ea, b, eb) =>
        ea.sameElements(embOf(a)) && eb.sameElements(embOf(b))
      }
    assert(mispaired.isEmpty, s"${mispaired.length} rows carry swapped embs")
    // end-to-end through the public operator (default block size, legacy
    // arm): planted scaled copies are all verified at cosine 1
    val found = Dedup.embeddingPairs(rows.select("id", "emb"), col("id"),
        col("emb"), threshold = 0.999)
      .where(col("idA") < 100 && col("idB") < 100).count()
    assert(found === 60L * 59 / 2)
  }

  test("connectedComponents: lost checkpoint blocks retry to the same labels") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("u", "v")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val got = graft.ml.Clustering.connectedComponents(edges, 25, (attempt, rdd) => {
      attempts.set(math.max(attempts.get, attempt))
      // kill the first pinned round once: the next round's read then hits
      // the checkpoint-block-not-found path, exactly like executor loss
      if (attempt == 1 && !killed.getAndSet(true)) rdd.unpersist(blocking = true)
    }).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    assert(attempts.get === 2, "loop should have retried exactly once")
  }

  test("connectedComponents: persistent block loss fails loudly") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[org.apache.spark.SparkException] {
      graft.ml.Clustering.connectedComponents(edges, 25, (attempt, rdd) => {
        attempts.set(attempt)
        rdd.unpersist(blocking = true)
      }).collect()
    }
    assert(e.getMessage.contains(
      "connectedComponents lost its checkpointed label blocks"),
      e.getMessage)
    assert(attempts.get === graft.commands.MaterializeSource.LOST_BLOCK_ATTEMPTS)
  }

}
