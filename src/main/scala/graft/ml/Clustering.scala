package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.graftshim.SparkShims

import graft.commands.MaterializeSource

/**
 * Corpus-structure operators: connected components (the step that turns
 * near-duplicate PAIRS into duplicate CLUSTERS so one canonical document
 * survives per group) and k-means over embedding columns (topic/quality
 * bucketing at corpus scale).
 *
 * Both are built from shuffle-on-key primitives only — no driver-side
 * graph, no cross product, centroid state bounded by k*dim:
 *
 *  - connectedComponents: iterated min-label propagation with a label
 *    path-compression round after every neighbor round, the
 *    alternating-contraction shape (cf. Kiveris et al., "Connected
 *    Components in MapReduce and Beyond", SoCC'14) that converges in
 *    O(log diameter) rounds instead of O(diameter).
 *  - kMeans: Lloyd's iterations where assignment is the single codegen'd
 *    [[graft.expressions.NearestCentroids]] kernel over a broadcast
 *    centroid matrix (constant plan size at any k) and the centroid
 *    update is one groupBy over (cluster, dimension) — k*dim rows to the
 *    driver per iteration, independent of corpus size.
 *
 * (The reference engine ships neither operator; these compose Spark
 * built-ins per the task's custom-operator preference order.)
 */
object Clustering {

  /**
   * Connected components of an undirected graph given as an edge list.
   * Output: one row per distinct vertex appearing in `edges`, with the
   * minimum vertex id reachable from it as its `component`.
   *
   * Each round is one materialized pass: a neighbor-min join + aggregate
   * and TWO label-compression hops (cc -> label(cc) applied twice — the
   * pointer-chasing step that collapses long chains; two hops per round
   * roughly halves the barrier count on chain-heavy graphs at one extra
   * same-size join each). The round pins via `localCheckpoint` (lineage
   * truncated so round N never replays rounds 1..N-1) with the changed-
   * row count riding the SAME job in an accumulator, so convergence
   * costs zero extra jobs. Superseded rounds unpersist eagerly — a long
   * run holds at most edges + two label generations, not one block set
   * per round. Lost checkpoint blocks (executor death) fail the loop
   * loudly and it retries from the edge list with replicated storage —
   * the lost-block contract of DML source materialization, at most
   * [[MaterializeSource.LOST_BLOCK_ATTEMPTS]] attempts. The RETURNED frame
   * is likewise localCheckpoint-backed, so a block lost after return
   * fails the caller's action loudly rather than silently recomputing.
   * Isolated vertices (not in any edge) are the caller's concern — union
   * them in as self-loops if they must appear.
   *
   * @param edges two-column DataFrame; column names taken positionally
   *              as (u, v), any integral type
   */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponents(edges, maxIter, (_, _) => ())

  /** [[connectedComponents]] with a fault-injection seam: `onRoundPinned`
    * runs after each round's labels materialize, with (attempt, pinned
    * RDD); tests unpersist the RDD there to simulate block loss. */
  private[graft] def connectedComponents(edges: DataFrame, maxIter: Int,
      onRoundPinned: (Int, RDD[_]) => Unit): DataFrame =
    MaterializeSource.retryOnLostBlocks("connectedComponents lost its " +
        "checkpointed label blocks on all " +
        s"${MaterializeSource.LOST_BLOCK_ATTEMPTS} attempts; no partial " +
        "state escapes and the call can be re-run.") {
      ccAttempt(edges, maxIter, _, onRoundPinned)
    }

  private def ccAttempt(edges: DataFrame, maxIter: Int, attempt: Int,
      onRoundPinned: (Int, RDD[_]) => Unit): DataFrame = {
    val spark = edges.sparkSession
    val Array(uc, vc) = edges.columns.take(2)
    // Attempt 1 pins MEMORY_AND_DISK; retries replicate so a single
    // further executor loss cannot strand the loop again.
    val level =
      if (attempt == 1) StorageLevel.MEMORY_AND_DISK
      else StorageLevel.MEMORY_AND_DISK_2
    val pins = scala.collection.mutable.ArrayBuffer.empty[RDD[InternalRow]]
    // Materialize + truncate lineage + count changed rows, all in ONE
    // job: the accumulator replaces the old per-round convergence-probe
    // job (accumulator updates from successful tasks of a completed
    // action apply exactly once, and a retried task can only inflate a
    // nonzero count — it can never turn changed rows into zero).
    def pin(df: DataFrame, chgIdx: Int): (DataFrame, RDD[InternalRow], Long) = {
      val acc = spark.sparkContext.longAccumulator("graft.cc.changed")
      val rdd = df.queryExecution.toRdd.map { r =>
        if (chgIdx >= 0 && r.getBoolean(chgIdx)) acc.add(1)
        r.copy() // InternalRow buffers are reused by the scan
      }
      rdd.setName(s"graft.cc.round(attempt=$attempt)")
      rdd.persist(level)
      rdd.localCheckpoint()
      rdd.count()
      onRoundPinned(attempt, rdd)
      pins += rdd
      (SparkShims.internalCreateDataFrame(spark, rdd, df.schema), rdd,
        acc.value)
    }
    try {
      // Undirected: keep each edge both ways; self-loops drop out.
      val half = edges.select(col(uc).cast("long").as("u"),
        col(vc).cast("long").as("v")).where(col("u") =!= col("v"))
      val (e, eRdd, _) = pin(
        half.unionByName(half.select(col("v").as("u"), col("u").as("v")))
          .distinct(), -1)
      // Fused init: seeding every vertex with min(self, direct neighbors)
      // IS the first neighbor round (min-propagation is monotone, so any
      // init >= the fixpoint converges to the same labels) — one aggregate
      // replaces the distinct-vertices pass AND the first loop iteration.
      var (labels, labelsRdd, _) = pin(e.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("cc"))
        .select(col("u").as("id"), col("cc")), -1)
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // 1. Neighbor round: every vertex adopts the min label among its
        //    neighbors and itself.
        val nbrMin = e.join(labels.withColumnRenamed("id", "v"), "v")
          .groupBy("u").agg(min("cc").as("nmin"))
          .withColumnRenamed("u", "id")
        val afterNbr = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("cc").as("old"),
            least(col("cc"), coalesce(col("nmin"), col("cc"))).as("cc"))
        // 2. Compression hops: labels are vertex ids, so chase the label
        //    graph (cc -> label(cc)) twice. Each hop lands on a label
        //    some component member already holds, so the fixpoint (the
        //    component minimum) is unchanged; the change flag compares
        //    the round's FINAL label against its starting one.
        val hop1 = afterNbr.join(
            afterNbr.select(col("id").as("cc"), col("cc").as("cc2")),
            Seq("cc"), "left")
          .select(col("id"), col("old"),
            coalesce(col("cc2"), col("cc")).as("cc"))
        val compressed = hop1.join(
            hop1.select(col("id").as("cc"), col("cc").as("cc2")),
            Seq("cc"), "left")
          .select(col("id"), coalesce(col("cc2"), col("cc")).as("cc"),
            (coalesce(col("cc2"), col("cc")) =!= col("old")).as("__chg"))
        val (pdf, prdd, changed) = pin(compressed, 2)
        converged = changed == 0
        labelsRdd.unpersist(blocking = false) // superseded generation
        labels = pdf.select(col("id"), col("cc"))
        labelsRdd = prdd
        iter += 1
      }
      eRdd.unpersist(blocking = false) // the result reads labels only
      labels.select(col("id"), col("cc").as("component"))
    } catch {
      case t: Throwable =>
        pins.foreach(_.unpersist(blocking = false))
        throw t
    }
  }

  /**
   * Collapse near-duplicate PAIRS (idA, idB) into clusters and pick the
   * canonical survivor (min id) per cluster: the standard tail of every
   * LSH dedup pipeline. Returns (id, component) for every id in a pair.
   */
  def dedupClusters(pairs: DataFrame): DataFrame = connectedComponents(pairs)

  /**
   * Quality-aware survivor selection (the RefinedWeb-style "keep the
   * best copy" tail): collapse duplicate PAIRS into families and keep,
   * per family, the member with the highest `quality` (ties to the
   * lowest id) instead of the blind min-id canonical. Rows of `df` that
   * appear in no pair are singleton families and always keep. Returns
   * `(id, component, keep)` for EVERY row of `df`.
   *
   * Scale shape: components are the O(log diameter) label rounds of
   * [[connectedComponents]]; the winner per family is one
   * max-of-struct aggregate (map-side combined, k = family count rows),
   * joined back on the family key — no window over the corpus.
   */
  def keepBest(
      df: DataFrame,
      id: Column,
      quality: Column,
      pairs: DataFrame): DataFrame = {
    val base0 = df.select(id.as("id"), quality.as("__q"))
    // Components key on integral ids (connectedComponents casts to long);
    // a string id would cast to null and silently mark everything keep —
    // refuse instead.
    val idType = base0.schema("id").dataType.typeName
    require(Seq("byte", "short", "integer", "long").contains(idType),
      s"keepBest needs an integral id column, got $idType")
    // Null ids carry no identity to dedup on: they cannot join a family,
    // so they pass through as keep=true singletons (null component)
    // rather than silently vanishing through the family join.
    val nullRows = base0.where(col("id").isNull)
      .select(col("id"), lit(null).cast("long").as("component"),
        lit(true).as("keep"))
    val base = base0.where(col("id").isNotNull)
    val fam = connectedComponents(pairs)
    val withFam0 = base.join(fam, Seq("id"), "left")
      .select(col("id"), col("__q"),
        coalesce(col("component"), col("id").cast("long")).as("component"))
    // Referenced twice (winners aggregate + final join) — truncate the
    // lineage so the corpus scan and the family join run ONCE. Always a
    // LOCAL checkpoint (a reliable one leaks its never-deleted dir, and
    // both consumers sit inside the caller's one action anyway); block
    // loss fails that action loudly, same contract as the CC loop.
    val withFam = withFam0.localCheckpoint(false)
    // max(struct(quality, -id)) = highest quality, ties to LOWEST id
    val winners = withFam.groupBy(col("component"))
      .agg(max(struct(col("__q").as("q"), (-col("id")).as("negid")))
        .as("__w"))
      .select(col("component"), (-col("__w.negid")).as("__winner"))
    withFam.join(winners, Seq("component"))
      .select(col("id"), col("component"),
        (col("id") === col("__winner")).as("keep"))
      .unionByName(nullRows)
  }

  /** Assignment step: nearest centroid by cosine, ties to the earliest
    * centroid in `centroids` order. One codegen'd kernel, no shuffle. */
  def assign(
      df: DataFrame,
      emb: Column,
      centroids: Array[Seq[Float]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val bc = df.sparkSession.sparkContext.broadcast(
      graft.expressions.CentroidMatrix.build(centroids))
    // Kernel reads float elements; double-typed embedding columns (the
    // other common corpus encoding) narrow here instead of crashing.
    (element_at(SparkShims.column(graft.expressions.NearestCentroids(
      SparkShims.expression(emb.cast("array<float>")), bc, 1)), 1))
  }

  /**
   * Lloyd's k-means by cosine similarity. Deterministic: initial
   * centroids are the k corpus rows with the lowest `xxhash64(id)` (a
   * seeded uniform sample, same on every run), and every later step is
   * a deterministic aggregation.
   *
   * Returns (id, cluster) with cluster in [0, k). Per iteration: one
   * kernel-projection pass + one shuffle keyed on (cluster, dim) whose
   * output is k*dim rows — the only driver-side state, independent of
   * corpus size.
   */
  def kMeans(
      df: DataFrame,
      id: Column,
      emb: Column,
      k: Int,
      maxIter: Int = 10): DataFrame =
    kMeansAssigned(df, id, emb, k, maxIter).select(col("id"), col("cluster"))

  /** [[kMeans]] keeping the embedding on the output row — `(id, emb,
    * cluster)` from ONE final assignment projection, so callers that need
    * the vectors back (semantic dedup's in-cluster verification) don't
    * re-join the corpus against its own assignment (that join evaluated
    * the corpus scan twice and shuffled it once, per consumer). */
  private[ml] def kMeansAssigned(
      df: DataFrame,
      id: Column,
      emb: Column,
      k: Int,
      maxIter: Int = 10): DataFrame = {
    require(k > 0)
    val base = df.select(id.as("__id"), emb.cast("array<float>").as("__emb"))
      .where(col("__emb").isNotNull)
    var centroids: Array[Seq[Float]] = base
      .select(col("__emb"), xxhash64(col("__id")).as("__r"))
      .orderBy("__r").limit(k)
      .collect().map(_.getSeq[Float](0))
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val assigned = base.withColumn("__c", assign(base, col("__emb"), centroids))
      // Mean per (cluster, dimension): posexplode -> partial-agg shuffle.
      val means = assigned
        .select(col("__c"), posexplode(col("__emb")).as(Seq("__d", "__x")))
        .groupBy("__c", "__d").agg(avg("__x").as("__m"))
        .collect()
      val next = centroids.zipWithIndex.map { case (old, c) =>
        val dims = means.filter(_.getInt(0) == c)
        if (dims.isEmpty) old // empty cluster keeps its centroid
        else dims.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
      }
      moved = next.zip(centroids).exists { case (a, b) =>
        a.zip(b).exists { case (x, y) => math.abs(x - y) > 1e-6f }
      }
      centroids = next
      iter += 1
    }
    base.withColumn("cluster", assign(base, col("__emb"), centroids))
      .select(col("__id").as("id"), col("__emb").as("emb"), col("cluster"))
  }
}
