package graft.commands

import java.util.UUID

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, from_json, lit, row_number, sum, udf, when}
import org.apache.spark.sql.types.{DataType, Metadata => FieldMetadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.GraftTable
import graft.log._

/**
 * CONVERT FROM DELTA: register an existing Delta Lake table as a graft
 * table by folding its `_delta_log` — the latest complete checkpoint
 * (classic single-file, classic multi-part, v2 classic-named or
 * uuid-named with sidecars, per PROTOCOL.md:854-911) plus the newer JSON
 * commits — into graft commit 0. Data files are never copied or
 * rewritten: per-file stats come across verbatim (same min/max/nullCount
 * JSON shape, so skipping works immediately), schema and partitioning
 * carry over, and table configuration / column metadata translate
 * key-for-key (column mapping physical names and field ids, generated /
 * identity / DEFAULT columns, CHECK constraints, append-only, CDF).
 *
 * The fold follows the PUBLIC Delta protocol spec (reference
 * PROTOCOL.md; log replay rules :913-934 — file actions reconcile by
 * (path, deletionVector.uniqueId), so a commit that adds (path, dvNew)
 * and removes (path, dvOld) keeps the live file no matter the line
 * order). No Delta code is involved.
 *
 * Scale: below [[DRIVER_CONVERT_THRESHOLD_CONF]] checkpoint actions the
 * fold streams through the driver (one pass, no whole-checkpoint
 * collect). Above it the ENTIRE pipeline is distributed: checkpoint and
 * sidecar parquet fold as a Spark job (last-writer-wins window over
 * (path, dvUid)), DV re-encoding runs on the executors, graft commit 0
 * streams to disk partition-by-partition, and a graft checkpoint at
 * version 0 is written distributed so the first snapshot load is lazy —
 * converting a 10M-file table never materializes its file list on the
 * driver.
 *
 * Live deletion vectors import too: each descriptor (inline / relative /
 * absolute, per the spec's Z85 + portable-bitmap formats) re-encodes
 * into a graft `_dv/` sidecar with a DETERMINISTIC name derived from the
 * source descriptor — metadata-scale bytes, never a data rewrite, and
 * idempotent under retry or recomputation. Unknown reader features abort
 * rather than risk misreading the data layout. Row tracking watermarks
 * and in-commit timestamps do not carry over (the graft table starts its
 * own history).
 */
object ConvertFromDeltaCommand {

  private val mapper = new ObjectMapper()

  /** Above this many checkpoint actions, convert folds distributed and
    * streams the graft commit + checkpoint. */
  val DRIVER_CONVERT_THRESHOLD_CONF = "spark.graft.convert.driverThreshold"
  val DRIVER_CONVERT_THRESHOLD_DEFAULT = 200000L

  /** Table property recording the last Delta version folded into this
    * graft table — the watermark [[sync]] resumes from. */
  val SOURCE_VERSION_PROP = "graft.convert.deltaVersion"

  // ---- Delta checkpoint layouts --------------------------------------

  private val classicRe = """(\d{20})\.checkpoint\.parquet""".r
  private val multipartRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  private val uuidRe = """(\d{20})\.checkpoint\.([A-Za-z0-9\-]+)\.(parquet|json)""".r

  private case class CpSpec(version: Long, files: Seq[String], isJson: Boolean)

  /** Latest complete checkpoint: the `_last_checkpoint` pointer first,
    * else the newest complete set in the listing (a stale or missing
    * pointer must not hide a perfectly good checkpoint). A version is
    * served by a classic single file, a COMPLETE multi-part set, or any
    * one uuid-named v2 checkpoint (each is self-complete). */
  private def discoverCheckpoint(
      deltaLog: Path, names: Seq[String], lastCp: Option[JsonNode]): Option[CpSpec] = {
    def specAt(v: Long): Option[CpSpec] = {
      val classic = f"$v%020d.checkpoint.parquet"
      if (names.contains(classic))
        Some(CpSpec(v, Seq(new Path(deltaLog, classic).toString), isJson = false))
      else {
        val parts = names.flatMap {
          case n @ multipartRe(vv, i, total) if vv.toLong == v =>
            Some((i.toInt, total.toInt, n))
          case _ => None
        }
        if (parts.nonEmpty && parts.map(_._2).distinct.size == 1 &&
            parts.map(_._1).distinct.size == parts.head._2)
          Some(CpSpec(v,
            parts.sortBy(_._1).map(p => new Path(deltaLog, p._3).toString),
            isJson = false))
        else {
          val uuids = names.flatMap {
            case n @ uuidRe(vv, _, fmt) if vv.toLong == v => Some((n, fmt))
            case _ => None
          }
          uuids.sorted.lastOption.map { case (n, fmt) =>
            CpSpec(v, Seq(new Path(deltaLog, n).toString), isJson = fmt == "json")
          }
        }
      }
    }
    val fromPointer =
      lastCp.map(_.path("version").asLong(-1)).filter(_ >= 0).flatMap(specAt)
    val newestListed = {
      val versions = names.flatMap {
        case classicRe(v) => Some(v.toLong)
        case multipartRe(v, _, _) => Some(v.toLong)
        case uuidRe(v, _, _) => Some(v.toLong)
        case _ => None
      }.distinct.sorted.reverse
      versions.iterator.flatMap(specAt).nextOption()
    }
    // The pointer is a HINT, not the source of truth: a writer that died
    // between writing a checkpoint and updating _last_checkpoint leaves
    // the pointer stale, and cleanup driven by the NEWER checkpoint may
    // have already removed commits right after the pointed-to one —
    // folding from the stale version would refuse a perfectly
    // convertible log as non-contiguous. Prefer the newest COMPLETE
    // checkpoint the listing proves.
    (fromPointer.toSeq ++ newestListed).maxByOption(_.version)
  }

  /** Projected read schema for delta actions: only the fields the fold
    * uses; anything else in the files prunes away, anything missing
    * null-fills (schema evolution both ways). */
  private val DV_DDL = "STRUCT<storageType: STRING, pathOrInlineDv: STRING, " +
    "offset: INT, sizeInBytes: INT, cardinality: BIGINT>"
  private[commands] lazy val actionReadSchema: StructType = DataType.fromDDL(
    s"""add STRUCT<path: STRING, partitionValues: MAP<STRING,STRING>, size: BIGINT,
          modificationTime: BIGINT, dataChange: BOOLEAN, stats: STRING,
          baseRowId: BIGINT, defaultRowCommitVersion: BIGINT, deletionVector: $DV_DDL>,
        remove STRUCT<path: STRING, deletionVector: $DV_DDL>,
        metaData STRUCT<id: STRING, name: STRING, description: STRING,
          format: STRUCT<provider: STRING, options: MAP<STRING,STRING>>,
          schemaString: STRING, partitionColumns: ARRAY<STRING>,
          configuration: MAP<STRING,STRING>, createdTime: BIGINT>,
        protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT,
          readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>,
        txn STRUCT<appId: STRING, version: BIGINT>,
        domainMetadata STRUCT<domain: STRING, configuration: STRING, removed: BOOLEAN>,
        sidecar STRUCT<path: STRING, sizeInBytes: BIGINT, modificationTime: BIGINT>"""
  ).asInstanceOf[StructType]

  /** Checkpoint schema for `add.stats_parsed` (PROTOCOL.md:2195 —
    * `delta.checkpoint.writeStatsAsStruct`): min/max mirror the
    * stat-able leaves of the data schema, nullCount long-ifies them.
    * Under column mapping the struct's fields carry PHYSICAL names —
    * both in the source checkpoint and in the stats JSON graft skipping
    * reads — so each field renames to its physical name. None when the
    * schema has no stat-able column. */
  private[commands] def statsParsedSchema(dataSchema: StructType): Option[StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    def physName(f: StructField): String =
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.metadata.getString("delta.columnMapping.physicalName")
      else f.name
    // Shared stats-space rule (graft.stats.StatsSpace), renamed to the
    // source table's physical column names — a stats_parsed checkpoint
    // keys the typed struct physically under column mapping.
    graft.stats.StatsSpace.eligibleType(dataSchema, physName)
      .collect { case s: StructType => graft.stats.StatsSpace.statsDocSchema(s) }
  }

  // ---- fold state -----------------------------------------------------

  /** One live file candidate in the driver fold, keyed by
    * (path, dv uniqueId) per the spec's replay rules. */
  private case class FoldedAdd(add: AddFile, dv: Option[DvRef], seq: Long)

  private final class FoldState {
    val adds = mutable.LinkedHashMap.empty[(String, String), FoldedAdd]
    var metaNode: JsonNode = null
    var protoNode: JsonNode = null
    val txns = mutable.LinkedHashMap.empty[String, Long]
    val domains = mutable.LinkedHashMap.empty[String, String]
    var seq = 0L
  }

  /** The spec's uniqueId for a DV descriptor; "" = no deletion vector. */
  private def dvUidOf(dv: JsonNode): String =
    if (dv == null || dv.isNull || dv.path("cardinality").asLong(0) <= 0) ""
    else s"${dv.path("storageType").asText("")}|${dv.path("pathOrInlineDv").asText("")}|" +
      s"${dv.path("offset").asInt(0)}"

  /** A fully-redirected source: the log says the REAL table lives at
    * `dest`. Thrown mid-convert (the property is only knowable after the
    * metadata folds) and caught by [[run]]'s follow loop. */
  private[commands] final case class RedirectedTable(dest: String)
    extends RuntimeException(s"table is redirected to $dest")

  def run(spark: SparkSession, path: String): GraftTable = {
    // Follow REDIRECT-READY reader-writer redirects to the destination
    // (reference redirect/TableRedirect.scala: queries on the source are
    // served by the destination table) — loop-guarded against cycles.
    var current = path
    val visited = mutable.LinkedHashSet.empty[String]
    while (true) {
      visited += current
      try return runOnce(spark, current)
      catch {
        case RedirectedTable(dest) =>
          require(!visited.contains(dest),
            s"table redirect cycle: ${(visited.toSeq :+ dest).mkString(" -> ")}")
          require(visited.size < 10,
            s"table redirect chain exceeds 10 hops: ${visited.mkString(" -> ")}")
          current = dest
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def runOnce(spark: SparkSession, path: String): GraftTable = {
    val log = GraftLog.forTable(spark, path)
    require(!log.tableExists, s"$path is already a graft table")
    val deltaLog = new Path(log.dataPath, "_delta_log")
    val fs = log.store.fs(deltaLog)
    require(fs.exists(deltaLog), s"$path has no _delta_log — not a Delta table")
    val names = fs.listStatus(deltaLog).toSeq.map(_.getPath.getName)

    // ---- checkpoint base (optional) ------------------------------------
    val lastCp: Option[JsonNode] =
      try Some(mapper.readTree(log.store.read(new Path(deltaLog, "_last_checkpoint"))))
      catch { case _: Exception => None }
    val cpSpec = discoverCheckpoint(deltaLog, names, lastCp)
    val state = new FoldState

    // Manifest read: non-file actions always fold on the driver (a
    // handful of rows); sidecar pointers say where the file actions live.
    val fileActionsDF: Option[DataFrame] = cpSpec.map { cp =>
      def read(paths: Seq[String], schema: StructType): DataFrame =
        if (cp.isJson) spark.read.schema(schema).json(paths: _*)
        else spark.read.schema(schema).parquet(paths: _*)
      val mdf = read(cp.files, actionReadSchema)
      mdf.where(col("add").isNull && col("remove").isNull)
        .toJSON.collect()
        .foreach(line => applyMetaAction(mapper.readTree(line), state))
      val sidecars = mdf.where(col("sidecar.path").isNotNull)
        .select(col("sidecar.path")).collect().map(_.getString(0))
      val srcPaths =
        if (sidecars.isEmpty) cp.files
        else sidecars.map(n =>
          new Path(new Path(deltaLog, "_sidecars"), n).toString).toIndexedSeq
      // `delta.checkpoint.writeStatsAsJson=false` checkpoints carry stats
      // ONLY as the typed `add.stats_parsed` struct — rebuild the JSON
      // form so the imported files keep their skipping stats.
      val extSchema = Option(state.metaNode)
        .map(_.path("schemaString").asText(null)).filter(_ != null)
        .flatMap(s => statsParsedSchema(
          DataType.fromJson(s).asInstanceOf[StructType]))
        .map { sp =>
          StructType(actionReadSchema.map {
            case f @ StructField("add", s: StructType, _, _) =>
              f.copy(dataType = StructType(s.fields :+
                StructField("stats_parsed", sp)))
            case f => f
          })
        }
      // Sidecar files are ALWAYS parquet (PROTOCOL.md sidecar spec), even
      // when the v2 manifest itself is JSON.
      def readSrc(schema: StructType): DataFrame =
        if (sidecars.isEmpty) read(srcPaths, schema)
        else spark.read.schema(schema).parquet(srcPaths: _*)
      val fdf = extSchema match {
        case Some(es) =>
          readSrc(es).withColumn("add", col("add")
            .withField("stats", coalesce(col("add.stats"),
              org.apache.spark.sql.functions.to_json(col("add.stats_parsed"))))
            .dropFields("stats_parsed"))
        case None => readSrc(actionReadSchema)
      }
      fdf.where(col("add").isNotNull || col("remove").isNotNull)
    }
    val cpVersionUsed = cpSpec.map(_.version)

    // ---- JSON tail ------------------------------------------------------
    val deltaVersions = names.flatMap(FileNames.deltaVersion)
      .filter(v => cpVersionUsed.forall(v > _)).sorted
    require(cpVersionUsed.isDefined || deltaVersions.headOption.contains(0L),
      s"Delta log at $path is truncated (no readable checkpoint and no version 0)" +
        lastCp.map(n => s" — _last_checkpoint names version ${n.path("version").asLong(-1)} " +
          "but no complete checkpoint at any version was found").getOrElse(""))
    // A gap in the replayed tail means a commit is MISSING, not cleaned
    // (cleanup only removes versions a checkpoint covers): folding past
    // it would silently drop that commit's changes from the converted
    // table, so refuse — same contract as the reference's
    // verifyDeltaVersions (reference SnapshotManagement.scala).
    (cpVersionUsed.toSeq.flatMap(cp => deltaVersions.headOption.map(cp -> _)) ++
      deltaVersions.zip(deltaVersions.drop(1))).foreach { case (a, b) =>
      require(b == a + 1,
        s"Delta log at $path has non-contiguous versions: $a then $b " +
          s"(version ${a + 1} is missing)")
    }

    // ---- fold venue -----------------------------------------------------
    val threshold = spark.conf.getOption(DRIVER_CONVERT_THRESHOLD_CONF)
      .map(_.toLong).getOrElse(DRIVER_CONVERT_THRESHOLD_DEFAULT)
    // The pointer's size hint is only trusted when it describes the
    // checkpoint discovery actually picked — a stale pointer must not
    // steer a 5M-action fold through the driver.
    val cpActionCount: Long = fileActionsDF.map { fdf =>
      cpSpec.flatMap(c =>
        lastCp.filter(_.path("version").asLong(-1) == c.version)
          .map(_.path("size").asLong(-1)).filter(_ > 0))
        .getOrElse(fdf.count())
    }.getOrElse(0L)
    val distributed = cpActionCount > threshold

    if (!distributed) {
      // One streamed pass over the checkpoint rows, then the tail.
      fileActionsDF.foreach { fdf =>
        val it = fdf.toJSON.toLocalIterator()
        while (it.hasNext) applyAction(mapper.readTree(it.next()), state)
      }
      deltaVersions.foreach { v =>
        log.store.read(new Path(deltaLog, f"$v%020d.json"))
          .linesIterator.filter(_.nonEmpty)
          .foreach(line => applyAction(mapper.readTree(line), state))
      }
      convertSmall(spark, log, state, deltaVersions, cpVersionUsed)
    } else {
      // Tail non-file actions still fold on the driver (metadata-scale);
      // file actions ride the distributed fold below.
      val tailLines = mutable.ArrayBuffer.empty[(Long, Long, String)]
      deltaVersions.foreach { v =>
        var i = 0L
        log.store.read(new Path(deltaLog, f"$v%020d.json"))
          .linesIterator.filter(_.nonEmpty).foreach { line =>
            val node = mapper.readTree(line)
            if (node.has("add") || node.has("remove")) {
              tailLines += ((v, i, line)); i += 1
            } else applyMetaAction(node, state)
          }
      }
      convertLarge(spark, log, state, fileActionsDF.get, tailLines.toSeq,
        deltaVersions, cpVersionUsed)
    }
  }

  /**
   * Incremental re-sync of a previously-converted Delta table: fold ONLY
   * the Delta commits newer than the recorded watermark
   * ([[SOURCE_VERSION_PROP]]) into one graft commit. A gradually-migrating
   * pipeline keeps writing Delta while readers already use the graft
   * table; each sync costs O(new commits + touched files), never
   * O(table) — on a 10M-file table an appended micro-batch syncs in
   * milliseconds of driver work plus one metadata-scale membership join.
   *
   * Semantics per touched canonical path (the spec's replay rules over
   * the window): the window's last (path, dvUid) add wins and REPLACES
   * whatever the graft table holds for that path; a window-final remove
   * drops the path. Paths the window never touches are untouched. Native
   * graft DML between syncs composes: the membership join emits removes
   * only for files still live on the graft side.
   */
  def sync(spark: SparkSession, path: String): GraftTable = {
    val log = GraftLog.forTable(spark, path)
    require(log.tableExists,
      s"$path is not a graft table — run CONVERT TO GRAFT first")
    val snap = log.update()
    val from = snap.metadata.configuration.get(SOURCE_VERSION_PROP)
      .map(_.toLong).getOrElse(throw new IllegalArgumentException(
        s"$path was not created by CONVERT FROM DELTA (no " +
          s"$SOURCE_VERSION_PROP property) — nothing to sync from"))
    val deltaLog = new Path(log.dataPath, "_delta_log")
    val fs = log.store.fs(deltaLog)
    require(fs.exists(deltaLog), s"$path has no _delta_log to sync from")
    val versions = fs.listStatus(deltaLog).toSeq.map(_.getPath.getName)
      .flatMap(FileNames.deltaVersion).filter(_ > from).sorted
    if (versions.isEmpty) return new GraftTable(spark, log) // up to date
    // The window must extend the watermark contiguously: a gap means the
    // Delta log was cleaned past our watermark (or a commit is missing) —
    // folding past it would silently drop changes. Re-convert fresh then.
    require(versions.head == from + 1,
      s"Delta log at $path no longer has version ${from + 1} (oldest new " +
        s"commit is ${versions.head}) — the sync window is broken; " +
        "re-run a full CONVERT into a new table")
    versions.zip(versions.drop(1)).foreach { case (a, b) =>
      require(b == a + 1, s"Delta log at $path has non-contiguous " +
        s"versions: $a then $b (version ${a + 1} is missing)")
    }

    // Driver window fold — the window is commit-scaled, not table-scaled.
    val state = new FoldState
    val touched = mutable.LinkedHashSet.empty[String]
    versions.foreach { v =>
      log.store.read(new Path(deltaLog, f"$v%020d.json"))
        .linesIterator.filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          val add = node.get("add"); val rem = node.get("remove")
          if (add != null && !add.isNull)
            touched += decodePath(add.path("path").asText())
          else if (rem != null && !rem.isNull)
            touched += decodePath(rem.path("path").asText())
          applyAction(node, state)
        }
    }
    redirectCheck(spark, log.dataPath, state.metaNode, follow = false)
    if (state.protoNode != null) protocolGate(log.dataPath, state.protoNode)

    // Window survivors per path (latest fold wins), DVs re-encoded with
    // the same deterministic names as the initial convert. Row ids only
    // carry through if the INITIAL convert imported tracking.
    val keepIds = snap.metadata.configuration
      .getOrElse("graft.enableRowTracking", "false").toBoolean
    val hconf = spark.sessionState.newHadoopConf()
    val winFinal: Map[String, AddFile] = state.adds.values
      .groupBy(_.add.path).map { case (p, fas) =>
        val f = fas.maxBy(_.seq)
        val withDv = f.dv match {
          case Some(d) =>
            val (rel, card) = reencodeDv(log.dataPath, hconf, d, f.add.path)
            f.add.copy(dvPath = Some(rel), dvCardinality = Some(card))
          case None => f.add
        }
        p -> (if (keepIds) withDv
              else withDv.copy(baseRowId = None, defaultRowCommitVersion = None))
      }

    // Membership join against the LAZY snapshot: which touched paths are
    // currently live on the graft side, and at what size (exact removes
    // keep the incremental checksum fold exact). Bounded by the touched
    // set, never the table.
    import spark.implicits._
    val touchedSeq = touched.toSeq
    val live: Map[String, AddFile] = snap.allFilesDS
      .join(org.apache.spark.sql.functions.broadcast(
        touchedSeq.toDF("__tp")), $"path" === $"__tp", "left_semi")
      .as[AddFile](org.apache.spark.sql.Encoders.product[AddFile])
      .collect().map(f => f.path -> f).toMap

    // modificationTime is writer noise; everything else (dv, size, stats,
    // partition values) must match for "unchanged"
    def same(a: AddFile, b: AddFile): Boolean =
      a.copy(modificationTime = 0L) == b.copy(modificationTime = 0L)
    val removes: Seq[RemoveFile] = touchedSeq.flatMap { p =>
      // removed outright, or replaced by a different window add
      live.get(p)
        .filterNot(cur => winFinal.get(p).exists(same(_, cur)))
        .map(cur => RemoveFile(p, Some(System.currentTimeMillis()),
          dataChange = true, partitionValues = cur.partitionValues,
          size = Some(cur.size)))
    }
    val adds: Seq[AddFile] = touchedSeq.flatMap { p =>
      // skip adds already live with identical content (no-op windows)
      winFinal.get(p).filterNot(a => live.get(p).exists(same(a, _)))
    }

    val txnActions = state.txns.map { case (app, v) =>
      SetTransaction(app, v) }.toSeq
    val newWatermark = versions.last
    log.withNewTransaction { txn =>
      // Files in this commit come from the Delta side (typed flag for the
      // geo/redirect commit gates; see OptimisticTransaction). A SYNC is
      // still gated by the GRAFT snapshot's own redirect state — only the
      // new-metadata half (a redirect riding in from the window) is exempt.
      txn.deltaFileImport = true
      // Schema/config evolution in the window carries over; graft-side
      // properties (DV enablement, row tracking, clustering) persist.
      val baseMeta = txn.snapshot.metadata
      val translated = Option(state.metaNode).map(m =>
        translatedMetadata(log.dataPath, m, state.protoNode))
      val dvExtra =
        if (adds.exists(_.dvPath.isDefined))
          Map("graft.enableDeletionVectors" -> "true")
        else Map.empty[String, String]
      val newMeta = translated match {
        case Some(t) => baseMeta.copy(
          schemaString = t.schemaString,
          partitionColumns = t.partitionColumns,
          configuration = baseMeta.configuration ++ t.configuration ++
            dvExtra + (SOURCE_VERSION_PROP -> newWatermark.toString))
        case None => baseMeta.copy(
          configuration = baseMeta.configuration ++ dvExtra +
            (SOURCE_VERSION_PROP -> newWatermark.toString))
      }
      txn.updateMetadata(newMeta)
      txn.commit(removes ++ adds ++ txnActions,
        "CONVERT FROM DELTA SYNC",
        operationMetrics = Map(
          "numSyncedCommits" -> versions.size.toString,
          "numAddedFiles" -> adds.size.toString,
          "numRemovedFiles" -> removes.size.toString,
          "sourceVersion" -> newWatermark.toString))
    }
    log.update()
    new GraftTable(spark, log)
  }

  // ---- shared gates + metadata translation ----------------------------

  private def protocolGate(path: Path, protoNode: JsonNode): Unit = {
    // vacuumProtocolCheck is acknowledge-only for readers (reference
    // PROTOCOL.md:1786-1802: readers "don't need to understand or change
    // anything new; they just need to acknowledge the feature exists");
    // variant shredding is implemented by the engine, so shredded sources
    // convert (reference PROTOCOL.md:1941-1966).
    val understood = Set("columnMapping", "timestampNtz", "variantType",
      "typeWidening", "v2Checkpoint", "deletionVectors",
      "vacuumProtocolCheck", "variantShredding",
      // handled by redirectCheck (property-driven follow/refusal)
      "redirectReaderWriter",
      // read-only import: GEOMETRY/GEOGRAPHY translate to WKB binary
      // (schema.GeoSupport); writes on the result refuse by name
      "geospatial", "geospatial-dev")
    // The protocol action is REQUIRED in every Delta log (PROTOCOL.md);
    // a log without one is nonconforming, and guessing a version could
    // misread a table whose (missing) protocol gated a feature we would
    // silently ignore — refuse, as the reference does.
    require(protoNode != null, s"Delta log at $path carries no protocol action")
    val rf = Option(protoNode.get("readerFeatures")).toSeq
      .flatMap(n => (0 until n.size()).map(n.get(_).asText()))
    // The reference ships pre-GA features under a `-preview` suffix with
    // identical read semantics (typeWidening-preview, variantType-preview;
    // reference TableFeature.scala preview-feature convention) — strip it
    // before matching, or real Delta 4.x tables written during a feature's
    // preview window would refuse to convert forever.
    val stripped = rf.map(_.stripSuffix("-preview")).toSet
    // catalogManaged (CCv2, reference TableFeature.scala:1285-1305) gets
    // a NAMED refusal ahead of the generic unknown-feature one: the
    // managing catalog may hold the table's newest commits with only the
    // backfilled prefix in `_delta_log`, so folding the filesystem log
    // alone could register a STALE snapshot as graft commit 0 — a
    // correctness trap, not merely an unsupported layout. The writer
    // vector is checked too: the feature is reader-writer in the
    // reference, but refuse even a nonconforming log that lists it only
    // as a writer feature.
    val wf = Option(protoNode.get("writerFeatures")).toSeq
      .flatMap(n => (0 until n.size()).map(n.get(_).asText()))
      .map(_.stripSuffix("-preview")).toSet
    require(!stripped.contains("catalogManaged") &&
        !wf.contains("catalogManaged"),
      s"Delta table at $path is catalogManaged (CCv2): its newest " +
        "commits may live in the managing catalog, not the filesystem " +
        "log, so converting from the log alone could register a stale " +
        "snapshot. Have the catalog backfill and release the table " +
        "(drop catalog ownership) before converting")
    // (Table redirect is handled by [[redirectCheck]] from the live
    // PROPERTY, not the feature marker — a table whose redirect was
    // dropped keeps the feature but converts normally. Geospatial
    // sources import read-only: the geo types translate to WKB binary.)
    val unknown = stripped -- understood
    require(unknown.isEmpty,
      s"Delta table requires reader features $unknown this convert " +
        "does not understand — converting could misread the data layout")
    require(protoNode.path("minReaderVersion").asInt(1) <= 3,
      "Delta reader version beyond 3 is not supported")
  }

  /**
   * Table redirect (reference redirect/TableRedirect.scala): the LIVE
   * redirect property decides, not the feature marker.
   *  - REDIRECT-READY (either kind): queries on this path are served by
   *    the destination — throw [[RedirectedTable]] so [[run]] re-enters
   *    the convert there (`follow = true`), or refuse naming the
   *    destination when following is unsound (SYNC of an existing graft
   *    table). The writer-only kind routes identically for a
   *    redirect-aware engine (the reference's needRedirect,
   *    TableRedirect.scala:264-268, checks only the state, never the
   *    kind — the kinds differ in the PROTOCOL gate, not the routing);
   *    converting the frozen source would fork away from live writes.
   *  - mid-transition states: refuse; the redirect is not settled.
   *  - property absent (NO-REDIRECT after a drop): convert normally.
   */
  private def redirectCheck(
      spark: SparkSession, path: Path, metaNode: JsonNode,
      follow: Boolean): Unit = {
    if (metaNode == null) return
    val conf = Option(metaNode.get("configuration")).map { n =>
      import scala.jdk.CollectionConverters._
      n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    Seq("delta.redirectReaderWriter-preview", "delta.redirectReaderWriter",
        "delta.redirectWriterOnly-preview", "delta.redirectWriterOnly")
      .foreach { key =>
        conf.get(key).foreach { json =>
          val node = mapper.readTree(json)
          val state = node.path("state").asText("")
          val writerOnly = key.contains("WriterOnly")
          state match {
            case "REDIRECT-READY" =>
              require(node.path("type").asText("") == "PathBasedRedirect",
                s"Delta table at $path carries a redirect of unknown type " +
                  s"'${node.path("type").asText("")}' — cannot follow it")
              // Per-app exemption (reference TableRedirect.scala:258-268
              // isNoRedirectApp/needRedirect): a session whose app name
              // matches a noRedirectRule resolves the SOURCE even when
              // READY — so it converts the source as-is, and the
              // translated redirect property (rules included) rides into
              // the graft table, where the same follow/commit gates
              // re-apply (TableRedirect.followDest/allowsOperation).
              val fakeMeta = graft.log.Metadata(configuration =
                Map(graft.log.TableRedirect.PROP -> json))
              val exempt = graft.log.TableRedirect.get(fakeMeta)
                .exists(graft.log.TableRedirect.isNoRedirectApp(_, spark))
              if (exempt) return
              // `spec` is a JSON string in the reference's serialized form
              // but its docs also show it inline — accept both
              val specNode =
                if (node.path("spec").isTextual)
                  mapper.readTree(node.path("spec").asText())
                else node.path("spec")
              val dest = specNode.path("tablePath").asText("")
              require(dest.nonEmpty,
                s"Delta table at $path is REDIRECTED but the redirect spec " +
                  "names no tablePath — cannot follow it")
              if (!follow) throw new IllegalArgumentException(
                s"Delta table at $path is REDIRECTED ($key): live " +
                  (if (writerOnly) "writes land" else "queries are served") +
                  s" at $dest — convert that table instead")
              throw RedirectedTable(dest)
            case "ENABLE-REDIRECT-IN-PROGRESS" | "DROP-REDIRECT-IN-PROGRESS" =>
              throw new IllegalArgumentException(
                s"Delta table at $path is mid-redirect transition ($state): " +
                  "retry once the redirect settles")
            case _ => ()
          }
        }
      }
  }

  private def translatedMetadata(
      path: Path, metaNode: JsonNode, protoNode: JsonNode): Metadata = {
    // Generation / identity expressions written by protocols too old to
    // ENFORCE them are vestigial (a lower-versioned writer CTAS'd the
    // schema through): the reference ignores them, so the translation
    // must not promote them into live graft defaults (reference concept:
    // GeneratedColumnCompatibilitySuite / IdentityColumnSuite
    // withWriterVersion5Table).
    def writerOk(minVersion: Int, feature: String): Boolean = {
      if (protoNode == null) return true
      val wv = protoNode.path("minWriterVersion").asInt(1)
      val wf = Option(protoNode.get("writerFeatures")).toSeq
        .flatMap(n => (0 until n.size()).map(n.get(_).asText())).toSet
      (wv >= minVersion && wv < 7) || wf.contains(feature)
    }
    val genOk = writerOk(4, "generatedColumns")
    val idOk = writerOk(6, "identityColumns")
    require(metaNode != null, s"Delta log at $path carries no metaData action")
    // A missing schemaString is a degenerate but real shape (the
    // reference's own log-level golden tables commit metadata without
    // one); it folds as an empty struct rather than aborting.
    val schemaString = metaNode.path("schemaString")
      .asText("""{"type":"struct","fields":[]}""")
    val schema = DataType.fromJson(schemaString).asInstanceOf[StructType]
    val partitionCols = Option(metaNode.get("partitionColumns")).toSeq
      .flatMap(n => (0 until n.size()).map(n.get(_).asText()))
    val deltaConf = Option(metaNode.get("configuration")).map { n =>
      import scala.jdk.CollectionConverters._
      n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    // materializePartitionColumns enforcement follows the PROTOCOL feature,
    // not the property: the reference keeps materializing once the feature
    // is supported even if the enabling property was later unset without
    // DROP FEATURE (reference TransactionalWrite.scala:479
    // isFeatureSupported). Carrying only the translated property would let
    // post-convert writes silently elide partition columns and break the
    // raw-parquet layout promise, so the source's writerFeatures force the
    // graft property (which auto-enables the graft feature on first commit).
    val sourceMaterializes = protoNode != null &&
      Option(protoNode.get("writerFeatures")).toSeq
        .flatMap(n => (0 until n.size()).map(n.get(_).asText()))
        .contains("materializePartitionColumns")
    val featureForced =
      if (sourceMaterializes)
        Map("graft.enableMaterializePartitionColumnsFeature" -> "true")
      else Map.empty[String, String]
    Metadata(
      schemaString = translateSchema(schema, genOk, idOk).json,
      partitionColumns = partitionCols,
      configuration = translateConfig(deltaConf) ++ featureForced,
      createdTime = Some(System.currentTimeMillis()))
  }

  // ---- small venue: driver fold + normal transaction ------------------

  private def convertSmall(
      spark: SparkSession,
      log: GraftLog,
      state: FoldState,
      deltaVersions: Seq[Long],
      cpVersion: Option[Long]): GraftTable = {
    redirectCheck(spark, log.dataPath, state.metaNode, follow = true)
    protocolGate(log.dataPath, state.protoNode)
    val translated = translatedMetadata(log.dataPath, state.metaNode,
      state.protoNode)

    // Survivors: per (path, dvUid) the fold already reconciled; a legal
    // state has one entry per path — keep the latest-folded otherwise.
    val survivors: Seq[FoldedAdd] = state.adds.values
      .groupBy(_.add.path).values.map(_.maxBy(_.seq)).toSeq
      .sortBy(_.seq)

    // Every gate has passed — only now re-encode live DVs into graft
    // sidecars (an aborted convert must never write into the source).
    val hconf = spark.sessionState.newHadoopConf()
    val files = survivors.map { f =>
      f.dv match {
        case Some(d) =>
          val (rel, card) = reencodeDv(log.dataPath, hconf, d, f.add.path)
          f.add.copy(dvPath = Some(rel), dvCardinality = Some(card))
        case None => f.add
      }
    }
    val dvExtra =
      if (files.exists(_.dvPath.isDefined))
        Map("graft.enableDeletionVectors" -> "true")
      else Map.empty[String, String]
    // Row tracking imports only when EVERY live file carries a base row
    // id — a partial import would hand out fresh ids that collide with
    // the source's. Idempotent-writer watermarks (txn actions) always
    // carry over, so a streaming writer switching engines cannot
    // double-apply its last batch.
    val allTracked = files.nonEmpty && files.forall(_.baseRowId.isDefined)
    val rtDomain = if (allTracked)
      state.domains.get("delta.rowTracking")
        .map(c => DomainMetadata(RowTracking.DOMAIN, c)).toSeq
      else Nil
    val rtConf =
      if (rtDomain.nonEmpty) Map("graft.enableRowTracking" -> "true")
      else Map.empty[String, String]
    val txnActions = state.txns.map { case (app, v) => SetTransaction(app, v) }.toSeq
    val srcVersion = deltaVersions.lastOption.orElse(cpVersion).getOrElse(0L)
    val finalMeta = translated.copy(
      configuration =
        translated.configuration ++ dvExtra ++ rtConf ++ clusteringConf(state) +
          (SOURCE_VERSION_PROP -> srcVersion.toString))
    val strippedFiles =
      if (rtDomain.nonEmpty) files
      else files.map(_.copy(baseRowId = None, defaultRowCommitVersion = None))
    log.withNewTransaction { txn =>
      txn.deltaFileImport = true
      txn.updateMetadata(finalMeta)
      txn.commit(strippedFiles ++ txnActions ++ rtDomain, "CONVERT FROM DELTA",
        operationMetrics = Map(
          "numConvertedFiles" -> files.size.toString,
          "sourceVersion" ->
            (deltaVersions.lastOption.orElse(cpVersion).getOrElse(0L)).toString))
    }
    new GraftTable(spark, log)
  }

  // ---- large venue: distributed fold + streamed commit + checkpoint ---

  /** Typed view of a surviving delta add row. */
  private[commands] case class DvNode(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Option[Int], cardinality: Option[Long])
  private[commands] case class SrcAdd(path: String,
      partitionValues: Option[Map[String, String]],
      size: Option[Long], modificationTime: Option[Long], stats: Option[String],
      baseRowId: Option[Long], defaultRowCommitVersion: Option[Long],
      deletionVector: Option[DvNode])

  private def convertLarge(
      spark: SparkSession,
      log: GraftLog,
      state: FoldState,
      cpFilesDF: DataFrame,
      tailLines: Seq[(Long, Long, String)],
      deltaVersions: Seq[Long],
      cpVersion: Option[Long]): GraftTable = {
    import spark.implicits._
    redirectCheck(spark, log.dataPath, state.metaNode, follow = true)
    protocolGate(log.dataPath, state.protoNode)
    val translated = translatedMetadata(log.dataPath, state.metaNode,
      state.protoNode)

    // Last-writer-wins over (path, dv uniqueId): the checkpoint rows are
    // version -1 (already-reconciled state), the tail rides its real
    // (version, line) order on top. Survivors then reconcile per path.
    val base = cpFilesDF.select(col("add"), col("remove"))
      .withColumn("__v", lit(-1L)).withColumn("__seq", lit(0L))
    val tail =
      if (tailLines.isEmpty) base.limit(0)
      else spark.createDataset(tailLines).toDF("__v", "__seq", "__json")
        .select(from_json(col("__json"), actionReadSchema).as("a"),
          col("__v"), col("__seq"))
        .select(col("a.add").as("add"), col("a.remove").as("remove"),
          col("__v"), col("__seq"))
        .where(col("add").isNotNull || col("remove").isNotNull)
    def uidOf(dv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(dv.isNull || coalesce(dv.getField("cardinality"), lit(0L)) <= 0, lit(""))
        .otherwise(concat_ws("|", coalesce(dv.getField("storageType"), lit("")),
          coalesce(dv.getField("pathOrInlineDv"), lit("")),
          coalesce(dv.getField("offset"), lit(0)).cast("string")))
    // The reconciliation key must be the CANONICAL path, exactly like the
    // driver fold: `/abs`, `file:/abs` and `file:///abs` name one file, and
    // an uncanonicalized key lets a remove land in a different window
    // partition than its add, resurrecting the deleted file. UDF is fine
    // here — this fold runs over log metadata, not table data.
    val canonPath = udf((p: String) => decodePath(p))
    val keyed = base.unionByName(tail)
      .withColumn("__p", canonPath(coalesce(col("add.path"), col("remove.path"))))
      .withColumn("__uid", when(col("add").isNotNull, uidOf(col("add.deletionVector")))
        .otherwise(uidOf(col("remove.deletionVector"))))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("__p", "__uid").orderBy(col("__v").desc, col("__seq").desc)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("__p").orderBy(col("__v").desc, col("__seq").desc)
    val survivors = keyed
      .withColumn("__rn", row_number().over(w1))
      .where(col("__rn") === 1 && col("add").isNotNull)
      .withColumn("__rn2", row_number().over(w2))
      .where(col("__rn2") === 1)
      .select(col("add.*"))

    // One distributed pass for every aggregate gate.
    val aggRow = survivors.agg(
      count(lit(1)), count(col("baseRowId")),
      coalesce(sum(when(col("deletionVector").isNotNull &&
        coalesce(col("deletionVector.cardinality"), lit(0L)) > 0, 1L)
        .otherwise(0L)), lit(0L)),
      coalesce(sum(col("size")), lit(0L))).head
    val n = aggRow.getLong(0)
    val allTracked = n > 0 && aggRow.getLong(1) == n
    val anyDv = aggRow.getLong(2) > 0
    val totalBytes = aggRow.getLong(3)

    val dvExtra =
      if (anyDv) Map("graft.enableDeletionVectors" -> "true")
      else Map.empty[String, String]
    val rtDomain = if (allTracked)
      state.domains.get("delta.rowTracking")
        .map(c => DomainMetadata(RowTracking.DOMAIN, c)).toSeq
      else Nil
    val rtConf =
      if (rtDomain.nonEmpty) Map("graft.enableRowTracking" -> "true")
      else Map.empty[String, String]
    val finalMeta = translated.copy(
      configuration =
        translated.configuration ++ dvExtra ++ rtConf ++ clusteringConf(state) +
          (SOURCE_VERSION_PROP ->
            deltaVersions.lastOption.orElse(cpVersion).getOrElse(0L).toString))
    val txnActions = state.txns.map { case (app, v) => SetTransaction(app, v) }.toSeq

    // Executor-side conversion: URI decode, DV re-encode (deterministic
    // sidecar names — recomputation and retries are idempotent), row-id
    // strip when tracking does not import.
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val rootStr = log.dataPath.toString
    val keepIds = rtDomain.nonEmpty
    val finalDS = survivors.as[SrcAdd].mapPartitions { it =>
      val conf = confBc.value.value
      val root = new Path(rootStr)
      it.map(s => toGraftAdd(s, root, conf, keepIds))
    }(org.apache.spark.sql.Encoders.product[AddFile])
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      import scala.jdk.CollectionConverters._
      val proto = TableFeatures.minimalProtocol(TableFeatures.activeFeatures(finalMeta))
      val metrics = Map(
        "numConvertedFiles" -> n.toString,
        "sourceVersion" ->
          (deltaVersions.lastOption.orElse(cpVersion).getOrElse(0L)).toString)
      val ts0 = System.currentTimeMillis()
      val head: Seq[Action] = Seq(
        CommitInfo(timestamp = ts0,
          operation = "CONVERT FROM DELTA", operationMetrics = metrics),
        proto, finalMeta) ++ txnActions ++ rtDomain
      // Commit 0 streams to disk: the driver holds one partition of
      // AddFiles at a time, never the whole table.
      log.store.write(FileNames.deltaFile(log.logPath, 0L),
        head.iterator.map(a => Actions.serialize(Seq(a))) ++
          finalDS.toLocalIterator().asScala.map(a => Actions.serialize(Seq(a))))

      // Graft checkpoint at version 0, written distributed, so the first
      // snapshot load of the converted table is lazy checkpoint-backed
      // instead of a driver fold of a multi-million-line commit.
      val small: Seq[SingleAction] = Seq(proto.wrap, finalMeta.wrap) ++
        txnActions.map(_.wrap) ++ rtDomain.map(_.wrap)
      val parts = math.max(1, (n / 100000).toInt)
      log.writeCheckpointDistributed(0L, spark.createDataset(small).toDF
        .unionByName(finalDS.map(_.wrap)(
          org.apache.spark.sql.Encoders.product[SingleAction]).toDF)
        .repartition(parts))
      log.store.writeOverwrite(FileNames.lastCheckpointFile(log.logPath),
        Actions.lastCheckpointToJson(LastCheckpoint(0L, small.size + n)))
      log.store.writeOverwrite(FileNames.checksumFile(log.logPath, 0L),
        Actions.checksumToJson(VersionChecksum(
          tableSizeBytes = totalBytes,
          numFiles = n,
          protocol = proto,
          metadata = finalMeta,
          setTransactions = state.txns.toMap,
          domainMetadata =
            rtDomain.map(d => d.domain -> d.configuration).toMap,
          // Anchors the monotone timestamp chain at version 0 — without
          // it every later commit reads -1 here and the O(log n) exact
          // timestamp bisection never forms on large-venue converts.
          commitTimestamp = ts0)))
    } finally finalDS.unpersist(blocking = false)
    log.update()
    new GraftTable(spark, log)
  }

  /** Delta DV descriptor -> graft `_dv/` sidecar; the name derives from
    * the source descriptor so retries regenerate the same file. */
  private def reencodeDv(root: Path, conf: Configuration, d: DvRef,
      forPath: String): (String, Long) = {
    val bm = graft.dv.DeltaDvCodec.readDescriptor(root, conf,
      d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes)
    require(bm.cardinality == d.cardinality,
      s"delta DV cardinality mismatch for $forPath")
    val uid = s"${d.storageType}|${d.pathOrInlineDv}|${d.offset}"
    val rel = s"${graft.dv.DeletionVectors.DIR}/dv-" +
      s"${UUID.nameUUIDFromBytes(uid.getBytes("UTF-8"))}.bin"
    val target = new Path(root, rel)
    val fs = target.getFileSystem(conf)
    // Crash-/race-safe deterministic-name materialization — the shared
    // DeletionVectors.materializeSidecar dance.
    bm.runOptimize()
    graft.dv.DeletionVectors.materializeSidecar(fs, target, bm.serializedSize)(
      tmp => graft.dv.DeletionVectors.writeBitmap(tmp, conf, bm))
    (rel, bm.cardinality)
  }

  private def toGraftAdd(s: SrcAdd, root: Path, conf: Configuration,
      keepIds: Boolean): AddFile = {
    val dv = s.deletionVector.filter(_.cardinality.exists(_ > 0))
    val (dvPath, dvCard) = dv match {
      case Some(d) =>
        val ref = DvRef(d.storageType, d.pathOrInlineDv,
          d.offset.getOrElse(0), d.sizeInBytes.getOrElse(0),
          d.cardinality.getOrElse(0L))
        val (rel, card) = reencodeDv(root, conf, ref, s.path)
        (Some(rel), Some(card))
      case None => (None, None)
    }
    AddFile(
      path = decodePath(s.path),
      partitionValues = s.partitionValues.getOrElse(Map.empty),
      size = s.size.getOrElse(0L),
      modificationTime = s.modificationTime.getOrElse(0L),
      dataChange = true,
      stats = s.stats.orNull,
      dvPath = dvPath,
      dvCardinality = dvCard,
      baseRowId = if (keepIds) s.baseRowId else None,
      defaultRowCommitVersion = if (keepIds) s.defaultRowCommitVersion else None)
  }

  /** Delta log paths are RFC 2396 URIs (percent-encoded); graft AddFile
    * paths are plain filesystem paths. CANONICAL: `file:/abs`,
    * `file:///abs` and a bare `/abs` are the same file, and the replay
    * fold keys on this function's output — without unification an
    * add(`/abs`) + remove(`file:/abs`) pair (the reference's
    * canonicalized-paths golden tables) would resurrect the removed
    * file in the converted state. Non-local schemes keep their
    * authority verbatim. */
  private[commands] def decodePath(p: String): String =
    try {
      val uri = new java.net.URI(p)
      val localScheme = uri.getScheme == null || uri.getScheme == "file"
      val noAuthority = uri.getAuthority == null || uri.getAuthority.isEmpty
      if (localScheme && noAuthority && uri.getPath != null && uri.getPath.nonEmpty)
        uri.getPath
      else if (uri.getScheme != null) new Path(uri).toString
      else p
    } catch { case _: java.net.URISyntaxException => p }

  /** Pending DV descriptor for one add, resolved AFTER validation. */
  private[commands] final case class DvRef(storageType: String,
      pathOrInlineDv: String, offset: Int, sizeInBytes: Int, cardinality: Long)

  /** Fold one NON-FILE delta action (metaData / protocol / txn /
    * domainMetadata) into the running state; file actions are ignored. */
  private def applyMetaAction(node: JsonNode, state: FoldState): Unit = {
    val meta = node.get("metaData")
    val proto = node.get("protocol")
    val txn = node.get("txn")
    val dom = node.get("domainMetadata")
    if (txn != null && !txn.isNull)
      state.txns(txn.path("appId").asText()) = txn.path("version").asLong()
    if (dom != null && !dom.isNull) {
      if (dom.path("removed").asBoolean(false))
        state.domains.remove(dom.path("domain").asText())
      else state.domains(dom.path("domain").asText()) =
        dom.path("configuration").asText("{}")
    }
    if (meta != null && !meta.isNull) state.metaNode = meta
    else if (proto != null && !proto.isNull) state.protoNode = proto
  }

  /** Fold one delta action (JSON tree) into the running state. File
    * actions reconcile by (path, deletionVector.uniqueId) — the spec's
    * replay key (PROTOCOL.md:921) — so a DV-rewriting commit's
    * add(path, dvNew) + remove(path, dvOld) keeps the live file
    * regardless of line order. Live deletion vectors are only RECORDED
    * here ([[DvRef]]); re-encoding into graft `_dv/` sidecars happens
    * after every validation gate has passed, so an aborted convert never
    * writes into the source table. */
  private def applyAction(node: JsonNode, state: FoldState): Unit = {
    applyMetaAction(node, state)
    val add = node.get("add")
    val remove = node.get("remove")
    if (add != null && !add.isNull) {
      val rawPath = add.path("path").asText()
      val path = decodePath(rawPath)
      val dv = add.get("deletionVector")
      val uid = dvUidOf(dv)
      val dvRef =
        if (uid.isEmpty) None
        else Some(DvRef(
          dv.path("storageType").asText(),
          dv.path("pathOrInlineDv").asText(),
          dv.path("offset").asInt(0),
          dv.path("sizeInBytes").asInt(0),
          dv.path("cardinality").asLong(0)))
      val pv = Option(add.get("partitionValues")).map { n =>
        import scala.jdk.CollectionConverters._
        n.properties().asScala.map(e => e.getKey ->
          (if (e.getValue.isNull) null else e.getValue.asText())).toMap
      }.getOrElse(Map.empty[String, String])
      state.seq += 1
      state.adds((path, uid)) = FoldedAdd(AddFile(
        path = path,
        partitionValues = pv,
        size = add.path("size").asLong(0),
        modificationTime = add.path("modificationTime").asLong(0),
        dataChange = true,
        stats = Option(add.get("stats")).filterNot(_.isNull)
          .map(_.asText()).orNull,
        baseRowId = Option(add.get("baseRowId")).filterNot(_.isNull)
          .map(_.asLong()),
        defaultRowCommitVersion =
          Option(add.get("defaultRowCommitVersion")).filterNot(_.isNull)
            .map(_.asLong())), dvRef, state.seq)
    } else if (remove != null && !remove.isNull) {
      val path = decodePath(remove.path("path").asText())
      state.adds.remove((path, dvUidOf(remove.get("deletionVector"))))
    }
  }

  /** `delta.clustering` domain -> `graft.clusterBy` table property. The
    * reference stores clustering columns as PHYSICAL-name paths in a
    * metadata domain (reference clustering/ClusteringMetadataDomain.scala:26
    * — Seq[Seq[String]] under column mapping); graft keeps logical dotted
    * names in a property, so reverse the mapping through the source
    * schema's physicalName field metadata. */
  private def clusteringConf(state: FoldState): Map[String, String] = {
    val domain = state.domains.get("delta.clustering")
    domain.flatMap { json =>
      val node = mapper.readTree(json).get("clusteringColumns")
      if (node == null || !node.isArray || node.size() == 0) None
      else {
        val schema = Option(state.metaNode)
          .map(_.path("schemaString").asText(null)).filter(_ != null)
          .map(s => DataType.fromJson(s).asInstanceOf[StructType])
        val cols = (0 until node.size()).map { i =>
          val p = node.get(i)
          val comps =
            if (p.isArray) (0 until p.size()).map(p.get(_).asText())
            else Seq(p.asText())
          logicalPath(schema, comps)
        }
        Some("graft.clusterBy" -> cols.mkString(","))
      }
    }.toMap
  }

  /** One physical-name path -> dotted logical path (identity when the
    * source has no column mapping). */
  private def logicalPath(root: Option[StructType], comps: Seq[String]): String = {
    var st: Option[StructType] = root
    comps.map { phys =>
      val field = st.flatMap(s =>
        s.fields.find(f =>
          f.metadata.contains("delta.columnMapping.physicalName") &&
            f.metadata.getString("delta.columnMapping.physicalName") == phys)
          .orElse(s.fields.find(_.name == phys)))
      st = field.map(_.dataType).collect { case s: StructType => s }
      field.map(_.name).getOrElse(phys)
    }.mkString(".")
  }

  /** delta.* table properties -> graft equivalents (unknown keys carry
    * over untouched — provenance beats silent loss). */
  private[commands] def translateConfig(c: Map[String, String]): Map[String, String] = {
    val renames = Map(
      "delta.appendOnly" -> "graft.appendOnly",
      "delta.enableChangeDataFeed" -> "graft.enableChangeDataFeed",
      "delta.enableDeletionVectors" -> "graft.enableDeletionVectors",
      "delta.checkpointInterval" -> "graft.checkpointInterval",
      "delta.columnMapping.mode" -> graft.schema.ColumnMapping.MODE_KEY,
      "delta.columnMapping.maxColumnId" -> graft.schema.ColumnMapping.MAX_ID_KEY,
      "delta.dataSkippingNumIndexedCols" -> "graft.dataSkippingNumIndexedCols",
      "delta.dataSkippingStatsColumns" -> "graft.dataSkippingStatsColumns",
      "delta.randomizeFilePrefixes" -> "graft.randomizeFilePrefixes",
      "delta.randomPrefixLength" -> "graft.randomPrefixLength",
      "delta.logRetentionDuration" -> "", // duration syntax differs; drop
      "delta.enableVariantShredding" -> "graft.enableVariantShredding",
      "delta.enableMaterializePartitionColumnsFeature" ->
        "graft.enableMaterializePartitionColumnsFeature",
      "delta.writePartitionColumnsToParquet" ->
        "graft.writePartitionColumnsToParquet",
      "delta.deletedFileRetentionDuration" -> "", // duration syntax differs; drop
      "delta.enableRowTracking" -> "", // watermarks do not carry over
      "delta.enableInCommitTimestamps" -> "", // fresh history, fresh clock
      // A READY redirect survives conversion only for a noRedirectRules-
      // exempt application (redirectCheck follows or refuses otherwise);
      // the property value — rules included — translates verbatim, so the
      // graft-side follow and commit gates keep enforcing it.
      "delta.redirectReaderWriter-preview" -> graft.log.TableRedirect.PROP,
      "delta.redirectReaderWriter" -> graft.log.TableRedirect.PROP,
      "delta.redirectWriterOnly-preview" -> graft.log.TableRedirect.PROP_WRITER_ONLY,
      "delta.redirectWriterOnly" -> graft.log.TableRedirect.PROP_WRITER_ONLY)
    c.flatMap {
      case (k, v) if k.startsWith("delta.constraints.") =>
        Some(graft.constraints.Constraints.PROP_PREFIX +
          k.stripPrefix("delta.constraints.") -> v)
      case (k, v) => renames.get(k) match {
        case Some("") => None
        case Some(nk) => Some(nk -> v)
        case None => Some(k -> v)
      }
    }
  }

  /** Per-field metadata keys -> graft equivalents, recursively. */
  private def translateSchema(
      s: StructType, genOk: Boolean = true, idOk: Boolean = true): StructType =
    StructType(s.fields.map(translateField(_, genOk, idOk)))

  private def translateField(
      f: StructField, genOk: Boolean, idOk: Boolean): StructField = {
    val dt = f.dataType match {
      case st: StructType => translateSchema(st, genOk, idOk)
      case a: org.apache.spark.sql.types.ArrayType =>
        a.elementType match {
          case st: StructType =>
            a.copy(elementType = translateSchema(st, genOk, idOk))
          case _ => a
        }
      case m: org.apache.spark.sql.types.MapType =>
        m.valueType match {
          case st: StructType =>
            m.copy(valueType = translateSchema(st, genOk, idOk))
          case _ => m
        }
      case other => other
    }
    // GEOMETRY/GEOGRAPHY (at any nesting depth) read through as WKB
    // binary; the declared geo type survives in field metadata and makes
    // the table read-only (see schema.GeoSupport).
    val (geoDt, geoChanged) = graft.schema.GeoSupport.translateType(dt)
    graft.schema.GeoSupport.stampIfChanged(
      f.copy(dataType = geoDt,
        metadata = translateFieldMeta(f.metadata, genOk, idOk)),
      dt, geoChanged)
  }

  private def translateFieldMeta(
      m: FieldMetadata, genOk: Boolean, idOk: Boolean): FieldMetadata = {
    val renames =
      Map("delta.columnMapping.physicalName" -> graft.schema.ColumnMapping.PHYS_KEY) ++
      (if (genOk)
        Map("delta.generationExpression" -> graft.schema.ColumnDefaults.GEN_KEY)
      else Map.empty) ++
      (if (idOk)
        Map("delta.identity.start" -> graft.schema.ColumnDefaults.ID_START,
          "delta.identity.step" -> graft.schema.ColumnDefaults.ID_STEP)
      else Map.empty)
    // Keys the protocol gate rejected are DROPPED, not kept: a vestigial
    // delta.generationExpression surviving into the graft schema would be
    // re-exported by the Delta mirror as a LIVE key — a (3,7)-protocol
    // mirror reader would start enforcing the expression the source never
    // did. Dropping matches the observable behavior either way (the keys
    // are inert here).
    val drops =
      (if (genOk) Nil else Seq("delta.generationExpression")) ++
      (if (idOk) Nil else Seq("delta.identity.start", "delta.identity.step")) ++
      // graft keeps its own identity watermark (recomputed by SYNC
      // IDENTITY); the source's bookkeeping keys never translate and must
      // not linger either
      Seq("delta.identity.highWaterMark", "delta.identity.allowExplicitInsert")
    var changed = false
    val mb = new MetadataBuilder().withMetadata(m)
    renames.foreach { case (dk, gk) =>
      if (m.contains(dk)) {
        changed = true
        // values are strings (physicalName, generation SQL) or longs
        // (identity start/step); copy through json round-trip to keep type
        val json = mapper.readTree(m.json)
        val v = json.get(dk)
        if (v.isNumber) mb.putLong(gk, v.asLong) else mb.putString(gk, v.asText())
        mb.remove(dk)
      }
    }
    drops.foreach { dk =>
      if (m.contains(dk)) { changed = true; mb.remove(dk) }
    }
    if (m.contains("delta.columnMapping.id")) {
      changed = true
      val id = mapper.readTree(m.json).get("delta.columnMapping.id").asLong
      mb.putLong(graft.schema.ColumnMapping.ID_KEY, id)
      mb.remove("delta.columnMapping.id")
    }
    if (changed) mb.build() else m
  }
}
