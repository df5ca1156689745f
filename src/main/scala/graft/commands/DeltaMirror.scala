package graft.commands

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructField, StructType}

import graft.log._

/**
 * Delta-format mirror (the UniForm idea, pointed at Delta itself): with
 * `graft.universalFormat.enabledFormats=delta`, every graft commit also
 * writes a Delta-protocol-conformant JSON commit under `_delta_log/`, so
 * ANY Delta reader can read the graft table without conversion. Data
 * files are shared; only metadata is doubled.
 *
 * Versioning: mirror version = graft version − base, where base is the
 * graft version at enablement (recorded in mirror commit 0's
 * commitInfo). The mapping is deterministic, so racing post-commit hooks
 * write DISJOINT mirror files and the fold order always matches the
 * graft order — a concurrent writer can only leave a transient gap at
 * the tail, never a misordered fold. Mirror commit 0 is a full state
 * snapshot (protocol, metaData, every live add), so readers need no
 * graft history.
 *
 * Graft DV sidecars re-encode into spec-format Delta DV files at mirror
 * time (deterministic file names, so retries dedupe). Every 10 mirror
 * commits a classic Delta checkpoint file is written so long mirrors
 * cold-load from state.
 */
object DeltaMirror {

  val PROP = "graft.universalFormat.enabledFormats"
  private val mapper = new ObjectMapper()

  def enabled(m: Metadata): Boolean =
    m.configuration.get(PROP).exists(_.split(",").map(_.trim).contains("delta"))

  /** Post-commit hook body: mirror graft commit `version` (its `actions`)
    * into `_delta_log`. `snap` is a snapshot AT OR PAST `version`.
    * Graft DV sidecars re-encode into spec-format Delta DV files at
    * mirror time (metadata-scale; data files are still shared). */
  def mirror(log: GraftLog, version: Long, actions: Seq[Action],
      snap: Snapshot): Unit = {
    val deltaLog = new Path(log.dataPath, "_delta_log")
    val conf = log.spark.sessionState.newHadoopConf()
    def addJsonDv(a: AddFile): String = addJson(a, dvDescriptor(log.dataPath, conf, a))
    def translate(graftVersion: Long, acts: Seq[Action]): Seq[String] = {
      // Protocol fidelity: a mirrored commit's protocol derives from the
      // metadata state AS OF that commit — a backfilling hook that runs
      // after a later feature enablement must still write byte-identical
      // mirror files (the dedupe guarantee rests on determinism). The
      // commit's own Metadata action is that state when present; else the
      // checkpoint-backed historical snapshot supplies it.
      lazy val metaAt: Metadata = acts.collectFirst { case m: Metadata => m }
        .getOrElse(
          if (graftVersion == snap.version) snap.metadata
          else log.getSnapshotAt(graftVersion).metadata)
      acts.flatMap {
        case a: AddFile => Some(addJsonDv(a))
        case r: RemoveFile => Some(removeJson(r))
        case m: Metadata => Some(metaDataJson(m))
        case t: SetTransaction => Some(
          s"""{"txn":{"appId":${q(t.appId)},"version":${t.version}}}""")
        case c: CommitInfo =>
          Some(commitInfoJson(graftVersion, c.operation, -1L, c.timestamp))
        case c: AddCdcFile => Some(
          s"""{"cdc":{"path":${q(encodePath(c.path))},"partitionValues":${pvJson(c.partitionValues)},""" +
            s""""size":${c.size},"dataChange":false}}""")
        case _: Protocol => Some(protocolJson(metaAt))
        // Row-tracking watermark domain exports under Delta's name so a
        // Delta reader (and CONVERT FROM DELTA) sees the same id space.
        case d: DomainMetadata if d.domain == RowTracking.DOMAIN =>
          Some(domainJson(d.configuration, d.removed))
        case _ => None // graft-internal actions (other domains, sidecars)
      }
    }
    var base = baseVersion(log, deltaLog)
    if (base.isEmpty) {
      // Bootstrap: full state at this version becomes mirror commit 0.
      // A racing hook may win the bootstrap — re-read the base it chose
      // and fall through so THIS commit still mirrors incrementally.
      // The bootstrap snapshots `snap`, which may be PAST `version` when a
      // concurrent commit already folded — label it with snap.version so
      // mirror history never shows future state under an older version.
      // File rows STREAM from the snapshot's dataset view straight into
      // the commit file: enabling the mirror on a checkpoint-scale lazy
      // snapshot never pulls the file list onto the driver.
      import scala.jdk.CollectionConverters._
      val header = Iterator(
        commitInfoJson(snap.version, "GRAFT MIRROR BOOTSTRAP", snap.version),
        protocolJson(snap.metadata),
        metaDataJson(snap.metadata)) ++
        snap.domains.get(RowTracking.DOMAIN).iterator.map(domainJson(_))
      val fileLines = snap.allFilesDS.toLocalIterator().asScala.map(addJsonDv)
      writeMirrorStream(log, deltaLog, 0L, header ++ fileLines)
      base = baseVersion(log, deltaLog)
    }
    base.filter(version > _).foreach { b =>
      // Delta readers need a CONTIGUOUS version range; a racing or
      // crashed hook must not leave a permanent hole, so each hook
      // backfills every missing mirror version up to its own from the
      // graft commits (deterministic mapping makes duplicates identical
      // and put-if-absent drops them).
      val existing = log.store.list(deltaLog)
        .flatMap(s => FileNames.deltaVersion(s.getPath.getName))
        .maxOption.getOrElse(0L)
      ((existing + 1) to (version - b)).foreach { mv =>
        val gv = b + mv
        val acts = if (gv == version) actions else log.readCommit(gv)
        writeMirror(log, deltaLog, mv, translate(gv, acts))
      }
      // Only checkpoint when the snapshot is exactly at the mirrored
      // version — a later snapshot would leak future state into the
      // checkpoint and corrupt time travel over the mirror.
      if (snap.version == version) maybeCheckpointMirror(log, deltaLog, snap, version - b)
    }
  }

  /** Every 10 mirror commits, write a classic Delta checkpoint parquet +
    * `_last_checkpoint` so Delta readers of a long mirror cold-load from
    * state instead of replaying the whole JSON log. DV-bearing state is
    * skipped (a checkpoint would re-export every DV file); JSON replay
    * remains fully correct there.
    *
    * Per the spec a checkpoint carries the UNEXPIRED remove tombstones
    * alongside the live adds (a reader that cold-loads from it must
    * still see what VACUUM may not yet delete), and every file action in
    * a checkpoint writes `dataChange=false` (PROTOCOL.md:272). File rows
    * assemble as a distributed job over the snapshot's dataset views —
    * checkpointing a huge mirror never materializes state on the
    * driver. */
  private def maybeCheckpointMirror(log: GraftLog, deltaLog: Path,
      snap: Snapshot, mirrorVersion: Long): Unit = {
    if (mirrorVersion <= 0 || mirrorVersion % 10 != 0) return
    val session = log.spark
    import session.implicits._
    val cpPath = new Path(deltaLog, f"$mirrorVersion%020d.checkpoint.parquet")
    if (log.store.exists(cpPath)) return
    val retentionMs = (snap.metadata.configuration
      .get("graft.deletedFileRetentionHours").map(_.toDouble)
      .getOrElse(VacuumCommand.defaultRetentionHours) * 3600 * 1000).toLong
    val tombCutoff = System.currentTimeMillis() - retentionMs
    val header = Seq(protocolJson(snap.metadata), metaDataJson(snap.metadata)) ++
      snap.setTransactions.map { case (app, v) =>
        s"""{"txn":{"appId":${q(app)},"version":$v}}""" } ++
      snap.domains.get(RowTracking.DOMAIN).map(domainJson(_))
    // DV-bearing adds re-derive their spec-format descriptor on the
    // executors — idempotent, so the files the commit hooks already
    // exported are reused, never duplicated.
    val confBc = session.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        session.sessionState.newHadoopConf()))
    val rootStr = log.dataPath.toString
    val addLines = snap.allFilesDS.map { a =>
      addJson(a, dvDescriptor(new Path(rootStr), confBc.value.value, a),
        checkpointRow = true)
    }
    val tombs = snap.tombstonesDS
      .filter((r: graft.log.RemoveFile) => r.deletionTimestamp.forall(_ >= tombCutoff))
    val tombCount = tombs.count()
    val tombLines = tombs.map(r => removeJson(r, checkpointRow = true))
    val lines = session.createDataset(header).union(addLines).union(tombLines)
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      """protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT,
           readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>,
         metaData STRUCT<id: STRING, name: STRING, description: STRING,
           format: STRUCT<provider: STRING, options: MAP<STRING, STRING>>,
           schemaString: STRING, partitionColumns: ARRAY<STRING>,
           configuration: MAP<STRING, STRING>, createdTime: BIGINT>,
         txn STRUCT<appId: STRING, version: BIGINT>,
         add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>,
           size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN,
           stats: STRING, baseRowId: BIGINT, defaultRowCommitVersion: BIGINT,
           deletionVector: STRUCT<storageType: STRING,
             pathOrInlineDv: STRING, offset: INT, sizeInBytes: INT,
             cardinality: BIGINT>>,
         remove STRUCT<path: STRING, deletionTimestamp: BIGINT,
           dataChange: BOOLEAN>,
         domainMetadata STRUCT<domain: STRING, configuration: STRING,
           removed: BOOLEAN>""").asInstanceOf[org.apache.spark.sql.types.StructType]
    // Delta checkpoints are single parquet FILES, not directories — write
    // to a scratch dir and move the one part file onto the exact name.
    val scratch = new Path(deltaLog,
      s".cp-scratch-${java.util.UUID.randomUUID.toString.take(8)}")
    session.read.schema(schema).json(lines)
      .repartition(1).write.mode("overwrite").parquet(scratch.toString)
    val fs = log.store.fs(scratch)
    val part = fs.listStatus(scratch)
      .find(_.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("checkpoint write produced no part"))
    if (!fs.rename(part.getPath, cpPath)) fs.delete(scratch, true)
    else {
      fs.delete(scratch, true)
      log.store.writeOverwrite(new Path(deltaLog, "_last_checkpoint"),
        s"""{"version":$mirrorVersion,"size":${header.size + snap.numFiles + tombCount}}""")
    }
  }

  /** Graft version the mirror's commit 0 snapshotted, from its
    * commitInfo; None when no mirror exists yet. */
  private def baseVersion(log: GraftLog, deltaLog: Path): Option[Long] =
    log.store.readOpt(new Path(deltaLog, f"${0L}%020d.json")).flatMap { c =>
      c.linesIterator.map(mapper.readTree).collectFirst {
        case n if n.has("commitInfo") &&
            n.path("commitInfo").path("operationParameters")
              .has("graftBaseVersion") =>
          n.path("commitInfo").path("operationParameters")
            .path("graftBaseVersion").asText().toLong
      }
    }

  private def writeMirror(log: GraftLog, deltaLog: Path, version: Long,
      lines: Seq[String]): Unit =
    writeMirrorStream(log, deltaLog, version, lines.iterator)

  private def writeMirrorStream(log: GraftLog, deltaLog: Path, version: Long,
      lines: Iterator[String]): Unit = {
    try log.store.write(new Path(deltaLog, f"$version%020d.json"),
      lines.map(_ + "\n"))
    catch {
      // Put-if-absent loss means this mirror version is already written —
      // deterministic mapping makes the contents equivalent.
      case _: java.nio.file.FileAlreadyExistsException =>
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
    }
  }

  private def q(s: String): String = mapper.writeValueAsString(s)

  /** Delta log paths are RFC 2396 URIs — percent-encode what the graft
    * log stores as plain filesystem paths. */
  private def encodePath(p: String): String =
    try new java.net.URI(null, null, p, null).toASCIIString
    catch { case _: java.net.URISyntaxException => p }

  private def pvJson(pv: Map[String, String]): String = {
    if (pv == null || pv.isEmpty) "{}"
    else pv.map { case (k, v) =>
      s"${q(k)}:${if (v == null) "null" else q(v)}" }.mkString("{", ",", "}")
  }

  private def commitInfoJson(graftVersion: Long, op: String,
      baseV: Long, ts: Long = System.currentTimeMillis()): String =
    s"""{"commitInfo":{"timestamp":$ts,"operation":${q(op)},""" +
      s""""operationParameters":{${
        if (baseV >= 0) s""""graftBaseVersion":"$baseV",""" else ""
      }"graftVersion":"$graftVersion"}}}"""

  /** Minimal Delta protocol covering the features the metadata uses.
    * ANY reader-gating vector feature (DVs, NTZ timestamps, variants,
    * shredding, type widening) forces the (3, 7) feature-vector form so
    * readers that cannot decode the physical layout are locked out;
    * everything else stays on the widest-compatible legacy versions. */
  /** Graft feature names -> the names the Delta implementation registers.
    * Both redirect features exist only under the -preview suffix there
    * (reference TableFeature.scala:727,757) — emitting the unsuffixed
    * name would make a real Delta reader/writer refuse the whole mirror
    * as an unsupported feature. */
  private def deltaFeatureName(n: String): String = n match {
    case "redirectReaderWriter" => "redirectReaderWriter-preview"
    case "redirectWriterOnly" => "redirectWriterOnly-preview"
    case x => x
  }

  private def protocolJson(m: Metadata): String = {
    val feats = TableFeatures.activeFeatures(m).map(_.name)
    val readerGating = Seq("deletionVectors", "timestampNtz", "variantType",
      "variantShredding", "typeWidening", "redirectReaderWriter").filter(feats)
    // rowTracking gates only writers (readers may ignore row ids) but
    // still forces the feature-vector writer protocol; domainMetadata
    // rides with it (the watermark domain lives there). The writer-only
    // redirect gates writers by design — legacy readers keep reading the
    // frozen source.
    // catalogManaged (CCv2) NEVER exports — deliberately absent from both
    // lists: the mirror is a passive filesystem copy, complete because
    // graft's backfill is synchronous, so it publishes as a PLAIN Delta
    // table. Claiming the feature would order Delta readers to consult a
    // managing catalog that does not exist for the mirror (and its
    // required inCommitTimestamp/vacuumProtocolCheck companions stay
    // mirror-internal for the same reason).
    val writerOnly =
      Seq("domainMetadata", "rowTracking", "redirectWriterOnly",
        "materializePartitionColumns").filter(feats)
    if (readerGating.nonEmpty || writerOnly.nonEmpty) {
      val readerVec = (readerGating ++
        (if (feats("columnMapping")) Seq("columnMapping") else Nil))
        .map(deltaFeatureName)
      val writerVec = (readerVec ++ writerOnly.map(deltaFeatureName) ++
        Seq("appendOnly", "invariants",
        "checkConstraints", "changeDataFeed", "generatedColumns",
        "identityColumns").filter(feats)).distinct
      if (readerGating.nonEmpty) {
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[${readerVec.map(q).mkString(",")}],""" +
          s""""writerFeatures":[${writerVec.map(q).mkString(",")}]}}"""
      } else {
        // writer features only: legacy reader version (readerFeatures is
        // spec-valid only at minReaderVersion 3), minWriterVersion 7 with
        // every active legacy writer feature listed explicitly.
        val r = if (feats("columnMapping")) 2 else 1
        s"""{"protocol":{"minReaderVersion":$r,"minWriterVersion":7,""" +
          s""""writerFeatures":[${writerVec.map(q).mkString(",")}]}}"""
      }
    } else {
      var (r, w) = (1, 2)
      if (feats("checkConstraints")) w = math.max(w, 3)
      if (feats("generatedColumns") || feats("changeDataFeed")) w = math.max(w, 4)
      if (feats("columnMapping")) { r = math.max(r, 2); w = math.max(w, 5) }
      if (feats("identityColumns")) w = math.max(w, 6)
      s"""{"protocol":{"minReaderVersion":$r,"minWriterVersion":$w}}"""
    }
  }

  /** graft `_dv/` sidecar -> spec-format Delta DV file + descriptor JSON
    * fragment (storageType 'u': uuid-named file in the table root).
    * Static in (root, conf) so checkpoint assembly can run it on the
    * executors; the export is idempotent (deterministic uuid from the
    * graft sidecar path, skip-if-exists), so racing hooks, backfills and
    * recomputed partitions all regenerate the SAME delta DV file. */
  private def dvDescriptor(root: Path,
      conf: org.apache.hadoop.conf.Configuration, a: AddFile): Option[String] =
    a.dvPath.map { rel =>
      val uuid = java.util.UUID.nameUUIDFromBytes(rel.getBytes("UTF-8"))
      val target = new Path(root, s"deletion_vector_$uuid.bin")
      val fs = target.getFileSystem(conf)
      // Already-exported files (deterministic name) reconstruct their
      // descriptor from the framing — 1 version byte + 4-byte length +
      // data + 4-byte crc — so a steady-state mirror checkpoint never
      // re-reads DV bitmaps. The version byte and the declared length
      // must agree with the format and the file's actual length, or the
      // file is a truncated/garbage leftover from a killed export and
      // gets regenerated instead of trusted. (Payload CRC verification
      // stays with readers — every Delta reader checks it on open — so
      // reuse costs a 5-byte header read, not a full bitmap read.)
      val reusableLen: Option[Int] =
        if (a.dvCardinality.isDefined && fs.exists(target)) {
          try {
            val actual = fs.getFileStatus(target).getLen
            val in = fs.open(target)
            val (ver, declared) =
              try (in.readByte(), in.readInt()) finally in.close()
            if (ver == 1 && actual == 9L + declared) Some(declared) else None
          } catch { case _: java.io.IOException => None }
        } else None
      val (pathOrInline, offset, size, card) =
        if (reusableLen.isDefined) {
          val bb = java.nio.ByteBuffer.allocate(16)
            .putLong(uuid.getMostSignificantBits)
            .putLong(uuid.getLeastSignificantBits).array()
          (graft.dv.DeltaDvCodec.z85Encode(bb), 1,
            reusableLen.get, a.dvCardinality.get)
        } else {
          val bm = graft.dv.DeletionVectors.readBitmap(new Path(root, rel), conf)
          val (p, o, s) = graft.dv.DeltaDvCodec.writeFile(root, conf, bm, uuid)
          (p, o, s, bm.cardinality)
        }
      s""""deletionVector":{"storageType":"u","pathOrInlineDv":${q(pathOrInline)},""" +
        s""""offset":$offset,"sizeInBytes":$size,"cardinality":$card}"""
    }

  /** `checkpointRow`: file actions inside a checkpoint always write
    * `dataChange=false` — a reader folding the checkpoint must not treat
    * the state dump as fresh changes (PROTOCOL.md:272). */
  private def addJson(a: AddFile, dvJson: Option[String] = None,
      checkpointRow: Boolean = false): String = {
    val stats = Option(a.stats).map(s => s""","stats":${q(s)}""").getOrElse("")
    val rt = a.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
      a.defaultRowCommitVersion
        .map(v => s""","defaultRowCommitVersion":$v""").getOrElse("")
    val dv = dvJson.map("," + _).getOrElse("")
    val dc = if (checkpointRow) false else a.dataChange
    s"""{"add":{"path":${q(encodePath(a.path))},"partitionValues":${pvJson(a.partitionValues)},""" +
      s""""size":${a.size},"modificationTime":${a.modificationTime},""" +
      s""""dataChange":$dc$rt$stats$dv}}"""
  }

  /** Row-tracking watermark domain under Delta's domain name; the config
    * JSON shape (`{"rowIdHighWaterMark":N}`) is shared with the spec. */
  private def domainJson(config: String, removed: Boolean = false): String =
    s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
      s""""configuration":${q(config)},"removed":$removed}}"""

  private def removeJson(r: RemoveFile, checkpointRow: Boolean = false): String =
    s"""{"remove":{"path":${q(encodePath(r.path))},"deletionTimestamp":${
      r.deletionTimestamp.getOrElse(System.currentTimeMillis())},""" +
      s""""dataChange":${if (checkpointRow) false else r.dataChange}}}"""

  private def metaDataJson(m: Metadata): String = {
    val node = mapper.createObjectNode()
    node.put("id", m.id)
    val fmt = node.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    node.put("schemaString", toDeltaSchema(m).json)
    val pc = node.putArray("partitionColumns")
    m.partitionColumns.foreach(pc.add)
    val conf = node.putObject("configuration")
    toDeltaConfig(m.configuration).foreach { case (k, v) => conf.put(k, v) }
    node.put("createdTime", m.createdTime.getOrElse(System.currentTimeMillis()))
    val wrapper = mapper.createObjectNode()
    wrapper.set[ObjectNode]("metaData", node)
    mapper.writeValueAsString(wrapper)
  }

  /** graft.* table properties -> delta.* (reverse of the convert map);
    * graft-internal bookkeeping stays private. */
  private[commands] def toDeltaConfig(c: Map[String, String]): Map[String, String] = {
    val renames = Map(
      "graft.appendOnly" -> "delta.appendOnly",
      "graft.enableChangeDataFeed" -> "delta.enableChangeDataFeed",
      "graft.checkpointInterval" -> "delta.checkpointInterval",
      graft.schema.ColumnMapping.MODE_KEY -> "delta.columnMapping.mode",
      graft.schema.ColumnMapping.MAX_ID_KEY -> "delta.columnMapping.maxColumnId",
      "graft.dataSkippingNumIndexedCols" -> "delta.dataSkippingNumIndexedCols",
      "graft.dataSkippingStatsColumns" -> "delta.dataSkippingStatsColumns",
      "graft.randomizeFilePrefixes" -> "delta.randomizeFilePrefixes",
      "graft.randomPrefixLength" -> "delta.randomPrefixLength",
      "graft.enableRowTracking" -> "delta.enableRowTracking",
      "graft.enableMaterializePartitionColumnsFeature" ->
        "delta.enableMaterializePartitionColumnsFeature",
      "graft.writePartitionColumnsToParquet" ->
        "delta.writePartitionColumnsToParquet",
      // same JSON value shape both sides; a Delta reader of the mirror
      // honors the redirect exactly as a graft reader would. The Delta
      // implementation defines only the -preview spelling of the config
      // key (reference DeltaConfig.scala:499,511) — the unsuffixed name
      // would be an unknown property to it.
      graft.log.TableRedirect.PROP -> "delta.redirectReaderWriter-preview",
      graft.log.TableRedirect.PROP_WRITER_ONLY -> "delta.redirectWriterOnly-preview")
    c.flatMap {
      case (k, v) if k.startsWith(graft.constraints.Constraints.PROP_PREFIX) =>
        Some("delta.constraints." +
          k.stripPrefix(graft.constraints.Constraints.PROP_PREFIX) -> v)
      case (k, v) => renames.get(k) match {
        case Some(nk) => Some(nk -> v)
        case None if k.startsWith("graft.") => None
        case None => Some(k -> v)
      }
    }
  }

  /** Per-field metadata keys -> delta names, recursively. */
  private def toDeltaSchema(m: Metadata): StructType = {
    def walk(s: StructType): StructType = StructType(s.fields.map { f =>
      val dt = f.dataType match {
        case st: StructType => walk(st)
        case a: org.apache.spark.sql.types.ArrayType => a.elementType match {
          case st: StructType => a.copy(elementType = walk(st))
          case _ => a
        }
        case mp: org.apache.spark.sql.types.MapType => mp.valueType match {
          case st: StructType => mp.copy(valueType = walk(st))
          case _ => mp
        }
        case other => other
      }
      f.copy(dataType = dt, metadata = fieldMeta(f))
    })
    walk(m.schema)
  }

  private def fieldMeta(f: StructField) = {
    val renames = Map(
      graft.schema.ColumnMapping.PHYS_KEY -> "delta.columnMapping.physicalName",
      graft.schema.ColumnMapping.ID_KEY -> "delta.columnMapping.id",
      graft.schema.ColumnDefaults.GEN_KEY -> "delta.generationExpression",
      graft.schema.ColumnDefaults.ID_START -> "delta.identity.start",
      graft.schema.ColumnDefaults.ID_STEP -> "delta.identity.step")
    val mb = new MetadataBuilder().withMetadata(f.metadata)
    val json = mapper.readTree(f.metadata.json)
    renames.foreach { case (gk, dk) =>
      if (f.metadata.contains(gk)) {
        val v = json.get(gk)
        if (v.isNumber) mb.putLong(dk, v.asLong) else mb.putString(dk, v.asText())
        mb.remove(gk)
      }
    }
    mb.build()
  }
}
