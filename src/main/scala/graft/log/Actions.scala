package graft.log

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Transaction-log action model.
 *
 * A Graft table is a directory of Parquet data files plus a `_graft_log/`
 * directory of JSON commit files; version v's state is the fold of all
 * actions in commits 0..v. Design derived from the public Delta Lake
 * protocol (reference: /root/reference/PROTOCOL.md:163-231 and
 * spark/src/main/scala/org/apache/spark/sql/delta/actions/actions.scala),
 * re-expressed from scratch for Spark-first execution.
 */
sealed trait Action extends Serializable {
  def wrap: SingleAction
}

/** Reader/writer protocol versioning (PROTOCOL.md:732-783 analogue).
  * At (3, 7)+ the numeric versions stop implying capabilities and the
  * explicit feature-name vectors govern access ([[TableFeatures]]). */
case class Protocol(
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 1,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None) extends Action {
  def wrap: SingleAction = SingleAction(protocol = this)
  def readerFeatureNames: Set[String] =
    readerFeatures.map(_.toSet).getOrElse(Set.empty)
  def writerFeatureNames: Set[String] =
    writerFeatures.map(_.toSet).getOrElse(Set.empty)
}

/** Table metadata: id, schema (JSON StructType), partitioning, config. */
case class Metadata(
    id: String = java.util.UUID.randomUUID.toString,
    name: String = null,
    description: String = null,
    schemaString: String = null,
    partitionColumns: Seq[String] = Nil,
    configuration: Map[String, String] = Map.empty,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    createdTime: Option[Long] = None) extends Action {
  @transient lazy val schema: StructType =
    if (schemaString == null) new StructType()
    else DataType.fromJson(schemaString).asInstanceOf[StructType]
  /** Leaf data columns eligible for stats-based skipping. */
  @transient lazy val dataSchema: StructType =
    StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
  def wrap: SingleAction = SingleAction(metaData = this)
}

/** A data file that is part of the table (PROTOCOL.md:569-582 analogue).
  * `dvPath`/`dvCardinality` describe an optional deletion-vector sidecar
  * (a serialized RoaringBitmap of deleted row indexes, table-relative
  * path) — the logical file is (parquet minus DV rows), so point deletes
  * need no data rewrite (PROTOCOL.md:1025-1097 analogue). */
case class AddFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    modificationTime: Long = 0L,
    dataChange: Boolean = true,
    stats: String = null,
    tags: Map[String, String] = null,
    dvPath: Option[String] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    dvCardinality: Option[Long] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    baseRowId: Option[Long] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    defaultRowCommitVersion: Option[Long] = None) extends Action {
  def wrap: SingleAction = SingleAction(add = this)
  def remove(timestamp: Long, dataChange: Boolean = true): RemoveFile =
    RemoveFile(path, Some(timestamp), dataChange,
      partitionValues = partitionValues, size = Some(size))
}

/** Tombstone: the file is no longer part of the table. */
case class RemoveFile(
    path: String,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    deletionTimestamp: Option[Long] = None,
    dataChange: Boolean = true,
    partitionValues: Map[String, String] = null,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    size: Option[Long] = None) extends Action {
  def wrap: SingleAction = SingleAction(remove = this)
}

/** Change-data file under _change_data/ (CDF; PROTOCOL.md:646-672 analogue). */
case class AddCdcFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L) extends Action {
  def wrap: SingleAction = SingleAction(cdc = this)
}

/** Named per-table metadata domain (PROTOCOL.md DomainMetadata analogue):
  * a configuration blob owned by one feature — row tracking keeps its
  * row-id high watermark here, outside the user-facing table config. */
case class DomainMetadata(
    domain: String,
    configuration: String = "{}",
    removed: Boolean = false) extends Action {
  def wrap: SingleAction = SingleAction(domainMetadata = this)
}

/** Idempotent-writer watermark: latest batch version per application id. */
case class SetTransaction(
    appId: String,
    version: Long,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    lastUpdated: Option[Long] = None) extends Action {
  def wrap: SingleAction = SingleAction(txn = this)
}

/** Provenance record for DESCRIBE HISTORY. */
case class CommitInfo(
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    version: Option[Long] = None,
    timestamp: Long = 0L,
    operation: String = null,
    operationParameters: Map[String, String] = Map.empty,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    readVersion: Option[Long] = None,
    isolationLevel: Option[String] = None,
    operationMetrics: Map[String, String] = Map.empty,
    userMetadata: Option[String] = None) extends Action {
  def wrap: SingleAction = SingleAction(commitInfo = this)
}

/**
 * The union row type of the log: exactly one non-null field per record.
 * This is both the JSON line shape and the checkpoint-Parquet row type,
 * so `Dataset[SingleAction]` is the distributed representation of table
 * state (reference pattern: actions.scala SingleAction + Snapshot
 * stateReconstruction).
 */
/** Marks a checkpoint as V2: the manifest holds only metadata-scale
  * actions plus [[SidecarFile]] pointers; the file actions live in
  * sidecar parquet under `_sidecars/` (PROTOCOL.md:854-911 analogue:
  * actions.scala:1816 CheckpointMetadata — re-designed). */
case class CheckpointMetadata(
    version: Long,
    sidecarCount: Long = 0L) extends Action {
  def wrap: SingleAction = SingleAction(checkpointMetadata = this)
}

/** One sidecar parquet file of a V2 checkpoint, path relative to the log
  * directory (actions.scala:1775 SidecarFile analogue). */
case class SidecarFile(
    path: String,
    sizeInBytes: Long = 0L,
    modificationTime: Long = 0L) extends Action {
  def wrap: SingleAction = SingleAction(sidecar = this)
}

/** Per-version checksum sidecar (.crc): the full fold-state fingerprint a
  * cold reader re-derives and compares — protocol, metadata, txn map and
  * domains included, so a tampered or bit-rotted log fails loudly at
  * load instead of silently misreading (reference concept: Checksum.scala
  * VersionChecksum — re-designed: state carried verbatim, not hashed,
  * because it is metadata-scale). Null/empty fields skip validation for
  * compatibility with sidecars written before a field existed. */
case class VersionChecksum(
    tableSizeBytes: Long = -1L,
    numFiles: Long = -1L,
    protocol: Protocol = null,
    metadata: Metadata = null,
    setTransactions: Map[String, Long] = Map.empty,
    domainMetadata: Map[String, String] = Map.empty,
    // Monotone (prefix-max-clamped) commit timestamp watermark: present
    // only when version 0's checksum started the chain, so any present
    // value is exact. Makes large-log timestamp time travel bisect on
    // already-clamped values — exact under arbitrary writer clock skew
    // with O(log n) reads. -1 = chain not established (older tables).
    commitTimestamp: Long = -1L)

/** The `_last_checkpoint` pointer: the newest checkpoint's version, its
  * action count, and the sidecar bucket count of a v2 checkpoint (absent
  * for a classic one). */
case class LastCheckpoint(
    version: Long,
    size: Long,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer])
    sidecarBuckets: Option[Int] = None)

case class SingleAction(
    txn: SetTransaction = null,
    add: AddFile = null,
    remove: RemoveFile = null,
    cdc: AddCdcFile = null,
    metaData: Metadata = null,
    protocol: Protocol = null,
    domainMetadata: DomainMetadata = null,
    commitInfo: CommitInfo = null,
    checkpointMetadata: CheckpointMetadata = null,
    sidecar: SidecarFile = null) {
  def unwrap: Action =
    if (add != null) add
    else if (remove != null) remove
    else if (metaData != null) metaData
    else if (protocol != null) protocol
    else if (txn != null) txn
    else if (cdc != null) cdc
    else if (domainMetadata != null) domainMetadata
    else if (commitInfo != null) commitInfo
    else if (checkpointMetadata != null) checkpointMetadata
    else if (sidecar != null) sidecar
    else null
}

object Actions {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.setSerializationInclusion(JsonInclude.Include.NON_ABSENT)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def toJson(a: Action): String = mapper.writeValueAsString(a.wrap)

  def fromJson(line: String): Action =
    mapper.readValue(line, classOf[SingleAction]).unwrap

  def statsToJson(m: Any): String = mapper.writeValueAsString(m)

  def checksumToJson(c: VersionChecksum): String = mapper.writeValueAsString(c)

  def checksumFromJson(json: String): VersionChecksum =
    mapper.readValue(json, classOf[VersionChecksum])

  def lastCheckpointToJson(c: LastCheckpoint): String =
    mapper.writeValueAsString(c)

  /** The pointer in `json`; None when it does not parse or names no
    * version (a missing field would otherwise bind as 0). */
  def lastCheckpointFromJson(json: String): Option[LastCheckpoint] =
    try Option(mapper.readTree(json))
      .filter(t => t.path("version").canConvertToLong)
      .map(mapper.treeToValue(_, classOf[LastCheckpoint]))
      .filter(_.version >= 0)
    catch { case _: java.io.IOException => None }

  /** Serialize a full commit: one action per line. */
  def serialize(actions: Seq[Action]): String =
    actions.map(toJson).mkString("", "\n", "\n")

  def deserialize(content: String): Seq[Action] =
    content.linesIterator.filter(_.nonEmpty).map(fromJson).toSeq
}
