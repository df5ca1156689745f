package graft.dv

import java.io.{DataInputStream, DataOutputStream}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.{AddFile, GraftLog, Metadata, Protocol, Snapshot, TableFeatures}

/**
 * Deletion vectors: per-file [[Bitmap64]] sidecars of deleted row
 * indexes under `_dv/`, so a point DELETE on a 1 GB file writes a few-KB
 * bitmap instead of rewriting the file. Read-side application is spliced
 * into the parquet reader itself ([[GraftParquetFileFormat]]): each task
 * consults the bitmap for its own file against the reader-generated row
 * index — a narrow per-split filter, no join and no shuffle at any
 * deleted-row cardinality. Write side: every DML (DELETE, UPDATE, INSERT
 * REPLACE, MERGE) folds the indexes of the rows it retires into one
 * bitmap per file in its match pass's scan tasks, and [[writeBitmaps]]
 * writes them — no shuffle of row identities.
 * (Reference concept: deletionvectors/RoaringBitmapArray.scala:46 +
 * DMLWithDeletionVectorsHelper.scala:132-448 +
 * DeltaParquetFileFormat.scala:161-266 — re-designed.)
 */
object DeletionVectors {

  val DIR = "_dv"

  def isEnabled(m: Metadata): Boolean =
    m.configuration.getOrElse("graft.enableDeletionVectors", "false").toBoolean

  /** Normalize a file URI/path to a bare absolute path, matching
    * `new Path(root, rel).toUri.getPath` on the driver side. A `+` in a
    * URI is a plus, which `url_decode` (form decoding) would read as a
    * space, so it is escaped first. */
  def normFileCol(c: Column): Column =
    regexp_replace(url_decode(regexp_replace(c, "\\+", "%2B")),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  def fileKey(log: GraftLog, f: AddFile): String = {
    val p = new Path(f.path)
    val abs = if (p.isAbsolute) p else new Path(log.dataPath, f.path)
    abs.toUri.getPath
  }

  // ---- sidecar IO ---------------------------------------------------------

  /** Materialize a DETERMINISTICALLY-NAMED sidecar, crash- and
    * race-safe: trust an existing file only when its length matches the
    * expected serialization (a writer killed mid-create leaves a
    * truncated file behind the deterministic name), else write a temp
    * sibling and rename atomically — never create in place. Racing
    * retries produce identical bytes, so any rename winner is correct.
    * The ONE copy of this dance — convert re-encode and Delta-mirror
    * export both go through it. */
  def materializeSidecar(fs: org.apache.hadoop.fs.FileSystem, target: Path,
      expectedLen: Long)(write: Path => Unit): Unit = {
    val valid = try fs.getFileStatus(target).getLen == expectedLen
      catch { case _: java.io.FileNotFoundException => false }
    if (!valid) {
      val tmp = new Path(target.getParent,
        s".${target.getName}.${UUID.randomUUID()}.tmp")
      write(tmp)
      try {
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(tmp, target))
          require(fs.exists(target),
            s"could not materialize DV sidecar $target")
      } finally if (fs.exists(tmp)) fs.delete(tmp, false)
    }
  }

  def writeBitmap(path: Path, conf: Configuration, bm: Bitmap64): Long = {
    bm.runOptimize()
    val fs = path.getFileSystem(conf)
    fs.mkdirs(path.getParent)
    val out = new DataOutputStream(fs.create(path, false))
    try bm.serialize(out) finally out.close()
    fs.getFileStatus(path).getLen
  }

  def readBitmap(path: Path, conf: Configuration): Bitmap64 = {
    val fs = path.getFileSystem(conf)
    val in = new DataInputStream(fs.open(path))
    try Bitmap64.deserialize(in) finally in.close()
  }

  // ---- read path ----------------------------------------------------------

  /** Whether `p` lists the deletion-vector reader feature. */
  def supported(p: Protocol): Boolean =
    p.readerFeatureNames.contains(TableFeatures.deletionVectors.name)

  /** The DV-splicing parquet format for `files`, or None when no file
    * carries a DV (callers keep the plain columnar ParquetFileFormat). */
  def readerFormat(
      log: GraftLog,
      files: Seq[AddFile]): Option[GraftParquetFileFormat] = {
    val dvFiles = files.filter(_.dvPath.isDefined)
    if (dvFiles.isEmpty) None
    else Some(new GraftParquetFileFormat(
      log.dataPath.toString,
      dvFiles.map(f => fileKey(log, f) -> f.dvPath.get).toMap))
  }

  /** Executor-side LRU of deserialized bitmaps, so multiple splits of the
    * same file (or retries) load the sidecar once. Bitmaps are immutable
    * after load. */
  private val bitmapCache =
    new java.util.LinkedHashMap[String, Bitmap64](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Bitmap64]): Boolean = size() > 256
    }

  def cachedBitmap(root: String, rel: String, conf: Configuration): Bitmap64 = {
    val key = s"$root/$rel"
    bitmapCache.synchronized {
      val hit = bitmapCache.get(key)
      if (hit != null) return hit
    }
    val bm = readBitmap(new Path(new Path(root), rel), conf)
    bitmapCache.synchronized { bitmapCache.put(key, bm) }
    bm
  }

  // ---- write path ---------------------------------------------------------

  /** Write the deletion vectors of a DML: per file, the bitmap of the
    * row indexes it retires, as the scan tasks of its match pass folded
    * them ([[graft.commands.MatchFold]]). Each goes through
    * [[writeMerged]] on the driver and commits as a RemoveFile plus an
    * AddFile carrying the new DV; no data file is written. Empty bitmaps
    * write nothing. */
  def writeBitmaps(
      spark: SparkSession,
      log: GraftLog,
      bitmaps: Seq[(AddFile, Bitmap64)]): (Seq[graft.log.RemoveFile], Seq[AddFile], Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = log.dataPath.toString
    dvActions(bitmaps.collect { case (f, bm) if bm.cardinality > 0 =>
      val (rel, card) = writeMerged(root, conf, f.dvPath, bm)
      (f, rel, card)
    })
  }

  /** THE merge-with-old-DV-and-write step: OR the file's existing DV (at
    * `oldRel`, if any) into `bm`, write it as a new sidecar, and return
    * its relative path and cardinality. */
  private def writeMerged(root: String, conf: Configuration,
      oldRel: Option[String], bm: Bitmap64): (String, Long) = {
    oldRel.foreach(r => bm.or(readBitmap(new Path(new Path(root), r), conf)))
    val rel = s"$DIR/dv-${UUID.randomUUID}.bin"
    writeBitmap(new Path(new Path(root), rel), conf, bm)
    (rel, bm.cardinality)
  }

  /** Commit actions for written DVs: each file's remove and its re-add
    * carrying the new DV, plus the count of rows newly deleted. */
  private def dvActions(written: Seq[(AddFile, String, Long)])
      : (Seq[graft.log.RemoveFile], Seq[AddFile], Long) = {
    val now = System.currentTimeMillis()
    val removes = written.map { case (f, _, _) => f.remove(now) }
    val adds = written.map { case (f, rel, card) =>
      f.copy(dvPath = Some(rel), dvCardinality = Some(card),
        modificationTime = now, dataChange = true)
    }
    val newlyDeleted = written.map { case (f, _, card) =>
      card - f.dvCardinality.getOrElse(0L)
    }.sum
    (removes, adds, newlyDeleted)
  }
}
