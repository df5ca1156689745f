package graft.log

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/**
 * Atomic, put-if-absent log writes — the primitive that makes commits
 * mutually exclusive (reference concept: delta storage LogStore;
 * /root/reference/storage/.../LogStore.java).
 *
 * For `file:` paths we get true POSIX atomicity via hard-link
 * (link(2) fails with EEXIST if the target exists). For HDFS-like
 * filesystems, `FileSystem.create(path, overwrite=false)` provides
 * the same contract. Object stores without put-if-absent would need an
 * external coordinator — out of scope here.
 */
class LogStore(hadoopConf: Configuration) extends Serializable {

  def fs(path: Path): FileSystem = path.getFileSystem(hadoopConf)

  private def isLocal(path: Path): Boolean = {
    val scheme = path.toUri.getScheme
    scheme == null || scheme == "file"
  }

  /** Write `content` to `path`; throws FileAlreadyExistsException if present. */
  def write(path: Path, content: String): Unit =
    write(path, Iterator.single(content))

  /** Streaming put-if-absent: `chunks` are written to the temp sibling
    * one at a time, so a multi-million-line file (e.g. a mirror
    * bootstrap commit) never assembles as one driver string. */
  def write(path: Path, chunks: Iterator[String]): Unit =
    materialize(path, overwrite = false)(writeChunks(chunks))

  /** Overwrite unconditionally (used for `_last_checkpoint`). */
  def writeOverwrite(path: Path, content: String): Unit =
    writeOverwrite(path, Iterator.single(content))

  /** Streaming overwrite of text chunks, for multi-million-line objects. */
  def writeOverwrite(path: Path, chunks: Iterator[String]): Unit =
    writeOverwrite(path)(writeChunks(chunks))

  /** Overwrite with ATOMIC VISIBILITY: `body` streams its bytes to a temp
    * sibling, which then moves onto the final name — a reader sees the old
    * object or the whole new one, never a prefix (checkpoint parquet goes
    * through here too). Every overwrite funnels into this primitive. */
  def writeOverwrite(path: Path)(body: java.io.OutputStream => Unit): Unit =
    materialize(path, overwrite = true)(body)

  /** Stream-copy `src` onto `dst` (overwrite, atomic visibility) without
    * ever materializing the content in driver memory. */
  def copyOverwrite(src: Path, dst: Path): Unit = {
    val in = fs(src).open(src)
    try materialize(dst, overwrite = true)(streamCopy(in, _))
    finally in.close()
  }

  /** The one buffered byte-stream copy loop (1 MB chunks, bounded driver
    * memory regardless of object size). */
  private def streamCopy(in: java.io.InputStream,
      out: java.io.OutputStream): Unit = {
    val buf = new Array[Byte](1 << 20)
    var n = in.read(buf)
    while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
  }

  private def writeChunks(chunks: Iterator[String])(
      out: java.io.OutputStream): Unit =
    chunks.foreach(c => out.write(c.getBytes(StandardCharsets.UTF_8)))

  /** The ONE temp-sibling dance behind every log write: stream `body`'s
    * output to a temp next to `path`, then move it onto the final name in
    * a SINGLE namespace operation. A reader sees the old object or the
    * new one — never a prefix (plain create exposes the file empty until
    * close; a concurrent snapshot refresh would fold a torn commit as a
    * no-op), and on overwrite never a missing object (delete-then-rename
    * has a nonexistence window).
    *
    * overwrite=false is put-if-absent: local via hard-link (link(2)
    * fails EEXIST), HDFS-like via no-overwrite rename; both throw
    * [[FileAlreadyExistsException]]. overwrite=true: local via
    * ATOMIC_MOVE, HDFS-like via FileContext rename(OVERWRITE) — an
    * atomic destination replace — falling back to delete+rename only on
    * filesystems with no AbstractFileSystem binding. */
  private def materialize(path: Path, overwrite: Boolean)(
      body: java.io.OutputStream => Unit): Unit = {
    if (isLocal(path)) {
      val target = Paths.get(path.toUri.getPath)
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(target.getParent, s".${target.getFileName}", ".tmp")
      try {
        val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp))
        try body(out) finally out.close()
        if (overwrite)
          Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        else {
          try Files.createLink(target, tmp)
          catch { case _: FileAlreadyExistsException | _: java.nio.file.FileSystemException
              if Files.exists(target) =>
            throw new FileAlreadyExistsException(target.toString)
          }
        }
      } finally Files.deleteIfExists(tmp)
    } else {
      val f = fs(path)
      val temp = new Path(path.getParent,
        s".${path.getName}.${java.util.UUID.randomUUID.toString.take(12)}.tmp")
      val out = new java.io.BufferedOutputStream(f.create(temp, true))
      try body(out) finally out.close()
      try {
        if (!overwrite) {
          if (!f.rename(temp, path))
            throw new FileAlreadyExistsException(path.toString)
        } else try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            path.toUri, hadoopConf)
          fc.rename(temp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            // No AbstractFileSystem binding means an object store
            // (s3a-style), where a single PUT is already atomically
            // visible — stream-copy the temp onto the final name in one
            // create instead of delete-then-rename (which would leave a
            // window where the object does not exist at all).
            val in = f.open(temp)
            val direct = f.create(path, true)
            try streamCopy(in, direct)
            finally { direct.close(); in.close() }
        }
      } finally if (f.exists(temp)) f.delete(temp, false)
    }
  }

  def read(path: Path): String = {
    val f = fs(path)
    val in = f.open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def readOpt(path: Path): Option[String] =
    try Some(read(path)) catch { case _: FileNotFoundException => None }

  /** List directory, sorted by name; empty if the directory is missing. */
  def list(dir: Path): Seq[FileStatus] = {
    val f = fs(dir)
    try f.listStatus(dir).sortBy(_.getPath.getName).toSeq
    catch { case _: FileNotFoundException => Nil }
  }

  /** Entries of `dir` whose name sorts >= `startName`, ascending — the
    * object-store "list with start marker" shape (reference concept:
    * LogStore.listFrom). Filesystems without server-side markers filter
    * a full listing; an object-store LogStore overrides this with a
    * marker-anchored LIST so refreshing a cached snapshot costs
    * O(new commits), not O(log history). */
  def listFrom(dir: Path, startName: String): Seq[FileStatus] =
    list(dir).dropWhile(_.getPath.getName < startName)

  def exists(path: Path): Boolean = fs(path).exists(path)

  def delete(path: Path): Boolean = fs(path).delete(path, false)

  /** Recursive delete — for log entries that are DIRECTORIES (graft
    * checkpoints are Spark-written parquet dirs; a non-recursive delete
    * throws "Directory is not empty" on HDFS/local and would abort a
    * cleanup sweep half-done). */
  def deleteRecursive(path: Path): Boolean = fs(path).delete(path, true)

  def mkdirs(path: Path): Boolean = fs(path).mkdirs(path)
}

object LogStore {
  /** Pluggable store implementation: `spark.graft.logStore.impl` names a
    * LogStore subclass with a (Configuration) constructor — e.g.
    * [[graft.log.ExternalLogStore]] for object stores without native
    * put-if-absent. Default: filesystem-atomic [[LogStore]]. */
  def create(spark: org.apache.spark.sql.SparkSession): LogStore = {
    val conf = spark.sessionState.newHadoopConf()
    spark.conf.getOption("spark.graft.logStore.impl") match {
      case Some(cls) =>
        Class.forName(cls).getConstructor(classOf[Configuration])
          .newInstance(conf).asInstanceOf[LogStore]
      case None => new LogStore(conf)
    }
  }
}

object FileNames {
  def deltaFile(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.json")
  def checkpointFile(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.checkpoint.parquet")
  def lastCheckpointFile(logPath: Path): Path =
    new Path(logPath, "_last_checkpoint")
  def checksumFile(logPath: Path, version: Long): Path =
    new Path(logPath, f"$version%020d.crc")
  def sidecarDir(logPath: Path, version: Long): Path =
    new Path(new Path(logPath, "_sidecars"), f"$version%020d-${java.util.UUID.randomUUID}")

  private val deltaRe = """(\d{20})\.json""".r
  private val checkpointRe = """(\d{20})\.checkpoint\.parquet""".r
  private val checksumRe = """(\d{20})\.crc""".r

  def deltaVersion(name: String): Option[Long] = name match {
    case deltaRe(v) => Some(v.toLong)
    case _ => None
  }
  def checkpointVersion(name: String): Option[Long] = name match {
    case checkpointRe(v) => Some(v.toLong)
    case _ => None
  }
  def checksumVersion(name: String): Option[Long] = name match {
    case checksumRe(v) => Some(v.toLong)
    case _ => None
  }
}
