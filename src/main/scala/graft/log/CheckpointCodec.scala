package graft.log

import java.io.OutputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/**
 * Checkpoint parquet (rows of [[SingleAction]]) read and written
 * in-process on the driver: Spark's own parquet row support, but no query
 * plan and no job (reference concept: the kernel's parquet handler, which
 * does checkpoint I/O without a query engine — re-designed over Spark's
 * ParquetWriteSupport and parquet reader).
 *
 * A write is one parquet FILE put through [[LogStore.writeOverwrite]], so
 * it appears whole under its name or not at all. A read takes checkpoint
 * entries in either layout: such a file, or a directory of part files
 * written by Spark (the distributed writer, older binaries).
 */
private[graft] object CheckpointCodec {
  private lazy val encoder = ExpressionEncoder[SingleAction]()
  /** The row codec, built once per thread: building one generates its
    * projection's code, and each holds buffers it reuses row to row. */
  private val toRow =
    ThreadLocal.withInitial[ExpressionEncoder.Serializer[SingleAction]](
      () => encoder.createSerializer())
  private val fromRow =
    ThreadLocal.withInitial[ExpressionEncoder.Deserializer[SingleAction]](
      () => encoder.resolveAndBind().createDeserializer())

  /** The schema checkpoints are read with: every column nullable, as
    * Spark reads files, so a column an older writer lacked reads as null.
    * Writes store the encoder's own schema, as a Spark write does. */
  lazy val schema: StructType = graft.schema.SchemaUtils.toNullable(encoder.schema)

  /** Write `rows` as one parquet file at `path`, configured as a Spark
    * write of them is (compression, timestamp type, footer schema). */
  def write(spark: SparkSession, store: LogStore, path: Path,
      rows: Iterator[SingleAction]): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, encoder.schema)
    val conf = job.getConfiguration
    val serialize = toRow.get
    store.writeOverwrite(path) { out =>
      val writer = new RowWriter(new StreamFile(out)).withConf(conf)
        .withCompressionCodec(
          CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION)))
        .build()
      try rows.foreach(r => writer.write(serialize(r)))
      finally writer.close()
    }
  }

  /** A reader of checkpoint entries: every call returns all rows of the
    * entries at its paths, in order. Spark's parquet reader is built on
    * first use and then reused — each build broadcasts the Hadoop
    * configuration, so a load or a write reads through one reader. */
  def reader(spark: SparkSession, store: LogStore): Seq[Path] => Seq[SingleAction] = {
    lazy val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, StructType(Nil), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    paths => {
      val deserialize = fromRow.get
      val out = Vector.newBuilder[SingleAction]
      files(store, paths).foreach { st =>
        val rows = readFile(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty,
          st.getModificationTime, st.getLen, Map.empty))
        try rows.foreach(r => out += deserialize(r))
        finally rows match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }
      out.result()
    }
  }

  /** Whether any row of the checkpoint entry at `path` carries a Metadata
    * action, answered from the parquet footers' null counts of
    * `metaData.id`: no rows are read and no reader is built. A column
    * chunk without a null count counts as holding one. */
  def holdsMetadata(spark: SparkSession, store: LogStore, path: Path): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    files(store, Seq(path)).exists { st =>
      val footer = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf).build())
      try footer.getFooter.getBlocks.asScala.exists(_.getColumns.asScala.exists { c =>
        val stats = c.getStatistics
        c.getPath.toDotString == "metaData.id" &&
          (stats == null || !stats.isNumNullsSet || stats.getNumNulls < c.getValueCount)
      })
      finally footer.close()
    }
  }

  /** The visible parquet files of the entries at `paths`: an entry that
    * is a file, else the part files of the directory. Hidden names
    * (`_SUCCESS`, `_temporary`, `.crc`) are skipped, as Spark skips them. */
  private def files(store: LogStore, paths: Seq[Path]): Seq[FileStatus] =
    paths.flatMap { path =>
      val fs = store.fs(path)
      val st = fs.getFileStatus(path)
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(path).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
    }

  private class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(
        conf: org.apache.hadoop.conf.Configuration) = new ParquetWriteSupport
  }

  /** A parquet output file over a stream the caller owns and closes. */
  private class StreamFile(out: OutputStream) extends OutputFile {
    private val stream = new PositionOutputStream {
      private var pos = 0L
      override def getPos: Long = pos
      override def write(b: Int): Unit = { out.write(b); pos += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); pos += len
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.flush()
    }
    override def create(blockSizeHint: Long): PositionOutputStream = stream
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = stream
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }
}
