package graft.sources

import java.io.InputStream
import java.util.{Map => JMap, Set => JSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The DataSourceV2 scaffolding the hand-written file formats
  * ([[XlsxV2]], [[FixedWidth]], [[AvroV2]]) share, written once: a
  * `TableProvider` whose scan lists its glob once and plans ONE
  * `InputPartition` PER FILE (a daily-drop directory parallelizes
  * file-by-file; zip workbooks and container files are never split),
  * with COLUMN PRUNING pushed into the scan
  * (`SupportsPushDownRequiredColumns`).
  *
  * Every file is opened through the SESSION's Hadoop conf
  * ([[PerFileFormat.hadoopConf]]), shipped to executors in a
  * `SerializableConfiguration`: a conf built from scratch on an
  * executor loses the session's defaultFS, credentials and
  * `fs.<scheme>.impl` settings.
  *
  * A format supplies its file suffix, its schema and a
  * [[PerFileFormat.Decoder]] (one file → rows of the pruned schema);
  * a format with more pushdown builds its own scans on
  * [[PerFileFormat.FileScan]].
  */
abstract class PerFileFormat extends TableProvider {

  /** Table-name prefix, e.g. `xlsx`. */
  protected def label: String

  /** Name suffix of the files a glob contributes (`""`: every file). */
  protected def suffix: String

  /** The scan builder of the table at `path` whose schema is `full`;
    * [[PerFileFormat.prunedScan]] unless the format pushes down more. */
  protected def scanBuilder(full: StructType, path: String,
                            options: JMap[String, String]): ScanBuilder

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    new PerFileFormat.FileTable(s"$label:$path", schema,
      () => scanBuilder(schema, path, properties))
  }
}

object PerFileFormat {

  /** The session's Hadoop conf: the one source of filesystem settings
    * for listing, reading and writing. */
  def hadoopConf(spark: SparkSession = SparkSession.active): Configuration =
    spark.sessionState.newHadoopConf()

  /** The files a glob matches, sorted by path: a matched directory
    * contributes its files, and only names ending in `suffix` count. */
  def listFiles(pathGlob: String, conf: Configuration, suffix: String): Seq[FileStatus] = {
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(conf)
    Option(fs.globStatus(p)).getOrElse(Array.empty).toSeq
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(suffix))
      .sortBy(_.getPath.toString)
  }

  def open(file: String, conf: Configuration): FSDataInputStream = {
    val p = new Path(file)
    p.getFileSystem(conf).open(p)
  }

  /** `read` over the first file the glob matches (schema inference). */
  def readFirst[T](pathGlob: String, suffix: String)(read: (String, InputStream) => T): T = {
    val conf = hadoopConf()
    val files = listFiles(pathGlob, conf, suffix)
    require(files.nonEmpty, s"no $suffix files match $pathGlob")
    val file = files.head.getPath.toString
    val in = open(file, conf)
    try read(file, in) finally in.close()
  }

  /** One file → rows of the scan's read schema. Built on the driver and
    * run on executors; the reader closes `in` when the task is done. */
  trait Decoder extends Serializable {
    def rows(file: String, in: InputStream): Iterator[InternalRow]
  }

  /** A builder that prunes to the required columns and decodes each
    * file with `decoder(required)`. */
  def prunedScan(path: String, suffix: String, full: StructType)
                (decoder: StructType => Decoder): ScanBuilder =
    new PrunedScanBuilder(full) {
      override def build(): Scan = new FileScan(path, suffix, required, decoder(required))
    }

  private[sources] class FileTable(name0: String, schema0: StructType,
                                   builder: () => ScanBuilder)
      extends Table with SupportsRead {
    override def name(): String = name0
    override def schema(): StructType = schema0
    override def capabilities(): JSet[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = builder()
  }

  private[sources] abstract class PrunedScanBuilder(full: StructType)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    protected var required: StructType = full
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
  }

  private[sources] class FileScan(path: String, suffix: String, schema0: StructType,
                                  decoder: Decoder)
      extends Scan with Batch {
    protected lazy val files: Seq[FileStatus] = listFiles(path, hadoopConf(), suffix)
    override def readSchema(): StructType = schema0
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      files.map(f => FilePartition(f.getPath.toString): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new FileReaderFactory(decoder, new SerializableConfiguration(hadoopConf()))
  }

  private case class FilePartition(file: String) extends InputPartition

  private class FileReaderFactory(decoder: Decoder, conf: SerializableConfiguration)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val file = p.asInstanceOf[FilePartition].file
      val in = open(file, conf.value)
      val rows = try decoder.rows(file, in) catch { case e: Throwable => in.close(); throw e }
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = rows.hasNext && { cur = rows.next(); true }
        override def get(): InternalRow = cur
        override def close(): Unit = in.close()
      }
    }
  }
}
