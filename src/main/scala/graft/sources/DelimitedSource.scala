package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Delimited-text ingestion, the Spark-native analog of the reference's
  * `pd.read_csv(path, sep=';')` staging loads (data_to_db.py:16-18) plus
  * its filename conventions (tools.py:16-29, rep_fraud.py:8).
  *
  * Always takes an explicit schema: schema inference reads the data
  * twice, which is never acceptable at scale, and silently drifts.
  */
object DelimitedSource {

  final case class Csv(schema: StructType, sep: String = ";",
                       header: Boolean = true) {
    def load(spark: SparkSession, path: String): DataFrame =
      spark.read
        .option("sep", sep)
        .option("header", header.toString)
        .schema(schema)
        .csv(path)
  }

  final case class Json(schema: StructType) {
    def load(spark: SparkSession, path: String): DataFrame =
      spark.read.schema(schema).json(path)
  }

  /** A split load's two frames plus the cache-release handle: the good
    * and quarantine frames share one persisted parse, and a daily-loop
    * caller must `release()` after materializing both or it leaks one
    * cached RDD per batch for the life of the session. */
  final case class SplitLoad(good: DataFrame, quarantine: DataFrame,
                             release: () => Unit)

  /** A10 — JSONL with a corrupt-record QUARANTINE: real feeds carry
    * truncated lines, stray log text and schema drift; FAILFAST kills
    * the batch for one bad line (one straggler blocks the day) and
    * silent DROPMALFORMED destroys the evidence. PERMISSIVE decode
    * surfaces each undecodable line verbatim in `_corrupt_record`;
    * [[loadSplit]] returns (good rows, quarantine lines) from ONE
    * parsed frame so operators can land the quarantine next to the
    * data and replay it after a schema fix. The parsed frame is
    * persisted before splitting — Spark (correctly) refuses plans that
    * filter the internal corrupt column straight off the scan, because
    * pushdown could prune the very columns whose failed decode defines
    * corruption. */
  final case class JsonLines(schema: StructType) {
    private val Corrupt = "_corrupt_record"

    def loadSplit(spark: SparkSession, path: String): SplitLoad = {
      val parsed = spark.read
        .schema(schema.add(Corrupt, org.apache.spark.sql.types.StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", Corrupt)
        .json(path)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val good = parsed.filter(col(Corrupt).isNull)
        .select(schema.fieldNames.map(col).toSeq: _*)
      val quarantine = parsed.filter(col(Corrupt).isNotNull)
        .select(col(Corrupt).as("raw_line"))
      SplitLoad(good, quarantine, () => { parsed.unpersist(); () })
    }
  }

  final case class Orc() {
    def load(spark: SparkSession, path: String): DataFrame =
      spark.read.orc(path)
  }

  /** `transactions_01032021.txt` → `01032021` (tools.py:23). */
  def batchIdFromFilename(filename: String): Option[String] = {
    val stem = filename.split('/').last
    "_(\\d{8})\\.".r.findFirstMatchIn(stem).map(_.group(1))
  }

  /** `01032021` (DDMMYYYY) → `2021-03-01` (rep_fraud.py:8's re.sub). */
  def batchIdToDate(batchId: String): String =
    s"${batchId.substring(4, 8)}-${batchId.substring(2, 4)}-${batchId.substring(0, 2)}"

  /** Oldest data file in `dir` with the given extension — the
    * reference's daily-drop discovery (tools.py:16-29). Drops are
    * ordered by their parsed batch date, not by name: `DDMMYYYY` names
    * sort `01042021` before `31032021`, so a backlog crossing a month
    * would run out of order. A file without a batch id sorts by its
    * name. */
  def discoverBatch(dir: String, ext: String = ".txt"): Option[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) None
    else {
      import scala.jdk.CollectionConverters._
      // the listing holds a directory descriptor until closed
      Using.resource(Files.list(d)) { files =>
        files.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.endsWith(ext))
          .toSeq
          .sortBy(n => (batchIdFromFilename(n).fold(n)(batchIdToDate), n))
          .headOption
      }
    }
  }

  /** Consumed-file archival (data_to_db.py:118-119 `os.rename` to
    * `archive/<name>.backup`). */
  def archive(source: Path, archiveDir: Path): Path = {
    Files.createDirectories(archiveDir)
    val target = archiveDir.resolve(source.getFileName.toString + ".backup")
    Files.move(source, target, StandardCopyOption.REPLACE_EXISTING)
    target
  }
}
