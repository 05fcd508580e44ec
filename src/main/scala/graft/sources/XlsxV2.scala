package graft.sources

import java.io.InputStream
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A8 — the dependency-free XLSX reader as a genuine DataSourceV2
  * format: `spark.read.format("graft.sources.XlsxV2").load(glob)`, the
  * one XLSX read path ([[XlsxSource.read]] is this call).
  * This is the remaining Spark integration surface after expressions,
  * aggregates, planner strategies and optimizer rules (I-section) —
  * a [[PerFileFormat]] with schema inference (header row of the first
  * workbook), one `InputPartition` PER FILE (a daily-drop directory
  * parallelizes across the cluster file-by-file, the right granularity
  * for zip-archived workbooks that cannot be split), and COLUMN
  * PRUNING pushed into the scan — a `select(two, cols)` materializes
  * only those fields per row.
  * Parsing itself is [[XlsxSource.parseWorkbook]] (JDK zip + StAX),
  * executor-side through Hadoop streams, so any FS Spark can reach
  * works. Appends `_source_file` (the workbook's path) for batch-date
  * extraction ([[DelimitedSource.batchIdFromFilename]]).
  */
class XlsxV2 extends PerFileFormat {
  override protected def label: String = "xlsx"
  override protected def suffix: String = ".xlsx"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XlsxV2.schemaFor(options.get("path"))

  override protected def scanBuilder(full: StructType, path: String,
                                     options: JMap[String, String]): ScanBuilder =
    PerFileFormat.prunedScan(path, suffix, full)(required =>
      new XlsxV2.XlsxDecoder(full.fieldNames, required.fieldNames))
}

object XlsxV2 {

  val SourceFileCol = "_source_file"

  def schemaFor(pathGlob: String): StructType = {
    val header = PerFileFormat.readFirst(pathGlob, ".xlsx") { (file, in) =>
      XlsxSource.parseWorkbook(in).headOption.getOrElse(throw new IllegalArgumentException(
        s"$file: the first sheet has no rows, so no header to name the columns"))
    }
    StructType(header.map(h =>
      StructField(Option(h).getOrElse(""), StringType, nullable = true)) :+
      StructField(SourceFileCol, StringType, nullable = false))
  }

  private class XlsxDecoder(fullNames: Array[String], requiredNames: Array[String])
      extends PerFileFormat.Decoder {
    override def rows(file: String, in: InputStream): Iterator[InternalRow] = {
      // data columns only — _source_file is synthesized, not parsed
      val width = fullNames.length - 1
      val idx = requiredNames.map {
        case SourceFileCol => -1
        case n => fullNames.indexOf(n)
      }
      val fileU = UTF8String.fromString(file)
      XlsxSource.parseWorkbook(in).iterator.drop(1).map { cells =>
        val dense = cells.take(width).padTo(width, null)
        InternalRow.fromSeq(idx.toSeq.map {
          case -1 => fileU
          case i if dense(i) != null => UTF8String.fromString(dense(i))
          case _ => null
        })
      }
    }
  }
}
