package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** XLSX ingestion (SURVEY.md §2 A6 — the reference's terminals and
  * passport-blacklist daily feeds are .xlsx: data_to_db.py:22-24
  * `xlsx_to_sql`, files `data/terminals_*.xlsx`).
  *
  * Zero added dependencies: an .xlsx is a ZIP of SpreadsheetML XML
  * parts, and the JDK ships both `java.util.zip` and a StAX pull
  * parser — so the workbook decode is self-contained here instead of
  * pulling Apache POI (which the zero-egress build cannot resolve).
  *
  * Scale posture: [[read]] is the [[XlsxV2]] DataSourceV2 format — one
  * task per workbook, the parse runs executor-side, and no shuffle
  * happens — a day's drop of N files scans with N-way parallelism,
  * exactly like the delimited sources.
  * XLSX is a driver-facing ingest format (dimension feeds, thousands of
  * rows each), not a fact-table format; the parsed frame lands in
  * staging parquet immediately (FraudEtlPipeline), so the XML cost is
  * paid once per drop.
  *
  * All cells surface as nullable strings (XLSX numbers are already
  * decimal text in the XML); callers cast into their staging schema the
  * same way DelimitedSource consumers do.
  */
object XlsxSource {

  /** "BC42" → 0-based column index of "BC" (A=0, Z=25, AA=26 …). */
  private[graft] def colIndex(cellRef: String): Int = {
    val letters = cellRef.takeWhile(c => c >= 'A' && c <= 'Z')
    letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1
  }

  private def staxFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f
  }

  /** Shared-string table: one entry per `<si>`, rich-text runs
    * concatenated (every `<t>` inside the `<si>`). */
  private[graft] def parseSharedStrings(xml: Array[Byte]): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = staxFactory().createXMLStreamReader(new ByteArrayInputStream(xml))
    var inSi = false
    var sb: StringBuilder = null
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb = new StringBuilder
            case "t" if inSi => sb.append(r.getElementText)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          out += sb.toString; inSi = false
        case _ =>
      }
    }
    r.close()
    out.toIndexedSeq
  }

  /** Worksheet rows as dense string vectors (sparse cells padded with
    * null). Cell types: `t="s"` shared string, `t="inlineStr"` inline
    * `<is><t>`, `t="b"` boolean 0/1, default = the raw `<v>` text. */
  private[graft] def parseSheet(xml: Array[Byte],
                                  shared: IndexedSeq[String]): Seq[Array[String]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = staxFactory().createXMLStreamReader(new ByteArrayInputStream(xml))
    var cellCol = -1
    var cellType: String = null
    var inIs = false
    val isSb = new StringBuilder
    def put(value: String): Unit = {
      while (cur.length <= cellCol) cur += null
      cur(cellCol) = value
    }
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => cur.clear()
            case "c" =>
              val ref = r.getAttributeValue(null, "r")
              cellCol = if (ref != null) colIndex(ref) else cur.length
              cellType = r.getAttributeValue(null, "t")
            case "is" => inIs = true; isSb.setLength(0)
            case "v" if cellCol >= 0 =>
              val raw = r.getElementText
              put(cellType match {
                case "s" => shared(raw.trim.toInt)
                case _ => raw
              })
            // inline strings may carry several rich-text runs
            // (<is><r><t>..</t></r><r><t>..</t></r></is>): accumulate
            // every run and assign the concatenation at </is>, exactly
            // like the shared-strings path.
            case "t" if inIs && cellCol >= 0 =>
              isSb.append(r.getElementText); ()
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "row" => rows += cur.toArray
            case "is" =>
              if (cellCol >= 0) put(isSb.toString)
              inIs = false
            case "c" => cellCol = -1; cellType = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.toSeq
  }

  /** One workbook (first worksheet) → rows of strings. Entry order in
    * the archive is not guaranteed, so both parts are buffered. */
  private[graft] def parseWorkbook(in: InputStream): Seq[Array[String]] = {
    val zin = new ZipInputStream(in)
    var sharedXml: Array[Byte] = null
    // sheet1.xml when present; otherwise the lexicographically-first
    // worksheet part (sheets deleted/reordered in the authoring tool can
    // leave a workbook whose only sheet is e.g. sheet3.xml).
    val sheetParts = scala.collection.mutable.TreeMap.empty[String, Array[Byte]]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        e.getName match {
          case "xl/sharedStrings.xml" => sharedXml = zin.readAllBytes()
          case n if n.startsWith("xl/worksheets/sheet") && n.endsWith(".xml") =>
            sheetParts(n) = zin.readAllBytes()
          case _ =>
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    val sheetXml = sheetParts.getOrElse("xl/worksheets/sheet1.xml",
      sheetParts.headOption.map(_._2).orNull)
    require(sheetXml != null, "no xl/worksheets/sheet*.xml in workbook")
    val shared =
      if (sharedXml == null) IndexedSeq.empty[String]
      else parseSharedStrings(sharedXml)
    parseSheet(sheetXml, shared)
  }

  /** Read a glob of .xlsx workbooks into one DataFrame of string
    * columns named by the (shared) header row of the first workbook,
    * plus `_source_file` for filename-derived batch ids (pairs with
    * [[DelimitedSource.batchIdFromFilename]]): the [[XlsxV2]] format. */
  def read(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format(classOf[XlsxV2].getName).load(pathGlob)
}
