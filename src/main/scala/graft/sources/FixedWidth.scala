package graft.sources

import java.io.InputStream
import java.util.{Map => JMap}

import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A9 — fixed-width (mainframe extract / COBOL copybook) source as a
  * from-scratch DataSourceV2:
  * `spark.read.format("graft.sources.FixedWidth")
  *   .option("fields", "acct:10:string,amt:9:cents,day:8:day")
  *   .load(glob)`.
  *
  * The field spec is a sequential copybook: `name:width:type`, widths
  * consumed left to right. Types:
  *  - `string` — right-trimmed text;
  *  - `long`   — left-zero-padded integer;
  *  - `cents`  — COBOL ZONED DECIMAL with trailing OVERPUNCH sign
  *    (PIC S9(n)V99): the last character encodes sign AND final digit
  *    ('{' = +0, 'A'..'I' = +1..9, '}' = −0, 'J'..'R' = −1..9), the
  *    wire format real bank drops still use — decoded to a signed
  *    cents BIGINT (the engine's money discipline, SURVEY §5);
  *  - `day`    — yyyyMMdd → epoch day BIGINT (proleptic, pure integer
  *    arithmetic — no timezone, no java.time, so every engine agrees).
  *
  * Blank lines are skipped; short lines are space-padded; a malformed
  * numeric fails LOUDLY with file/line context (a silent null in a
  * money column is how reconciliation breaks). A [[PerFileFormat]]:
  * one InputPartition per file (daily-drop directories parallelize
  * file-by-file), and column pruning is pushed into the scan: pruned
  * fields are never sliced or decoded. [[formatLines]] is the
  * inverse (DataFrame → padded records) used for round-trip tests and
  * outbound mainframe feeds. */
class FixedWidth extends PerFileFormat {
  override protected def label: String = "fixedwidth"
  override protected def suffix: String = ""

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidth.schemaFor(FixedWidth.parseSpec(options.get("fields")))

  override protected def scanBuilder(full: StructType, path: String,
                                     options: JMap[String, String]): ScanBuilder =
    PerFileFormat.prunedScan(path, suffix, full)(required =>
      new FixedWidth.FwDecoder(FixedWidth.parseSpec(options.get("fields")), required.fieldNames))
}

object FixedWidth {

  /** One copybook field: name, width, type ∈ {string, long, cents, day}. */
  case class Field(name: String, width: Int, kind: String, start: Int)

  def parseSpec(spec: String): Seq[Field] = {
    require(spec != null && spec.nonEmpty, "fields option is required")
    var off = 0
    spec.split(",").toSeq.map { part =>
      val Array(name, w, kind) = part.trim.split(":")
      require(Seq("string", "long", "cents", "day").contains(kind),
        s"unknown fixed-width type '$kind' in '$part'")
      val f = Field(name, w.toInt, kind, off)
      off += f.width
      f
    }
  }

  def schemaFor(fields: Seq[Field]): StructType =
    StructType(fields.map(f => StructField(f.name,
      if (f.kind == "string") StringType else LongType, nullable = true)))

  /** Trailing-overpunch zoned decimal → signed long. */
  private[sources] def decodeZoned(s: String, ctx: => String): Long = {
    val t = s.trim
    require(t.nonEmpty, s"empty zoned decimal at $ctx")
    val last = t.last
    val (sign, lastDigit) = last match {
      case '{' => (1L, 0L)
      case '}' => (-1L, 0L)
      case c if c >= 'A' && c <= 'I' => (1L, (c - 'A' + 1).toLong)
      case c if c >= 'J' && c <= 'R' => (-1L, (c - 'J' + 1).toLong)
      case c if c.isDigit => (1L, (c - '0').toLong)
      case c => throw new IllegalArgumentException(
        s"bad overpunch '$c' at $ctx")
    }
    val head = t.dropRight(1)
    require(head.forall(_.isDigit), s"bad zoned decimal '$t' at $ctx")
    val headV = if (head.isEmpty) 0L else head.toLong
    sign * (headV * 10L + lastDigit)
  }

  /** yyyyMMdd → epoch day, pure proleptic-Gregorian integer math
    * (no java.time: both the reader and any oracle can replay it). */
  private[sources] def yyyymmddToEpochDay(s: String, ctx: => String): Long = {
    val t = s.trim
    require(t.length == 8 && t.forall(_.isDigit), s"bad yyyyMMdd '$s' at $ctx")
    val y = t.substring(0, 4).toLong
    val m = t.substring(4, 6).toLong
    val d = t.substring(6, 8).toLong
    require(m >= 1 && m <= 12 && d >= 1 && d <= 31, s"bad date '$s' at $ctx")
    // Howard Hinnant's days_from_civil algorithm (public domain)
    val yy = if (m <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097 + doe - 719468
  }

  private class FwDecoder(fields: Seq[Field], requiredNames: Array[String])
      extends PerFileFormat.Decoder {
    override def rows(file: String, in: InputStream): Iterator[InternalRow] = {
      val recLen = fields.map(_.width).sum
      // pruning: only the REQUIRED fields are sliced and decoded
      val picked = requiredNames.map(n => fields.find(_.name == n).get)
      // lines stream: a multi-GB daily drop never materializes at once
      Source.fromInputStream(in, "UTF-8").getLines().zipWithIndex
        .filter(_._1.trim.nonEmpty)
        .map { case (line, i) =>
          val padded = if (line.length >= recLen) line
          else line + (" " * (recLen - line.length))
          def ctx = s"$file:${i + 1}"
          InternalRow.fromSeq(picked.toSeq.map { f =>
            val raw = padded.substring(f.start, f.start + f.width)
            f.kind match {
              case "string" =>
                val v = raw.replaceAll("\\s+$", "")
                if (v.isEmpty) null else UTF8String.fromString(v)
              case "long" =>
                val t = raw.trim
                require(t.nonEmpty && t.forall(_.isDigit),
                  s"bad long '$raw' at $ctx")
                t.toLong
              case "cents" => decodeZoned(raw, ctx)
              case "day" => yyyymmddToEpochDay(raw, ctx)
            }
          })
        }
    }
  }

  /** The inverse: format a DataFrame into padded fixed-width records
    * (one string column `line`) for outbound feeds and round-trip
    * tests. `cents` re-encodes the trailing overpunch; `day` emits
    * yyyyMMdd; numerics left-zero-pad; strings right-space-pad. A
    * value wider than its field is a loud error (truncating money or
    * account ids silently is how extracts go wrong). */
  def formatLines(df: DataFrame, spec: String): DataFrame = {
    val fields = parseSpec(spec)
    val parts: Seq[Column] = fields.map { f =>
      val c = col(f.name)
      val formatted = f.kind match {
        case "string" => rpad(coalesce(c.cast(StringType), lit("")),
          f.width, " ")
        case "long" => lpad(c.cast(StringType), f.width, "0")
        case "cents" =>
          // |v| → digits; last digit folds into the overpunch letter.
          // `div`, not `/`: Column `/` is IEEE double division, which
          // silently rounds head digits above 2^53 in wide money fields
          val a = abs(c)
          val head = lpad(expr(s"abs(`${f.name}`) div 10")
            .cast(StringType), f.width - 1, "0")
          val lastD = (a % 10L).cast("int")
          val over = when(c >= 0,
            element_at(lit("{ABCDEFGHI".split("").filter(_.nonEmpty)
              .map(_.toString)), lastD + 1))
            .otherwise(
              element_at(lit("}JKLMNOPQR".split("").filter(_.nonEmpty)
                .map(_.toString)), lastD + 1))
          concat(head, over)
        case "day" =>
          // epoch day → yyyyMMdd through Spark's date machinery; the
          // reader's integer decode inverts it exactly (both proleptic)
          date_format(date_add(lit(java.sql.Date.valueOf("1970-01-01")),
            c.cast("int")), "yyyyMMdd")
      }
      val guard = when(length(formatted) > f.width,
        raise_error(concat(lit(s"value too wide for ${f.name}: "), formatted)))
      coalesce(guard, formatted)
    }
    df.select(concat(parts: _*).as("line"))
  }
}
