package graft.sources

import java.io.InputStream
import java.nio.ByteBuffer
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** A9 — Avro source + sink over the container-format jars Spark ships
  * (org.apache.avro; the spark-avro connector module is NOT on this
  * classpath, so the format is wired up from scratch as a
  * [[PerFileFormat]]): `spark.read.format("graft.sources.AvroV2").load(dir)`
  * and [[AvroV2.write]].
  *
  * Scale shape: one `InputPartition` per .avro file — container files
  * carry sync markers and could split further, but the written layout
  * is one file per upstream task, so file granularity already recovers
  * the writer's parallelism (the same argument A8 makes for zip
  * workbooks). Column pruning is pushed into the scan: a two-column
  * projection DESERIALIZES every record (Avro is row-major — the codec
  * must walk each datum) but only CONVERTS the required fields to
  * Catalyst values.
  *
  * Type surface: the flat relational set both engines of this repo
  * exchange — boolean/int/long/float/double/string/bytes, plus the
  * `date` (int-days) and `timestamp-micros` (long-µs) logical types,
  * whose Avro wire values are EXACTLY Catalyst's internal encodings,
  * so conversion is a no-op on the hot path. Nullability is the
  * standard `union(null, T)`. Nested records/arrays/maps are rejected
  * fast with a clear message — flatten before export (the B1 rename /
  * D45 collection ops exist for exactly that).
  */
class AvroV2 extends PerFileFormat {
  override protected def label: String = "avro"
  override protected def suffix: String = ".avro"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroV2.schemaFor(options.get("path"))

  override protected def scanBuilder(full: StructType, path: String,
                                     options: JMap[String, String]): ScanBuilder =
    new AvroV2.AvroScanBuilder(full, path)
}

object AvroV2 {

  // ---- schema mapping (both directions share one supported set) ----

  private def fromAvroField(f: Schema.Field): StructField = {
    val (s, nullable) = f.schema().getType match {
      case Schema.Type.UNION =>
        val branches = f.schema().getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(branches.size == 1,
          s"avro field ${f.name()}: only union(null, T) is supported")
        (branches.head, true)
      case _ => (f.schema(), false)
    }
    val dt = (s.getType, Option(s.getLogicalType).map(_.getName)) match {
      case (Schema.Type.INT, Some("date")) => DateType
      case (Schema.Type.LONG, Some("timestamp-micros")) => TimestampType
      case (Schema.Type.BOOLEAN, _) => BooleanType
      case (Schema.Type.INT, _) => IntegerType
      case (Schema.Type.LONG, _) => LongType
      case (Schema.Type.FLOAT, _) => FloatType
      case (Schema.Type.DOUBLE, _) => DoubleType
      case (Schema.Type.STRING, _) => StringType
      case (Schema.Type.BYTES, _) => BinaryType
      case (t, _) => throw new IllegalArgumentException(
        s"avro field ${f.name()}: unsupported type $t — flatten nested " +
          "structures before export (graft reads flat relational avro only)")
    }
    StructField(f.name(), dt, nullable)
  }

  private[sources] def toAvroSchema(schema: StructType, name: String): Schema = {
    val fields = schema.fields.map { f =>
      val base = f.dataType match {
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case IntegerType => Schema.create(Schema.Type.INT)
        case LongType => Schema.create(Schema.Type.LONG)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case StringType => Schema.create(Schema.Type.STRING)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case DateType =>
          LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case TimestampType =>
          LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
        case dt => throw new IllegalArgumentException(
          s"column ${f.name}: $dt has no flat avro mapping — flatten first")
      }
      val s = if (f.nullable)
        Schema.createUnion(Schema.create(Schema.Type.NULL), base)
      else base
      new Schema.Field(f.name, s, null, null)
    }
    Schema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  def schemaFor(pathGlob: String): StructType = {
    val avro = PerFileFormat.readFirst(pathGlob, ".avro") { (_, in) =>
      new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]()).getSchema
    }
    StructType(avro.getFields.asScala.map(fromAvroField).toArray)
  }

  // ---- sink: one .avro container file per upstream partition ----

  /** Writes `df` as .avro part files under `dir` (deflate codec, JDK
    * built-in). Runs as a NARROW job — each task serializes its own
    * partition through a Hadoop stream, no shuffle, no driver
    * collection; writer parallelism = df's partitioning. */
  def write(df: DataFrame, dir: String): Unit = {
    val schema = df.schema
    val avroJson = toAvroSchema(schema, "graft_export").toString
    val conf = new SerializableConfiguration(PerFileFormat.hadoopConf(df.sparkSession))
    val p0 = new Path(dir)
    p0.getFileSystem(conf.value).mkdirs(p0)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val avro = new Schema.Parser().parse(avroJson)
        val part = TaskContext.getPartitionId()
        val path = new Path(dir, f"part-$part%05d.avro")
        val out = path.getFileSystem(conf.value).create(path, true)
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
        w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
        w.create(avro, out)
        try rows.foreach { row =>
          val rec = new GenericData.Record(avro)
          var i = 0
          while (i < schema.length) {
            val v =
              if (row.isNullAt(i)) null
              else schema(i).dataType match {
                case BinaryType => ByteBuffer.wrap(row.getAs[Array[Byte]](i))
                case DateType => Int.box(
                  org.apache.spark.sql.catalyst.util.DateTimeUtils
                    .fromJavaDate(row.getDate(i)))
                case TimestampType => Long.box(
                  org.apache.spark.sql.catalyst.util.DateTimeUtils
                    .fromJavaTimestamp(row.getTimestamp(i)))
                case _ => row.get(i).asInstanceOf[AnyRef]
              }
            rec.put(i, v)
            i += 1
          }
          w.append(rec)
        } finally w.close()
      }
    }
  }

  // ---- scan: the PerFileFormat shape plus filter/aggregate pushdown ----

  /** I27 — DSv2 AGGREGATE pushdown (SupportsPushDownAggregates): a
    * no-group-by COUNT(*) / MIN / MAX over this source never ships
    * rows to Spark at all — each file's reader streams its records
    * once and emits ONE partial-aggregate row, and Spark's planner
    * (V2ScanRelationPushDown) folds the partials with a final
    * sum/min/max. This is PARTIAL pushdown by contract
    * (supportCompletePushDown stays false): with one partition per
    * file the merge must stay with Spark, and correctness never
    * depends on file count. Anything outside the supported shape —
    * group-bys, SUM/AVG, nested or non-orderable columns — returns
    * false and Spark falls back to the ordinary scan, so pushdown is
    * an optimization, never a semantics change. Min/max skip nulls
    * (SQL semantics); an empty file still emits its count=0 partial.
    *
    * I29 — DSv2 FILTER pushdown (SupportsPushDownFilters), completing
    * the scan-feature triple (columns A9, aggregates I27, statistics
    * I28): simple comparisons on top-level orderable columns are
    * accepted into the reader, which skips non-matching records
    * BEFORE any Catalyst conversion — and, critically, before the I27
    * aggregate fold (Spark only pushes an aggregate when every filter
    * was fully pushed, so a reader that ignored its filters would
    * silently aggregate the whole file — both reader types share one
    * evaluator). Anything else (dates — their DSv1 literal encoding
    * varies with the session's Java-time flag; nested fields; string
    * contains; OR trees) is REJECTED back to Spark as residual: the
    * safe direction, pushdown stays an optimization. Filter columns
    * resolve against the FILE schema independently of column pruning
    * (a filter column need not survive the projection). */
  private class AvroScanBuilder(full: StructType, path: String)
      extends PerFileFormat.PrunedScanBuilder(full)
      with SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
    private var aggs: Seq[PushedAgg] = Nil
    private var pushed: Array[org.apache.spark.sql.sources.Filter] =
      Array.empty

    override def pushFilters(
        filters: Array[org.apache.spark.sql.sources.Filter])
        : Array[org.apache.spark.sql.sources.Filter] = {
      val (ok, residual) = filters.partition(FilterEval.supported(_, full))
      pushed = ok
      residual
    }
    override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
      pushed

    override def pushAggregation(aggregation: Aggregation): Boolean = {
      if (aggregation.groupByExpressions.nonEmpty) return false
      val resolved: Seq[Option[PushedAgg]] =
        aggregation.aggregateExpressions.toSeq.map {
          case _: CountStar => Some(AggCountStar)
          case m: Min => orderableField(m.column).map(AggMin)
          case m: Max => orderableField(m.column).map(AggMax)
          case _ => None
        }
      if (resolved.contains(None) || resolved.isEmpty) false
      else { aggs = resolved.flatten; true }
    }

    private def orderableField(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        full.fields.find(_.name == nr.fieldNames.head).filter(_.dataType match {
          case IntegerType | LongType | FloatType | DoubleType
               | StringType | DateType | TimestampType => true
          case _ => false
        })
      case _ => None
    }

    override def build(): Scan =
      if (aggs.nonEmpty) new AvroAggScan(aggs, path, pushed)
      else new AvroScan(required, path, pushed)
  }

  /** Shared executor-side evaluator for the I29 pushed filters: values
    * read straight off the GenericRecord by file-schema position (so a
    * filter column need not be in the pruned projection), Utf8
    * normalized to String, comparisons by the column's natural order. */
  private[sources] object FilterEval {
    import org.apache.spark.sql.sources._

    def supported(f: Filter, schema: StructType): Boolean = f match {
      case EqualTo(a, v) => ok(a, v, schema)
      case GreaterThan(a, v) => ok(a, v, schema)
      case GreaterThanOrEqual(a, v) => ok(a, v, schema)
      case LessThan(a, v) => ok(a, v, schema)
      case LessThanOrEqual(a, v) => ok(a, v, schema)
      case IsNotNull(a) => plain(a, schema)
      case IsNull(a) => plain(a, schema)
      case _ => false
    }
    private def plain(a: String, schema: StructType): Boolean =
      schema.fields.exists(f => f.name == a && (f.dataType match {
        case IntegerType | LongType | FloatType | DoubleType
             | StringType => true
        case _ => false
      }))
    private def ok(a: String, v: Any, schema: StructType): Boolean =
      plain(a, schema) && (v match {
        case _: Int | _: Long | _: Float | _: Double | _: String => true
        case _ => false
      })

    private def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
      case (null, _) => None
      case (i: Int, j: Int) => Some(java.lang.Integer.compare(i, j))
      case (i: Long, j: Long) => Some(java.lang.Long.compare(i, j))
      case (i: Float, j: Float) => Some(java.lang.Float.compare(i, j))
      case (i: Double, j: Double) => Some(java.lang.Double.compare(i, j))
      case (i: org.apache.avro.util.Utf8, j: String) =>
        Some(i.toString.compareTo(j))
      case (i: String, j: String) => Some(i.compareTo(j))
      case other => sys.error(s"unsupported pushed comparison: $other")
    }

    /** All of `filters` as one record predicate. Filter columns
      * resolve against the file's schema, independently of column
      * pruning (a filter column need not survive the projection). */
    def matcher(filters: Array[Filter], schema: Schema): GenericRecord => Boolean = {
      val pos = filters.flatMap(_.references).distinct
        .map(c => c -> schema.getField(c).pos()).toMap
      rec => filters.forall(eval(_, c => rec.get(pos(c))))
    }

    def eval(f: Filter, get: String => AnyRef): Boolean = f match {
      case EqualTo(a, v) => cmp(get(a), v).contains(0)
      case GreaterThan(a, v) => cmp(get(a), v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(get(a), v).exists(_ >= 0)
      case LessThan(a, v) => cmp(get(a), v).exists(_ < 0)
      case LessThanOrEqual(a, v) => cmp(get(a), v).exists(_ <= 0)
      case IsNotNull(a) => get(a) != null
      case IsNull(a) => get(a) == null
      case other => sys.error(s"unpushable filter reached eval: $other")
    }
  }

  private[sources] sealed trait PushedAgg
  private[sources] case object AggCountStar extends PushedAgg
  private[sources] case class AggMin(f: StructField) extends PushedAgg
  private[sources] case class AggMax(f: StructField) extends PushedAgg

  private def aggSchema(aggs: Seq[PushedAgg]): StructType = StructType(aggs.map {
    case AggCountStar => StructField("count_star", LongType, nullable = false)
    case AggMin(f) => StructField(s"min_${f.name}", f.dataType)
    case AggMax(f) => StructField(s"max_${f.name}", f.dataType)
  })

  private class AvroAggScan(aggs: Seq[PushedAgg], path: String,
                            filters: Array[org.apache.spark.sql.sources.Filter])
      extends PerFileFormat.FileScan(path, ".avro", aggSchema(aggs),
        new AggDecoder(aggs, filters)) {
    override def description(): String = "AvroAggScan pushed=[" + aggs.map {
      case AggCountStar => "count(*)"
      case AggMin(f) => s"min(${f.name})"
      case AggMax(f) => s"max(${f.name})"
    }.mkString(", ") + "] PushedFilters=[" + filters.mkString(", ") + "]"
  }

  /** One file → one partial-aggregate row, in one streaming pass. */
  private class AggDecoder(aggs: Seq[PushedAgg],
                           filters: Array[org.apache.spark.sql.sources.Filter])
      extends PerFileFormat.Decoder {
    override def rows(file: String, in: InputStream): Iterator[InternalRow] =
      Iterator.fill(1)(fold(in))

    private def fold(in: InputStream): InternalRow = {
      val stream = new DataFileStream[GenericRecord](
        in, new GenericDatumReader[GenericRecord]())
      val pos = aggs.map {
        case AggCountStar => -1
        case AggMin(f) => stream.getSchema.getField(f.name).pos()
        case AggMax(f) => stream.getSchema.getField(f.name).pos()
      }
      var count = 0L
      val acc = Array.fill[Any](aggs.length)(null)
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Int, y: Int) => x < y
        case (x: Long, y: Long) => x < y
        case (x: Float, y: Float) => x < y
        case (x: Double, y: Double) => x < y
        case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
        case _ => sys.error(s"unorderable partial: $a vs $b")
      }
      val keep = FilterEval.matcher(filters, stream.getSchema)
      while (stream.hasNext) {
        val rec = stream.next()
        if (keep(rec)) {
          count += 1L
          aggs.indices.foreach { i =>
            aggs(i) match {
              case AggCountStar => ()
              case AggMin(_) =>
                val v = convert(rec.get(pos(i)))
                if (v != null && (acc(i) == null || lt(v, acc(i)))) acc(i) = v
              case AggMax(_) =>
                val v = convert(rec.get(pos(i)))
                if (v != null && (acc(i) == null || lt(acc(i), v))) acc(i) = v
            }
          }
        }
      }
      InternalRow.fromSeq(aggs.indices.map(i => aggs(i) match {
        case AggCountStar => count
        case _ => acc(i)
      }))
    }
  }

  /** Avro datum → Catalyst value. */
  private def convert(v: AnyRef): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => UTF8String.fromString(u.toString)
    case s: String => UTF8String.fromString(s)
    case b: ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case other => other // int/long/float/double/boolean — and the
    // date / timestamp-micros wire values ARE Catalyst's encodings
  }

  /** I28 — DSv2 statistics reporting (SupportsReportStatistics): the
    * scan tells Catalyst its on-disk byte size, so a SMALL Avro table
    * joins by BROADCAST instead of the sort-merge that the DSv2
    * default (sizeInBytes = spark.sql.defaultSizeInBytes ≈ ∞ when
    * unknown) forces. Size is the summed file lengths scaled by a
    * conservative 4× deserialization factor (Avro binary is compact;
    * Catalyst rows are wider — UNDER-reporting is the dangerous
    * direction because it can broadcast something huge, so the factor
    * errs large and a borderline table stays on the safe SMJ path).
    * Row count is left unknown: a wrong numRows poisons downstream
    * cardinality estimates, absent is strictly better. */
  private class AvroScan(required: StructType, path: String,
                         filters: Array[org.apache.spark.sql.sources.Filter])
      extends PerFileFormat.FileScan(path, ".avro", required, new RowDecoder(required, filters))
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def description(): String =
      "AvroScan PushedFilters=[" + filters.mkString(", ") + "]"
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(4L * files.map(_.getLen).sum)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
  }

  /** One file → the records passing the pushed filters, as rows of the
    * pruned schema; field positions resolve against the FILE's schema
    * by name. */
  private class RowDecoder(required: StructType,
                                    filters: Array[org.apache.spark.sql.sources.Filter])
      extends PerFileFormat.Decoder {
    override def rows(file: String, in: InputStream): Iterator[InternalRow] = {
      val stream =
        new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      val srcIdx = required.fields.map(f => stream.getSchema.getField(f.name).pos())
      val keep = FilterEval.matcher(filters, stream.getSchema)
      stream.iterator().asScala.filter(keep).map(rec =>
        InternalRow.fromSeq(srcIdx.toSeq.map(i => convert(rec.get(i)))))
    }
  }
}
