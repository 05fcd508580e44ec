package graft.streaming

import java.util.{Map => JMap, Set => JSet}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{AtomicMart, MartCdf}

/** F40 — the B40 change feed as a REAL structured-streaming source:
  * `spark.readStream.format("graft.streaming.MartCdfSource")
  *   .option("path", table).load()` — Delta-source semantic parity
  * (VERDICT r11 #7) with Spark's own checkpoint as the offset store.
  *
  * OFFSETS-ONLY planning: the feed is DERIVED (manifest diff + keyed
  * EXCEPT-ALL), so pushing its rows through a PartitionReader would
  * force the whole derivation through driver-side row
  * materialization. Instead each micro-batch
  * delivers ONE TICKET row `(from_version, to_version)` — manifest
  * versions ARE the offset sequence, totally ordered and durable — and
  * the consumer derives the actual changes inside `foreachBatch` via
  * [[changesFor]], which keeps the diff a distributed DataFrame plan
  * end-to-end:
  *
  * {{{
  * spark.readStream.format("graft.streaming.MartCdfSource")
  *   .option("path", table).load()
  *   .writeStream.option("checkpointLocation", cp)
  *   .foreachBatch { (tickets: DataFrame, _: Long) =>
  *     MartCdfSource.changesFor(tickets, table, keyCols)
  *       .foreach(ch => deliver(ch))  // a DataFrame, never rows
  *   }.trigger(Trigger.AvailableNow()).start()
  * }}}
  *
  * Exactly-once shape: Spark's checkpoint records the version range of
  * every batch BEFORE foreachBatch runs and replays the identical
  * range after a crash (same contract as B41's bookmark, now held by
  * the engine) — at-least-once delivery composing to exactly-once with
  * any sink idempotent on `to_version` (publishEpoch, the F35
  * pattern). First batch ever starts at the sentinel -1: the ticket
  * `(-1, head)` means "initial snapshot at head" (Delta's
  * initial-snapshot contract), which [[changesFor]] honors by reading
  * the PINNED head version as `insert` rows.
  *
  * Admission control: implements SupportsTriggerAvailableNow —
  * `Trigger.AvailableNow` pins the head at prepare time, drains to
  * exactly that version, then stops; a continuous trigger just keeps
  * following `currentVersion`. A no-op range plans ZERO ticket rows.
  */
class MartCdfSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MartCdfSource.TicketSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new MartCdfSource.CdfTable(properties.get("path"),
      // option keys may arrive original-case or lowered depending on
      // which map the session hands a TableProvider — accept both
      Option(properties.get("maxVersionsPerTrigger"))
        .orElse(Option(properties.get("maxversionspertrigger"))).map(_.toLong))
}

object MartCdfSource {

  /** One micro-batch's ticket: the half-open manifest-version range
    * (from_version, to_version] it is responsible for; from_version =
    * -1 is the initial-snapshot sentinel. */
  val TicketSchema: StructType = StructType(Seq(
    StructField("from_version", LongType, nullable = false),
    StructField("to_version", LongType, nullable = false)))

  /** Resolve a ticket batch to the actual change rows — a distributed
    * DataFrame per ticket (normally one per batch). Empty batch (a
    * no-op trigger) → None. */
  def changesFor(tickets: DataFrame, tablePath: String,
                 keyCols: Seq[String] = Nil): Option[DataFrame] =
    changesIn(tickets.sparkSession, tablePath, ranges(tickets), keyCols)

  // ticket rows: one per batch, never data-sized
  private def ranges(tickets: DataFrame): Seq[(Long, Long)] =
    tickets.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def changesIn(spark: SparkSession, tablePath: String,
                        ranges: Seq[(Long, Long)], keyCols: Seq[String]): Option[DataFrame] =
    ranges.map { case (from, to) =>
      if (from < 0L)
        AtomicMart.readVersion(spark, tablePath, to)
          .withColumn(MartCdf.ChangeType, lit("insert"))
      else MartCdf.readChanges(spark, tablePath, from, to, keyCols)
    }.reduceOption(_.unionByName(_))

  /** CDC MIRROR, the `foreachBatch` body over this source's tickets:
    * fold the feed into a downstream AtomicMart at `replicaPath` so the
    * replica converges to the source head — the CDC-mirror job every
    * reporting stack runs, expressed as feed → op-log →
    * partition-pruned MERGE (B33). Per batch:
    *
    *  - a replica with no version yet: the batch's rows (the initial
    *    snapshot) are published whole;
    *  - otherwise `update_preimage` rows drop, the rest map to I/U/D
    *    ops at lsn = the batch's `to_version`, and
    *    [[graft.etl.MartMerge]] rewrites only the partitions the batch
    *    touches — the replica pays for the delta, never the table.
    *
    * Exactly-once WITHOUT a transactional sink: Spark replays a killed
    * batch with the same range, which re-applies the same ops onto the
    * already-merged state, and the B23 fold is idempotent for them (D
    * of an absent key is a no-op, I/U at the same lsn re-produce the
    * same row). ParitySpec F39 pins kill-and-replay and replica ≡ head.
    *
    * Contract (inherited from B33): `key` single-column, partition
    * values stable per key. */
  def mirror(tickets: DataFrame, tablePath: String, replicaPath: String,
             partCols: Seq[String], key: String = "k"): Unit = {
    val spark = tickets.sparkSession
    val rs = ranges(tickets)
    changesIn(spark, tablePath, rs, Seq(key)).foreach { changes =>
      val ct = col(MartCdf.ChangeType)
      if (AtomicMart.currentVersion(spark, replicaPath).isEmpty)
        AtomicMart.publish(changes.drop(MartCdf.ChangeType), replicaPath, partCols)
      else {
        val payload = changes.columns
          .filterNot(c => c == MartCdf.ChangeType || c == key).toSeq
        val ops = changes.filter(ct =!= "update_preimage")
          .withColumn("op",
            when(ct === "delete", "D").when(ct === "insert", "I").otherwise("U"))
          .withColumn("lsn", lit(rs.map(_._2).max))
          .select((col(key) +: col("lsn") +: col("op") +: payload.map(col)): _*)
        graft.etl.MartMerge.merge(spark, replicaPath, ops, partCols, key)
      }
    }
  }

  private def head(tablePath: String): Long =
    AtomicMart.currentVersion(SparkSession.active, tablePath).getOrElse(-1L)

  private[streaming] class VOffset(val v: Long) extends Offset {
    override def json(): String = v.toString
  }

  private[streaming] class CdfTable(path: String, maxVersions: Option[Long])
      extends Table with SupportsRead {
    require(path != null, "option 'path' (the AtomicMart table root) is required")
    require(maxVersions.forall(_ > 0), "maxVersionsPerTrigger must be positive")
    override def name(): String = s"graft-mart-cdf:$path"
    override def schema(): StructType = TicketSchema
    override def capabilities(): JSet[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan {
          override def readSchema(): StructType = TicketSchema
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new CdfMicroBatchStream(path, maxVersions)
        }
      }
  }

  private[streaming] class CdfMicroBatchStream(path: String, maxVersions: Option[Long])
      extends MicroBatchStream with SupportsAdmissionControl
      with SupportsTriggerAvailableNow {

    // AvailableNow pins the drain target at prepare time: commits
    // landing mid-drain belong to the NEXT run (Spark's own semantic)
    @volatile private var availableNowCap: Option[Long] = None

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCap = Some(head(path))

    override def reportLatestOffset(): Offset =
      new VOffset(availableNowCap.getOrElse(head(path)))

    // Rate-limited admission (VERDICT r12 #7 — Delta's
    // maxFilesPerTrigger analog at this source's granularity): the
    // admission unit is the MANIFEST VERSION, so a backfill over many
    // retained versions drains in bounded (from, from+N] tickets
    // instead of one giant range. Expressed through Spark's ReadLimit
    // so AvailableNow still composes: the cap is pinned at prepare
    // time, each micro-batch advances at most N versions toward it,
    // and the query stops once the cap is reached. From the initial
    // sentinel -1 the first batch is the snapshot pinned at version
    // (-1 + N) — bounded like every later batch, exactly Delta's
    // limited-initial-snapshot shape.
    override def getDefaultReadLimit: ReadLimit =
      maxVersions.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val cap = availableNowCap.getOrElse(head(path))
      val from = start.asInstanceOf[VOffset].v
      val to = limit match {
        case r: ReadMaxRows => math.min(cap, from + r.maxRows())
        // ADVICE r13: Spark composes admission limits (e.g. Trigger
        // AvailableNow wraps the source's own limit) into a
        // CompositeReadLimit — treating it as allAvailable would
        // silently drop the maxVersionsPerTrigger pacing. Extract the
        // inner ReadMaxRows; for any other unrecognized limit shape,
        // fall back to the CONFIGURED cap rather than the full head.
        case c: CompositeReadLimit =>
          c.getReadLimits.collectFirst { case r: ReadMaxRows => r.maxRows() }
            .orElse(maxVersions)
            .map(n => math.min(cap, from + n)).getOrElse(cap)
        case _: ReadAllAvailable => cap
        case _ =>
          maxVersions.map(n => math.min(cap, from + n)).getOrElse(cap)
      }
      new VOffset(math.max(to, from)) // never regress below the start
    }

    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

    override def initialOffset(): Offset = new VOffset(-1L)

    override def deserializeOffset(json: String): Offset =
      new VOffset(json.toLong)

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val from = start.asInstanceOf[VOffset].v
      val to = end.asInstanceOf[VOffset].v
      if (to <= from && !(from == -1L && to >= 0L)) Array.empty
      else Array(TicketPartition(from, to))
    }

    override def createReaderFactory(): PartitionReaderFactory = new TicketReaderFactory

    override def commit(end: Offset): Unit = () // the checkpoint is the bookmark
    override def stop(): Unit = ()
  }

  private case class TicketPartition(from: Long, to: Long) extends InputPartition

  private class TicketReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val t = p.asInstanceOf[TicketPartition]
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = if (emitted) false else { emitted = true; true }
        override def get(): InternalRow =
          new GenericInternalRow(Array[Any](t.from, t.to))
        override def close(): Unit = ()
      }
    }
  }
}
