package graft.etl

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.fraud.FraudRules
import graft.sources.DelimitedSource

/** Daily-batch orchestration — the engine's analog of the reference's
  * `main.py`: discover the day's file drop, stage the three feeds,
  * SCD2-merge the terminal snapshot, run the four fraud rules against
  * the day's transactions, publish the report mart, archive the consumed
  * files.
  *
  * Differences from the reference are deliberate Spark-first choices:
  * state (terminal history, mart) lives as parquet datasets, not mutable
  * sqlite tables; each run is a pure function of (yesterday's state,
  * today's files); XLSX feeds arrive as `;`-CSV (SURVEY.md §2 A6).
  */
object FraudEtlPipeline {

  final case class Layout(dropDir: String, archiveDir: String,
                          historyPath: String, martPath: String)

  val txnSchema: StructType = StructType(Seq(
    StructField("transaction_id", LongType),
    StructField("transaction_date", TimestampType),
    StructField("amount", DoubleType),
    StructField("card_num", LongType),
    StructField("oper_type", StringType),
    StructField("oper_result", StringType),
    StructField("terminal", StringType)))

  val blacklistSchema: StructType = StructType(Seq(
    StructField("date", StringType),
    StructField("passport", LongType)))

  val terminalSchema: StructType = StructType(Seq(
    StructField("terminal_id", StringType),
    StructField("terminal_type", StringType),
    StructField("terminal_city", StringType),
    StructField("terminal_address", StringType)))

  private val termAttrs = Seq("terminal_type", "terminal_city", "terminal_address")

  /** The terminal history as [[Scd2.init]] and [[Scd2.merge]] write it. */
  private val historySchema: StructType = terminalSchema.add("effective_from", StringType)
    .add("effective_to", StringType).add("deleted_flg", LongType)

  /** Crash-atomic mart sink (B27): the day's mart goes through
    * AtomicMart's stage + manifest-commit keyed (rule, batch_date), so
    * a replayed day REPLACES its own partitions (idempotent retry) and
    * a reader concurrent with the publish sees all-old or all-new. */
  val atomicPublish: (DataFrame, String, String) => Unit =
    (mart, path, batchDate) => graft.sources.AtomicMart.publishDay(
      mart.withColumn("batch_date", lit(batchDate)), path)

  /** One daily run. `clients` (c_custkey, fio, passport_num, phone,
    * segment, passport_valid_to) and `accounts` (client, valid_to) are the
    * pre-loaded dimensions main.py assumes are already in the DWH.
    * Returns the processed batch date, or None if no drop is present.
    *
    * `publish` is the mart sink, [[atomicPublish]] unless a caller
    * substitutes its own (tests inject a crashing one). Ordering is the
    * recovery contract: history write → mart publish → archive. A
    * crash anywhere leaves the drop files in place, so the rerun
    * replays the SAME batch: the SCD2 re-merge is a fixpoint (the
    * current view already equals the snapshot → zero detects) and the
    * atomic sink replaces the day's own partitions — the day converges
    * instead of double-applying. The day's transactions are cached for
    * the rules and released before the run returns, failed or not.
    *
    * The history is replaced by renames only: `<history>` → `.prev`,
    * `.next` → `<history>`, then `.prev` is deleted. Each run first
    * repairs an interrupted swap, so a crash at any point leaves a whole
    * history to merge into, never a half-deleted one or none at all. */
  def runDaily(spark: SparkSession, layout: Layout,
               clients: DataFrame, accounts: DataFrame,
               publish: (DataFrame, String, String) => Unit = atomicPublish): Option[String] = {
    val histDir = Paths.get(layout.historyPath)
    val prevDir = Paths.get(layout.historyPath + ".prev")
    if (Files.exists(prevDir)) {
      if (Files.exists(histDir)) deleteTree(prevDir) // crash before the delete
      else Files.move(prevDir, histDir) // crash between the two renames
    }
    DelimitedSource.discoverBatch(layout.dropDir, ".txt").map { txnFile =>
      val batchId = DelimitedSource.batchIdFromFilename(txnFile).getOrElse(
        throw new IllegalArgumentException(s"no batch id in $txnFile"))
      val batchDate = DelimitedSource.batchIdToDate(batchId)

      val txnPath = s"${layout.dropDir}/transactions_$batchId.txt"
      val blPath = s"${layout.dropDir}/passport_blacklist_$batchId.csv"
      val termPath = s"${layout.dropDir}/terminals_$batchId.csv"

      // --- stage the three feeds (data_to_db.py:91-141, 282-295)
      val txns = DelimitedSource.Csv(txnSchema).load(spark, txnPath)
      val blacklist = DelimitedSource.Csv(blacklistSchema).load(spark, blPath)
        .select(col("passport").as("c_custkey"))
      val terminals = DelimitedSource.Csv(terminalSchema).load(spark, termPath)

      // --- enrich transactions into the rule input shape, parsed once and
      // cached by user_id: the window rules shuffle nothing. The snapshot
      // is the merged history's current view (Scd2PropertySpec).
      val ruleTxns = txns
        .join(broadcast(terminals.select(col("terminal_id"),
          col("terminal_city").as("city"))),
          txns("terminal") === col("terminal_id"), "left")
        .select(
          col("transaction_id").as("event_id"),
          col("card_num").as("user_id"),
          unix_micros(col("transaction_date")).as("ts_us"),
          (round(col("amount") * 100)).cast(LongType).as("amt_cents"),
          col("oper_type").as("event_type"),
          col("oper_result"),
          col("city"))
        .repartition(col("user_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // --- SCD2 terminal history (data_to_db.py:282-292): land the new
      // version, then swap it in, on its own thread beside the parse
      val landed = Future {
        val history =
          if (Files.exists(histDir))
            Scd2.merge(spark.read.schema(historySchema).parquet(layout.historyPath),
              terminals, "terminal_id", termAttrs, batchDate)
          else Scd2.init(terminals, batchDate)
        val tmp = Paths.get(layout.historyPath + ".next")
        history.write.mode("overwrite").parquet(tmp.toString)
        if (Files.exists(histDir)) Files.move(histDir, prevDir)
        Files.move(tmp, histDir)
        deleteTree(prevDir)
      }(ExecutionContext.fromExecutor(new Thread(_).start()))

      // --- the four rules (rep_fraud.py) + mart publish (REP_FRAUD),
      // after the swap; each rule in one task, so one file per rule
      try {
        Bridge.fillCache(ruleTxns)
        Await.result(landed, Duration.Inf)
        val in = FraudRules.Inputs(ruleTxns, clients, blacklist, accounts, batchDate)
        publish(FraudRules.mart(FraudRules.rules.values.toSeq
          .map(_(in, FraudRules.Daily).coalesce(1))), layout.martPath, batchDate)
      } finally {
        ruleTxns.unpersist(false)
        Await.ready(landed, Duration.Inf)
      }

      // --- archive the consumed drop (data_to_db.py:118-119)
      Seq(txnPath, blPath, termPath).foreach { p =>
        DelimitedSource.archive(Paths.get(p), Paths.get(layout.archiveDir))
      }
      batchDate
    }
  }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
}
