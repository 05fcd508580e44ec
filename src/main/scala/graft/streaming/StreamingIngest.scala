package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.fraud.FraudRules
import graft.sources.AtomicMart

/** Continuous file-drop ingestion (SURVEY.md §2 F4): the reference's
  * daily `data/` directory polled by main.py becomes a streaming file
  * source — new `;`-CSV drops are picked up incrementally (exactly-once
  * per file via the source's file tracking) and appended to a
  * date-partitioned parquet lake.
  */
object StreamingIngest {

  /** Stream of staged rows from a drop directory. */
  def dropStream(spark: SparkSession, dropDir: String,
                 schema: StructType, sep: String = ";"): DataFrame =
    spark.readStream
      .option("sep", sep)
      .option("header", "true")
      .schema(schema)
      .csv(dropDir)

  /** F6 — continuous fraud scoring: the stateless rules
    * (passport/account expiry; the blacklist is the clients'
    * `blacklisted = 1` rows) are stream–static broadcast joins, so
    * their mart over the transaction stream is itself a stream, and
    * [[epochMartStream]] publishes each micro-batch's hits EXACTLY ONCE.
    * The windowed rules ride [[StreamingOps.guessingAmountStream]]'s
    * keyed state instead — a per-batch window would miss cross-batch
    * patterns. */
  def continuousFraudMart(txns: DataFrame, clients: DataFrame,
                          accounts: DataFrame, batchDate: String,
                          martPath: String, checkpoint: String): StreamingQuery = {
    val blacklist = clients.filter(col("blacklisted") === 1L).select(col("c_custkey"))
    val in = FraudRules.Inputs(txns, clients, blacklist, accounts, batchDate)
    epochMartStream(FraudRules.mart(in, FraudRules.Daily, Seq("passport_fraud", "account_fraud")),
      martPath, Seq("rule"), checkpoint)
  }

  /** F12 — streaming SCD2 maintenance: the reference's daily terminal
    * loop (data_to_db.py's update_terminals_hist cadence) as a
    * continuous job. Each micro-batch carries one or more DATED
    * snapshots; they merge in date order via [[graft.etl.Scd2.merge]]
    * into a versioned history directory (`v=<batchId>`), so the
    * dimension state advances exactly as the batch merge chain does —
    * ParitySpec pins the equality. Versioning keeps the update
    * restart-safe: a replayed batch rebuilds from the last version
    * BEFORE its own id (never from its possibly-half-written output)
    * and overwrites only its own directory.
    */
  def scd2Stream(snapshots: DataFrame, key: String, attrs: Seq[String],
                 dateCol: String, histPath: String,
                 checkpoint: String): StreamingQuery =
    snapshots.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val s = batch.sparkSession
        // distinct snapshot dates in the batch — day-count-sized
        // metadata, the only driver-side materialization here
        val dates = batch.select(col(dateCol)).distinct()
          .collect().map(_.getString(0)).sorted
        if (dates.nonEmpty) {
          var hist = latestHistory(s, histPath, beforeVersion = batchId)
          dates.foreach { dt =>
            val snap = batch.filter(col(dateCol) === dt)
              .select((key +: attrs).map(col): _*)
            hist = Some(hist
              .map(h => graft.etl.Scd2.merge(h, snap, key, attrs, dt))
              .getOrElse(graft.etl.Scd2.init(snap, dt)))
          }
          hist.get.write.mode("overwrite").parquet(s"$histPath/v=$batchId")
        }
      }
      .start()

  /** Latest committed history version under `histPath` with id below
    * `beforeVersion` (replay safety: a restarted batch must not read
    * its own previous attempt). */
  def latestHistory(s: SparkSession, histPath: String,
                    beforeVersion: Long = Long.MaxValue): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(histPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .filter(_ < beforeVersion)
      .sorted.lastOption
      .map(v => s.read.parquet(s"$histPath/v=$v"))
  }

  /** F35 — stream → AtomicMart with exactly-once epoch commits: every
    * micro-batch stages under the mart and lands via ONE manifest
    * commit keyed on its epoch id
    * ([[graft.sources.AtomicMart.publishEpoch]]). A killed epoch
    * replays from the checkpoint and REPLACES its own partitions, so
    * the table converges to exactly-once while concurrent readers stay
    * snapshot-isolated — the streaming lane gets the same publish
    * guarantees as the batch lane, from the same commit primitive. */
  def epochMartStream(stream: DataFrame, martPath: String,
                      partCols: Seq[String], checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epochId: Long) =>
        AtomicMart.publishEpoch(batch.toDF(), martPath, partCols, epochId)
        ()
      }
      .start()

  /** Land a transaction stream into a date-partitioned parquet lake —
    * partitioning by event date makes every date-ranged read prune at
    * the directory level (the 100 TB access path). */
  def landPartitioned(txns: DataFrame, dateCol: String, lakePath: String,
                      checkpoint: String): StreamingQuery =
    txns
      .withColumn("p_date", date_format(col(dateCol), "yyyy-MM-dd"))
      .writeStream
      .format("parquet")
      .option("path", lakePath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("p_date")
      .trigger(Trigger.AvailableNow())
      .start()
}
