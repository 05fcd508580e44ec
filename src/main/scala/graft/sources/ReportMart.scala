package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Report-mart sink, the analog of the reference's REP_FRAUD insert +
  * `tools.show_data` display (tools.py:5-13). Parquet, partitioned by
  * the rule tag so per-rule reads prune to one directory — at 100 TB a
  * mart readers filter by rule far more often than they full-scan.
  */
object ReportMart {

  def append(mart: DataFrame, path: String): Unit =
    mart.write.mode("append").partitionBy("rule").parquet(path)

  /** B15 — IDEMPOTENT daily publish: dynamic partition overwrite
    * replaces exactly the (rule, batch_date) partitions present in
    * this batch and leaves every other partition untouched, so a
    * re-run of a failed day converges instead of double-appending —
    * the retry semantics a daily mart needs. (Static overwrite mode
    * would truncate the whole table. The mode is a writer option, not
    * a session conf, so writes that overlap in one session cannot see
    * each other's mode.) */
  def publishDay(mart: DataFrame, path: String): Unit =
    mart.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("rule", "batch_date").parquet(path)

  /** Exactly-once publish for a STREAMING micro-batch (F6): the batch
    * id is the idempotency token Structured Streaming hands every
    * foreachBatch — a replayed batch (crash between sink write and
    * checkpoint commit) arrives with the SAME id, so dynamic partition
    * overwrite on (rule, batch_id) rewrites the replayed batch's own
    * partitions and leaves every other batch untouched: the mart
    * converges instead of double-appending. `rule` stays the leading
    * partition column, so per-rule reads prune exactly as with
    * [[append]]. */
  def publishBatch(mart: DataFrame, path: String, batchId: Long): Unit =
    mart
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("rule", "batch_id").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Console display (dev-scale only; never collect a mart at scale). */
  def show(mart: DataFrame, n: Int = 20): Unit = mart.show(n, truncate = false)
}
