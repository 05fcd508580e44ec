package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fraud.{FraudModel, FraudRules}
import graft.sources.Tables

/** MLlib fraud-risk scorer (SURVEY.md §2 H; BASELINE.json's "DataFrame
  * ops + MLlib"): per-user behavioural features from the event stream,
  * labels from the rule-based mart, logistic regression on top. The
  * rules catch what they encode; the model generalizes beyond them.
  */
object FraudScorer {

  /** Per-user features: volumes, value moments, reject share, city spread. */
  def features(s: SparkSession, d: String): DataFrame =
    FraudModel.transactions(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).cast("double").as("n_ops"),
        sum(when(col("oper_result") === "REJECT", 1).otherwise(0))
          .cast("double").as("n_rejects"),
        (sum(col("amt_cents")) / 100.0).as("total_amt"),
        (max(col("amt_cents")) / 100.0).as("max_amt"),
        countDistinct(col("city")).cast("double").as("n_cities"))
      .withColumn("reject_ratio", col("n_rejects") / col("n_ops"))

  /** Labels: users flagged by any of the four analog rules. */
  def labels(s: SparkSession, d: String): DataFrame =
    FraudRules.mart(FraudRules.analog(s, d), FraudRules.Analog)
      .select(col("client_key").as("user_id")).distinct()
      .withColumn("label", lit(1.0))

  /** Anchored on the CLIENT dimension, not the event stream: clients
    * with no transactions become all-zero feature rows — the true
    * negatives a fraud scorer must train against (on the synthetic
    * testdata every transacting user trips some rule, so an
    * event-anchored frame would be single-class). */
  def trainingFrame(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("user_id"))
      .join(features(s, d), Seq("user_id"), "left")
      .na.fill(0.0, featureCols)
      .join(labels(s, d), Seq("user_id"), "left")
      .na.fill(0.0, Seq("label"))

  val featureCols: Array[String] =
    Array("n_ops", "n_rejects", "total_amt", "max_amt", "n_cities", "reject_ratio")

  def pipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
    val lr = new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01)
      .setLabelCol("label").setFeaturesCol("features")
    new Pipeline().setStages(Array(assembler, lr))
  }
}
