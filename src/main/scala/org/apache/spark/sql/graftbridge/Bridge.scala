package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression (and DataFrame ⇄ LogicalPlan) bridge.
  * Spark 4 keeps these converters `private[sql]`, so third-party
  * engines host a shim inside the sql package — the established pattern
  * for libraries that ship native expressions and plan nodes
  * (cf. SNIPPETS.md [1][3]).
  */
object Bridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The cached RDD behind a `localCheckpoint`ed DataFrame (its analyzed
    * plan is a `LogicalRDD`), for explicit `unpersist` on cache
    * eviction. `LogicalRDD` is `private[sql]`, hence this shim. */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Fill a persisted frame's cache in one job, after the jobs of its
    * own plan. Filled by an action instead, the cache is built through
    * the adaptive planner: one job for each distinct column set that
    * the action's plan scans it with. */
  def fillCache(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .foreach(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.count())
  }
}
