package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge to Spark 4's private[sql] Column <-> Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils) and Dataset/session
  * internals, so graft's native Catalyst expressions and logical plans
  * can be exposed as Columns/DataFrames without depending on further
  * internals. Lives in org.apache.spark.sql purely for access;
  * contains no logic.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark` that shares its SparkContext and cached data but
    * owns its SQLConf, temp views and streaming query manager, with
    * `confs` set on the copy only. `cloneSession` (unlike `newSession`)
    * keeps the caller's runtime confs, functions and planner strategies,
    * which a foreign pyspark session sets after build. */
  def cloneSession(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val r = spark.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => r.conf.set(k, v) }
    r
  }

  /** Idempotently add a planner strategy to an already-running session
    * (the extensions path only applies at session build time). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = synchronized {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }
}
