package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the classic Column <-> Expression converters, which
  * are `private[sql]` in Spark 4. Standard practice for libraries that
  * ship custom Catalyst expressions. */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — the classic
    * `Dataset.ofRows`, `private[sql]` in Spark 4. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Idempotently append a planner strategy to an existing session
    * (the builder-config path is `spark.sql.extensions`). */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** The planner strategies an extensions class would inject — for
    * asserting the `spark.sql.extensions` wiring without tearing down
    * the shared test session (`buildPlannerStrategies` is
    * `private[sql]`). */
  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** Runtime function registration into an existing session (the
    * builder-config path is `spark.sql.extensions` →
    * [[graft.functions.GraftExtensions]]). */
  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(ident, info, builder)

  /** Block until every event posted so far reached its listeners
    * (`listenerBus` is `private[spark]`) — read a listener's counts
    * only after this. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
