package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for Spark-private Column↔Expression conversion
  * (ExpressionUtils is private[sql] in Spark 4; this bridge lives in the
  * sql package tree solely to expose the two conversions graft's custom
  * Catalyst expressions need). */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (Dataset.ofRows is
    * private[sql]); needed to hand graft's custom logical operators to
    * the analyzer/planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The AnalysisException Spark itself raises for a mis-aritied SQL
    * function call (error class WRONG_NUM_ARGS, SQLSTATE 42605) — used
    * by graft's injected-function builders, which otherwise die with a
    * bare NoSuchElementException from `exprs(i)`. */
  def wrongNumArgs(functionName: String, expected: Int,
                   actual: Int): org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map("functionName" -> s"`$functionName`",
        "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  /** The AnalysisException Spark raises when a parameter that must be
    * a literal isn't one (error class NON_FOLDABLE_ARGUMENT, SQLSTATE
    * 42K08) — used by graft's injected-function builders that bake an
    * integer parameter (k, n) into the expression at plan time. */
  def nonFoldableArg(functionName: String, paramName: String)
      : org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      "NON_FOLDABLE_ARGUMENT",
      Map("funcName" -> s"`$functionName`",
        "paramName" -> s"`$paramName`",
        "paramType" -> "\"INT\""))

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Blocks until every listener has seen the events posted so far, or
    * 10 s pass (the listener bus is private[spark]): a listener's
    * counters then cover every job that has already returned. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
