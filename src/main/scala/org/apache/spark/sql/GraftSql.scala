package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's package-private Expression ↔ Column converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4.x column-node
  * API). Custom Catalyst expressions (graft.functions.*) need exactly these
  * two hooks to participate in the public DataFrame API; the rest of the
  * engine stays in the graft.* namespace. This is the conventional pattern
  * for Spark-native extension libraries building typed Column functions on
  * top of custom expressions.
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function on a live session's function registry —
    * `sessionState` is private[sql], hence bridged here alongside the
    * Column converters (same extension-library pattern). */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState
      .functionRegistry.registerFunction(id, info, builder)

  /** The JVM's live SparkContext, if any — `SparkContext.getActive` is
    * private[spark]; `graft.GraftSession.local` checks it before the
    * builder can reuse (and reconfigure) that context. */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** Wrap a (possibly unresolved) LogicalPlan as a DataFrame —
    * `Dataset.ofRows` is private[sql]; custom logical operators
    * (graft.plans.*) need it to re-enter the public Dataset API. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame (queryExecution is on
    * the classic Dataset). */
  def analyzedPlan(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Spark's hidden-file rule for a listed name (`_`/`.` prefixes other
    * than the parquet summary files, `._COPYING_` suffixes) —
    * `HadoopFSUtils` is private[spark]; `graft.Tables` lists a table the
    * way Spark's file index does. */
  def hiddenPath(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
