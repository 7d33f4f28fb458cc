package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge into Spark's `private[sql]` surface for the graft extension
  * library — the standard pattern public Spark extension libraries use
  * to build `Column`s from custom Catalyst expressions and register
  * functions on sessions they did not construct — plus the one
  * `private[spark]` hook `graft.Probe` needs (listener-bus drain).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  /** Blocks until every listener event posted so far has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
