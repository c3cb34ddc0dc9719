package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge to Spark's package-private Column <-> Expression conversion
 * (`org.apache.spark.sql.classic.ExpressionUtils` is private[sql] in Spark 4),
 * needed to expose native Catalyst expressions through the public Column API.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/**
 * Bridge to the session's (private[sql]) function registry, so native
 * Catalyst expression builders can be registered on an EXISTING session —
 * `SparkSessionExtensions.injectFunction` only covers sessions built with the
 * extension installed.
 */
object RegistryBridge {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.classic

  def registerNative(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

/**
 * Bridge to the context's (private[spark]) listener bus, so a tool can
 * settle its listener's counters after an action by draining the queued
 * events instead of sleeping.
 */
object ListenerBridge {
  import org.apache.spark.SparkContext

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
