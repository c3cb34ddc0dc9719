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
 * Bridge to the session's (private[sql]) function registry, so SQL function
 * builders can be registered on an EXISTING session —
 * `SparkSessionExtensions.injectFunction` only covers sessions built with the
 * extension installed.
 */
object RegistryBridge {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import org.apache.spark.sql.classic
  import org.apache.spark.sql.errors.QueryCompilationErrors
  import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

  def register(
      spark: SparkSession,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(info.getName), info, builder)

  /** The builder `UDFRegistration.register` installs for a Scala function
   * under `name`: a `ScalaUDF` named `name`, with its arity checked. */
  def udfBuilder(name: String, udf: UserDefinedFunction): Seq[Expression] => Expression = {
    val named = udf.withName(name).asInstanceOf[SparkUserDefinedFunction]
    val arity = named.inputEncoders.size
    args =>
      if (args.length == arity) classic.UserDefinedFunctionUtils.toScalaUDF(named, args)
      else throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity.toString), args.length)
  }
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
