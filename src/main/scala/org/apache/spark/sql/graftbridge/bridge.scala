package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions without forking Spark (Spark 4 made `new Column(expr)`
  * internal). Only the conversions and the function-registry hook are
  * exposed; everything else in this repo lives under the `graft`
  * package.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register an expression builder on an EXISTING session (the
    * `spark.sql.extensions` conf only applies at session build time). */
  def registerFunction(
      spark: SparkSession,
      fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(fn._1, fn._2, fn._3)
}
