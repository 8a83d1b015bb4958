package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 hides the classic converters
  * behind `private[sql]`, so custom Catalyst expressions need this
  * one-file shim inside the `org.apache.spark.sql` namespace — the
  * standard extension-library pattern; everything else in this repo
  * stays in the public API.
  */
object ColumnBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  /** The error Spark's `/` raises for x / 0 under ANSI mode. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}

