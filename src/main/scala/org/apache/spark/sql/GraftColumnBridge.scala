package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.DataType

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported way for a library to wrap a custom Catalyst `Expression`
  * in a `Column` on Spark 4's split Column API (the classic converters
  * moved behind `private[sql]` in SPARK-49426). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `Cast`'s own `CAST_OVERFLOW` error, for an expression that must fail
    * exactly as a built-in cast does. */
  def castOverflow(value: Any, from: DataType, to: DataType): ArithmeticException =
    QueryExecutionErrors.castingCauseOverflowError(value, from, to)
}
