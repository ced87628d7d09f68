package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.Decimal

/** Bridge into Spark's `private[sql]` error constructors, so a custom
  * expression that mirrors a builtin fails with the builtin's own error
  * condition (see [[graft.functions.ExactSum]]). Contains no Spark code. */
object ErrorBridge {
  /** What `cast(x AS decimal(p, s))` throws under ANSI mode when `x`
    * needs more than `p` digits. */
  def decimalOutOfRange(value: Decimal, precision: Int, scale: Int): ArithmeticException =
    QueryExecutionErrors.cannotChangeDecimalPrecisionError(value, precision, scale, null)

  /** What a decimal `sum` throws under ANSI mode when it overflows. */
  def sumOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
