package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Spark's own error conditions for native kernels that must fail exactly
  * like the built-in expressions they replace (`QueryExecutionErrors` is
  * `private[sql]`).
  */
object Errors {
  /** The `CAST_OVERFLOW` an ANSI `CAST(d AS BIGINT)` raises. */
  def castOverflow(d: Double): ArithmeticException =
    QueryExecutionErrors.castingCauseOverflowError(d, DoubleType, LongType)
}
