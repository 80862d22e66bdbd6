package org.apache.spark.sql.graft

import org.apache.spark.sql.types.Decimal

/** Re-exposes Spark's decimal overflow handling (`Decimal.toPrecision` is
  * private[sql]), so graft's exact-decimal aggregates overflow the way
  * Spark's cast and sum do: null, or with `nullOnOverflow = false` (ANSI
  * mode) the `NUMERIC_VALUE_OUT_OF_RANGE` error. */
object DecimalBridge {
  def toPrecision(d: Decimal, precision: Int, scale: Int, nullOnOverflow: Boolean): Decimal =
    d.toPrecision(precision, scale, Decimal.ROUND_HALF_UP, nullOnOverflow)
}
