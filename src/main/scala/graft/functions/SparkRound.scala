package graft.functions

/** Spark's `round(v, scale)` on a double, for driver-side and per-row Scala
  * code that must land on the same grid as the plan's `round` column: NaN
  * and ±Infinity pass through; otherwise java.math.BigDecimal.valueOf (the
  * Double.toString-exact value), setScale HALF_UP, back to double — the
  * path Catalyst's Round takes for DoubleType. VecDsumSpec pins parity
  * against the Spark expression at several scales and on the special
  * values. */
object SparkRound {
  def apply(v: Double, scale: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
