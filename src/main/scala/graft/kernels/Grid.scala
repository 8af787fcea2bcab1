package graft.kernels

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-point grid rounding: a double onto an exact LONG grid point.
  *
  * The engine's order-free sums (PprConfig.quantize, the grid-summed text,
  * ANN and streaming aggregates) round every addend to `round(x * q)` and
  * sum LONGs. Spark's `round` on a double goes through
  * `BigDecimal(Double.toString(x)).setScale(0, HALF_UP)` on every row;
  * [[roundLong]] computes the same value in double arithmetic.
  */
object Grid {

  private val TwoTo52 = 4503599627370496.0

  /** `round(x).cast("long")` without BigDecimal: half away from zero,
    * signum(x) * (floor|x| + (|x| - floor|x| >= 0.5 ? 1 : 0)), cast to long.
    *
    * Exact: below 2^52, floor|x| and the fractional part |x| - floor|x| are
    * exact doubles, and floor|x| + 1 is too; every double from 2^52 up is
    * already an integer and passes through unchanged, as do infinities.
    * Spark's BigDecimal detour agrees, because a shortest decimal string
    * that reads back as x cannot cross the representable k + 0.5 next to
    * it. NaN stays NaN, so the cast sees what it sees after `round`. */
  def roundLong(x: Column): Column = {
    val a = abs(x)
    val fl = floor(a).cast("double") // Spark's floor of a double is a LONG
    when(a >= TwoTo52, x)
      .otherwise(signum(x) * (fl + when(a - fl >= 0.5, 1.0).otherwise(0.0)))
      .cast("long")
  }
}
