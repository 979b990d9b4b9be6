package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** Float-deterministic rounding: floor(x·10^s + 0.5)/10^s executed in
  * plain double ops. Unlike `round` (BigDecimal HALF_UP), the identical
  * instruction sequence runs on both engines, so values that land
  * *exactly* on a rounding boundary (common for interpolated midpoints
  * of already-rounded numbers, running means of 2-decimal values, and
  * the 9-dp/6-dp pins of the text operators) cannot diverge from the
  * DuckDB oracle's `floor(x*10^s+0.5)/10^s`. The Column form and its
  * Double twin (driver-side loops that feed the same values back as
  * literals) must stay the same expression. */
object Rounding {
  /** 10^s as the exact double literal `1e<s>`. */
  private val Pow10: Array[Double] = Array.tabulate(19)(s => BigDecimal(10).pow(s).toDouble)

  def fround(c: Column, scale: Int): Column = {
    val p = Pow10(scale)
    floor(c * p + 0.5d) / p
  }

  def fround(x: Double, scale: Int): Double = {
    val p = Pow10(scale)
    math.floor(x * p + 0.5d) / p
  }
}
