package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's GROUP() aggregator surface (reference:
  * mods/tql/fm_monad.go:1170-1508) re-expressed as Spark aggregate
  * expressions. Everything here is a *composition of built-ins* — it stays
  * inside whole-stage codegen and partial (map-side) aggregation, which a
  * UDAF would forfeit. Only `moment(k)` needs real custom state
  * (see [[MomentAgg]]): its finalizer nests the mean inside another
  * aggregate.
  */
object StatFns {
  /** √(Σx²/n). */
  def rms(x: Column): Column = sqrt(avg(x * x))

  /** Shannon-style entropy over raw values, gonum stat.Entropy semantics:
    * -Σ v·ln v with v==0 contributing 0 (reference fm_monad.go:1357-1361). */
  def entropy(x: Column): Column =
    -sum(when(x > 0d, x * log(x)).otherwise(lit(0d)))

  /** Empirical CDF at q: fraction of values ≤ q (reference 1324-1329). */
  def cdf(x: Column, q: Double): Column =
    avg(when(x <= q, 1d).otherwise(0d))

  /** Weighted mean Σwv/Σw (reference weight() modifier, fm_monad.go:743). */
  def weightedMean(x: Column, w: Column): Column = sum(x * w) / sum(w)

  /** Weighted sample variance, gonum stat.MeanVariance semantics:
    * Σw(v-μw)² / (Σw - 1), single-pass expansion. */
  def weightedVariance(x: Column, w: Column): Column = {
    val sw = sum(w)
    val mean = sum(x * w) / sw
    (sum(x * x * w) - sw * mean * mean) / (sw - 1d)
  }

  /** Linear-regression slope of y on x (reference `lrs`, fm_monad.go:1213). */
  def lrs(x: Column, y: Column): Column = regr_slope(y, x)

  /** Weighted empirical CDF at q: Σw[v≤q]/Σw (gonum stat.CDF weighted). */
  def weightedCdf(x: Column, w: Column, q: Double): Column =
    sum(when(x <= q, w).otherwise(0d)) / sum(w)

  /** Weighted covariance Σw(x−x̄w)(y−ȳw)/(Σw−1), single-pass expansion
    * (gonum stat.Covariance with weights — fm_monad.go:1233). */
  def weightedCovariance(x: Column, y: Column, w: Column): Column = {
    val sw = sum(w)
    val mx = sum(x * w) / sw
    val my = sum(y * w) / sw
    (sum(x * y * w) - sw * mx * my) / (sw - 1d)
  }

  /** Weighted Pearson correlation (gonum stat.Correlation). */
  def weightedCorrelation(x: Column, y: Column, w: Column): Column =
    weightedCovariance(x, y, w) /
      (sqrt(weightedVariance(x, w)) * sqrt(weightedVariance(y, w)))

  /** Weighted OLS slope of y on x (gonum stat.LinearRegression,
    * origin=false): Σw(x−x̄w)(y−ȳw) / Σw(x−x̄w)². */
  def weightedLrs(x: Column, y: Column, w: Column): Column = {
    val sw = sum(w)
    val mx = sum(x * w) / sw
    val my = sum(y * w) / sw
    (sum(x * y * w) - sw * mx * my) / (sum(x * x * w) - sw * mx * mx)
  }

  /** Exact interpolated quantile (gonum LinInterp ≈ SQL percentile). */
  def quantileInterpolated(x: Column, p: Double): Column = percentile(x, lit(p))

  def median(x: Column): Column = percentile(x, lit(0.5))
}
