package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.time.TimeFns

/** FAKE() synthetic sources (reference: mods/tql/fm_fake.go — oscillator
  * 438-494, linspace 324-349, meshgrid 350-396, sphere 397-437, arrange
  * 281-323, simplex/random 265-280,521-538).
  *
  * Every generator is `spark.range(n)` + column expressions — fully
  * distributed and codegen'd, no driver-side materialization, so a
  * 10-billion-point oscillator is as cheap per-row as a 100-point one.
  */
object Fake {
  /** One sinusoid component: amplitude × sin(2π·hz·t). */
  case class Freq(hz: Double, amplitude: Double, phase: Double = 0d)

  /** oscillator(freq(...)..., range(fromNs, durNs, periodNs)): rows
    * (time_ns, value) where value = Σ amp·sin(2π·hz·t + phase) with
    * t = double(time_ns)/1e9 — the reference's exact float sequence
    * (fm_fake.go:487/502: float64(x)/float64(time.Second)), so spectra
    * computed from these samples match its goldens bit-for-bit. */
  def oscillator(spark: SparkSession, freqs: Seq[Freq],
                 fromNs: Long, durNs: Long, periodNs: Long): DataFrame = {
    require(periodNs > 0, "f(oscillator) period should be positive")
    // negative duration runs BACKWARD from the anchor: [t+dur, t)
    // (fm_fake.go:460-466); row count = ceil(span/period) per the
    // `for x = from; x < to; x += step` loop
    val (lo, hi) = if (durNs < 0) (fromNs + durNs, fromNs) else (fromNs, fromNs + durNs)
    val n = math.max(0L, (hi - lo + periodNs - 1) / periodNs)
    val tSec = col("time").cast("double") / 1e9
    // GoMath.sin, not Spark's sin: the JVM's fdlibm sine differs from Go's
    // Cephes sine by 1 ulp on epoch-second-scale arguments, visible in
    // precision(16) goldens
    val goSin = udf((x: Double) => graft.functions.GoMath.sin(x))
    val value = freqs.map { f =>
      lit(f.amplitude) * goSin(lit(2d * math.Pi * f.hz) * tSec + lit(f.phase))
    }.reduce(_ + _)
    spark.range(n)
      .select((col("id") * periodNs + lo).as("time"))
      .withColumn("value", value)
  }

  /** linspace(a, b, n): n evenly spaced values in [a, b] inclusive. */
  def linspace(spark: SparkSession, a: Double, b: Double, n: Int): DataFrame = {
    // n <= 0 yields an empty frame, not an error (task_test.go:1083-1093
    // renders it as the "No record" markdown)
    val rows = math.max(n, 0)
    val step = if (rows <= 1) 0d else (b - a) / (rows - 1)
    spark.range(rows.toLong).select((lit(a) + col("id") * step).as("x"))
  }

  /** arrange(a, b, step): arithmetic progression INCLUSIVE of the stop
    * (reference fm_fake.go:303-322 loops `v <= stop`), either direction.
    * Row values accumulate exactly like the reference's `v += step` loop
    * would — but computed as a + i·step, identical for exact steps. */
  def arrange(spark: SparkSession, a: Double, b: Double, step: Double): DataFrame = {
    // diagnostics are the reference's own strings (tql_test.go
    // FAKE_arrange_* error battery; fm_fake.go fmArrange)
    if (step == 0d)
      throw new IllegalArgumentException("FUNCTION \"arrange\" step can not be 0")
    if (a == b)
      throw new IllegalArgumentException("FUNCTION \"arrange\" start, stop can not be equal")
    if (a < b && step < 0)
      throw new IllegalArgumentException("FUNCTION \"arrange\" step can not be less than 0")
    if (a > b && step > 0)
      throw new IllegalArgumentException("FUNCTION \"arrange\" step can not be greater than 0")
    // count of v = a + i*step while (a<b ? v<=b : v>=b), replicating the
    // accumulating loop's boundary behavior
    var n = 0L
    var v = a
    while (if (a < b) v <= b else v >= b) { n += 1; v += step }
    spark.range(n).select((lit(a) + col("id") * step).as("x"))
  }

  /** meshgrid(linspace, linspace): cartesian grid rows (x, y). */
  def meshgrid(spark: SparkSession, xa: Double, xb: Double, xn: Int,
               ya: Double, yb: Double, yn: Int): DataFrame = {
    val xs = linspace(spark, xa, xb, xn)
    val ys = linspace(spark, ya, yb, yn).withColumnRenamed("x", "y")
    xs.crossJoin(ys)
  }

  /** sphere(latN, lonN): unit-sphere surface points (x, y, z) on a
    * lat/lon grid — the reference's parametrization (sphere_4_4 golden):
    * θ = i·π/latN for i<latN (exclusive), φ = j·2π/lonN for j<lonN,
    * iterated lon-major (θ is the inner loop). */
  def sphere(spark: SparkSession, latN: Int, lonN: Int): DataFrame = {
    val n = math.max(latN, 1)
    val m = math.max(lonN, 1)
    val lat = spark.range(n.toLong).select((col("id") * (math.Pi / n)).as("theta"))
    val lon = spark.range(m.toLong).select((col("id") * (2d * math.Pi / m)).as("phi"))
    lon.crossJoin(lat).select(
      (sin(col("theta")) * cos(col("phi"))).as("x"),
      (sin(col("theta")) * sin(col("phi"))).as("y"),
      cos(col("theta")).as("z"))
  }
}
