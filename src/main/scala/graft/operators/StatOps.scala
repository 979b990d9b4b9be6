package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-stream distribution operators (reference: mods/tql/fm_stat.go
  * HISTOGRAM 36-292, BOXPLOT 294-577).
  *
  * Scale design: HISTOGRAM is a single hash agg on the bin id (map-side
  * combined, output cardinality = bin count, tiny); empty bins come from a
  * `spark.range` spine join. BOXPLOT uses SQL `percentile` (exact; swap
  * `percentile_approx` at 100 TB) — one shuffle per category.
  */
object StatOps {
  /** Fixed-step histogram with the engine's exact bin model
    * (fm_stat.go HistogramStepBins.NewBuckets): regular bins
    * [min+(i-1)·step, min+i·step) for i in 1..⌊(max-min)/step⌋, plus
    * -Inf/+Inf edge bins that catch out-of-range values — emitted only
    * when non-empty. All bins (incl. empty regular ones) synthesized
    * from a `spark.range` spine. Output (low, high, count). */
  def histogram(spark: SparkSession, df: DataFrame, v: Column,
                minV: Double, maxV: Double, step: Double): DataFrame = {
    val bucketsCount = ((maxV - minV) / step).toInt + 2
    // Go int() truncates toward zero (not floor): values less than one
    // step below min land in the FIRST REGULAR bin — reference quirk
    // (task_test.go:265-280 pins it)
    val idx = least(greatest(((v - minV) / step).cast("long") + 1L,
      lit(0L)), lit(bucketsCount - 1L))
    val binned = df.select(idx.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("count"))
    spark.range(bucketsCount).withColumnRenamed("id", "bin")
      .join(binned, Seq("bin"), "left")
      .withColumn("count", coalesce(col("count"), lit(0L)))
      .filter(!((col("bin") === 0 || col("bin") === bucketsCount - 1L) &&
        col("count") === 0L))
      .select(
        when(col("bin") === 0, Double.NegativeInfinity)
          .otherwise((col("bin") - 1) * step + minV).as("low"),
        when(col("bin") === bucketsCount - 1L, Double.PositiveInfinity)
          .otherwise(col("bin") * step + minV).as("high"),
        col("count"), col("bin"))
      .orderBy("bin").drop("bin")
  }

  /** Histogram with per-category counts pivoted to columns (reference
    * `category()` option — same bin model and edge-bin skip as
    * [[histogram]], columns low/high/<category>…). `categories` must be
    * explicit — at scale a dynamic pivot would need a driver-side
    * distinct first. */
  def histogramByCategory(spark: SparkSession, df: DataFrame, v: Column, cat: Column,
                          minV: Double, maxV: Double, step: Double,
                          categories: Seq[String]): DataFrame = {
    val bucketsCount = ((maxV - minV) / step).toInt + 2
    // Go int() truncates toward zero (not floor): values less than one
    // step below min land in the FIRST REGULAR bin — reference quirk
    // (task_test.go:265-280 pins it)
    val idx = least(greatest(((v - minV) / step).cast("long") + 1L,
      lit(0L)), lit(bucketsCount - 1L))
    val binned = df
      .select(idx.as("bin"), cat.as("cat"))
      .groupBy("bin").pivot("cat", categories).agg(count(lit(1)))
    val filled = categories.foldLeft(
      spark.range(bucketsCount).withColumnRenamed("id", "bin")
        .join(binned, Seq("bin"), "left")) {
      (d, c) => d.withColumn(c, coalesce(col(c), lit(0L)))
    }
    val totals = categories.map(col).reduce(_ + _)
    filled
      .filter(!((col("bin") === 0 || col("bin") === bucketsCount - 1L) &&
        totals === 0L))
      .select(Seq(
        when(col("bin") === 0, Double.NegativeInfinity)
          .otherwise((col("bin") - 1) * step + minV).as("low"),
        when(col("bin") === bucketsCount - 1L, Double.PositiveInfinity)
          .otherwise(col("bin") * step + minV).as("high")) ++
        categories.map(col) :+ col("bin"): _*)
      .orderBy("bin").drop("bin")
  }

  /** Streaming merge-closest-bins histogram for `bins(n)` without a
    * predeclared range (reference HISTOGRAM "unpredicted bins" →
    * mods/nums/histogram.go:27-92): insert each value as its own bin in
    * sorted position, then while over capacity merge the two adjacent
    * bins with the smallest gap into their weighted mean. Sequential by
    * construction (a bounded n-bin sketch, like the reference's single
    * event loop); the caller feeds record-ordered values. */
  final class StreamingHistogram(maxBins: Int) {
    private var values = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    def add(v: Double): Unit = {
      val at = values.indexWhere(_._1 > v)
      if (at < 0) values += ((v, 1L)) else values.insert(at, (v, 1L))
      val cap = if (maxBins <= 0) 100 else maxBins
      while (values.length > cap) {
        // find the closest adjacent pair (first pair wins ties — the
        // reference initializes with j==1 and uses strict <)
        var d = 0d; var i = 0
        var j = 1
        while (j < values.length) {
          val dv = values(j)._1 - values(j - 1)._1
          if (dv < d || j == 1) { d = dv; i = j }
          j += 1
        }
        val count = values(i)._2 + values(i - 1)._2
        val merged = ((values(i)._1 * values(i)._2 +
          values(i - 1)._1 * values(i - 1)._2) / count, count)
        values.remove(i - 1)
        values(i - 1) = merged
      }
    }
    def bins: Seq[(Double, Long)] = values.toSeq
  }

  // ---- full BOXPLOT statement kernel (fm_stat.go:294-533) --------------

  final case class BoxStats(min: Double, lower: Double, q1: Double, q2: Double,
                            q3: Double, upper: Double, max: Double, iqr: Double,
                            outliers: Seq[Double])

  /** Category display order: explicit `order()` names first (in that
    * order), the rest ascending (fm_stat.go sortCategoryNames). */
  def sortCategoryNames(names: Seq[String], orders: Seq[String]): Seq[String] = {
    val (listed, rest) = names.partition(orders.contains)
    listed.sortBy(orders.indexOf) ++ rest.sorted
  }

  /** Quartiles + IQR whiskers per category (reference BOXPLOT):
    * (category, q1, median, q3, iqr, lower_whisker, upper_whisker,
    * n_outliers). Whiskers are the extreme observed values inside
    * [q1-1.5·iqr, q3+1.5·iqr]. */
  def boxplot(df: DataFrame, v: Column, cat: Column): DataFrame = {
    val q = df.groupBy(cat.as("category")).agg(
      percentile(v, lit(0.25)).as("q1"),
      percentile(v, lit(0.5)).as("median"),
      percentile(v, lit(0.75)).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
    val joined = df.select(cat.as("category"), v.as("__v")).join(q, Seq("category"))
    joined.groupBy("category")
      .agg(
        first("q1").as("q1"), first("median").as("median"),
        first("q3").as("q3"), first("iqr").as("iqr"),
        min(when(col("__v") >= col("q1") - col("iqr") * 1.5, col("__v"))).as("lower_whisker"),
        max(when(col("__v") <= col("q3") + col("iqr") * 1.5, col("__v"))).as("upper_whisker"),
        sum(when(col("__v") < col("q1") - col("iqr") * 1.5, 1L)
          .when(col("__v") > col("q3") + col("iqr") * 1.5, 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("category")
  }
}
