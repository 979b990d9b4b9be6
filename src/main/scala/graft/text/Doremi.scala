package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
  * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
  * arXiv:2305.10429, built on the group-DRO update of Sagawa et al.
  * 2020 — public methods, no reference analogue): derive training-mix
  * domain weights from per-domain EXCESS loss of a proxy scorer. The
  * natural next step after per-domain calibration ([[Calibration]]):
  * the calibrated classifier probability is the proxy model, its
  * per-domain log-loss the group loss, and the exponentiated-gradient
  * loop shifts weight toward domains where the proxy does worst until
  * excess loss equalizes.
  *
  * Update (simplex, T fixed steps): Lbar_t = Σ_d α_d·L_d;
  * e_d = max(0, L_d − Lbar_t); α'_d ∝ α_d·exp(η·e_d); then smooth
  * toward uniform: α ← (1−c)·α' + c/k (the paper's mixing with the
  * uniform distribution keeps every domain sampled).
  *
  * Determinism (the fitOn/DSIR discipline): per-row losses are 9-dp
  * pinned and accumulate in DECIMAL(38,9); the driver loop's k-element
  * sums go through EXACT scaled-long arithmetic — each 9-dp-pinned
  * summand is recovered as its integer numerator floor(x·1e9+0.5)
  * (values are positive and bounded, so the sum stays far under 2^53
  * and the final /1e9 division is a single correctly-rounded IEEE op)
  * — making the whole fit bit-reproducible across partitionings and
  * by a DuckDB oracle with the steps unrolled as k-row CTEs.
  *
  * Scale shape: the corpus is touched ONCE (one domain-keyed
  * partial-agg shuffle computes the per-domain loss table); the MW
  * loop runs on k = |domains| driver values (domains are a bounded
  * label set — the kmeans k×d license); the output is a k-row table.
  * Nothing corpus-quadratic, no windows, no per-row driver work.
  */
object Doremi {
  /** exact integer numerator of a 9-dp-pinned positive double. */
  private def l9(x: Double): Long = math.floor(x * 1e9 + 0.5d).toLong

  /** Per-domain mean log-loss of `probCol` against `labelCol` (0/1):
    * (domainCol, n_docs, loss9). Probabilities clamp to
    * [1e-6, 1−1e-6] before the logs; per-row loss 9-dp pinned,
    * DECIMAL(38,9) accumulation, 9-dp mean. One partial-agg shuffle. */
  def domainLoss(cal: DataFrame, domainCol: String, probCol: String,
                 labelCol: String): DataFrame = {
    val pc = greatest(least(col(probCol).cast("double"), lit(0.999999)),
      lit(0.000001))
    cal.select(col(domainCol), col(labelCol).cast("double").as("__y"),
        pc.as("__pc"))
      .select(col(domainCol),
        fround(-(col("__y") * log(col("__pc")) +
          (lit(1.0) - col("__y")) * log(lit(1.0) - col("__pc"))), 9).as("__l"))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__l").cast("decimal(38,9)")).as("__sl"))
      .select(col(domainCol), col("n_docs"),
        fround(col("__sl").cast("double") / col("n_docs"), 9).as("loss9"))
  }

  /** Fit the domain weights: (domainCol, n_docs, loss, weight) with
    * loss/weight 6-dp pinned, ordered by nothing (caller sorts).
    * `cal` must carry domainCol, probCol (calibrated probability in
    * [0,1]) and labelCol (0/1). One corpus pass + k-row driver loop. */
  def domainWeights(cal: DataFrame, domainCol: String, probCol: String,
                    labelCol: String, steps: Int = 5, eta: Double = 1.0,
                    smooth: Double = 0.1): DataFrame = {
    val spark = cal.sparkSession
    import spark.implicits._
    // ONE bounded collect: k = |domains| rows
    val rows = domainLoss(cal, domainCol, probCol, labelCol).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val domains = rows.map(_._1)
    val loss = rows.map(r => r._1 -> r._3).toMap
    val k = domains.length.toDouble
    var alpha: Map[String, Double] = domains.map(_ -> fround(1.0 / k, 9)).toMap
    for (_ <- 1 to steps) {
      // weighted mean loss under the current α — exact scaled-long sum
      val lbar = domains.map(d => l9(alpha(d) * loss(d))).sum.toDouble / 1e9
      val u = domains.map { d =>
        val e = math.max(fround(loss(d) - lbar, 9), 0.0)
        val g = fround(math.exp(fround(eta * e, 9)), 9)
        d -> fround(alpha(d) * g, 9)
      }.toMap
      val z = domains.map(d => l9(u(d))).sum.toDouble / 1e9
      alpha = domains.map { d =>
        val a1 = fround(u(d) / z, 9)
        d -> fround(fround((1.0 - smooth) * a1, 9) + smooth / k, 9)
      }.toMap
    }
    rows.toSeq.map { case (d, n, l) => (d, n, fround(l, 6), fround(alpha(d), 6)) }
      .toDF(domainCol, "n_docs", "loss", "weight")
  }

  /** DoReMi's end use: turn the fitted weights into per-domain
    * mixture quotas over a document `budget` (quota_d =
    * floor(weight_d·budget + 0.5)) and draw the mix with
    * [[Curation.mixtureSample]]'s deterministic md5-of-id rank.
    * Returns the selected rows of `df`. The weight fit collects k
    * bounded rows; the selection is the same WindowGroupLimit plan as
    * every mixture row — map tasks keep local top-quota only. */
  def resample(cal: DataFrame, df: DataFrame, domainCol: String,
               idCol: String, probCol: String, labelCol: String,
               budget: Int, steps: Int = 5, eta: Double = 1.0,
               smooth: Double = 0.1): DataFrame = {
    val w = domainWeights(cal, domainCol, probCol, labelCol, steps, eta, smooth)
      .collect().map(r => r.getString(0) ->
        math.floor(r.getDouble(3) * budget + 0.5d).toInt).toMap
    Curation.mixtureSample(df, domainCol, idCol, w)
  }
}
