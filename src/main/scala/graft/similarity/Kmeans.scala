package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** Embedding-corpus statistics: oracle-deterministic Lloyd k-means and
  * robust (median/MAD) centroid-distance outlier detection — the
  * cluster-balance and hygiene passes of an embedding-curation pipeline.
  *
  * Unlike [[Ivf.train]] (a recall-gated quantizer, plain double sums),
  * these produce hash-checkable output: every cross-row float reduction
  * goes through exact decimal sums, so the result is independent of
  * partitioning AND bit-identical to a single-threaded relational engine
  * computing the same recipe. Per-vector math (distances, norms) runs in
  * array-index order on both engines, which IEEE-pins it without decimals.
  *
  * Scale: assignments are broadcast-centroid column math over the corpus
  * (no shuffle); each Lloyd step is ONE partial-aggregated shuffle of
  * k×dims decimal cells; only k×dims scalars ever reach the driver —
  * the same topology MLlib's KMeans uses, minus its RDD sampling.
  */
object Kmeans {
  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Squared L2 distance to a centroid literal (the shared fold). */
  private def distSq(vec: Column, c: Array[Double]): Column =
    Dist.sqTo(vec, c.toSeq)

  /** (distance, index) of the nearest centroid; ties take the lowest
    * index (struct min ≡ ORDER BY dist, cid). */
  private def nearestStruct(vec: Column, cents: Array[Array[Double]]): Column =
    array_min(array(cents.zipWithIndex.map { case (c, i) =>
      struct(distSq(vec, c).as("d"), lit(i).as("i"))
    }: _*))

  /** Per-cell decimal-exact per-dimension means. Missing cells (emptied
    * clusters) are absent from the map — callers keep the old centroid. */
  private def decimalMeans(assigned: DataFrame, dims: Int): Map[Int, Array[Double]] = {
    val agg = assigned.groupBy("cell").agg(
      count(lit(1)).as("n"),
      (0 until dims).map(d =>
        sum(element_at(col("v"), d + 1).cast("decimal(28,9)")).as(s"s$d")): _*)
    agg.collect().map { r =>
      val n = r.getLong(r.fieldIndex("n")).toDouble
      val cell = r.getInt(r.fieldIndex("cell"))
      cell -> Array.tabulate(dims)(d =>
        r.getDecimal(r.fieldIndex(s"s$d")).doubleValue / n)
    }.toMap
  }

  /** `iters` Lloyd steps from the k lowest-id vectors, then a final
    * assignment pass; returns per-cluster (cluster, n, min_vec, c_norm,
    * inertia). Inertia sums 6-dp-rounded squared distances through an
    * exact decimal accumulator so it cannot drift with partitioning. */
  def fitStats(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int): DataFrame = {
    // every Lloyd step reads the checkpoint. No Par.expand: at bench
    // shapes the per-task fixed cost of widening exceeded the compute
    // it spread (measured r18).
    graft.core.Par.through(emb.select(
        col(idCol).cast("long").as("id"), toDouble(col(vecCol)).as("v"))) { e =>
      var cents = e.orderBy("id").limit(k).select("v")
        .collect().map(_.getSeq[Double](0).toArray)
      require(cents.length == k, s"Kmeans.fitStats: corpus smaller than k=$k")
      val dims = cents(0).length
      var it = 0
      while (it < iters) {
        val assigned = e.withColumn("cell",
          nearestStruct(col("v"), cents).getField("i"))
        val means = decimalMeans(assigned, dims)
        cents = Array.tabulate(k)(i => means.getOrElse(i, cents(i)))
        it += 1
      }
      val fin = cents
      // index-order fold = the oracle's unnest-order sum
      val norms = fin.map { c =>
        var s = 0d; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        fround(math.sqrt(s), 6)
      }
      val nn = nearestStruct(col("v"), fin)
      // the <=k-row result is checkpointed, so the caller's action scans
      // k rows after the Lloyd relation's blocks are freed
      e.select(col("id"), nn.getField("i").cast("long").as("cluster"),
          nn.getField("d").as("dist"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), min("id").as("min_vec"),
          sum(fround(col("dist"), 6).cast("decimal(38,6)")).cast("double").as("inertia"))
        .withColumn("c_norm",
          element_at(array(norms.map(lit): _*), (col("cluster") + 1).cast("int")))
        .select("cluster", "n", "min_vec", "c_norm", "inertia")
        .orderBy("cluster")
    }
  }

  /** Robust embedding-hygiene gate: vectors whose L2 distance from the
    * corpus centroid deviates from the median distance by more than
    * `nMads` MADs (two-sided). Unit-normalized corpora make raw-norm
    * outliers degenerate (MAD ~ float epsilon); centroid distance keeps
    * a meaningful scale. The centroid is a decimal-exact mean; median
    * and MAD are exact interpolated percentiles (one extra pass each).
    * `keepCols` ride along into the report. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       nMads: Double, keepCols: Seq[String] = Nil): DataFrame = {
    // one lineage-cut materialization feeds all four passes (dims
    // probe, centroid agg, median, MAD) — each otherwise re-ran the
    // scan + array-decode; no widening (per-task overhead exceeded the
    // spread compute at bench shape, measured r18)
    graft.core.Par.through(emb.select(
        (col(idCol) +: keepCols.map(col)) :+ toDouble(col(vecCol)).as("__v"): _*)) { base =>
      val dims = base.select(size(col("__v"))).head.getInt(0)
      val crow = base.groupBy().agg(
        count(lit(1)).as("n"),
        (0 until dims).map(d =>
          sum(element_at(col("__v"), d + 1).cast("decimal(28,9)")).as(s"s$d")): _*)
        .head()
      val n = crow.getLong(crow.fieldIndex("n")).toDouble
      val centroid = Array.tabulate(dims)(d =>
        crow.getDecimal(crow.fieldIndex(s"s$d")).doubleValue / n)
      val withDist = base.withColumn("__dist", sqrt(distSq(col("__v"), centroid)))
      val med = withDist.agg(percentile(col("__dist"), lit(0.5))).head.getDouble(0)
      val mad = withDist
        .agg(percentile(abs(col("__dist") - med), lit(0.5))).head.getDouble(0)
      withDist.filter(abs(col("__dist") - med) > nMads * mad)
        .select((col(idCol) +: keepCols.map(col)) :+
          fround(col("__dist"), 6).as("dist") :+
          fround(abs(col("__dist") - med), 6).as("dev"): _*)
        .orderBy(idCol)
    }
  }
}
