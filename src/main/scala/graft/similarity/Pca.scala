package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import graft.functions.Rounding.fround

/** Embedding decomposition: distributed covariance accumulation, PCA by
  * driver-side power iteration over the d×d matrix, and a deterministic
  * (hash-signed) sparse random projection — the Johnson–Lindenstrauss
  * scale path for embedding LSH when d is too wide to bucket directly.
  *
  * Scale: every pass over the corpus is ONE partial-aggregated shuffle;
  * only O(d²) scalars ever reach the driver (d=64 → 4 K doubles), so the
  * driver work is corpus-size-independent. Cross-row sums round each
  * term and accumulate in DECIMAL — partitioning-independent and
  * bit-matched by a relational oracle running the same recipe.
  *
  * The projection's sign matrix derives from md5 (`md5("<dim>_<k>")`
  * first hex digit < '8' → +1), which both engines compute identically —
  * no RNG seed to disagree on.
  */
object Pca {
  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Per-dimension decimal-exact means and the row count. */
  private def meansOf(e: DataFrame, dims: Int): (Array[Double], Long) = {
    val r = e.groupBy().agg(
      count(lit(1)).as("n"),
      (0 until dims).map(d =>
        sum(element_at(col("__v"), d + 1).cast("decimal(28,9)")).as(s"s$d")): _*)
      .head()
    val n = r.getLong(r.fieldIndex("n"))
    (Array.tabulate(dims)(d => r.getDecimal(r.fieldIndex(s"s$d")).doubleValue / n), n)
  }

  /** Sample covariance of the first `dims` embedding dimensions:
    * rows (i, j, cov) for i ≤ j, cov = Σ (vᵢ−μᵢ)(vⱼ−μⱼ) / (n−1) with
    * 9-dp-rounded terms through an exact decimal accumulator. Two
    * corpus passes (means, then products); d(d+1)/2 scalars collected. */
  def covariance(emb: DataFrame, vecCol: String, dims: Int): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(toDouble(col(vecCol)).as("__v"))
    val (mu, n) = meansOf(e, dims)
    require(n >= 2, s"Pca.covariance: need >=2 rows, got $n")
    val pairs = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      sum(fround((element_at(col("__v"), i + 1) - mu(i)) *
             (element_at(col("__v"), j + 1) - mu(j)), 9)
        .cast("decimal(38,9)")).as(s"c${i}_$j")
    }
    val r = e.groupBy().agg(aggs.head, aggs.tail: _*).head()
    val rows = pairs.map { case (i, j) =>
      Row(i, j, math.floor(
        r.getDecimal(r.fieldIndex(s"c${i}_$j")).doubleValue / (n - 1) * 1e6 + 0.5) / 1e6)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("i", IntegerType, nullable = false),
        StructField("j", IntegerType, nullable = false),
        StructField("cov", DoubleType, nullable = false))))
  }

  /** Full d×d sample covariance as a local matrix (driver side holds
    * only d² doubles). Plain double sums per cell — used by [[fit]],
    * where the eigensolve's fixed-point iteration absorbs float noise. */
  private def covMatrix(e: DataFrame, dims: Int): (Array[Array[Double]], Long) = {
    val (mu, n) = meansOf(e, dims)
    val pairs = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      sum((element_at(col("__v"), i + 1) - mu(i)) *
          (element_at(col("__v"), j + 1) - mu(j))).as(s"c${i}_$j")
    }
    val r = e.groupBy().agg(aggs.head, aggs.tail: _*).head()
    val m = Array.ofDim[Double](dims, dims)
    pairs.foreach { case (i, j) =>
      val v = r.getDouble(r.fieldIndex(s"c${i}_$j")) / (n - 1)
      m(i)(j) = v; m(j)(i) = v
    }
    (m, n)
  }

  /** Top-k principal components by power iteration with deflation on the
    * driver-side covariance (deterministic: fixed e₁ start, fixed
    * iteration count, sign pinned so the largest-|w| coefficient is
    * positive). Returns (component, pos, weight, eigenvalue,
    * explained_frac). The corpus is touched exactly twice. */
  def fit(emb: DataFrame, vecCol: String, dims: Int, k: Int,
          iters: Int = 100): DataFrame = {
    val spark = emb.sparkSession
    val e = emb.select(toDouble(col(vecCol)).as("__v"))
    val (c, _) = covMatrix(e, dims)
    val total = (0 until dims).map(i => c(i)(i)).sum
    val comps = Vector.newBuilder[(Array[Double], Double)]
    val m = c.map(_.clone())
    var comp = 0
    while (comp < k) {
      var v = Array.tabulate(dims)(i => if (i == comp % dims) 1d else 1e-9)
      var it = 0
      while (it < iters) {
        val w = Array.tabulate(dims)(i =>
          (0 until dims).foldLeft(0d)((s, j) => s + m(i)(j) * v(j)))
        val norm = math.sqrt(w.map(x => x * x).sum)
        v = if (norm == 0d) v else w.map(_ / norm)
        it += 1
      }
      val lambda = (0 until dims).foldLeft(0d)((s, i) =>
        s + v(i) * (0 until dims).foldLeft(0d)((t, j) => t + m(i)(j) * v(j)))
      // pin the sign: the largest-|weight| coefficient is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val signed = if (v(pivot) < 0) v.map(-_) else v
      comps += ((signed, lambda))
      // deflate: m -= lambda v vᵀ
      for (i <- 0 until dims; j <- 0 until dims)
        m(i)(j) -= lambda * signed(i) * signed(j)
      comp += 1
    }
    val rows = comps.result().zipWithIndex.flatMap { case ((v, lambda), ci) =>
      v.zipWithIndex.map { case (w, pos) =>
        Row(ci, pos, fround(w, 6), fround(lambda, 6), fround(lambda / total, 6))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("component", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("weight", DoubleType, nullable = false),
        StructField("eigenvalue", DoubleType, nullable = false),
        StructField("explained_frac", DoubleType, nullable = false))))
  }

  /** md5-derived ±1 sign for projection cell (dim d, output k) — the
    * same computation both engines express natively. */
  private[similarity] def mdSign(d: Int, k: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${d}_$k".getBytes("UTF-8"))
    if (((hex(0) >> 4) & 0xf) < 8) 1d else -1d
  }

  /** Deterministic ±1 random projection to `k` dimensions: rows
    * (id, k, proj) with proj = Σ_d v[d]·sign(d, k). Terms are scaled to
    * 1e9-integers and summed in exact LONG arithmetic (unit vectors ×
    * 64 dims stay far below 2⁶³), so the value is engine- and
    * partitioning-independent with no decimal-precision games. No
    * shuffle at all — a pure projection over the scan, k lit-array dot
    * products per row. */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
                       k: Int, dims: Int): DataFrame = {
    val projs = (0 until k).map { kk =>
      val signs = array((0 until dims).map(d => lit(mdSign(d, kk))): _*)
      aggregate(
        zip_with(col("__v"), signs,
          (x, s) => floor(x * s * 1e9 + 0.5d).cast("long")),
        lit(0L),
        (acc, x) => acc + x)
        .cast("double") / lit(1e9d)
    }
    emb.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .select(col(idCol), posexplode(array(projs: _*)).as(Seq("k", "__p")))
      .select(col(idCol), col("k").cast("long").as("k"), fround(col("__p"), 6).as("proj"))
  }
}
