package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
  * corpus into cells; a query scans only its `nprobe` nearest cells.
  * The standard scale path for billion-vector search (IVF-Flat).
  *
  * Determinism: centroids initialize from the k lowest-id vectors and run
  * a fixed number of Lloyd iterations — same input, same index. Training
  * aggregates per-cell sums distributed (one hash agg per iteration);
  * only the k centroids ever reach the driver.
  */
object Ivf {
  case class Index(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  private def toDoubleArr(a: Column): Column = transform(a, x => x.cast("double"))

  /** Squared L2 distance to a centroid literal (the shared fold). */
  private def distSq(vec: Column, centroid: Array[Double]): Column =
    Dist.sqTo(vec, centroid.toSeq)

  /** Nearest-centroid cell id for a vector column. */
  def cellOf(vec: Column, index: Index): Column = {
    val dists = index.centroids.zipWithIndex.map { case (c, i) =>
      struct(distSq(vec, c).as("d"), lit(i).as("i"))
    }
    array_min(array(dists: _*)).getField("i")
  }

  /** Train the coarse quantizer: k-means with deterministic init (k
    * lowest ids) and `iters` Lloyd steps. */
  /** K-means coarse quantizer. Trains on a deterministic hash-sample of
    * ~1/`sampleInv` of the corpus (IVF practice: the quantizer needs a
    * representative sample, not the full corpus — at 100 TB a full-corpus
    * k-means would dominate index build time), cached across iterations so
    * each Lloyd step is one shuffle over the in-memory sample instead of a
    * fresh parquet scan + array decode. */
  def train(corpus: DataFrame, k: Int, iters: Int = 5,
            idCol: String = "vec_id", vecCol: String = "embedding",
            sampleInv: Int = 8): Index = {
    val all = corpus.select(col(idCol).as("id"), toDoubleArr(col(vecCol)).as("v"))
    // hash-based sample: deterministic, one pass, no count() pre-job;
    // falls back to the full corpus when the sample has fewer than k rows
    val sampled = all.filter(pmod(hash(col("id")), lit(sampleInv)) === 0)
    // NO Par.expand here: the Lloyd sums are plain doubles (recall-gated
    // quantizer), so repartitioning would reorder the fold and drift the
    // centroids; the lineage cut alone preserves partition contents.
    val trained = graft.core.Par.within(if (sampleInv <= 1) all else sampled) { e =>
      val head = e.orderBy("id").limit(k).select("v")
        .collect().map(_.getSeq[Double](0).toArray)
      // sample too small for k seeds: None retrains on everything below
      if (head.length < k && sampleInv > 1) None
      else {
        // corpus itself smaller than k: degrade to head.length centroids
        require(head.nonEmpty, s"Ivf.train: empty corpus, cannot seed $k centroids")
        var centroids = head
        var it = 0
        while (it < iters) {
          val idx = Index(centroids)
          // per-cell mean via distributed agg: sum each dim + count
          val assigned = e.withColumn("cell", cellOf(col("v"), idx))
          val dims = centroids(0).length
          val agg = assigned.groupBy("cell").agg(
            count(lit(1)).as("n"),
            (0 until dims).map(d => sum(element_at(col("v"), d + 1)).as(s"s$d")): _*)
          val rows = agg.collect()
          val next = centroids.clone()
          rows.foreach { r =>
            val cell = r.getInt(r.fieldIndex("cell"))
            val n = r.getLong(r.fieldIndex("n")).toDouble
            next(cell) = Array.tabulate(dims)(d => r.getDouble(r.fieldIndex(s"s$d")) / n)
          }
          centroids = next
          it += 1
        }
        Some(Index(centroids))
      }
    }
    trained.getOrElse(train(corpus, k, iters, idCol, vecCol, sampleInv = 1))
  }

  /** Persist the quantizer as a tiny (cell, pos, coeff) parquet relation:
    * an index is a durable artifact shared across jobs and engines, not
    * a per-JVM fit — rebuild-on-every-session is the 100 TB anti-pattern
    * (a real deployment trains once, loads everywhere). */
  def save(index: Index, spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    index.centroids.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (x, pos) => (cell, pos, x) }
    }.toSeq.toDF("cell", "pos", "coeff")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val rows = spark.read.parquet(path)
      .select("cell", "pos", "coeff").collect()
    require(rows.nonEmpty, s"empty IVF index at $path")
    val k = rows.iterator.map(_.getInt(0)).max + 1
    val dims = rows.iterator.map(_.getInt(1)).max + 1
    // a partially-written artifact must be an integrity error, not a
    // silently-zeroed centroid coefficient
    require(rows.length == k * dims,
      s"corrupt IVF index at $path: ${rows.length} cells, expected $k*$dims")
    val cs = Array.fill(k)(new Array[Double](dims))
    rows.foreach(r => cs(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    Index(cs)
  }

  /** Top-k cosine search probing the `nprobe` nearest cells per query. */
  def topK(queries: DataFrame, corpus: DataFrame, index: Index, k: Int, nprobe: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = corpus.select(col(idCol).as("eid"), toDoubleArr(col(vecCol)).as("ee"))
      .withColumn("cell", cellOf(col("ee"), index))
    // query → its nprobe nearest cells (exploded probe list)
    val qCells = {
      val dists = index.centroids.zipWithIndex.map { case (c, i) =>
        struct(distSq(col("qe"), c).as("d"), lit(i).as("i"))
      }
      slice(array_sort(array(dists: _*)), 1, nprobe)
    }
    val q = queries.select(col(idCol).as("qid"), toDoubleArr(col(vecCol)).as("qe"))
      .withColumn("cell", explode(qCells.getField("i")))
    val scored = e.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("eid"))
      .withColumn("cos_sim",
        graft.functions.ArrayExprs.cosineSim(corpus.sparkSession, col("qe"), col("ee")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("eid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "eid", "cos_sim")
  }
}
