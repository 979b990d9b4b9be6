package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** k-center greedy (farthest-point) selection — Gonzalez 1985's
  * 2-approximation for the k-center objective, the standard
  * diversity/coreset selection primitive for training data ("pick the
  * k most mutually-distant examples"; e.g. Sener & Savarese 2018,
  * "Active Learning for CNNs: A Core-Set Approach", arXiv:1708.00489.
  * Public method, no reference-engine analogue).
  *
  * Deterministic by construction: the seed is the smallest id, each
  * step takes argmax of the min squared-L2 distance to the selected
  * set with ties broken on the smallest id. Distances are sequential
  * array folds over double-cast elements, so a SQL oracle computes the
  * identical doubles and the argmax agrees exactly (the embedding-topk
  * discipline).
  *
  * Scale shape: k passes over the (column-pruned) corpus; each pass is
  * a projection against the ≤k-vector broadcast-literal selected set
  * plus one distributed TakeOrdered(1). Driver state is k vectors (the
  * kmeans k×d license). Nothing corpus-quadratic.
  */
object KCenter {

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))


  /** The k selected rows: (sel_order 1..k, idCol, sel_dist) where
    * sel_dist is the point's min distance to the previously-selected
    * set at the moment of selection (6-dp rounded; 0 for the seed). */
  def select(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col(idCol).cast("long").as("vid"),
      toDouble(col(vecCol)).as("ve"))
    val seed = e.orderBy("vid").select("vid", "ve").head()
    var selected = Vector[(Long, Seq[Double], Double)](
      (seed.getLong(0), seed.getSeq[Double](1), 0.0d))
    while (selected.size < k) {
      val dmin = selected.map(s => Dist.sqTo(col("ve"), s._2))
        .reduce((a, b) => least(a, b))
      // the winner's vector rides the same TakeOrdered row — one scan
      // per iteration
      val next = e.select(col("vid"), dmin.as("md"), col("ve"))
        .orderBy(col("md").desc, col("vid").asc)
        .limit(1).head()
      selected :+= ((next.getLong(0), next.getSeq[Double](2), next.getDouble(1)))
    }
    selected.zipWithIndex.map { case ((id, _, d), i) =>
      (i + 1L, id, fround(d, 6))
    }.toDF("sel_order", idCol, "sel_dist")
  }
}
