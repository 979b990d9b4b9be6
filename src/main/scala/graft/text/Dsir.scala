package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Using
import graft.functions.Rounding.fround

/** DSIR-style hashed n-gram importance weighting (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169 — public method, no reference-engine analogue):
  * score each document by how much its hashed n-gram distribution
  * resembles a TARGET domain versus the RAW corpus, the standard
  * pretraining-data domain-selection recipe.
  *
  *   bucket(g) = md5-bucket of each word unigram and bigram, B buckets
  *   p[b] = (target count + 1) / (target total + B)      (add-one)
  *   q[b] = (raw count + 1) / (raw total + B)
  *   w[b] = ln p[b] − ln q[b]                            (9-dp rounded)
  *   score(doc) = mean over the doc's grams of w[bucket(g)]
  *
  * Scale shape: one tokenize+explode pass feeds two partial-agg
  * shuffles onto B = 1024 buckets (the weight table is always tiny and
  * broadcast); scoring is a broadcast join plus one partial-agg shuffle
  * keyed by document. Per-gram weights round to 9 dp and accumulate in
  * DECIMAL(38,9) so the cross-partition reduction is exact (the
  * wordEntropy discipline — double sums are partition-order-dependent).
  */
object Dsir {
  /** the countmin md5 trick: 4 hex digits mod width. */
  private[text] def bucket(g: Column, width: Int): Column =
    conv(substring(md5(g), 1, 4), 16, 10).cast("long") % width

  /** unigram + bigram stream over the normalized word array. */
  private[text] def gramsOf(ws: Column): Column =
    concat(ws, Curation.wordNgramsOf(ws, 2))

  /** The one tokenize→explode→bucket chain of the text family: DSIR's
    * weights and scores, the classifier's feature builder and its
    * streaming scorers all ride it — change it in one place only, or
    * the batch and stream oracles desynchronize. Emits (idCol, carry…,
    * b), one row per gram. */
  private[text] def gramBuckets(docs: DataFrame, idCol: String, textCol: String,
                                width: Int, carry: Seq[String] = Nil,
                                by: Seq[Column] = Nil): DataFrame = {
    val keep = (idCol +: carry).map(col)
    // full-width tokenize+hash regardless of source splits (guide §2.5);
    // also parallelizes the STREAMING scorers, whose one-file micro-
    // batches otherwise expand single-threaded
    graft.core.Par.expand(docs, by: _*)
      .select(keep :+ Curation.words(col(textCol)).as("__ws"): _*)
      .select(keep :+ explode(gramsOf(col("__ws"))).as("__g"): _*)
      .select(keep :+ bucket(col("__g"), width).as("b"): _*)
  }

  private def scoreBuckets(buckets: DataFrame, idCol: String,
                           weights: DataFrame): DataFrame =
    buckets
      .join(broadcast(weights), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("wgt").cast("decimal(38,9)")).as("__s"))
      .select(col(idCol), col("n_grams"),
        fround(col("__s").cast("double") / col("n_grams"), 6).as("dsir_score"))

  /** Weights + scores in ONE corpus tokenize: the (id, target, bucket)
    * gram stream persists across the two consumers — the B-bucket count
    * aggregation that builds the importance table (a bounded ≤width-row
    * collect), and the doc-keyed scoring aggregation (a broadcast join
    * of that table). Tokenize+explode dominates the single-query cost,
    * so both read the same materialized stream. */
  def weightedScores(docs: DataFrame, idCol: String, textCol: String,
                     targetPred: Column, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stream0 = gramBuckets(docs.withColumn("__t", targetPred), idCol,
      textCol, width, carry = Seq("__t"))
    // cut the lineage up front (the classifier-trainer pattern) so the
    // two consumers plan over a bare RDD scan
    Using.resource(graft.core.Par.materialize(stream0)) { cp =>
      val stream = cp.df
      val counts = stream.groupBy("b").agg(
          count(lit(1)).as("rcnt"),
          sum(when(col("__t"), 1L).otherwise(0L)).as("tcnt"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val rtot = counts.valuesIterator.map(_._1).sum
      val ttot = counts.valuesIterator.map(_._2).sum
      val weights = (0 until width).map { b =>
        val (rcnt, tcnt) = counts.getOrElse(b.toLong, (0L, 0L))
        (b.toLong, fround(
          math.log((tcnt + 1d) / (ttot + width.toDouble)) -
          math.log((rcnt + 1d) / (rtot + width.toDouble)), 9))
      }.toDF("b", "wgt")
      // materialize the (one row per doc) scored relation so the caller
      // never re-runs the tokenize when it finally consumes the result
      scoreBuckets(stream.select(col(idCol), col("b")), idCol, weights)
        .localCheckpoint(eager = true)
    }
  }
}
