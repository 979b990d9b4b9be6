package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Using

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
  private def fr(c: Column, scale: Int): Column = {
    val p = math.pow(10d, scale.toDouble)
    floor(c * p + 0.5d) / p
  }

  /** the countmin md5 trick: 4 hex digits mod width. */
  private[text] def bucket(g: Column, width: Int): Column =
    conv(substring(md5(g), 1, 4), 16, 10).cast("long") % width

  /** unigram + bigram stream over the normalized word array. */
  private[text] def gramsOf(ws: Column): Column =
    concat(ws, Curation.wordNgramsOf(ws, 2))

  /** (doc_id, bucket) gram stream — the one tokenize pass everything
    * else aggregates from. */
  private def docBuckets(docs: DataFrame, idCol: String, textCol: String,
                         width: Int): DataFrame =
    graft.core.Par.expand(docs)
      .select(col(idCol), Curation.words(col(textCol)).as("__ws"))
      .select(col(idCol), explode(gramsOf(col("__ws"))).as("__g"))
      .select(col(idCol), bucket(col("__g"), width).as("b"))

  /** The B-row importance table (b, wgt) for `targetPred` against the
    * whole corpus. Both totals and both count tables come from the same
    * gram stream; absent buckets smooth through add-one. */
  def importanceTable(docs: DataFrame, idCol: String, textCol: String,
                      targetPred: Column, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    // the target flag is a doc-column predicate — evaluate it before the
    // explode so it rides the gram stream. ONE corpus pass: a single
    // groupBy produces raw and target counts together (conditional sum);
    // the ≤width-row result collects to the driver (the kmeans k×d-sums
    // license — bounded by construction) where totals and the smoothed
    // log-ratios compute locally, then ship back as a literal relation
    val g2 = graft.core.Par.expand(docs)
      .select(col(idCol), targetPred.as("__t"),
        Curation.words(col(textCol)).as("__ws"))
      .select(col("__t"), explode(gramsOf(col("__ws"))).as("__g"))
      .select(col("__t"), bucket(col("__g"), width).as("b"))
    val counts = g2.groupBy("b").agg(
        count(lit(1)).as("rcnt"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("tcnt"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rtot = counts.valuesIterator.map(_._1).sum
    val ttot = counts.valuesIterator.map(_._2).sum
    def round9(x: Double): Double = math.floor(x * 1e9 + 0.5d) / 1e9
    val rows = (0 until width).map { b =>
      val (rcnt, tcnt) = counts.getOrElse(b.toLong, (0L, 0L))
      (b.toLong, round9(
        math.log((tcnt + 1d) / (ttot + width.toDouble)) -
        math.log((rcnt + 1d) / (rtot + width.toDouble))))
    }
    import spark.implicits._
    rows.toDF("b", "wgt")
  }

  /** Per-document DSIR score: (idCol, n_grams, dsir_score). */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                weights: DataFrame, width: Int = 1024): DataFrame =
    scoreBuckets(docBuckets(docs, idCol, textCol, width), idCol, weights)

  private def scoreBuckets(buckets: DataFrame, idCol: String,
                           weights: DataFrame): DataFrame =
    buckets
      .join(broadcast(weights), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("wgt").cast("decimal(38,9)")).as("__s"))
      .select(col(idCol), col("n_grams"),
        fr(col("__s").cast("double") / col("n_grams"), 6).as("dsir_score"))

  /** Weights + scores in ONE corpus tokenize: the (id, target, bucket)
    * gram stream persists across the two consumers — the B-bucket count
    * aggregation that builds the importance table, and the doc-keyed
    * scoring aggregation. Identical math to importanceTable∘scoreDocs
    * (same bounded collect, same broadcast join); this fusion exists
    * because tokenize+explode dominates the single-query cost and the
    * two passes read the same stream. */
  def weightedScores(docs: DataFrame, idCol: String, textCol: String,
                     targetPred: Column, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stream0 = graft.core.Par.expand(docs)
      .select(col(idCol), targetPred.as("__t"),
        Curation.words(col(textCol)).as("__ws"))
      .select(col(idCol), col("__t"), explode(gramsOf(col("__ws"))).as("__g"))
      .select(col(idCol), col("__t"), bucket(col("__g"), width).as("b"))
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
      def round9(x: Double): Double = math.floor(x * 1e9 + 0.5d) / 1e9
      val weights = (0 until width).map { b =>
        val (rcnt, tcnt) = counts.getOrElse(b.toLong, (0L, 0L))
        (b.toLong, round9(
          math.log((tcnt + 1d) / (ttot + width.toDouble)) -
          math.log((rcnt + 1d) / (rtot + width.toDouble))))
      }.toDF("b", "wgt")
      // materialize the (one row per doc) scored relation so the caller
      // never re-runs the tokenize when it finally consumes the result
      scoreBuckets(stream.select(col(idCol), col("b")), idCol, weights)
        .localCheckpoint(eager = true)
    }
  }
}
