package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Using
import graft.functions.Rounding.fround

/** fastText-style quality/language classifier over hashed n-gram
  * features (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification", arXiv:1607.01759 — public method, no reference
  * analogue): a linear model over a hashed bag of word uni+bigrams,
  * trained by logistic regression, then scored distributively — the
  * standard companion to DSIR for quality-based pretraining-data
  * selection (GPT-3/CCNet-style quality filtering).
  *
  * Training is FULL-BATCH gradient descent with a fixed iteration count
  * and learning rate, every intermediate pinned to 9 dp and every
  * cross-partition sum accumulated in DECIMAL(38,9) — the DSIR
  * discipline — so the trained weights, and therefore the scores, are
  * bit-reproducible across engines (the DuckDB oracle unrolls the same
  * iterations as CTEs). LBFGS would converge faster but is not
  * deterministic across partitionings; at B+1 ≤ 33 coefficients the GD
  * path is the right trade.
  *
  * Scale shape (r18): ONE tokenize+explode pass builds a per-doc
  * feature-ARRAY relation (≤width+1 entries per row, persisted across
  * iterations); each GD step is shuffle-free column math over it — the
  * ≤33 coefficients inline as an array literal, z/p/err fold in an
  * order-free DECIMAL(38,9) aggregate — plus one ≤33-row bucket-keyed
  * gradient partial agg whose collect is bounded (the kmeans k×d-sums
  * license). Nothing corpus-quadratic, no joins or broadcasts in the
  * loop; scoring is a pure projection.
  */
object QualityClassifier {
  /** ONE row per document: (idCol, __y, __bc, __n, __fs) where __bc is
    * the b-sorted (b, c) bucket-count array, __n the total gram count,
    * and __fs the normalized feature array with the bias entry
    * (-1, 1.0) prepended — x = fround(c/n, 9), exactly the values of the old
    * (doc, b, x) row relation. Its (doc, b) count and doc-keyed
    * collect_list plan no exchange when the pre-expansion rebalance ran
    * (it hashes raw rows by doc id), and at most one each otherwise;
    * every GD iteration and the scoring pass are then SHUFFLE-FREE
    * column math over this relation (plus one ≤width+1-row gradient
    * agg per step) — the r18 optimization that removed the
    * per-iteration broadcast-join + doc-keyed-agg + doc-keyed-join
    * chain (3 corpus-scale exchanges and 2 broadcast builds per step).
    * Arrays are bounded at width+1 entries regardless of corpus size,
    * so rows stay small at any scale. */
  private def docFeatures(docs: DataFrame, idCol: String, textCol: String,
                          labelPred: Column, width: Int,
                          carry: Seq[String] = Nil): DataFrame = {
    val y = when(labelPred, 1.0d).otherwise(0.0d)
    // every doc has ≥1 gram under this tokenizer, so the grouped doc
    // set equals the source doc set (the old bias-row invariant).
    // `carry` columns (constant per doc, e.g. the domain) ride the
    // grouping keys so downstream consumers skip a corpus-scale
    // doc_id join back to the source relation (r19).
    //
    // gramBuckets' rebalance hashes the raw rows by doc id, so both doc-keyed
    // aggregations below find their input already clustered and plan no
    // exchange: the relation keeps the cluster's width instead of being
    // coalesced by AQE to a partition or two, which would serialize every
    // GD pass over it (measured slower across the classifier family).
    Dsir.gramBuckets(docs.withColumn("__y", y), idCol, textCol, width,
        carry = "__y" +: carry, by = Seq(col(idCol)))
      .groupBy(col(idCol) +: col("__y") +: carry.map(col) :+ col("b"): _*)
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol) +: col("__y") +: carry.map(col): _*)
      .agg(sort_array(collect_list(struct(col("b"), col("c")))).as("__bc"))
      .withColumn("__n",
        aggregate(col("__bc"), lit(0L), (acc, f) => acc + f.getField("c")))
      .withColumn("__fs", concat(
        array(struct(lit(-1L).as("b"), lit(1.0d).as("x"))),
        transform(col("__bc"), f => struct(f.getField("b").as("b"),
          fround(f.getField("c").cast("double") / col("__n"), 9).as("x")))))
  }

  /** coefficient lookup: the ≤width+1 weights inline as an array
    * literal indexed by b+2 (element_at is 1-based; b=-1 is the bias).
    * bucket() yields b ∈ [0, width), so the index never leaves range. */
  private def wArray(w: Map[Long, Double], width: Int): Column =
    // getOrElse: an externally-produced weight table missing a bucket
    // contributes zero weight, like the old broadcast-join form (ADVICE
    // r18) — in-repo trainers always emit all width+1 rows
    array(((-1L) +: (0L until width.toLong)).map(b => lit(w.getOrElse(b, 0.0d))): _*)
  private def wAt(warr: Column, b: Column): Column =
    element_at(warr, (b + lit(2L)).cast("int"))

  /** per-doc probability under `warr` as pure column math over __fs:
    * z = Σ_b fround(w_b·x_b, 9) in an order-free DECIMAL(38,9) fold (the
    * same per-term double→decimal cast as the old cross-row sum, so
    * the value is bit-identical), p = r9 sigmoid of the 9-dp z. */
  private def pCol(warr: Column): Column = {
    // decimal ADDITION grows precision by one integral digit, so a
    // (38,9) accumulator would overflow to (38,8) and silently round.
    // Fold at (30,9): term (20,9) + acc (30,9) → (31,9) exact, and the
    // cast back to (30,9) is exact because |z| ≤ (width+1)·max|w·x| ≪
    // 10^21. Values identical to the old (38,9) cross-row sum.
    val zdec = aggregate(col("__fs"), lit(0).cast("decimal(30,9)"),
      (acc, f) => (acc +
        fround(wAt(warr, f.getField("b")) * f.getField("x"), 9).cast("decimal(20,9)"))
        .cast("decimal(30,9)"))
    fround(lit(1.0d) / (lit(1.0d) + exp(-fround(zdec.cast("double"), 9))), 9)
  }

  /** GD loop over the (persisted) per-doc feature relation; ≤33-value
    * driver state, and per step ONE job: a shuffle-free error
    * projection, an explode, and the ≤width+1-row gradient partial
    * agg + bounded collect. No joins, no broadcasts, no doc-keyed
    * exchanges (the r18 shape — the old loop shuffled the feature
    * relation three times per step). */
  private def trainOnDocFeats(df: DataFrame, width: Int, iters: Int,
                              lr: Double): Map[Long, Double] = {
    // nDocs comes out of iteration 1's own gradient agg (the bias entry
    // b = -1 appears exactly once per doc) — no separate count job
    var nDocs = 0.0d
    var w: Map[Long, Double] =
      ((-1L) +: (0L until width.toLong)).map(_ -> 0.0d).toMap
    for (it <- 1 to iters) {
      val warr = wArray(w, width)
      // gradient g_b = Σ_docs fround(err·x_b, 9) / N, 9-dp pinned, exact
      // DECIMAL accumulation — identical values to the old join form
      val rows = df
        .select((pCol(warr) - col("__y")).as("__e"), col("__fs"))
        .select(col("__e"), explode(col("__fs")).as("f"))
        .groupBy(col("f.b").as("b"))
        .agg(count(lit(1)).as("n"),
          sum(fround(col("__e") * col("f.x"), 9).cast("decimal(38,9)")).as("__g"))
        .collect()
      if (it == 1) {
        // the bias entry b = -1 appears once per doc; its absence means
        // the corpus had no scoreable documents (ADVICE r18: fail with a
        // message instead of a bare NoSuchElementException)
        val bias = rows.find(_.getLong(0) == -1L)
        require(bias.isDefined,
          "QualityClassifier.train: empty corpus (no documents with grams)")
        nDocs = bias.get.getLong(1).toDouble
      }
      val grad = rows.map(r => r.getLong(0) ->
        fround(r.getDecimal(2).doubleValue() / nDocs, 9)).toMap
      w = w.map { case (b, wb) =>
        b -> fround(wb - lr * grad.getOrElse(b, 0.0d), 9)
      }
    }
    w
  }

  /** Train logistic-regression weights for `labelPred` (y=1) over the
    * hashed features; returns the (b, w) table including the bias row
    * b=-1, every weight 9-dp pinned. */
  def train(docs: DataFrame, idCol: String, textCol: String,
            labelPred: Column, width: Int = 32, iters: Int = 3,
            lr: Double = 5.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // materialize instead of persist: the GD loop plans one job per
    // iteration over this relation, and a persisted frame still carries
    // the full tokenize lineage through analysis/optimization every
    // time — the lineage cut makes each iteration plan a bare RDD scan.
    // The weights are driver data, so the handle closes here.
    val w = Using.resource(graft.core.Par.materialize(
        docFeatures(docs, idCol, textCol, labelPred, width))) { cp =>
      trainOnDocFeats(cp.df, width, iters, lr)
    }
    w.toSeq.sortBy(_._1).toDF("b", "w")
  }

  /** Train + score in ONE corpus tokenize: the scoring pass is a pure
    * projection over the per-doc feature relation the trainer already
    * materialized (no join, no shuffle) and the one-row-per-doc result
    * materializes before the feature relation is freed (the Dsir
    * weightedScores pattern). */
  def trainAndScore(docs: DataFrame, idCol: String, textCol: String,
                    labelPred: Column, width: Int = 32, iters: Int = 3,
                    lr: Double = 5.0, carry: Seq[String] = Nil,
                    labelAs: Option[String] = None): DataFrame =
    // the scoring projection is shuffle-free, so the final checkpoint is
    // one cheap map job
    Using.resource(graft.core.Par.materialize(
        docFeatures(docs, idCol, textCol, labelPred, width, carry))) { cp =>
      val w = trainOnDocFeats(cp.df, width, iters, lr)
      scoreDocFeats(cp.df, idCol, w, width, carry, labelAs)
        .localCheckpoint(eager = true)
    }

  /** shuffle-free scoring projection over the per-doc feature relation:
    * (idCol, score, pred [, carry..., labelAs]), value-identical to the
    * old broadcast-join + doc-keyed-agg pass; `carry`/`labelAs` replay
    * the per-doc constants so callers skip the doc_id join back to the
    * source relation (the label is __y as 0/1 BIGINT — exactly what the
    * old `when(pred, 1L)` join leg computed). */
  private def scoreDocFeats(df: DataFrame, idCol: String,
                            w: Map[Long, Double], width: Int,
                            carry: Seq[String] = Nil,
                            labelAs: Option[String] = None): DataFrame = {
    val mkTail = carry.map(col) ++
      labelAs.map(n => col("__y").cast("long").as(n)).toSeq
    val tailNames = (carry ++ labelAs.toSeq).map(col)
    df.select(col(idCol) +: pCol(wArray(w, width)).as("__p") +: mkTail: _*)
      .select(col(idCol) +: fround(col("__p"), 6).as("score") +:
        when(col("__p") >= 0.5d, 1L).otherwise(0L).as("pred") +: tailNames: _*)
  }

  /** Distributed scoring: (idCol, score, pred) — score = round6 sigmoid
    * of the linear model, pred = score ≥ 0.5 as 0/1. The ≤width+1-row
    * weight table collects to a literal (the kmeans k×d-sums license)
    * so scoring is one shuffle-free projection per doc. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            weights: DataFrame, width: Int = 32): DataFrame = {
    val w = weights.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    scoreDocFeats(docFeatures(docs, idCol, textCol, lit(false), width),
      idCol, w, width)
  }

  /** Streaming-safe gram-level scoring: z = fround(bias + Σ_g w[b(g)] / n, 9)
    * — fastText's actual architecture (the MEAN of token weights,
    * arXiv:1607.01759 §2) rather than the bucket-count dot product.
    * One streaming aggregation per doc (sum + count after a broadcast
    * weight join), so it runs under Structured Streaming where the
    * (doc, bucket) pre-aggregation + window form cannot. Exact across
    * engines: the per-doc sum of 9-dp weights accumulates in
    * DECIMAL(38,9), n is an exact count, and the division + sigmoid
    * pin to 9 dp before exp. */
  def scoreStream(docs: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, width: Int = 32): DataFrame = {
    // the bias is ONE value of the ≤33-row coefficient table — lift it
    // to a literal so no join follows the streaming aggregation
    // (stream plans disallow joins after aggregations)
    val bias = lit(weights.filter(col("b") === -1L).head().getDouble(1))
    Dsir.gramBuckets(docs, idCol, textCol, width)
      .join(broadcast(weights.filter(col("b") >= 0L)), "b")
      .groupBy(col(idCol))
      .agg(sum(col("w").cast("decimal(38,9)")).as("__s"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("n_grams"),
        fround(lit(1.0d) / (lit(1.0d) +
          exp(-fround(bias + col("__s").cast("double") / col("n_grams"), 9))), 9)
          .as("__p"))
      .select(col(idCol), col("n_grams"), fround(col("__p"), 6).as("score"),
        when(col("__p") >= 0.5d, 1L).otherwise(0L).as("pred"))
  }

  /** Gram-mean scoring from the per-doc bucket-count array — the EXACT
    * batch twin of [[scoreStream]] as a shuffle-free projection: the
    * DECIMAL fold of c_b·w_b equals the per-gram sum of w (w is 9-dp as
    * decimal(19,9), c integer as decimal(10,0), so each product is
    * exact in scale-9 decimal — a (38,9) operand would overflow the
    * product precision and Spark would silently REDUCE the scale — and
    * decimal addition is order-free). */
  private def twinFromDocFeats(df: DataFrame, idCol: String,
                               w: Map[Long, Double], width: Int,
                               carry: Seq[String] = Nil,
                               labelAs: Option[String] = None): DataFrame = {
    val bias = lit(w.getOrElse(-1L, 0.0d))
    val warr = wArray(w, width)
    // product (19,9)×(10,0) → (30,9) exact; fold at (34,9) so the
    // addition result (35,9) never overflows, cast-back exact (|s| ≤
    // n_grams·max|w| ≪ 10^25)
    val sdec = aggregate(col("__bc"), lit(0).cast("decimal(34,9)"),
      (acc, f) => (acc + wAt(warr, f.getField("b")).cast("decimal(19,9)") *
        f.getField("c").cast("decimal(10,0)")).cast("decimal(34,9)"))
    val mkTail = carry.map(col) ++
      labelAs.map(n => col("__y").cast("long").as(n)).toSeq
    val tailNames = (carry ++ labelAs.toSeq).map(col)
    df.select(col(idCol) +: col("__n").as("n_grams") +:
        fround(lit(1.0d) / (lit(1.0d) +
          exp(-fround(bias + sdec.cast("double") / col("__n"), 9))), 9).as("__p") +:
        mkTail: _*)
      .select(col(idCol) +: col("n_grams") +: fround(col("__p"), 6).as("score") +:
        when(col("__p") >= 0.5d, 1L).otherwise(0L).as("pred") +: tailNames: _*)
  }

  /** Train + the gram-mean batch twin of [[scoreStream]] in ONE corpus
    * tokenize (the DSIR-fusion discipline): returns (weights, twin)
    * where twin is bit-identical to `scoreStream(docs, …, weights)` —
    * the calibrator-fitting input for [[scoreStreamCalibrated]] without
    * a second pass over the corpus. The twin materializes before the
    * shared per-doc relation is freed. */
  def trainWithStreamTwin(docs: DataFrame, idCol: String, textCol: String,
                          labelPred: Column, width: Int = 32,
                          iters: Int = 3, lr: Double = 5.0,
                          carry: Seq[String] = Nil,
                          labelAs: Option[String] = None): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    Using.resource(graft.core.Par.materialize(
        docFeatures(docs, idCol, textCol, labelPred, width, carry))) { cp =>
      val w = trainOnDocFeats(cp.df, width, iters, lr)
      val twin = twinFromDocFeats(cp.df, idCol, w, width, carry, labelAs)
        .localCheckpoint(eager = true)
      (w.toSeq.sortBy(_._1).toDF("b", "w"), twin)
    }
  }

  /** Streaming scoring WITH per-domain Platt calibration applied in the
    * same plan — the production ingest-filter shape: the classifier
    * coefficients AND the (domain, cal_a, cal_b) fit table (from
    * [[Calibration.plattFit]] on the batch twin's scores) broadcast
    * into the gram stream, and the calibrated probability is emitted
    * per document.
    *
    * Streaming plans disallow joins AFTER an aggregation, so the
    * parameter join happens at gram level (a ≤|domains|-row broadcast)
    * and (cal_a, cal_b) ride the groupBy keys — constant per domain, so
    * state size is unchanged. Pins are the scoreStream + plattCalibrate
    * composition exactly: score = round6 of the 9-dp gram-mean sigmoid,
    * cal_score = round6 sigmoid(a·score + b), pred on the calibrated
    * 9-dp probability.
    *
    * Documents whose domain is absent from `fit` are DROPPED by the
    * inner parameter join — fit on a domain superset, or union a
    * default (domain, 0, 0) row (identity calibration ≈ sigmoid(0·s+0)
    * is NOT identity, so prefer refitting) before going live. */
  def scoreStreamCalibrated(docs: DataFrame, idCol: String,
                            domainCol: String, textCol: String,
                            weights: DataFrame, fit: DataFrame,
                            width: Int = 32): DataFrame = {
    val bias = lit(weights.filter(col("b") === -1L).head().getDouble(1))
    val p9 = fround(lit(1.0d) / (lit(1.0d) +
      exp(-fround(bias + col("__s").cast("double") / col("n_grams"), 9))), 9)
    val score6 = fround(p9, 6)
    val cal9 = fround(lit(1.0d) / (lit(1.0d) +
      exp(-fround(col("cal_a") * score6 + col("cal_b"), 9))), 9)
    Dsir.gramBuckets(docs, idCol, textCol, width, carry = Seq(domainCol))
      .join(broadcast(weights.filter(col("b") >= 0L)), "b")
      .join(broadcast(fit), domainCol)
      .groupBy(col(idCol), col(domainCol), col("cal_a"), col("cal_b"))
      .agg(sum(col("w").cast("decimal(38,9)")).as("__s"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col(domainCol), col("n_grams"),
        score6.as("score"), fround(cal9, 6).as("cal_score"),
        when(cal9 >= 0.5d, 1L).otherwise(0L).as("pred"))
  }
}
