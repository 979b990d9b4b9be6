package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** Per-domain Platt scaling (Platt 1999, "Probabilistic Outputs for
  * Support Vector Machines..." — public method, no reference analogue):
  * recalibrate classifier scores into probabilities by fitting
  * sigmoid(A_d * s + B_d) to (score, label) WITHIN each source domain.
  * The standard companion step before mixing quality-filtered sources —
  * a classifier trained on the pooled corpus is systematically over- or
  * under-confident per domain, and the mixture quotas (Curation.
  * mixtureSample) want comparable probabilities, not raw scores.
  *
  * Platt's original fit is a Newton iteration (non-deterministic across
  * float orderings); this is the deterministic twin of
  * [[QualityClassifier]]'s GD: fixed iteration count, fixed learning
  * rate, every intermediate pinned to 9 dp and every cross-row sum
  * accumulated in DECIMAL(38,9), so the fitted (A_d, B_d) and the
  * calibrated scores are bit-reproducible across partitionings AND
  * reproducible by the DuckDB oracle with the iterations unrolled as
  * CTE chains.
  *
  * Scale shape (r18): driver state is 2 values per domain (domains are
  * a bounded label set — the kmeans k×d license); each GD step is ONE
  * domain-keyed partial-agg shuffle with the parameters inlined as map
  * literals (no joins, no broadcasts in the loop); the final
  * calibration pass is a pure projection through the same literals.
  * Nothing corpus-quadratic, no windows, no per-row driver work.
  */
object Calibration {
  private def sigmoid9(z: Column): Column =
    fround(lit(1.0d) / (lit(1.0d) + exp(-fround(z, 9))), 9)

  /** Fit per-domain (A, B) and return the calibrated frame:
    * (idCol, domainCol, score, cal_score, label).
    *
    * `scored` must carry idCol, domainCol, scoreCol (double in [0,1])
    * and labelCol (0/1). Output `cal_score` = round6 sigmoid(A_d*s+B_d),
    * `score` echoes the input score, `label` the 0/1 label as BIGINT.
    */
  def plattCalibrate(scored: DataFrame, idCol: String, domainCol: String,
                     scoreCol: String, labelCol: String,
                     iters: Int = 3, lr: Double = 2.0): DataFrame = {
    val base0 = scored.select(col(idCol), col(domainCol),
      col(scoreCol).cast("double").as("__s"),
      col(labelCol).cast("double").as("__y"))
    graft.core.Par.through(base0) { base =>
      val fit = fitParams(base, domainCol, iters, lr)
      // (A_d, B_d) inline as |domains|-entry map literals (domains are a
      // bounded label set) — the calibration pass is a pure projection,
      // no join (was a broadcast join of the fit table)
      val aM = domainMap(fit.map { case (d, (a, _)) => d -> a })
      val bM = domainMap(fit.map { case (d, (_, b)) => d -> b })
      base
        .select(col(idCol), col(domainCol), col("__s").as("score"),
          fround(sigmoid9(element_at(aM, col(domainCol)) * col("__s") +
            element_at(bM, col(domainCol))), 6).as("cal_score"),
          col("__y").cast("long").as("label"))
    }
  }

  /** |domains|-entry map literal — the bounded-label-set lookup that
    * replaces per-iteration broadcast joins of the parameter table. */
  private def domainMap(m: Map[String, Double]): Column =
    // NULL domains never reach here from fitParams (a null group key
    // would make a null map key, a runtime error) — drop them to keep
    // the old broadcast-join's silent-drop semantics (ADVICE r18)
    map(m.toSeq.filter(_._1 != null).sortBy(_._1)
      .flatMap { case (d, v) => Seq(lit(d), lit(v)) }: _*)

  /** Fit alone: the (domainCol, cal_a, cal_b) parameter table, for
    * callers that apply calibration elsewhere (e.g. the streaming
    * scorer, which broadcasts this table into the gram stream). */
  def plattFit(scored: DataFrame, domainCol: String, scoreCol: String,
               labelCol: String, iters: Int = 3,
               lr: Double = 2.0): DataFrame = {
    graft.core.Par.within(scored.select(col(domainCol),
        col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("double").as("__y"))) { base =>
      fitOn(base, domainCol, iters, lr)
    }
  }

  /** GD loop over a (domainCol, __s, __y) relation → per-domain
    * (cal_a, cal_b); 2·|domains| driver values, one domain-keyed
    * partial-agg shuffle per step. r18 shape: the parameters ride map
    * literals instead of a per-step broadcast join (iteration 1 is the
    * constant (0,0) lookup, so the domain set and sizes come out of its
    * gradient agg — no separate count job), and each step is ONE job
    * with no joins. Identical math/values to the old join form. */
  private def fitParams(base: DataFrame, domainCol: String, iters: Int,
                        lr: Double): Map[String, (Double, Double)] = {
    var nByDomain: Map[String, Double] = Map.empty
    var params: Map[String, (Double, Double)] = Map.empty
    for (it <- 1 to iters) {
      val (aCol, bCol) =
        if (it == 1) (lit(0.0d), lit(0.0d)) // params start at (0, 0)
        else (element_at(domainMap(params.map { case (d, (a, _)) => d -> a }),
                col(domainCol)),
              element_at(domainMap(params.map { case (d, (_, b)) => d -> b }),
                col(domainCol)))
      // per-doc p under the current (A_d, B_d); err = p - y is exact
      // (9-dp double minus an integer)
      val grad = base
        .select(col(domainCol),
          (sigmoid9(aCol * col("__s") + bCol) - col("__y")).as("__e"),
          col("__s"))
        .groupBy(col(domainCol))
        .agg(count(lit(1)).as("n"),
          sum(fround(col("__e") * col("__s"), 9).cast("decimal(38,9)")).as("__ga"),
          sum(col("__e").cast("decimal(38,9)")).as("__gb"))
        .collect()
      if (it == 1) {
        nByDomain = grad.map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
        params = nByDomain.keys.map(_ -> (0.0d, 0.0d)).toMap
      }
      params = grad.map { r =>
        val d = r.getString(0)
        val n = nByDomain(d)
        val (a, b) = params(d)
        val ga = fround(r.getDecimal(2).doubleValue() / n, 9)
        val gb = fround(r.getDecimal(3).doubleValue() / n, 9)
        d -> (fround(a - lr * ga, 9), fround(b - lr * gb, 9))
      }.toMap
    }
    params
  }

  private def fitOn(base: DataFrame, domainCol: String, iters: Int,
                    lr: Double): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    fitParams(base, domainCol, iters, lr).toSeq
      .map { case (d, (a, b)) => (d, a, b) }.sortBy(_._1)
      .toDF(domainCol, "cal_a", "cal_b")
  }

  /** Per-domain isotonic calibration (pool-adjacent-violators, Barlow
    * et al. 1972; Zadrozny & Elkan 2002 for classifier calibration —
    * public methods, no reference analogue): fit the best monotone
    * non-decreasing map score → P(y=1) within each domain. The
    * non-parametric companion to [[plattCalibrate]] — preferred when
    * the miscalibration is not sigmoid-shaped.
    *
    * Scale shape: scores are 6-dp pinned, so the fit runs on the
    * (domain, score) BIN relation (≤1e6+1 bins per domain regardless
    * of corpus size) — one partial-agg shuffle builds the bins, then
    * PAV runs per domain inside `flatMapGroups` (bounded state: the
    * pool stack over the domain's bins), and a broadcast join maps the
    * fit back onto the documents. Nothing per-doc leaves the executors.
    *
    * Determinism: pooling decisions compare pool means by EXACT Long
    * cross-multiplication (sum_prev·n_curr ≥ sum_curr·n_prev — y is
    * 0/1 so pool sums are integers); the emitted value divides two
    * exact longs (correctly-rounded IEEE division: equal rationals
    * give identical doubles in any engine) and pins to 6 dp. The
    * DuckDB oracle reproduces the fit through the minimax
    * characterization iso(i) = max_{j≤i} min_{k≥i} mean(y[j..k]) —
    * the isotonic solution is unique, so PAV and minimax agree
    * bin-for-bin. */
  def isotonicCalibrate(scored: DataFrame, idCol: String, domainCol: String,
                        scoreCol: String, labelCol: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    graft.core.Par.through(scored.select(col(idCol),
        col(domainCol), col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("double").as("__y"))) { base =>
      val bins = base.groupBy(col(domainCol), col("score"))
        .agg(count(lit(1)).as("n"), sum(col("__y").cast("long")).as("sy"))
        .select(col(domainCol).as("__d"), col("score"), col("n"), col("sy"))
        .as[(String, Double, Long, Long)]
      val fit = bins.groupByKey(_._1)
        .flatMapGroups { (d: String, it: Iterator[(String, Double, Long, Long)]) =>
          val sorted = it.toArray.sortBy(_._2)
          // PAV pool stack: (firstBinIdx, n, sy)
          val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
          sorted.indices.foreach { i =>
            var cur = (i, sorted(i)._3, sorted(i)._4)
            // merge while the previous pool's mean ≥ current's (exact
            // integer cross-multiplication — no float in the decision)
            while (stack.nonEmpty &&
              stack.last._3 * cur._2 >= cur._3 * stack.last._2) {
              val p = stack.remove(stack.length - 1)
              cur = (p._1, p._2 + cur._2, p._3 + cur._3)
            }
            stack += cur
          }
          stack.iterator.flatMap { case (start, n, sy) =>
            val v = sy.toDouble / n.toDouble
            val end = stack.find(_._1 > start).map(_._1).getOrElse(sorted.length)
            (start until end).iterator.map(i => (d, sorted(i)._2, v))
          }
        }
        .toDF(domainCol, "score", "__iso")
      base.join(broadcast(fit), Seq(domainCol, "score"))
        .select(col(idCol), col(domainCol), col("score"),
          fround(col("__iso"), 6).as("iso_score"),
          col("__y").cast("long").as("label"))
    }
  }

  /** Per-domain expected calibration error (Naeini et al. 2015,
    * "Obtaining Well Calibrated Probabilities Using Bayesian Binning" —
    * the standard reliability metric): 10 equal-width probability bins,
    * ECE_d = Σ_b (n_b/N_d)·|mean score_b − frac positive_b|.
    *
    * Returns (domainCol, n_docs, ece), 6-dp pinned, deterministic across
    * engines: bin means divide DECIMAL-accumulated 6-dp scores and exact
    * label counts (both 9-dp pinned before the difference), per-bin
    * terms pin to 9 dp and accumulate in DECIMAL(38,9). Scale shape: two
    * partial-agg shuffles ((domain, bin) then domain) plus one join
    * against the ≤|domains|-row totals — nothing per-doc on the driver.
    */
  def ece(scored: DataFrame, domainCol: String, scoreCol: String,
          labelCol: String): DataFrame = {
    val byBin = scored
      .select(col(domainCol),
        least(floor(col(scoreCol) * 10), lit(9L)).cast("long").as("bin"),
        col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("double").as("__y"))
      .groupBy(col(domainCol), col("bin"))
      .agg(count(lit(1)).as("n_b"),
        sum(col("__s").cast("decimal(38,9)")).as("s_b"),
        sum(col("__y").cast("decimal(38,9)")).as("p_b"))
    val totals = byBin.groupBy(col(domainCol)).agg(sum("n_b").as("n_docs"))
    // ≤|domains|·10-row bin relation joins its ≤|domains|-row totals:
    // broadcast, never a shuffle pair (r18)
    byBin.join(broadcast(totals), domainCol)
      .select(col(domainCol), col("n_docs"),
        fround((col("n_b").cast("double") / col("n_docs")) *
          abs(fround(col("s_b").cast("double") / col("n_b"), 9) -
            fround(col("p_b").cast("double") / col("n_b"), 9)), 9).as("__t"))
      .groupBy(col(domainCol))
      .agg(max("n_docs").as("n_docs"),
        fround(sum(col("__t").cast("decimal(38,9)")).cast("double"), 6).as("ece"))
  }
}
