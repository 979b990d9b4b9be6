package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.CorpusStats
import Q._
import graft.functions.Rounding.fround

/** Corpus-statistics and event-analytics battery: per-doc entropy, PMI
  * collocations, per-source KL drift, source overlap matrix, asymmetric
  * containment, Zipf fit, information profile, Count-Min sketch,
  * weighted sampling, PageRank, hopping windows (batch + stream),
  * cohort retention, transition matrix, RFM segmentation, and rolling
  * z-score anomaly detection (batch + stream).
  */
object Analytics {
  val defs: Map[String, QueryFn] = Map(
    // ---- per-document unigram entropy (quality signal) ----------------
    "q_word_entropy" -> ((s, dir) =>
      CorpusStats.wordEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- PMI collocation mining (top-20, min pair count 5) ------------
    "q_pmi" -> ((s, dir) =>
      CorpusStats.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5L, k = 20)),

    // ---- DSIR hashed n-gram importance weighting (domain selection,
    // arXiv:2302.03169): two B=1024 bucket aggregations feed a broadcast
    // weight table; scoring is one broadcast join + one partial-agg
    // shuffle keyed by document — nothing corpus-quadratic
    "q_dsir_weights" -> ((s, dir) =>
      graft.text.Dsir.weightedScores(t(s, dir, "documents"), "doc_id",
        "text", col("source") === "src1").orderBy("doc_id")),

    // ---- DSIR resampling: importance-weighted selection (the paper's
    // second step) — A-ES keys u^(1/w) over w = exp(score), one
    // distributed TakeOrdered; weights pre-round to 9 dp so both sides
    // feed pow identical doubles
    "q_dsir_sample" -> ((s, dir) => {
      val scored = graft.text.Dsir.weightedScores(t(s, dir, "documents"),
          "doc_id", "text", col("source") === "src1")
        .withColumn("w", fround(exp(col("dsir_score")), 9))
      graft.text.Curation.weightedSample(scored, "doc_id", "w", k = 50)
    }),

    // ---- fastText-style quality classifier (arXiv:1607.01759): hashed
    // uni+bigram features, deterministic full-batch logistic GD (9-dp
    // pinned, DECIMAL-exact reductions — the DSIR discipline), broadcast
    // coefficients for distributed scoring; nothing corpus-quadratic
    "q_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // labelAs replaces the doc_id join back to documents (r19): the
      // emitted label is the same when(lang='en',1L,0L), evaluated
      // before the explode instead of re-joined after scoring
      graft.text.QualityClassifier
        .trainAndScore(docs, "doc_id", "text", col("lang") === "en",
          labelAs = Some("label"))
        .orderBy("doc_id")
    }),

    // ---- classifier-guided selection: A-ES weighted sample over
    // w = exp(score), composing with weightedSample like q_dsir_sample
    "q_quality_sample" -> ((s, dir) => {
      val scored = graft.text.QualityClassifier
        .trainAndScore(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .withColumn("w", fround(exp(col("score")), 9))
      graft.text.Curation.weightedSample(scored, "doc_id", "w", k = 50)
    }),

    // ---- STREAMING classifier scoring: batch-trained coefficients
    // broadcast into a document stream; gram-level mean scoring (the
    // fastText architecture — mean of token weights) because the
    // bucket-count dot product's (doc, bucket) pre-aggregation cannot
    // follow a streaming aggregation. One stream agg per doc.
    "q_stream_quality" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
      val wt = graft.text.QualityClassifier.train(d0, "doc_id", "text",
        col("lang") === "en")
      StreamRun.gate("q_stream_quality", d0, "complete") { src =>
        graft.text.QualityClassifier.scoreStream(src, "doc_id", "text", wt)
      }.orderBy("doc_id")
    }),

    // ---- per-domain Platt calibration (Platt 1999) of the classifier
    // scores: the standard companion step before mixing quality-filtered
    // sources — a pooled classifier is over/under-confident per domain.
    // Deterministic fixed-iteration GD twin of the classifier (9-dp +
    // DECIMAL discipline); driver state 2 values per domain, one
    // domain-keyed partial-agg shuffle per step, broadcast fit table.
    "q_quality_calibrated" -> ((s, dir) =>
      calibratedDocs(s, dir).orderBy("doc_id")),

    // ---- per-domain ISOTONIC calibration (PAV, Zadrozny & Elkan
    // 2002): the non-parametric companion to Platt — fit on the 6-dp
    // score BIN relation (bounded bins/domain at any corpus size),
    // PAV per domain with exact integer pooling decisions, broadcast
    // fit joined back onto documents.
    "q_isotonic_calibrated" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // carry/labelAs replace the doc_id join (see calibratedDocs)
      val scored = graft.text.QualityClassifier
        .trainAndScore(docs, "doc_id", "text", col("lang") === "en",
          carry = Seq("source"), labelAs = Some("y"))
      graft.text.Calibration.isotonicCalibrate(scored, "doc_id", "source",
        "score", "y").orderBy("doc_id")
    }),

    // ---- reliability audit: per-domain expected calibration error
    // before (raw classifier score) vs after (Platt-calibrated) — the
    // metric that justifies the calibration step. Two bin-keyed
    // partial-agg shuffles per side, nothing per-doc on the driver.
    "q_calibration_ece" -> ((s, dir) => {
      val cal = calibratedDocs(s, dir)
      val before = graft.text.Calibration.ece(cal, "source", "score", "label")
        .withColumnRenamed("ece", "ece_raw").drop("n_docs")
      val after = graft.text.Calibration.ece(cal, "source", "cal_score", "label")
        .withColumnRenamed("ece", "ece_cal")
      after.join(before, "source")
        .select(col("source"), col("n_docs"), col("ece_raw"), col("ece_cal"))
        .orderBy("source")
    }),

    // ---- STREAMING calibrated scoring: the production ingest-filter
    // shape — classifier coefficients AND the per-domain Platt fit
    // (trained/fitted in batch on the stream scorer's twin) broadcast
    // into the gram stream; the fit parameters ride the groupBy keys
    // (constant per domain) because stream plans disallow post-agg
    // joins. Emits raw + calibrated probability per document.
    "q_stream_calibrated" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
      // ONE corpus tokenize for training AND the twin scores the
      // calibrator fits on (the DSIR-fusion discipline)
      // carry/labelAs replace the twin's doc_id join (see calibratedDocs)
      val (wt, twin) = graft.text.QualityClassifier
        .trainWithStreamTwin(d0, "doc_id", "text", col("lang") === "en",
          carry = Seq("source"), labelAs = Some("y"))
      val fit = graft.text.Calibration.plattFit(twin, "source", "score", "y")
      StreamRun.gate("q_stream_calibrated", d0, "complete") { src =>
        graft.text.QualityClassifier.scoreStreamCalibrated(src,
          "doc_id", "source", "text", wt, fit)
      }.orderBy("doc_id")
    }),

    // ---- DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429):
    // group-DRO multiplicative weights over per-domain EXCESS log-loss
    // of the calibrated classifier — the step after calibration in a
    // real mixing pipeline. One corpus pass (domain-keyed partial agg)
    // builds the loss table; the MW loop runs on k driver values.
    "q_doremi_weights" -> ((s, dir) =>
      graft.text.Doremi.domainWeights(calibratedDocs(s, dir), "source",
        "cal_score", "label").orderBy("source")),

    // ---- DoReMi mix: the fitted weights become per-domain quotas over
    // a fixed doc budget (floor(w_d·200+0.5)), drawn with
    // mixtureSample's deterministic md5-of-id rank — DoReMi's end use.
    "q_doremi_mix" -> ((s, dir) => {
      val cal = calibratedDocs(s, dir)
      graft.text.Doremi.resample(cal,
          cal.select("doc_id", "source", "cal_score"),
          "source", "doc_id", "cal_score", "label", budget = 200)
        .orderBy("doc_id")
    }),

    // ---- calibration COMPOSITION gate: the full production chain —
    // classifier → per-domain Platt calibration → quality gate (keep
    // docs at/above their domain's MEAN calibrated score — a relative
    // gate bites at every scale where an absolute cutoff goes
    // degenerate) → per-domain mixture quotas — hash-pinned end to
    // end, not just stage by stage. Threshold is one domain-keyed
    // partial agg broadcast back; the draw is the WindowGroupLimit
    // mixture plan.
    "q_calibrated_mixture" -> ((s, dir) => {
      val cal = calibratedDocs(s, dir)
      val thr = cal.groupBy(col("source"))
        .agg(fround(sum(col("cal_score").cast("decimal(38,9)"))
          .cast("double") / count(lit(1)), 9).as("__thr"))
      val gated = cal.join(broadcast(thr), "source")
        .filter(col("cal_score") >= col("__thr"))
        .select("doc_id", "source", "cal_score")
      graft.text.Curation.mixtureSample(gated, "source", "doc_id",
          (0 until 20).map(i => s"src$i" -> 5).toMap)
        .orderBy("doc_id")
    }),

    // ---- per-source distribution drift: KL(source || corpus) ----------
    "q_source_kl" -> ((s, dir) =>
      CorpusStats.sourceKl(t(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    // ---- source x source distinct-trigram overlap matrix --------------
    "q_cross_overlap" -> ((s, dir) =>
      CorpusStats.crossOverlap(t(s, dir, "documents"), "source", "text", n = 3)
        .orderBy("src_a", "src_b")),

    // ---- asymmetric containment (sub-document duplication) ------------
    "q_containment" -> ((s, dir) =>
      CorpusStats.containmentPairs(t(s, dir, "documents"), blockCol = "source",
          n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    // ---- Zipf-law fit (rank assigned without a global window) ----------
    "q_zipf" -> ((s, dir) =>
      CorpusStats.zipfFit(t(s, dir, "documents"), "text", k = 100)),

    // ---- information-theoretic corpus profile --------------------------
    "q_info_profile" -> ((s, dir) =>
      CorpusStats.infoProfile(t(s, dir, "documents"), "text")),

    // ---- audio feature extraction (peak + zero-crossing rate) ----------
    // Real PCM16 decode (RIFF chunk walk) over deterministic synthesized
    // payloads; the oracle recomputes peak/ZCR from the source character
    // codes, so a decoder bug breaks the hash. Batched mapPartitions —
    // the binary never shuffles.
    "q_audio_features" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select("doc_id", "text")
      val featSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_samples", LongType),
        StructField("peak", LongType),
        StructField("zcr", DoubleType)))
      docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val codes = r.getString(1).map(_.toInt & 0xFF).toArray
          val wav = Multimodal.synthWav(codes, 16000, 64 + (id % 32).toInt)
          val w = Multimodal.decodeWav(wav).get
          Row(id, w.nSamples.toLong, w.peak.toLong,
            fround(w.flips.toDouble / (w.nSamples - 1), 6))
        }
      }(Encoders.row(featSchema)).orderBy("doc_id")
    }),

    // ---- content-defined chunking (long-doc splitting) -------------------
    // Splits each document at CONTENT-derived boundaries (a word whose
    // md5 starts with '0' opens a new chunk, ~1/16 rate): insertions
    // shift only the chunk they land in, unlike fixed-size windows that
    // reflow everything after the edit — the standard trick for
    // dedup-stable long-doc chunking. Word-positional flags, a per-doc
    // running sum, one partial-agg per (doc, chunk); no sequential state.
    "q_cdc_chunks" -> ((s, dir) => {
      val ws = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          posexplode(split(regexp_replace(lower(col("text")), "\\s+", " "), " "))
            .as(Seq("pos", "w")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      ws.withColumn("flag",
          when(col("pos") > 0 && substring(md5(col("w")), 1, 1) === "0", 1L)
            .otherwise(0L))
        .withColumn("chunk_idx", sum("flag").over(w))
        .groupBy("doc_id", "chunk_idx")
        .agg(min("pos").cast("long").as("w_start"),
          max("pos").cast("long").as("w_end"),
          count(lit(1)).as("n_words"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- fuzzy vocabulary pairs (length-blocked Levenshtein join) -------
    "q_fuzzy_vocab" -> ((s, dir) =>
      CorpusStats.fuzzyVocabPairs(t(s, dir, "documents"), "text", maxDist = 2)
        .orderBy("w1", "w2")),

    // ---- language-ID confusion matrix (model audit vs labels) -----------
    "q_langid_confusion" -> ((s, dir) =>
      graft.text.TextOps.langid(t(s, dir, "documents"), col("text"))
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted_lang")),

    // ---- per-source exact-duplication rate -------------------------------
    // The data-card dedup accounting: how much of each source is exact
    // copies. Fingerprint groupBy (text travels as md5), then per-source
    // partial-agg counts.
    "q_dup_rate_by_source" -> ((s, dir) => {
      val fp = t(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("fp"))
        .groupBy("source", "fp").agg(count(lit(1)).as("c"))
      fp.groupBy("source")
        .agg(sum("c").as("n_docs"), count(lit(1)).as("n_distinct"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_in_dup_groups"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          fround((col("n_docs") - col("n_distinct")) / col("n_docs"), 6)
            .as("dup_frac"),
          col("n_in_dup_groups"))
        .orderBy("source")
    }),

    // ---- corpus snapshot diff (added/removed/changed audit) ------------
    // Two deterministic snapshots derived from the same table: "old" =
    // residues 0-7, "new" = residues 1-8 with residue-3 texts rewritten.
    "q_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old_ = docs.filter(col("doc_id") % 10 < 8)
      val new_ = docs.filter(col("doc_id") % 10 >= 1)
        .withColumn("text", when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusStats.corpusDiff(old_, new_, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- join-key skew report ------------------------------------------
    "q_skew_report" -> ((s, dir) =>
      CorpusStats.skewReport(t(s, dir, "events"), "user_id", k = 10)
        .orderBy(col("cnt").desc, col("key"))),

    // ---- Count-Min sketch with an engine-reproducible hash -------------
    "q_countmin" -> ((s, dir) =>
      CorpusStats.countMin(t(s, dir, "documents"), "text",
        rows = 4, width = 1024, k = 20)),

    // ---- deterministic weighted sampling (Efraimidis–Spirakis) --------
    "q_weighted_sample" -> ((s, dir) =>
      graft.text.Curation.weightedSample(t(s, dir, "documents"),
        "doc_id", "n_chars", k = 50)),

    // ---- PageRank over the near-dup similarity graph -------------------
    // 3 fixed iterations, per-iteration ranks 9-dp-pinned; each round is
    // one adjacency-vs-rank shuffle join + a partial-agg contribution
    // shuffle. The pairs are symmetrized in one pass (no self-union), so
    // the Jaccard subtree has one reference and keeps its full-width
    // pre-expansion rebalance.
    "q_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = graft.dedup.Dedup.jaccardPairs(docs, blockCol = "source", threshold = 0.1)
        .select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.graph.PageRank.run(docs.select(col("doc_id").as("v")), edges,
          d = 0.85, iters = 3)
        .select(col("v").as("doc_id"), col("rank"))
        .orderBy("doc_id")
    }),

    // ---- hopping (sliding) window aggregation --------------------------
    // Native window(ts, 10m, 5m): each event lands in exactly two
    // overlapping buckets inside ONE partial-aggregated shuffle — no
    // self-union, no explode the optimizer can't see through.
    "q_hopping_window" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val tsCol = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          col("ts").cast("timestamp")
        case _ => col("ts")
      }
      ev.select(tsCol.as("__t"), col("event_type"),
          fround(col("value"), 6).cast("decimal(38,6)").as("__v"))
        .groupBy(window(col("__t"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("__v").cast("double").as("vsum"))
        .select(unix_micros(col("window.start")).as("w_start"),
          col("event_type"), col("n"), fround(col("vsum"), 4).as("vsum"))
        .orderBy("w_start", "event_type")
    }),

    // ---- the SAME hopping windows on an unbounded stream ---------------
    // Real Structured Streaming run (file source → windowed agg → memory
    // sink, complete mode so the bounded stream emits every window);
    // must hash-match the batch kernel's oracle exactly.
    "q_stream_hopping" -> ((s, dir) => {
      StreamRun.gate("q_stream_hopping", t(s, dir, "events"), "complete") { src =>
        src
          .select(timestamp_micros(Q.tsUs(src)).as("__t"), col("event_type"),
            fround(col("value"), 6).cast("decimal(38,6)").as("__v"))
          .groupBy(window(col("__t"), "10 minutes", "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("__v").cast("double").as("vsum"))
          .select(unix_micros(col("window.start")).as("w_start"),
            col("event_type"), col("n"), fround(col("vsum"), 4).as("vsum"))
      }.orderBy("w_start", "event_type")
    }),

    // ---- rolling z-score anomaly detection (exact integer baseline) ----
    "q_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val e = ev.select(col("user_id"), col("event_id"),
        Q.tsUs(ev).as("t_us"), col("value"))
      graft.operators.SeqOps.rollingZscore(e, "user_id", "t_us", "event_id",
          "value", window = 20, threshold = 3.0)
        .orderBy("user_id", "t_us")
    }),

    // ---- the SAME anomaly detector on an unbounded stream ---------------
    // flatMapGroupsWithState ring buffer of 1e6-scaled longs; a bounded
    // replay must hash-match the batch window kernel's oracle.
    "q_stream_anomaly" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_anomaly", e0, "append") { src =>
        graft.streaming.StatefulOps.zscoreStream(
          src.select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), col("value")),
          window = 20, threshold = 3.0)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          col("value"), col("zscore"))
        .orderBy("user_id", "t_us")
    }),

    // ---- weekly cohort retention over the event stream ----------------
    // cohort = the user's first active epoch-week; one partial-agg
    // shuffle on user_id (per-user week set is bounded by the horizon),
    // then a small shuffle on the (cohort, offset) matrix.
    "q_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wk = ev.select(col("user_id"), Q.tsUs(ev).as("us"))
        .select(col("user_id"), expr("us div 604800000000").as("wk"))
      wk.groupBy("user_id").agg(array_sort(collect_set(col("wk"))).as("wks"))
        .select(element_at(col("wks"), 1).as("cwk"), explode(col("wks")).as("wk"))
        .groupBy((col("cwk") * lit(604800000000L)).as("cohort_week"),
          (col("wk") - col("cwk")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // ---- first-order Markov transition matrix over event sequences ----
    // lag window partitioned by user (per-user state bounded by that
    // user's activity), then a 5x5-grained count shuffle; row-normalized
    // via a broadcast of the per-prev totals.
    "q_transition_matrix" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
      val p = ev.select(col("user_id"), col("event_id"), col("event_type"),
          Q.tsUs(ev).as("__us"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("prev_type"), col("event_type").as("cur_type"))
        .agg(count(lit(1)).as("n"))
      val tot = p.groupBy("prev_type").agg(sum("n").as("tn"))
      p.join(broadcast(tot), "prev_type")
        .select(col("prev_type"), col("cur_type"), col("n"),
          fround(col("n") / col("tn"), 6).as("prob"))
        .orderBy("prev_type", "cur_type")
    }),

    // ---- top event paths (3-step sequences) -----------------------------
    // Second-order companion to the transition matrix: the most common
    // 3-step event-type journeys. One per-user lag window, then a
    // path-count shuffle and a distributed top-k.
    "q_event_paths" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
      ev.select(col("user_id"), col("event_id"), col("event_type"),
          Q.tsUs(ev).as("__us"))
        .withColumn("p1", lag("event_type", 2).over(w))
        .withColumn("p2", lag("event_type", 1).over(w))
        .filter(col("p1").isNotNull)
        .select(concat_ws(" > ", col("p1"), col("p2"), col("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    }),

    // ---- RFM user segmentation --------------------------------------
    // Quartile thresholds are exact interpolated percentiles broadcast
    // to every row — no global-ORDER-BY window anywhere (ntile would
    // serialize all users into one task). Monetary sums through 6-dp
    // decimal so segment boundaries cannot drift with partitioning.
    "q_rfm" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val u0 = ev.select(col("user_id"), Q.tsUs(ev).as("__us"),
          fround(col("value"), 6).cast("decimal(38,6)").as("__v"))
        .groupBy("user_id")
        .agg(max("__us").as("rec_us"), count(lit(1)).as("frequency"),
          sum("__v").as("__m"))
        .withColumn("monetary_d", col("__m").cast("double"))
      val g = u0.agg(max("rec_us").as("gmax"))
      val u = u0.crossJoin(broadcast(g))
        .withColumn("recency_days", expr("(gmax - rec_us) div 86400000000"))
      val q = u.agg(
        percentile(col("recency_days"), lit(0.25)).as("r25"),
        percentile(col("recency_days"), lit(0.5)).as("r50"),
        percentile(col("recency_days"), lit(0.75)).as("r75"),
        percentile(col("frequency"), lit(0.25)).as("f25"),
        percentile(col("frequency"), lit(0.5)).as("f50"),
        percentile(col("frequency"), lit(0.75)).as("f75"),
        percentile(col("monetary_d"), lit(0.25)).as("m25"),
        percentile(col("monetary_d"), lit(0.5)).as("m50"),
        percentile(col("monetary_d"), lit(0.75)).as("m75"))
      u.crossJoin(broadcast(q))
        .withColumn("r_score",
          when(col("recency_days") <= col("r25"), 4)
            .when(col("recency_days") <= col("r50"), 3)
            .when(col("recency_days") <= col("r75"), 2).otherwise(1))
        .withColumn("f_score",
          when(col("frequency") >= col("f75"), 4)
            .when(col("frequency") >= col("f50"), 3)
            .when(col("frequency") >= col("f25"), 2).otherwise(1))
        .withColumn("m_score",
          when(col("monetary_d") >= col("m75"), 4)
            .when(col("monetary_d") >= col("m50"), 3)
            .when(col("monetary_d") >= col("m25"), 2).otherwise(1))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          fround(col("monetary_d"), 2).as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score").cast("string"), col("f_score").cast("string"),
            col("m_score").cast("string")).as("segment"))
        .orderBy("user_id")
    }))

  private val W =
    """SELECT doc_id, source,
         string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
       FROM documents"""

  /** Shared prelude of the calibration/DoReMi family: classifier
    * scores joined with source + 0/1 label, Platt-calibrated per
    * domain (the q_quality_calibrated chain). */
  private def calibratedDocs(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    // source and the 0/1 label ride the feature build's own grouping
    // keys (carry/labelAs) — the corpus-scale doc_id join back to the
    // source relation is gone (r19; values identical, the label IS
    // when(lang='en',1,0) evaluated pre-explode)
    val scored = graft.text.QualityClassifier
      .trainAndScore(docs, "doc_id", "text", col("lang") === "en",
        carry = Seq("source"), labelAs = Some("y"))
    graft.text.Calibration.plattCalibrate(scored, "doc_id", "source",
      "score", "y")
  }

  /** The quality-classifier oracle: the same fixed-iteration logistic
    * GD as text/QualityClassifier, UNROLLED as CTE chains (w0 → z1/p1/
    * e1/g1 → w1 → … ). Every intermediate is 9-dp pinned and every
    * cross-row sum runs in DECIMAL(38,9), so DuckDB reproduces the JVM
    * weights bit-for-bit (the DSIR discipline + exp-on-same-double).
    *
    * Multi-referenced CTEs (bk, ft, each w_i) are AS MATERIALIZED:
    * DuckDB 1.0 INLINES CTEs by default, so without the hint each w_i
    * reference re-evaluates its whole upstream chain — exponential in
    * the iteration count (r16 finding: the calibration oracle ran 90+
    * CPU-minutes at sf0.1 before the hint, seconds after). Values are
    * identical either way. */
  private def qcOracle(finalSel: String): String = {
    val width = 32
    val iters = 3
    def r9(e: String) = s"floor(($e) * 1e9 + 0.5)/1e9"
    def dsum(term: String) =
      s"CAST(sum(CAST(${r9(term)} AS DECIMAL(38,9))) AS DOUBLE)"
    val base =
      s"""wl AS MATERIALIZED (SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           string_split(regexp_replace(lower(text),'\\s+',' ','g'),' ') AS ws
         FROM documents),
       g AS (SELECT doc_id, g FROM (
           SELECT doc_id, unnest(ws) AS g FROM wl
           UNION ALL
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1])) AS g FROM wl)),
       bk AS MATERIALIZED (SELECT doc_id,
           ((strpos('0123456789abcdef', substr(m,1,1))-1)*4096 +
            (strpos('0123456789abcdef', substr(m,2,1))-1)*256 +
            (strpos('0123456789abcdef', substr(m,3,1))-1)*16 +
            (strpos('0123456789abcdef', substr(m,4,1))-1)) % $width AS b
         FROM (SELECT doc_id, md5(g) AS m FROM g)),
       ft0 AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
       nn AS (SELECT doc_id, sum(c) AS n FROM ft0 GROUP BY 1),
       ft AS MATERIALIZED (SELECT ft0.doc_id AS doc_id, b, ${r9("c * 1.0 / n")} AS x
           FROM ft0 JOIN nn USING (doc_id)
         UNION ALL SELECT doc_id, -1 AS b, 1.0 AS x FROM nn),
       lab AS (SELECT doc_id, y FROM wl),
       nd AS (SELECT count(*) AS n FROM wl),
       w0 AS (SELECT unnest(generate_series(-1, ${width - 1})) AS b,
           0.0 AS wt)"""
    val steps = (1 to iters).map { i =>
      val pw = s"w${i - 1}"
      s"""z$i AS (SELECT ft.doc_id AS doc_id, ${r9(dsum("wt * x"))} AS z
           FROM ft JOIN $pw USING (b) GROUP BY 1),
         p$i AS (SELECT doc_id, ${r9("1.0 / (1.0 + exp(-z))")} AS p FROM z$i),
         e$i AS (SELECT p$i.doc_id AS doc_id, p - y AS err
           FROM p$i JOIN lab USING (doc_id)),
         g$i AS (SELECT b,
             ${r9(dsum("err * x") + " / (SELECT n FROM nd)")} AS g
           FROM ft JOIN e$i USING (doc_id) GROUP BY 1),
         w$i AS MATERIALIZED (SELECT $pw.b AS b,
             ${r9("wt - 5.0 * coalesce(g, 0.0)")} AS wt
           FROM $pw LEFT JOIN g$i USING (b))"""
    }.mkString(",\n       ")
    val scoring =
      s"""sc AS (SELECT ft.doc_id AS doc_id, ${r9(dsum("wt * x"))} AS z
           FROM ft JOIN w$iters USING (b) GROUP BY 1),
         sp AS (SELECT doc_id, ${r9("1.0 / (1.0 + exp(-z))")} AS p FROM sc)"""
    s"WITH $base,\n       $steps,\n       $scoring\n       $finalSel"
  }

  /** The Platt-calibration oracle CTE chain: picks up `sp` (doc_id,
    * 9-dp p) from qcOracle, derives the 6-dp score + per-source label,
    * then unrolls the SAME fixed-iteration per-domain GD as
    * text/Calibration (lr = 2.0, 3 iters, 9-dp pins, DECIMAL(38,9)
    * sums) as CTE stages, ending in `cc` (doc_id, source, s, cal, y).
    * Multi-referenced stages are MATERIALIZED (DuckDB 1.0 inlines). */
  private def calChain(iters: Int = 3, ssFrom: String = "sp",
                       ssExtra: String = ""): String = {
    def r9(e: String) = s"floor(($e) * 1e9 + 0.5)/1e9"
    def dsum(term: String) =
      s"CAST(sum(CAST($term AS DECIMAL(38,9))) AS DOUBLE)"
    def sig(z: String) = r9(s"1.0 / (1.0 + exp(-(${r9(z)})))")
    val base =
      s""", ss AS MATERIALIZED (SELECT $ssFrom.doc_id AS doc_id, d.source AS source,$ssExtra
           floor(p * 1e6 + 0.5)/1e6 AS s,
           CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         FROM $ssFrom JOIN documents d ON d.doc_id = $ssFrom.doc_id),
       cn AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
       c0 AS (SELECT source, 0.0 AS ca, 0.0 AS cb FROM cn)"""
    val steps = (1 to iters).map { i =>
      val pw = s"c${i - 1}"
      s"""cp$i AS (SELECT ss.doc_id AS doc_id, ss.source AS source, s, y,
           ${sig("ca * s + cb")} AS p
         FROM ss JOIN $pw USING (source)),
       cg$i AS (SELECT cp$i.source AS source,
           ${r9(dsum(r9("(p - y) * s")) + " / n")} AS ga,
           ${r9(dsum("p - y") + " / n")} AS gb
         FROM cp$i JOIN cn USING (source) GROUP BY source, n),
       c$i AS MATERIALIZED (SELECT $pw.source AS source,
           ${r9("ca - 2.0 * coalesce(ga, 0.0)")} AS ca,
           ${r9("cb - 2.0 * coalesce(gb, 0.0)")} AS cb
         FROM $pw LEFT JOIN cg$i USING (source))"""
    }.mkString(",\n       ")
    s"""$base,
       $steps,
       cc AS MATERIALIZED (SELECT ss.*, ${sig("ca * s + cb")} AS p9
         FROM ss JOIN c$iters USING (source))"""
  }

  /** Per-domain ECE over a `cc` column (the Calibration.ece pins): 10
    * equal-width bins, per-bin 9-dp term, DECIMAL sum, 6-dp result. */
  private def eceChain(scoreExpr: String, tag: String): String = {
    def r9(e: String) = s"floor(($e) * 1e9 + 0.5)/1e9"
    s"""eb_$tag AS (SELECT source, CAST(least(floor(($scoreExpr) * 10), 9) AS BIGINT) AS bin,
           count(*) AS n_b,
           sum(CAST(($scoreExpr) AS DECIMAL(38,9))) AS s_b,
           sum(CAST(y AS DECIMAL(38,9))) AS p_b
         FROM cc GROUP BY 1, 2),
       er_$tag AS (SELECT eb_$tag.source AS source,
           ${r9("(CAST(n_b AS DOUBLE) / n_docs) * abs(" +
             r9("CAST(s_b AS DOUBLE) / n_b") + " - " +
             r9("CAST(p_b AS DOUBLE) / n_b") + ")")} AS t
         FROM eb_$tag JOIN et USING (source)),
       ece_$tag AS (SELECT source,
           floor(CAST(sum(CAST(t AS DECIMAL(38,9))) AS DOUBLE) * 1e6 + 0.5)/1e6 AS ece_$tag
         FROM er_$tag GROUP BY 1)"""
  }

  /** The isotonic-calibration oracle suffix: the fit is reproduced via
    * the MINIMAX characterization iso(i) = max_{j≤i} min_{k≥i}
    * mean(y[j..k]) over the per-domain score bins (the isotonic
    * solution is unique, so this equals the JVM's PAV bin-for-bin; all
    * means are rationals with bounded denominators, so correctly-
    * rounded double division is bit-identical across engines).
    * Evaluated in O(bins²): one (j≤k) pair relation carries the
    * interval means, a k-DESC running min per j gives
    * B(j,i) = min_{k≥i} m(j,k) at the (j, k=i) row, and a j-ASC
    * running max per i read at j=i gives the outer max — the running
    * extremes replace the r16 tri join that was O(bins³) per domain
    * (infeasible at the sf1 decade's 2.5k bins/domain). */
  private val isoSuffix: String =
    """, ss AS MATERIALIZED (SELECT sp.doc_id AS doc_id, d.source AS source,
           floor(p * 1e6 + 0.5)/1e6 AS s,
           CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         FROM sp JOIN documents d ON d.doc_id = sp.doc_id),
       ibin AS (SELECT source, s, count(*) AS n,
           CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS sy
         FROM ss GROUP BY 1, 2),
       iord AS MATERIALIZED (SELECT source, s, n, sy,
           CAST(sum(n) OVER (PARTITION BY source ORDER BY s) AS BIGINT) AS cn,
           CAST(sum(sy) OVER (PARTITION BY source ORDER BY s) AS BIGINT) AS cs,
           row_number() OVER (PARTITION BY source ORDER BY s) AS i
         FROM ibin),
       ipr AS (SELECT J.source AS source, J.i AS j, K.i AS k,
           CAST(K.cs - J.cs + J.sy AS DOUBLE) / (K.cn - J.cn + J.n) AS m
         FROM iord J
         JOIN iord K ON K.source = J.source AND K.i >= J.i),
       irm AS (SELECT source, j, k,
           min(m) OVER (PARTITION BY source, j ORDER BY k DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
         FROM ipr),
       iso AS (SELECT source, k AS i, j,
           max(mn) OVER (PARTITION BY source, k ORDER BY j
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         FROM irm),
       ifit AS (SELECT iord.source AS source, s,
           floor(v * 1e6 + 0.5)/1e6 AS iso_score
         FROM iso JOIN iord ON iso.source = iord.source AND iso.i = iord.i
         WHERE iso.j = iso.i)
       SELECT ss.doc_id AS doc_id, ss.source AS source, s AS score,
         iso_score, CAST(y AS BIGINT) AS label
       FROM ss JOIN ifit USING (source, s) ORDER BY doc_id"""

  /** The DoReMi oracle chain: per-domain log-loss over `cc`, then the
    * group-DRO multiplicative-weights loop unrolled as k-row CTE
    * stages. Cross-domain sums use EXACT scaled-long arithmetic
    * (floor(x·1e9+0.5) AS BIGINT — the Doremi.l9 twin; the /1e9 back
    * out is one correctly-rounded IEEE division), so the fixed-order
    * driver loop and DuckDB's unordered SUM agree bit-for-bit. */
  private def doremiChain(steps: Int = 5): String = {
    def r9(e: String) = s"floor(($e) * 1e9 + 0.5)/1e9"
    val base =
      s""", pcx AS (SELECT source, y,
           greatest(least(floor(p9 * 1e6 + 0.5)/1e6, 0.999999), 0.000001) AS pc
         FROM cc),
       dl AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           ${r9("CAST(sum(CAST(" +
             r9("-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))") +
             " AS DECIMAL(38,9))) AS DOUBLE) / count(*)")} AS ld
         FROM pcx GROUP BY 1),
       kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM dl),
       da0 AS (SELECT source, ${r9("1.0 / (SELECT k FROM kk)")} AS a FROM dl)"""
    val stepSql = (1 to steps).map { i =>
      val p = s"da${i - 1}"
      s"""dlb$i AS (SELECT CAST(sum(CAST(floor(a * ld * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)/1e9 AS lb
           FROM $p JOIN dl USING (source)),
         du$i AS MATERIALIZED (SELECT $p.source AS source,
             ${r9("a * " + r9("exp(" +
               r9("1.0 * greatest(" + r9(s"ld - (SELECT lb FROM dlb$i)") + ", 0.0)") +
               ")"))} AS u
           FROM $p JOIN dl USING (source)),
         dz$i AS (SELECT CAST(sum(CAST(floor(u * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)/1e9 AS z FROM du$i),
         da$i AS MATERIALIZED (SELECT source,
             ${r9(r9("(1.0 - 0.1) * " + r9(s"u / (SELECT z FROM dz$i)")) +
               " + 0.1 / (SELECT k FROM kk)")} AS a
           FROM du$i)"""
    }.mkString(",\n       ")
    s"$base,\n       $stepSql"
  }

  val oracles: Map[String, String] = Map(
    "q_isotonic_calibrated" -> qcOracle(isoSuffix),
    "q_doremi_weights" -> qcOracle(calChain() + doremiChain() +
      """
       SELECT dl.source AS source, n_docs,
         floor(ld * 1e6 + 0.5)/1e6 AS loss,
         floor(a * 1e6 + 0.5)/1e6 AS weight
       FROM dl JOIN da5 USING (source) ORDER BY source"""),
    "q_doremi_mix" -> qcOracle(calChain() + doremiChain() +
      """,
       dq AS (SELECT source,
           CAST(floor(floor(a * 1e6 + 0.5)/1e6 * 200 + 0.5) AS BIGINT) AS q
         FROM da5),
       mrk AS (SELECT cc.doc_id AS doc_id, cc.source AS source,
           floor(p9 * 1e6 + 0.5)/1e6 AS cal_score,
           row_number() OVER (PARTITION BY cc.source
             ORDER BY md5(CAST(cc.doc_id AS VARCHAR)), cc.doc_id) AS rk
         FROM cc)
       SELECT doc_id, mrk.source AS source, cal_score
       FROM mrk JOIN dq ON dq.source = mrk.source AND rk <= q
       ORDER BY doc_id"""),
    "q_calibrated_mixture" -> qcOracle(calChain() +
      """,
       qt AS (SELECT source,
           floor(CAST(sum(CAST(floor(p9 * 1e6 + 0.5)/1e6 AS DECIMAL(38,9))) AS DOUBLE)
             / count(*) * 1e9 + 0.5)/1e9 AS thr
         FROM cc GROUP BY 1),
       qd AS (SELECT doc_id, cc.source AS source,
           floor(p9 * 1e6 + 0.5)/1e6 AS cal_score
         FROM cc JOIN qt USING (source)
         WHERE floor(p9 * 1e6 + 0.5)/1e6 >= thr),
       qrk AS (SELECT doc_id, source, cal_score,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM qd)
       SELECT doc_id, source, cal_score FROM qrk WHERE rk <= 5
       ORDER BY doc_id"""),
    "q_quality_calibrated" -> qcOracle(calChain() +
      """
       SELECT doc_id, source, s AS score,
         floor(p9 * 1e6 + 0.5)/1e6 AS cal_score,
         CAST(y AS BIGINT) AS label
       FROM cc ORDER BY doc_id"""),
    "q_stream_calibrated" -> qcOracle(
      """, bia AS (SELECT wt FROM w3 WHERE b = -1),
         gs AS (SELECT bk.doc_id AS doc_id,
             CAST(sum(CAST(wt AS DECIMAL(38,9))) AS DOUBLE) AS s,
             count(*) AS n
           FROM bk JOIN w3 ON w3.b = bk.b GROUP BY 1),
         gp AS MATERIALIZED (SELECT doc_id, n,
             floor((1.0 / (1.0 + exp(-(floor(((SELECT wt FROM bia) + s / n)
               * 1e9 + 0.5)/1e9)))) * 1e9 + 0.5)/1e9 AS p
           FROM gs)""" +
      calChain(ssFrom = "gp", ssExtra = "\n           n AS n_grams,") +
      """
       SELECT doc_id, source, CAST(n_grams AS BIGINT) AS n_grams,
         s AS score, floor(p9 * 1e6 + 0.5)/1e6 AS cal_score,
         CAST(CASE WHEN p9 >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
       FROM cc ORDER BY doc_id"""),
    "q_calibration_ece" -> qcOracle(calChain() +
      s""",
       et AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         FROM cc GROUP BY 1),
       ${eceChain("s", "raw")},
       ${eceChain("floor(p9 * 1e6 + 0.5)/1e6", "cal")}
       SELECT et.source AS source, n_docs, ece_raw, ece_cal
       FROM et JOIN ece_raw USING (source) JOIN ece_cal USING (source)
       ORDER BY source"""),
    "q_stream_quality" -> qcOracle(
      """, bia AS (SELECT wt FROM w3 WHERE b = -1),
         gs AS (SELECT bk.doc_id AS doc_id,
             CAST(sum(CAST(wt AS DECIMAL(38,9))) AS DOUBLE) AS s,
             count(*) AS n
           FROM bk JOIN w3 ON w3.b = bk.b GROUP BY 1),
         gp AS (SELECT doc_id, n,
             floor((1.0 / (1.0 + exp(-(floor(((SELECT wt FROM bia) + s / n)
               * 1e9 + 0.5)/1e9)))) * 1e9 + 0.5)/1e9 AS p
           FROM gs)
         SELECT doc_id, CAST(n AS BIGINT) AS n_grams,
           floor(p * 1e6 + 0.5)/1e6 AS score,
           CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
         FROM gp ORDER BY doc_id"""),
    "q_quality_classifier" -> qcOracle(
      """SELECT sp.doc_id AS doc_id, floor(p * 1e6 + 0.5)/1e6 AS score,
           CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred,
           CAST(y AS BIGINT) AS label
         FROM sp JOIN lab USING (doc_id) ORDER BY doc_id"""),
    "q_quality_sample" -> qcOracle(
      """, sw AS (SELECT doc_id,
             floor(exp(floor(p * 1e6 + 0.5)/1e6) * 1e9 + 0.5)/1e9 AS w
           FROM sp),
         uk AS (SELECT doc_id, w,
             (((strpos('0123456789abcdef', substr(m,1,1))-1)*268435456.0 +
               (strpos('0123456789abcdef', substr(m,2,1))-1)*16777216 +
               (strpos('0123456789abcdef', substr(m,3,1))-1)*1048576 +
               (strpos('0123456789abcdef', substr(m,4,1))-1)*65536 +
               (strpos('0123456789abcdef', substr(m,5,1))-1)*4096 +
               (strpos('0123456789abcdef', substr(m,6,1))-1)*256 +
               (strpos('0123456789abcdef', substr(m,7,1))-1)*16 +
               (strpos('0123456789abcdef', substr(m,8,1))-1)) + 1)
             / 4294967296 AS u
           FROM (SELECT doc_id, w, md5(CAST(doc_id AS VARCHAR)) AS m FROM sw))
         SELECT doc_id, w,
           floor(pow(u, 1.0 / w) * 1e9 + 0.5)/1e9 AS skey
         FROM uk ORDER BY skey DESC, doc_id LIMIT 50"""),
    "q_word_entropy" ->
      s"""WITH w AS ($W),
         c AS (SELECT doc_id, w, count(*) AS c
           FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_distinct,
           floor((log2(sum(c)) -
             CAST(sum(CAST(floor(c*log2(c)*1e9+0.5)/1e9 AS DECIMAL(38,9)))
               AS DOUBLE) / sum(c)) * 1e6 + 0.5) / 1e6 AS entropy
         FROM c GROUP BY 1 ORDER BY 1""",
    "q_dsir_weights" ->
      s"""WITH w AS ($W),
         g AS (
           SELECT doc_id, source, g FROM (
             SELECT doc_id, source, unnest(ws) AS g FROM w
             UNION ALL
             SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(ws)-1),
                 i -> ws[i] || ' ' || ws[i+1])) AS g FROM w)),
         bk AS (SELECT doc_id, source,
             ((strpos('0123456789abcdef', substr(m,1,1))-1)*4096 +
              (strpos('0123456789abcdef', substr(m,2,1))-1)*256 +
              (strpos('0123456789abcdef', substr(m,3,1))-1)*16 +
              (strpos('0123456789abcdef', substr(m,4,1))-1)) % 1024 AS b
           FROM (SELECT doc_id, source, md5(g) AS m FROM g)),
         rc AS (SELECT b, count(*) AS rcnt FROM bk GROUP BY 1),
         tc AS (SELECT b, count(*) AS tcnt FROM bk
           WHERE source = 'src1' GROUP BY 1),
         tot AS (SELECT count(*) AS rtot,
             sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS ttot
           FROM bk),
         wt AS (SELECT i.b AS b,
             floor((ln((coalesce(tcnt, 0) + 1.0) / (ttot + 1024)) -
                    ln((coalesce(rcnt, 0) + 1.0) / (rtot + 1024)))
               * 1e9 + 0.5) / 1e9 AS wgt
           FROM (SELECT unnest(generate_series(0, 1023)) AS b) i
           LEFT JOIN rc ON rc.b = i.b LEFT JOIN tc ON tc.b = i.b
           CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           floor(CAST(sum(CAST(wgt AS DECIMAL(38,9))) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS dsir_score
         FROM bk JOIN wt ON wt.b = bk.b GROUP BY 1 ORDER BY 1""",
    "q_dsir_sample" ->
      s"""WITH w AS ($W),
         g AS (
           SELECT doc_id, source, g FROM (
             SELECT doc_id, source, unnest(ws) AS g FROM w
             UNION ALL
             SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(ws)-1),
                 i -> ws[i] || ' ' || ws[i+1])) AS g FROM w)),
         bk AS (SELECT doc_id, source,
             ((strpos('0123456789abcdef', substr(m,1,1))-1)*4096 +
              (strpos('0123456789abcdef', substr(m,2,1))-1)*256 +
              (strpos('0123456789abcdef', substr(m,3,1))-1)*16 +
              (strpos('0123456789abcdef', substr(m,4,1))-1)) % 1024 AS b
           FROM (SELECT doc_id, source, md5(g) AS m FROM g)),
         rc AS (SELECT b, count(*) AS rcnt FROM bk GROUP BY 1),
         tc AS (SELECT b, count(*) AS tcnt FROM bk
           WHERE source = 'src1' GROUP BY 1),
         tot AS (SELECT count(*) AS rtot,
             sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS ttot
           FROM bk),
         wt AS (SELECT i.b AS b,
             floor((ln((coalesce(tcnt, 0) + 1.0) / (ttot + 1024)) -
                    ln((coalesce(rcnt, 0) + 1.0) / (rtot + 1024)))
               * 1e9 + 0.5) / 1e9 AS wgt
           FROM (SELECT unnest(generate_series(0, 1023)) AS b) i
           LEFT JOIN rc ON rc.b = i.b LEFT JOIN tc ON tc.b = i.b
           CROSS JOIN tot),
         sc AS (SELECT doc_id,
             floor(exp(floor(CAST(sum(CAST(wgt AS DECIMAL(38,9))) AS DOUBLE)
               / count(*) * 1e6 + 0.5) / 1e6) * 1e9 + 0.5) / 1e9 AS w
           FROM bk JOIN wt ON wt.b = bk.b GROUP BY 1),
         uk AS (SELECT doc_id, w,
             (((strpos('0123456789abcdef', substr(m,1,1))-1)*268435456.0 +
               (strpos('0123456789abcdef', substr(m,2,1))-1)*16777216 +
               (strpos('0123456789abcdef', substr(m,3,1))-1)*1048576 +
               (strpos('0123456789abcdef', substr(m,4,1))-1)*65536 +
               (strpos('0123456789abcdef', substr(m,5,1))-1)*4096 +
               (strpos('0123456789abcdef', substr(m,6,1))-1)*256 +
               (strpos('0123456789abcdef', substr(m,7,1))-1)*16 +
               (strpos('0123456789abcdef', substr(m,8,1))-1)) + 1)
             / 4294967296 AS u
           FROM (SELECT doc_id, w, md5(CAST(doc_id AS VARCHAR)) AS m FROM sc))
         SELECT doc_id, w,
           floor(pow(u, 1.0 / w) * 1e9 + 0.5) / 1e9 AS skey
         FROM uk ORDER BY skey DESC, doc_id LIMIT 50""",
    "q_pmi" ->
      s"""WITH w AS ($W),
         uc AS (SELECT w, count(*) AS cw
           FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
         bcAll AS (SELECT pair, count(*) AS n_pair FROM (
             SELECT unnest(list_transform(generate_series(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1])) AS pair
             FROM w WHERE len(ws) >= 2) GROUP BY 1),
         bc AS (SELECT * FROM bcAll WHERE n_pair >= 5),
         tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tot FROM uc),
         btot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS b_tot FROM bcAll)
         SELECT bc.pair, CAST(bc.n_pair AS BIGINT) AS n_pair,
           floor((ln(bc.n_pair) + 2*ln(tot.n_tot) - ln(btot.b_tot)
             - ln(c1.cw) - ln(c2.cw)) * 1e6 + 0.5) / 1e6 AS pmi
         FROM bc CROSS JOIN tot CROSS JOIN btot
         JOIN uc c1 ON c1.w = string_split(bc.pair, ' ')[1]
         JOIN uc c2 ON c2.w = string_split(bc.pair, ' ')[2]
         ORDER BY pmi DESC, pair LIMIT 20""",
    "q_source_kl" ->
      s"""WITH w AS ($W),
         wc AS (SELECT source, w, count(*) AS c
           FROM (SELECT source, unnest(ws) AS w FROM w) GROUP BY 1, 2),
         cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM wc GROUP BY 1),
         ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM wc GROUP BY 1),
         n AS (SELECT CAST(sum(ts) AS BIGINT) AS n FROM ts)
         SELECT wc.source, CAST(sum(wc.c) AS BIGINT) AS n_tokens,
           floor(CAST(sum(CAST(floor((wc.c / ts.ts) *
               (ln(wc.c) - ln(ts.ts) - ln(cw.cw) + ln(n.n)) * 1e12 + 0.5) / 1e12
             AS DECIMAL(38,12))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl
         FROM wc JOIN cw USING(w) JOIN ts USING(source) CROSS JOIN n
         GROUP BY 1 ORDER BY 1""",
    "q_cross_overlap" ->
      s"""WITH w AS ($W),
         sg AS (SELECT DISTINCT source, gram FROM (
           SELECT source, unnest(list_distinct(list_transform(
             generate_series(1, len(ws)-2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
           FROM w WHERE len(ws) >= 3)),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1),
         i AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
           FROM sg a JOIN sg b USING(gram) WHERE a.source < b.source
           GROUP BY 1, 2)
         SELECT src_a, src_b, n_shared,
           floor(n_shared / (na.n + nb.n - n_shared) * 1e6 + 0.5) / 1e6
             AS jaccard
         FROM i JOIN n na ON i.src_a = na.source
                JOIN n nb ON i.src_b = nb.source
         ORDER BY src_a, src_b""",
    "q_containment" ->
      s"""WITH w AS ($W),
         g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
             generate_series(1, len(ws)-2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
           FROM w WHERE len(ws) >= 3),
         n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM g a JOIN g b ON a.gram = b.gram AND a.source = b.source
             AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           floor(inter / n.n * 1e6 + 0.5) / 1e6 AS containment
         FROM i JOIN n ON i.doc_a = n.doc_id
         WHERE inter / n.n >= 0.5
         ORDER BY doc_a, doc_b""",
    "q_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS wk FROM events),
         c AS (SELECT user_id, min(wk) AS cwk FROM uw GROUP BY 1)
         SELECT c.cwk * 604800000000 AS cohort_week,
           uw.wk - c.cwk AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
         FROM uw JOIN c USING(user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_anomaly" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, value,
             CAST(floor(value*1e6+0.5) AS BIGINT) AS x6,
             CAST(floor(value*value*1e6+0.5) AS BIGINT) AS xx6
           FROM events),
         w AS (SELECT user_id, t_us, value,
             sum(x6) OVER fr AS sx, sum(xx6) OVER fr AS sxx,
             count(*) OVER fr AS n
           FROM e WINDOW fr AS (PARTITION BY user_id
             ORDER BY t_us, event_id
             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT user_id, t_us, value,
             (sx/1e6)/n AS m,
             ((sxx/1e6) - ((sx/1e6)*(sx/1e6))/n)/(n-1) AS v, n
           FROM w)
         SELECT user_id, t_us, value,
           floor((value - m)/sqrt(v)*1e6+0.5)/1e6 AS zscore
         FROM z
         WHERE n = 20 AND v > 0 AND abs((value - m)/sqrt(v)) > 3.0
         ORDER BY user_id, t_us""",
    "q_stream_anomaly" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, value,
             CAST(floor(value*1e6+0.5) AS BIGINT) AS x6,
             CAST(floor(value*value*1e6+0.5) AS BIGINT) AS xx6
           FROM events),
         w AS (SELECT user_id, t_us, value,
             sum(x6) OVER fr AS sx, sum(xx6) OVER fr AS sxx,
             count(*) OVER fr AS n
           FROM e WINDOW fr AS (PARTITION BY user_id
             ORDER BY t_us, event_id
             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT user_id, t_us, value,
             (sx/1e6)/n AS m,
             ((sxx/1e6) - ((sx/1e6)*(sx/1e6))/n)/(n-1) AS v, n
           FROM w)
         SELECT user_id, t_us, value,
           floor((value - m)/sqrt(v)*1e6+0.5)/1e6 AS zscore
         FROM z
         WHERE n = 20 AND v > 0 AND abs((value - m)/sqrt(v)) > 3.0
         ORDER BY user_id, t_us""",
    "q_zipf" ->
      s"""WITH w AS ($W),
         wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
         top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 100),
         rk AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rank
           FROM top),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(ln(rank)*1e12+0.5)/1e12
               AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(floor(ln(c)*1e12+0.5)/1e12
               AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(floor(ln(rank)*ln(c)*1e12+0.5)/1e12
               AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(floor(ln(rank)*ln(rank)*1e12+0.5)/1e12
               AS DECIMAL(38,12))) AS DOUBLE) AS sxx
           FROM rk)
         SELECT n AS n_words,
           floor((n*sxy - sx*sy)/(n*sxx - sx*sx)*1e6+0.5)/1e6 AS slope,
           floor((sy - ((n*sxy - sx*sy)/(n*sxx - sx*sx))*sx)/n*1e6+0.5)/1e6
             AS intercept
         FROM s""",
    "q_info_profile" ->
      s"""WITH w AS ($W),
         uc AS (SELECT t, count(*) AS c
           FROM (SELECT unnest(ws) AS t FROM w) GROUP BY 1),
         bc AS (SELECT t, count(*) AS c FROM (
             SELECT unnest(list_transform(generate_series(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1])) AS t
             FROM w WHERE len(ws) >= 2) GROUP BY 1),
         hu AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             log2(sum(c)) - CAST(sum(CAST(floor(c*log2(c)*1e9+0.5)/1e9
               AS DECIMAL(38,9))) AS DOUBLE)/sum(c) AS h FROM uc),
         hb AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             log2(sum(c)) - CAST(sum(CAST(floor(c*log2(c)*1e9+0.5)/1e9
               AS DECIMAL(38,9))) AS DOUBLE)/sum(c) AS h FROM bc)
         SELECT hu.n AS n_tokens, hb.n AS n_bigrams,
           floor(hu.h*1e6+0.5)/1e6 AS h_unigram,
           floor(hb.h*1e6+0.5)/1e6 AS h_bigram,
           floor((hb.h - hu.h)*1e6+0.5)/1e6 AS h_cond
         FROM hu CROSS JOIN hb""",
    "q_pagerank" ->
      """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS sp
           FROM documents),
         b AS (SELECT doc_id, source,
             list_distinct(list_transform(generate_series(1, len(sp)-1),
               i -> sp[i] || ' ' || sp[i+1])) AS bg
           FROM w WHERE len(sp) >= 2),
         p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
           FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
           WHERE CAST(len(list_intersect(a.bg, c.bg)) AS DOUBLE) /
             (len(a.bg) + len(c.bg) - len(list_intersect(a.bg, c.bg)))
             >= 0.1),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
           UNION ALL SELECT doc_b, doc_a FROM p),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           FROM e GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         r0 AS (SELECT doc_id AS v, 1.0/n.n AS r
           FROM documents CROSS JOIN n),
         c1 AS (SELECT e.dst AS v, CAST(sum(CAST(
             floor(r0.r/deg.deg*1e12+0.5)/1e12 AS DECIMAL(38,12)))
             AS DOUBLE) AS s
           FROM e JOIN r0 ON r0.v = e.src JOIN deg ON deg.src = e.src
           GROUP BY 1),
         r1 AS (SELECT r0.v,
             floor(((1-0.85)/n.n + 0.85*coalesce(c1.s, 0))*1e9+0.5)/1e9 AS r
           FROM r0 LEFT JOIN c1 ON c1.v = r0.v CROSS JOIN n),
         c2 AS (SELECT e.dst AS v, CAST(sum(CAST(
             floor(r1.r/deg.deg*1e12+0.5)/1e12 AS DECIMAL(38,12)))
             AS DOUBLE) AS s
           FROM e JOIN r1 ON r1.v = e.src JOIN deg ON deg.src = e.src
           GROUP BY 1),
         r2 AS (SELECT r1.v,
             floor(((1-0.85)/n.n + 0.85*coalesce(c2.s, 0))*1e9+0.5)/1e9 AS r
           FROM r1 LEFT JOIN c2 ON c2.v = r1.v CROSS JOIN n),
         c3 AS (SELECT e.dst AS v, CAST(sum(CAST(
             floor(r2.r/deg.deg*1e12+0.5)/1e12 AS DECIMAL(38,12)))
             AS DOUBLE) AS s
           FROM e JOIN r2 ON r2.v = e.src JOIN deg ON deg.src = e.src
           GROUP BY 1),
         r3 AS (SELECT r2.v,
             floor(((1-0.85)/n.n + 0.85*coalesce(c3.s, 0))*1e9+0.5)/1e9 AS r
           FROM r2 LEFT JOIN c3 ON c3.v = r2.v CROSS JOIN n)
         SELECT v AS doc_id, r AS rank FROM r3 ORDER BY doc_id""",
    "q_hopping_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS u, event_type,
             CAST(floor(value*1e6+0.5)/1e6 AS DECIMAL(38,6)) AS v
           FROM events),
         x AS (SELECT (u // 300000000) * 300000000 AS w_start,
               event_type, v FROM e
           UNION ALL
           SELECT ((u // 300000000) - 1) * 300000000 AS w_start,
               event_type, v FROM e)
         SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(v) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS vsum
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_stream_hopping" ->
      """WITH e AS (SELECT epoch_us(ts) AS u, event_type,
             CAST(floor(value*1e6+0.5)/1e6 AS DECIMAL(38,6)) AS v
           FROM events),
         x AS (SELECT (u // 300000000) * 300000000 AS w_start,
               event_type, v FROM e
           UNION ALL
           SELECT ((u // 300000000) - 1) * 300000000 AS w_start,
               event_type, v FROM e)
         SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(v) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS vsum
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_audio_features" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS L,
             CAST(64 + doc_id % 32 AS INT) AS n
           FROM documents WHERE doc_id < 100),
         c AS (SELECT doc_id, n, list_transform(generate_series(1, n), i ->
             (ascii(substr(text, CAST((i-1) % L AS INT) + 1, 1)) % 256 - 128)
               * 128) AS smp
           FROM d),
         f AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(list_aggregate(list_transform(smp, x -> abs(x)), 'max')
               AS BIGINT) AS peak,
             len(list_filter(generate_series(2, n),
               i -> smp[i-1] * smp[i] < 0)) AS flips, n
           FROM c)
         SELECT doc_id, n_samples, peak,
           floor(CAST(flips AS DOUBLE) / (n - 1) * 1e6 + 0.5) / 1e6 AS zcr
         FROM f ORDER BY doc_id""",
    "q_cdc_chunks" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents WHERE doc_id < 200),
         p AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS w
           FROM (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
                 FROM w)),
         f AS (SELECT doc_id, pos,
             CASE WHEN pos > 0 AND substr(md5(w), 1, 1) = '0'
               THEN 1 ELSE 0 END AS flag
           FROM p),
         c AS (SELECT doc_id, pos, sum(flag) OVER
             (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
           FROM f)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(min(pos) AS BIGINT) AS w_start,
           CAST(max(pos) AS BIGINT) AS w_end,
           CAST(count(*) AS BIGINT) AS n_words
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_fuzzy_vocab" ->
      """WITH v AS (SELECT DISTINCT unnest(
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS w
           FROM documents)
         SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
           CAST(levenshtein(a.w, b.w) AS INT) AS dist
         FROM v a JOIN v b
           ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 2
         WHERE levenshtein(a.w, b.w) <= 2
         ORDER BY 1, 2""",
    "q_langid_confusion" ->
      """WITH p AS (SELECT lang,
           CASE
             WHEN len(list_filter(string_split(text,' '),
                 w -> w IN ('der','und','die'))) >
               len(list_filter(string_split(text,' '),
                 w -> w IN ('the','a','of'))) THEN 'de'
             WHEN len(list_filter(string_split(text,' '),
                 w -> w IN ('el','la','los'))) >
               len(list_filter(string_split(text,' '),
                 w -> w IN ('the','a','of'))) THEN 'es'
             WHEN len(list_filter(string_split(text,' '),
                 w -> w IN ('le','les','une'))) >
               len(list_filter(string_split(text,' '),
                 w -> w IN ('the','a','of'))) THEN 'fr'
             ELSE 'en' END AS predicted_lang
           FROM documents)
         SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_dup_rate_by_source" ->
      """WITH fp AS (SELECT source, md5(text) AS fp, count(*) AS c
           FROM documents GROUP BY 1, 2)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           floor((sum(c) - count(*)) / sum(c) * 1e6 + 0.5) / 1e6 AS dup_frac,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_in_dup_groups
         FROM fp GROUP BY 1 ORDER BY 1""",
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS fo FROM documents
           WHERE doc_id % 10 < 8),
         n AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 3
             THEN text || ' v2' ELSE text END) AS fn
           FROM documents WHERE doc_id % 10 >= 1)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.fo IS NULL THEN 'added'
                WHEN n.fn IS NULL THEN 'removed'
                WHEN o.fo <> n.fn THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",
    "q_skew_report" ->
      """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys FROM c),
         top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10)
         SELECT key, cnt,
           floor(cnt / t.n_rows * 1e6 + 0.5) / 1e6 AS frac,
           floor(cnt / t.n_rows * t.n_keys * 1e4 + 0.5) / 1e4 AS skew
         FROM top CROSS JOIN t ORDER BY cnt DESC, key""",
    "q_countmin" ->
      s"""WITH w AS ($W),
         wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
         hs AS (SELECT w, c, i,
             ((strpos('0123456789abcdef', substr(m,1,1))-1)*4096 +
              (strpos('0123456789abcdef', substr(m,2,1))-1)*256 +
              (strpos('0123456789abcdef', substr(m,3,1))-1)*16 +
              (strpos('0123456789abcdef', substr(m,4,1))-1)) % 1024 AS b
           FROM (SELECT w, c, i, md5(CAST(i AS VARCHAR) || '_' || w) AS m
             FROM wc CROSS JOIN
               (SELECT unnest(generate_series(0, 3)) AS i))),
         cnt AS (SELECT i, b, CAST(sum(c) AS BIGINT) AS v
           FROM hs GROUP BY 1, 2),
         top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 20)
         SELECT top.w AS word, top.c AS exact, min(cnt.v) AS estimate,
           (min(cnt.v) > top.c) AS collided
         FROM top JOIN hs ON hs.w = top.w
           JOIN cnt ON cnt.i = hs.i AND cnt.b = hs.b
         GROUP BY 1, 2 ORDER BY exact DESC, word""",
    "q_weighted_sample" ->
      """WITH h AS (SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
         u AS (SELECT doc_id, n_chars,
             (((strpos('0123456789abcdef', substr(m,1,1))-1)*268435456.0 +
               (strpos('0123456789abcdef', substr(m,2,1))-1)*16777216 +
               (strpos('0123456789abcdef', substr(m,3,1))-1)*1048576 +
               (strpos('0123456789abcdef', substr(m,4,1))-1)*65536 +
               (strpos('0123456789abcdef', substr(m,5,1))-1)*4096 +
               (strpos('0123456789abcdef', substr(m,6,1))-1)*256 +
               (strpos('0123456789abcdef', substr(m,7,1))-1)*16 +
               (strpos('0123456789abcdef', substr(m,8,1))-1)) + 1)
             / 4294967296 AS u
           FROM h)
         SELECT doc_id, n_chars,
           floor(pow(u, 1.0 / n_chars) * 1e9 + 0.5) / 1e9 AS skey
         FROM u ORDER BY skey DESC, doc_id LIMIT 50""",
    "q_transition_matrix" ->
      """WITH o AS (SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev
           FROM events),
         p AS (SELECT prev AS prev_type, event_type AS cur_type,
             CAST(count(*) AS BIGINT) AS n
           FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tn
           FROM p GROUP BY 1)
         SELECT p.prev_type, p.cur_type, p.n,
           floor(p.n / t.tn * 1e6 + 0.5) / 1e6 AS prob
         FROM p JOIN t USING(prev_type) ORDER BY 1, 2""",
    "q_event_paths" ->
      """WITH o AS (SELECT
             lag(event_type, 2) OVER w AS p1,
             lag(event_type, 1) OVER w AS p2,
             event_type AS p3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         SELECT p1 || ' > ' || p2 || ' > ' || p3 AS path,
           CAST(count(*) AS BIGINT) AS n
         FROM o WHERE p1 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",
    "q_rfm" ->
      """WITH u0 AS (SELECT user_id, max(epoch_us(ts)) AS rec_us,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(value*1e6+0.5)/1e6 AS DECIMAL(38,6)))
               AS DOUBLE) AS monetary_d
           FROM events GROUP BY 1),
         g AS (SELECT max(rec_us) AS gmax FROM u0),
         u AS (SELECT u0.*, (g.gmax - u0.rec_us) // 86400000000
             AS recency_days FROM u0 CROSS JOIN g),
         q AS (SELECT
             quantile_cont(recency_days, 0.25) AS r25,
             quantile_cont(recency_days, 0.5)  AS r50,
             quantile_cont(recency_days, 0.75) AS r75,
             quantile_cont(frequency, 0.25) AS f25,
             quantile_cont(frequency, 0.5)  AS f50,
             quantile_cont(frequency, 0.75) AS f75,
             quantile_cont(monetary_d, 0.25) AS m25,
             quantile_cont(monetary_d, 0.5)  AS m50,
             quantile_cont(monetary_d, 0.75) AS m75
           FROM u)
         SELECT user_id, recency_days, frequency,
           floor(monetary_d * 1e2 + 0.5) / 1e2 AS monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
             CAST(m_score AS VARCHAR) AS segment
         FROM (SELECT u.*,
             CASE WHEN recency_days <= q.r25 THEN 4
                  WHEN recency_days <= q.r50 THEN 3
                  WHEN recency_days <= q.r75 THEN 2 ELSE 1 END AS r_score,
             CASE WHEN frequency >= q.f75 THEN 4
                  WHEN frequency >= q.f50 THEN 3
                  WHEN frequency >= q.f25 THEN 2 ELSE 1 END AS f_score,
             CASE WHEN monetary_d >= q.m75 THEN 4
                  WHEN monetary_d >= q.m50 THEN 3
                  WHEN monetary_d >= q.m25 THEN 2 ELSE 1 END AS m_score
           FROM u CROSS JOIN q)
         ORDER BY user_id""")
}
