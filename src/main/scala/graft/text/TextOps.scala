package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All pure Column compositions (codegen'd; no UDFs) so
  * they survive 100 TB scans inside whole-stage codegen.
  */
object TextOps {
  /** Whitespace token count (split on single spaces, reference corpus is
    * single-space separated). */
  def wsTokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish regex tokenizer count: words | single digits | punctuation. */
  val TokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0)))

  /** Mean word length: non-space bytes / word count. */
  def avgWordLen(text: Column): Column =
    octet_length(regexp_replace(text, " ", "")).cast("double") / wsTokenCount(text)

  val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Fraction of words that are stopwords — a quality-score component. */
  def stopwordRatio(text: Column): Column =
    size(filter(split(text, " "), w => w.isin(Stopwords.map(lit): _*).cast("boolean")))
      .cast("double") / wsTokenCount(text)

  /** Fraction of bytes that are ASCII letters. */
  def alphaRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0))).cast("double") / octet_length(text)

  /** Flesch–Kincaid readability (Kincaid et al. 1975 — the standard
    * readability quality-filter feature): reading ease
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word) and the
    * grade level 0.39·(w/s) + 11.8·(syl/w) − 15.59. Syllables use a
    * deterministic vowel-group heuristic (count [aeiouy]+ runs, minus
    * one for a trailing silent e when more than one run, floor 1) so a
    * SQL oracle computes the identical integers; both ratios pin to
    * 9 dp before the formula and the outputs to 6 dp. */
  def readability(text: Column): Seq[Column] = {
    val ws = filter(
      transform(split(lower(text), "\\s+"),
        w => regexp_replace(w, "[^a-z]", "")),
      w => w =!= "")
    val vowelRuns = (w: Column) =>
      size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long")
    val syl = aggregate(ws, lit(0L), (acc, w) => {
      val g = vowelRuns(w)
      acc + greatest(lit(1L),
        g - when(w.endsWith("e") && g > 1L, 1L).otherwise(0L))
    })
    val nW = greatest(lit(1L), size(ws).cast("long"))
    val nS = greatest(lit(1L),
      size(regexp_extract_all(lower(text), lit("[.!?]+"), lit(0))).cast("long"))
    val r1 = fround(nW.cast("double") / nS, 9)
    val r2 = fround(syl.cast("double") / nW, 9)
    Seq(
      size(ws).cast("long").as("n_words"),
      nS.as("n_sentences"),
      syl.as("n_syllables"),
      fround(lit(206.835d) - lit(1.015d) * r1 - lit(84.6d) * r2, 6).as("fk_ease"),
      fround(lit(0.39d) * r1 + lit(11.8d) * r2 - lit(15.59d), 6).as("fk_grade"))
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "une"))

  /** Marker-word language-ID: counts per language, argmax with 'en' as the
    * tie-break default. N-gram char models plug in behind the same shape. */
  def langid(df: DataFrame, text: Column): DataFrame = {
    def hits(words: Seq[String]): Column =
      size(filter(split(text, " "), w => w.isin(words.map(lit): _*).cast("boolean")))
    val withHits = markers.foldLeft(df) { case (d, (lang, ws)) =>
      d.withColumn(s"${lang}_hits", hits(ws))
    }
    withHits.withColumn("predicted_lang",
      when(col("de_hits") > col("en_hits"), "de")
        .when(col("es_hits") > col("en_hits"), "es")
        .when(col("fr_hits") > col("en_hits"), "fr")
        .otherwise("en"))
  }

  /** Per-document top-k TF-IDF terms — the corpus-level keyword signal
    * (what characterizes a doc against the collection; feeds topic
    * routing / mixture labeling in training pipelines). idf uses the
    * smoothed form ln((N+1)/(df+1)) + 1, score = tf · idf.
    *
    * Shape at scale: one token explode, a (doc,term)-keyed partial-agg
    * count (tf), a term-keyed count over THAT relation (df — already one
    * row per doc·term, no re-explode), one term-keyed join tf⋈df, the
    * 1-row corpus count broadcast by the cross join, and a per-doc
    * WindowGroupLimit for the top-k. The text column never shuffles. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(regexp_replace(lower(col(textCol)), "\\s+", " "), " "))
          .as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = toks.agg(count_distinct(col(idCol)).as("n_docs"))
    val scored = tf.join(df_, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") *
        (log((col("n_docs") + 1.0d) / (col("df") + 1.0d)) + 1.0d))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"), col("score"))
  }

  /** Gopher-style stopwords (Rae et al. 2021 §A1.1 rule set). */
  val GopherStopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rule quality gate: the published per-document repetition-free
    * heuristics as one row of named booleans + the conjunctive `keep` —
    * teams tune thresholds per corpus, so each rule stays visible
    * instead of collapsing into a single opaque score. Pure column math
    * (one codegen'd projection, no shuffle, no UDF). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val ws = split(t, " ")
    val nWords = size(ws)
    val meanLen = octet_length(regexp_replace(t, " ", "")).cast("double") / nWords
    val symbolRatio = size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0)))
      .cast("double") / nWords
    val alphaWordFrac = size(filter(ws, w => w.rlike("[A-Za-z]")))
      .cast("double") / nWords
    val stopHits = size(filter(ws, w => w.isin(GopherStopwords.map(lit): _*)))
    val rules = Seq(
      "r_word_count" -> (nWords >= minWords && nWords <= maxWords),
      "r_mean_word_len" -> (meanLen >= 3d && meanLen <= 10d),
      "r_symbol_ratio" -> (symbolRatio <= 0.1d),
      "r_alpha_words" -> (alphaWordFrac >= 0.8d),
      "r_stopwords" -> (stopHits >= 2))
    docs.select(col(idCol) +: rules.map { case (n, c) => c.as(n) }
      :+ rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Bigram-LM perplexity scoring — the "score documents by a language
    * model trained on a trusted reference corpus" quality signal (the
    * CCNet-style filter, with an exactly-recomputable bigram model in
    * place of KenLM): P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) (add-one over
    * the reference vocabulary), per-document score = mean −ln P over its
    * bigrams (log-perplexity; lower = more reference-like). Unseen
    * bigrams/contexts fall through the left joins to the smoothed floor.
    *
    * Shape at scale: the LM is two count relations (bigram- and
    * unigram-keyed partial aggs) shuffle-joined back to the scored
    * stream on token keys — LM size is unbounded so it is NOT broadcast
    * (AQE may still choose to); the 1-row vocab count is. Frequent-w1
    * skew rides AQE's skew-join split. No collect, no driver LM. */
  def bigramLmScore(docs: DataFrame, ref: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    def norm(t: Column) = split(regexp_replace(lower(t), "\\s+", " "), " ")
    def pairs(df: DataFrame, keep: Seq[String]) = {
      val kc = keep.map(col)
      df.select(kc :+ norm(col(textCol)).as("__ws"): _*)
        .filter(size(col("__ws")) >= 2)
        .select(kc :+ explode(zip_with(col("__ws"),
          slice(col("__ws"), lit(2), size(col("__ws")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"): _*)
        .filter(col("bg.w2").isNotNull) // zip_with pads the tail with null
        .select(kc :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
    }
    val refBg = pairs(ref, Seq.empty)
    val c12 = refBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = refBg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = ref.select(explode(norm(col(textCol))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    pairs(docs, Seq(idCol))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((coalesce(col("c12"), lit(0L)) + 1.0d) /
        (coalesce(col("c1"), lit(0L)) + col("v"))))
      .groupBy(idCol)
      .agg(avg("nll").as("log_ppl"), count(lit(1)).as("n_bigrams"))
  }

  /** One-row corpus audit: document/token/vocabulary counts, hapax
    * fraction (vocabulary appearing exactly once — the Zipf-tail health
    * signal reviewed before tokenizer training), and doc-length extremes.
    * Two aggregations (term-keyed, then global) + one 1-row cross join —
    * nothing collects, every stage map-side combines. */
  def corpusStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = split(regexp_replace(lower(col(textCol)), "\\s+", " "), " ")
    val termCounts = docs.select(explode(norm).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val terms = termCounts.agg(
      count(lit(1)).as("vocab"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
      sum("c").as("n_tokens"))
    val dl = docs.select(size(norm).as("n"))
      .agg(count(lit(1)).as("n_docs"), avg("n").as("avg_doc_tokens"),
        max("n").as("max_doc_tokens"))
    dl.crossJoin(terms)
      .select(col("n_docs"), col("n_tokens"), col("vocab"),
        (col("hapax").cast("double") / col("vocab")).as("hapax_frac"),
        col("avg_doc_tokens"), col("max_doc_tokens"))
  }

  /** Winnowing-style rolling fingerprint: min hash over word k-shingles
    * — robust to small edits, used for near-dup bucketing. The hash is
    * pluggable: the default xxhash64 is the production kernel (codegen'd
    * 64-bit, no string churn); [[winnowFingerprintMd5]] swaps in md5 so
    * an external engine can recompute the identical fingerprint. */
  def winnowFingerprint(text: Column, k: Int = 4,
                        hash: Column => Column = xxhash64(_)): Column = {
    val sp = split(text, " ")
    val shingles = transform(
      sequence(lit(1), greatest(size(sp) - (k - 1), lit(1))),
      i => concat_ws(" ", (0 until k).map(o => element_at(sp, i + o)): _*))
    array_min(transform(shingles, s => hash(s)))
  }

  /** Portable winnowing fingerprint: lexicographic min of md5 hex over
    * the same k-shingles (md5 is identical across engines, so this form
    * is oracle-checkable end to end). */
  def winnowFingerprintMd5(text: Column, k: Int = 4): Column =
    winnowFingerprint(text, k, s => md5(s))
}
