package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** Corpus-level statistical analysis for training-data pipelines:
  * per-document unigram entropy (a quality signal), PMI collocation
  * mining, per-source distribution drift (KL vs the corpus), pairwise
  * source n-gram overlap, and asymmetric containment detection.
  *
  * Determinism: every cross-row double reduction (entropy term sums,
  * KL term sums) rounds each term and accumulates in DECIMAL, so the
  * result is partitioning-independent and bit-matches a single-threaded
  * relational engine running the same recipe. Per-row math (logs,
  * ratios) is a fixed instruction sequence on both engines.
  *
  * Scale notes (the 100 TB shapes):
  *   - entropy/KL/PMI are (key, word)-grained partial-aggregated
  *     shuffles — the corpus text is tokenized exactly once per pass
  *     and never self-joined.
  *   - crossOverlap never self-joins the gram stream: grams collapse
  *     to a per-gram sorted source set (bounded by |sources|), and
  *     pairs explode from that set — O(grams · pairs-per-gram), not
  *     O(grams²-per-bucket).
  *   - containmentPairs is block-scoped like [[graft.dedup.Dedup
  *     .jaccardPairs]]: the self-join key is the caller's block column,
  *     and the intersection runs on sorted distinct gram arrays.
  */
object CorpusStats {
  /** Per-document unigram Shannon entropy (bits), word and distinct-word
    * counts. entropy = log2(n) − Σ c·log2(c) / n over the document's
    * word histogram; the term sum goes through 9-dp decimal so the
    * per-doc value cannot drift with partitioning. Two shuffles, both
    * partial-aggregated: (doc, word) then (doc). */
  def wordEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wc = docs
      .select(col(idCol), explode(Curation.words(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    wc.groupBy(col(idCol))
      .agg(
        sum("__c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(fround(col("__c") * log2(col("__c")), 9).cast("decimal(38,9)")).as("__s"))
      .select(col(idCol), col("n_words"), col("n_distinct"),
        fround(log2(col("n_words")) -
          col("__s").cast("double") / col("n_words"), 6).as("entropy"))
  }

  /** Collocation mining: the k adjacent word pairs with the highest
    * pointwise mutual information, over pairs seen at least `minCount`
    * times. pmi = ln(c_ab) + 2·ln(N) − ln(B) − ln(c_a) − ln(c_b) — the
    * all-log form has no cross-row float reduction, so it is exact per
    * row. Unigram/bigram counts are partial-aggregated shuffles; the
    * count relations join on the word keys (broadcast when small, AQE
    * otherwise); top-k is a distributed TakeOrdered merge. */
  def pmiCollocations(docs: DataFrame, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    val ws = docs.select(Curation.words(col(textCol)).as("__ws"))
    val uni = ws.select(explode(col("__ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val biAll = ws.select(explode(Curation.wordNgramsOf(col("__ws"), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_pair"))
    val bi = biAll.filter(col("n_pair") >= minCount)
    val tot = uni.agg(sum("cw").as("n_tot"))
    val btot = biAll.agg(sum("n_pair").as("b_tot"))
    val w12 = bi
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
    w12
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select(col("pair"), col("n_pair"),
        fround(log(col("n_pair")) + lit(2d) * log(col("n_tot")) -
          log(col("b_tot")) - log(col("c1")) - log(col("c2")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc)
      .limit(k)
  }

  /** Distribution drift per source: KL(source ‖ corpus) over unigram
    * word distributions, plus the source token count. KL terms
    * (c/T_s)·(ln c − ln T_s − ln C_w + ln N) accumulate through 12-dp
    * decimal per source. One tokenize pass; the corpus marginal is a
    * re-aggregation of the (source, word) counts, joined back on the
    * word key; source totals broadcast. */
  def sourceKl(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val wc = docs
      .select(col(srcCol).as("src"), explode(Curation.words(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c"))
    val corpus = wc.groupBy("w").agg(sum("c").as("cw"))
    val totals = wc.groupBy("src").agg(sum("c").as("ts"))
    val n = totals.agg(sum("ts").as("n"))
    val term = fround((col("c") / col("ts")) *
      (log(col("c")) - log(col("ts")) - log(col("cw")) + log(col("n"))), 12)
    wc.join(corpus, "w")
      .join(broadcast(totals), "src")
      .crossJoin(broadcast(n))
      .groupBy(col("src").as(srcCol))
      .agg(sum(col("c")).as("n_tokens"),
        sum(term.cast("decimal(38,12)")).as("__kl"))
      .select(col(srcCol), col("n_tokens"),
        fround(col("__kl").cast("double"), 6).as("kl"))
  }

  /** Pairwise source overlap matrix: for every source pair (a < b), the
    * number of distinct word n-grams both contain and the Jaccard of
    * their gram sets. The gram stream is never self-joined: each gram
    * collapses to its sorted source set (≤ |sources| entries) and the
    * ordered pairs explode from that — at 100 TB the shuffle carries
    * (gram, set) rows, not gram×gram candidates. */
  def crossOverlap(docs: DataFrame, srcCol: String, textCol: String,
                   n: Int): DataFrame = {
    // gram identity travels as xxhash64 — the gram string never reaches
    // the output, so the distinct/groupBy keys shuffle as 8-byte longs
    val sg = graft.core.Par.expand(docs)
      .select(col(srcCol).as("src"), Curation.words(col(textCol)).as("__ws"))
      .select(col("src"),
        explode(array_distinct(transform(
          Curation.wordNgramsOf(col("__ws"), n), x => xxhash64(x)))).as("gram"))
      .distinct()
    val totals = sg.groupBy("src").agg(count(lit(1)).as("n"))
    val pairs = sg.groupBy("gram")
      .agg(array_sort(collect_set(col("src"))).as("ss"))
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), b =>
          struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(totals.select(col("src").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(totals.select(col("src").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        fround(col("n_shared") / (col("na") + col("nb") - col("n_shared")), 6)
          .as("jaccard"))
  }

  /** Zipf-law fit over the k most frequent words: least-squares slope/
    * intercept of ln(freq) against ln(rank). The rank is assigned WITHOUT
    * a global ORDER BY window (which would serialize the vocab into one
    * task): the top-k relation is a distributed TakeOrdered merge, and
    * rank(w) = 1 + |{w′ : c′ > c ∨ (c′ = c ∧ w′ < w)}| computed by a
    * broadcast self-pair count over the tiny top-k set. Regression sums
    * round each term to 12 dp into decimal accumulators. */
  def zipfFit(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val wc = docs.select(explode(Curation.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = wc.orderBy(col("c").desc, col("w")).limit(k)
    val ranked = top
      .join(broadcast(top.select(col("w").as("w2"), col("c").as("c2"))),
        col("c2") > col("c") || (col("c2") === col("c") && col("w2") < col("w")),
        "left")
      .groupBy(col("w"), col("c"))
      .agg((count(col("w2")) + 1L).as("rank"))
    def dsum(c: Column): Column =
      sum(fround(c, 12).cast("decimal(38,12)")).cast("double")
    val s = ranked.agg(
      count(lit(1)).as("n"),
      dsum(log(col("rank"))).as("sx"),
      dsum(log(col("c"))).as("sy"),
      dsum(log(col("rank")) * log(col("c"))).as("sxy"),
      dsum(log(col("rank")) * log(col("rank"))).as("sxx"))
    val slope0 = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n").as("n_words"),
      fround(slope0, 6).as("slope"),
      fround((col("sy") - slope0 * col("sx")) / col("n"), 6).as("intercept"))
  }

  /** One-row information-theoretic corpus profile: unigram and bigram
    * (joint) Shannon entropies and the conditional next-word entropy
    * H(w₂|w₁) = H(w₁,w₂) − H(w₁) — the model-free compressibility /
    * redundancy signal of a corpus. Token streams aggregate once each;
    * entropy term sums go through 9-dp decimal. */
  def infoProfile(docs: DataFrame, textCol: String): DataFrame = {
    val ws = docs.select(Curation.words(col(textCol)).as("__ws"))
    def ent(counts: DataFrame): DataFrame = counts.agg(
      sum("c").as("n"),
      sum(fround(col("c") * log2(col("c")), 9).cast("decimal(38,9)")).as("s"))
      .select(col("n"),
        (log2(col("n")) - col("s").cast("double") / col("n")).as("h"))
    val hu = ent(ws.select(explode(col("__ws")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c")))
    val hb = ent(ws.select(explode(Curation.wordNgramsOf(col("__ws"), 2)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c")))
    hu.select(col("n").as("n_tokens"), col("h").as("__hu"))
      .crossJoin(hb.select(col("n").as("n_bigrams"), col("h").as("__hb")))
      .select(col("n_tokens"), col("n_bigrams"),
        fround(col("__hu"), 6).as("h_unigram"),
        fround(col("__hb"), 6).as("h_bigram"),
        fround(col("__hb") - col("__hu"), 6).as("h_cond"))
  }

  /** Fuzzy vocabulary pairs: distinct corpus words within `maxDist`
    * Levenshtein edits of each other — the typo/variant detector behind
    * fuzzy joins and spell-normalization. Blocking is SymSpell-style
    * DELETION NEIGHBORHOODS, not length buckets: each word emits every
    * string reachable by deleting ≤ maxDist characters, and two words
    * within edit distance maxDist provably share one such variant (in
    * any ≤maxDist-op alignment, delete each side's edited positions —
    * both collapse onto the common subsequence, ≤ maxDist deletions
    * each). A length bucket is quadratic within itself (at 100 TB vocab
    * ALL 7-letter words land in one bucket and the join emits |bucket|²
    * candidates); a deletion key only groups words one neighborhood
    * apart, so candidate volume stays near-linear in vocab. The exact
    * codegen'd `levenshtein` check runs once per distinct candidate
    * pair. */
  def fuzzyVocabPairs(docs: DataFrame, textCol: String,
                      maxDist: Int = 1): DataFrame = {
    val vocab = docs
      .select(explode(Curation.words(col(textCol))).as("w")).distinct()
    fuzzyCandidates(vocab, maxDist)
      .withColumn("dist", levenshtein(col("wa"), col("wb")))
      .filter(col("dist") <= maxDist)
      .select(col("wa").as("w1"), col("wb").as("w2"), col("dist"))
  }

  /** Distinct candidate pairs (wa < wb) sharing a ≤`maxDist`-deletion
    * variant — the SymSpell block join, separated out so specs can pin
    * the candidate volume (near-linear in vocab, NOT |bucket|²).
    * @param vocab single string column `w` of distinct words */
  private[graft] def fuzzyCandidates(vocab: DataFrame,
                                     maxDist: Int): DataFrame = {
    // all single-character deletions, as one codegen'd HOF chain; the
    // empty word's neighborhood is just itself (sequence(1,0) would
    // descend, so guard it out)
    def dels1(w: Column): Column =
      when(length(w) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(w)), i =>
          concat(w.substr(lit(1), i - lit(1)),
            w.substr(i + lit(1), length(w)))))
    // N₀ = {w};  Nₖ = Nₖ₋₁ ∪ dels1(Nₖ₋₁)  — ≤ C(L,maxDist)+…+1 keys/word
    var keys: Column = array(col("w"))
    for (_ <- 1 to maxDist)
      keys = array_distinct(concat(keys, flatten(transform(keys, dels1(_)))))
    val keyed = vocab.select(col("w"), explode(keys).as("key"))
    keyed.select(col("w").as("wa"), col("key"))
      .join(keyed.select(col("w").as("wb"), col("key")), "key")
      .filter(col("wa") < col("wb"))
      .select("wa", "wb").distinct() // a pair can share MANY deletion keys
  }

  /** Snapshot diff between two corpus versions: per id, whether the doc
    * was added, removed, changed (content fingerprint moved), or
    * unchanged — the audit step between two crawl/curation runs. One
    * full-outer shuffle join on the id; text never travels, only its
    * md5. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    def fp(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol), md5(col(textCol)).as(s"__fp_$side"))
    fp(oldDocs, "old").join(fp(newDocs, "new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__fp_old").isNull, "added")
          .when(col("__fp_new").isNull, "removed")
          .when(col("__fp_old") =!= col("__fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Join-key skew report: the k heaviest keys of a would-be join/agg
    * key with their share of the relation and their skew factor vs the
    * mean key size — the diagnostic run before choosing salting / AQE
    * skew handling. One partial-agg shuffle + a distributed top-k; the
    * global stats ride a broadcast 1-row relation. */
  def skewReport(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"))
    counts.orderBy(col("cnt").desc, col("key")).limit(k)
      .crossJoin(broadcast(tot))
      .select(col("key"), col("cnt"),
        fround(col("cnt") / col("n_rows"), 6).as("frac"),
        // double-first: cnt*n_keys in integer space can overflow 2^63 at
        // real key cardinalities; (cnt/n_rows)*n_keys cannot
        fround(col("cnt") / col("n_rows") * col("n_keys"), 4).as("skew"))
  }

  /** md5-derived Count-Min bucket: the first 4 hex digits of
    * md5("<row>_<word>") mod `width` — a hash both engines evaluate
    * natively (conv here, nibble arithmetic in SQL), so the sketch is
    * engine-reproducible, not just error-bounded. */
  private def cmBucket(row: Int, w: Column, width: Int): Column =
    conv(substring(md5(concat(lit(s"${row}_"), w)), 1, 4), 16, 10)
      .cast("long") % width

  /** Count-Min sketch over the corpus word stream plus a probe report
    * for the k most frequent words: (word, exact, estimate, collided).
    * estimate = min over hash rows of the probed counter — the CMS
    * guarantee (never an undercount; overcount bounded by collisions).
    *
    * Scale: the build is mergeable/associative — one token shuffle into
    * word counts, then a (rows × width ≤ a few thousand cells) counter
    * aggregation that broadcasts back to the probe side. The probe set
    * is a distributed TakeOrdered top-k, never a global sort. At 100 TB
    * the sketch itself never grows: width × rows counters regardless of
    * corpus size — the entire point of carrying a sketch instead of the
    * exact relation. */
  /** (w, c) → per-hash-row (w, c, i, b) bucket stream. */
  private def cmHashRows(wc: DataFrame, rows: Int, width: Int): DataFrame = wc
    .select(col("w"), col("c"),
      explode(array((0 until rows).map(i =>
        struct(lit(i).as("i"), cmBucket(i, col("w"), width).as("b"))): _*)).as("h"))
    .select(col("w"), col("c"), col("h.i").as("i"), col("h.b").as("b"))

  /** The (i, b, v) counter relation of a CMS over the corpus word
    * stream. MERGEABLE: union counter relations from any number of
    * chunks/batches and re-sum per (i, b) — the property the streaming
    * maintainer ([[graft.streaming.Watch.maintainCountMin]]) rides. */
  def cmCounters(docs: DataFrame, textCol: String, rows: Int,
                 width: Int): DataFrame = {
    val wc = docs.select(explode(Curation.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    cmHashRows(wc, rows, width).groupBy("i", "b").agg(sum("c").as("v"))
  }

  def countMin(docs: DataFrame, textCol: String, rows: Int, width: Int,
               k: Int): DataFrame = {
    val wc = docs.select(explode(Curation.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val counters = cmHashRows(wc, rows, width).groupBy("i", "b").agg(sum("c").as("v"))
    // probes re-derive their buckets on the tiny top-k relation rather
    // than joining back into the vocab-sized hash stream
    val top = wc.orderBy(col("c").desc, col("w")).limit(k)
    cmHashRows(top, rows, width)
      .join(broadcast(counters), Seq("i", "b"))
      .groupBy(col("w").as("word"))
      .agg(max("c").as("exact"), min("v").as("estimate"))
      .select(col("word"), col("exact"), col("estimate"),
        (col("estimate") > col("exact")).as("collided"))
      .orderBy(col("exact").desc, col("word"))
  }

  /** Asymmetric near-duplication: ordered pairs (a, b) in the same block
    * where at least `threshold` of a's distinct word n-grams also occur
    * in b — the sub-document/quotation detector Jaccard misses (a short
    * doc fully quoted inside a long one scores low symmetric Jaccard but
    * containment 1.0). Self-join is block-scoped; gram identity travels
    * as xxhash64 (8-byte sorted arrays, collisions merge one gram pair
    * ~never) and the intersection is the codegen'd threshold-aware
    * sorted-merge kernel [[graft.functions.ArrayExprs.ContainmentSortedMin]]
    * — size-ratio + remaining-elements early exits fire on the non-dup
    * pairs that dominate a blocked self-join (60× over string-array
    * array_intersect at sf0.1), while passing pairs get the exact value. */
  def containmentPairs(docs: DataFrame, blockCol: String, n: Int,
                       threshold: Double, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val g = graft.core.Par.expand(docs)
      .select(col(idCol), col(blockCol).as("__blk"),
        Curation.words(col(textCol)).as("__ws"))
      // no size(__g)>0 filter: it would push below the __ws projection and
      // inline the whole gram tree into the scan Filter, re-running the
      // lower+regex+split interpreted lambda PER GRAM POSITION (the
      // NOTES.md CSE trap). Empty arrays are harmless — the kernel
      // returns 0 for an empty side and the threshold filter drops it.
      .select(col(idCol), col("__blk"),
        array_sort(array_distinct(transform(
          Curation.wordNgramsOf(col("__ws"), n), x => xxhash64(x)))).as("__g"))
    val a = g.select(col(idCol).as("doc_a"), col("__blk"), col("__g").as("ga"))
    val b = g.select(col(idCol).as("doc_b"), col("__blk"), col("__g").as("gb"))
    a.join(b, Seq("__blk"))
      .filter(col("doc_a") =!= col("doc_b"))
      .withColumn("__c",
        graft.functions.ArrayExprs.containmentSortedMin(spark, col("ga"), col("gb"), threshold))
      .filter(col("__c") >= threshold)
      .select(col("doc_a"), col("doc_b"), fround(col("__c"), 6).as("containment"))
  }
}
