package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding.fround

/** Corpus-curation operators for training-data pipelines: eval-set
  * decontamination, deterministic hash sampling, stratified per-group
  * quotas, and sequence packing. All four are deterministic (hash- or
  * id-ordered, never RNG-seeded) so every result is exactly
  * reproducible — and exactly oracle-checkable.
  *
  * Scale notes (the 100 TB shapes):
  *   - decontamination joins the corpus n-gram stream against the EVAL
  *     side, which is small by definition → broadcast hash join; the
  *     only shuffle is the final per-doc count with map-side partial
  *     aggregation. The corpus is never collected or self-joined.
  *   - hash sampling is a pure filter (codegen'd md5 prefix compare):
  *     no shuffle, fully pushed into the scan stage.
  *   - stratified quotas use rank-limit windows, which Spark rewrites
  *     into WindowGroupLimit (top-k per partition before the shuffle) —
  *     per-group data never concentrates beyond the quota.
  *   - packing is a per-group running sum — one shuffle on the group
  *     key; bins are assigned without driver participation.
  */
object Curation {

  /** Normalized word stream: lowercase, whitespace runs collapsed. */
  private[text] def words(text: Column): Column =
    split(regexp_replace(lower(text), "\\s+", " "), " ")

  /** Whitespace token count over the normalized word stream. */
  def tokenCount(text: Column): Column = size(words(text))

  /** Fraction of words that repeat an earlier word (0 = all distinct). */
  def dupWordFrac(text: Column): Column = {
    val ws = words(text)
    lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws)
  }

  /** All word n-grams of a word-array column, each joined with single
    * spaces. Spark's sequence() DESCENDS when stop < start, so short/null
    * word arrays must short-circuit to an empty array instead.
    *
    * PERFORMANCE: higher-order-function lambdas are interpreted and
    * defeat common-subexpression elimination, so passing a raw
    * `words(text)` tree here re-runs lower+regex+split once PER GRAM
    * POSITION (O(positions × |text|) — 20× on real corpora). Operators
    * must materialize the word array in a projection first and pass the
    * attribute (see [[explodedGrams]]). */
  def wordNgramsOf(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** (id, gram) stream with the word array materialized once per row —
    * the split/regex runs per DOCUMENT, not per gram position. The
    * distinct flag dedups grams within a document before the explode. */
  private[text] def explodedGrams(df: DataFrame, idCol: String, textCol: String,
                            n: Int, distinctPerDoc: Boolean): DataFrame = {
    val grams0 = wordNgramsOf(col("__ws"), n)
    val grams = if (distinctPerDoc) array_distinct(grams0) else grams0
    df.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol), explode(grams).as("gram"))
  }

  /** Train/eval n-gram decontamination (the overlap check run before
    * training to drop corpus documents that leak eval content): for each
    * corpus document, the number of distinct word n-grams that also
    * appear anywhere in the eval set. Only contaminated documents are
    * returned.
    *
    * The eval side reduces to a distinct n-gram relation and is
    * broadcast; corpus n-grams stream through a map-side hash join.
    */
  def decontaminate(corpus: DataFrame, eval_ : DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val evalGrams = explodedGrams(eval_, idCol, textCol, n, distinctPerDoc = false)
      .select("gram").distinct()
    // rebalance the CORPUS side only before the n-gram expansion (the
    // eval side is small by definition and feeds a broadcast build —
    // expanding it was measured a regression in r18)
    val corpusGrams = explodedGrams(graft.core.Par.expand(corpus),
      idCol, textCol, n, distinctPerDoc = true)
    corpusGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_leaked_ngrams"))
  }

  /** `decontaminate` for eval sets PAST broadcast size (a full eval-suite
    * gram relation at production scale is GBs — no longer a broadcast
    * candidate). Same result, different plan: the eval grams fold into a
    * fixed-size bloom filter (one small-side pass, `numBits` bounds the
    * artifact at build time), the corpus gram stream drops non-members
    * map-side BEFORE any exchange, and only the ~fpp survivor trickle
    * pays the exact shuffle join that removes false positives. The
    * expensive side of the join never shuffles at full width.
    *
    * Exactness does not depend on the sizing parameters: an undersized
    * filter only lets more false positives through to the confirm join. */
  def decontaminateScaled(corpus: DataFrame, eval_ : DataFrame, idCol: String,
                          textCol: String, n: Int,
                          expectedEvalGrams: Long = 1L << 22,
                          numBits: Long = 1L << 26): DataFrame = {
    val spark = corpus.sparkSession
    val evalGrams = explodedGrams(eval_, idCol, textCol, n, distinctPerDoc = false)
      .select("gram").distinct()
    val bloom = evalGrams
      .select(graft.functions.BloomFns.bloomAgg(spark,
        xxhash64(col("gram")), expectedEvalGrams, numBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    val corpusGrams = explodedGrams(graft.core.Par.expand(corpus), idCol, textCol, n,
      distinctPerDoc = true)
    corpusGrams
      .filter(graft.functions.BloomFns.mightContain(spark,
        xxhash64(col("gram")), lit(bloom)))
      .join(evalGrams, "gram") // exact confirm: kills bloom false positives
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_leaked_ngrams"))
  }

  /** Contamination REPORT: per corpus document, its distinct n-gram
    * count, how many of those appear anywhere in the eval set, and both
    * sides of the leak fraction — the audit artifact teams review before
    * choosing a drop threshold (decontaminate() is the enforcement
    * filter). Same broadcast eval relation + map-side join shape. */
  def decontaminateReport(corpus: DataFrame, eval_ : DataFrame, idCol: String,
                          textCol: String, n: Int): DataFrame = {
    val evalGrams = explodedGrams(eval_, idCol, textCol, n, distinctPerDoc = false)
      .select("gram").distinct()
    val corpusGrams = explodedGrams(graft.core.Par.expand(corpus), idCol, textCol, n,
      distinctPerDoc = true)
    // ONE pass over the corpus grams: the broadcast LEFT join marks the
    // leaked ones, a single aggregation counts both totals — no second
    // explode/scan like a totals⋈leaked two-query plan would cost
    corpusGrams
      .join(broadcast(evalGrams.withColumn("__hit", lit(1))), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        count(col("__hit")).as("n_leaked"))
  }

  /** Per-document duplication rate: the fraction of a document's
    * distinct word n-grams that occur in at least one OTHER document —
    * the corpus-level repetition signal behind "dedup before training"
    * decisions (complements the intra-document repetition filter).
    * Gram-keyed partial aggregation (docs per gram) + a skew-robust
    * hash join back to the gram stream, then a per-doc re-aggregation. */
  def dupNgramRate(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    // gram identity travels as xxhash64 — 8-byte shuffle/join keys, same
    // trade as duplicateSpans (collisions merge one gram pair, ~never)
    val grams = docs.select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol), explode(array_distinct(
        transform(wordNgramsOf(col("__ws"), n), g => xxhash64(g)))).as("__gh"))
    // each doc contributes a gram at most once (array_distinct), so the
    // gram-keyed count IS docs-with-gram. The count rides a partial
    // aggregation + shuffle-join back, NOT a gram-partitioned window: a
    // stopword-ish gram present in (nearly) every document would force a
    // window to buffer that whole key in one task, while the hash join
    // streams the hot key's probe rows against a single build row.
    val docsWith = grams.groupBy("__gh")
      .agg(count(lit(1)).as("n_docs_with"))
    grams.join(docsWith, Seq("__gh"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_shared"))
  }

  /** Deterministic hash sample: keep a row iff the md5 of its id lands
    * under the rate threshold. `thresholdHex4` is the first-4-hex-chars
    * cutoff (e.g. "1999" ≈ 10%): fixed-width lowercase hex compares in
    * value order, so the same predicate runs verbatim in any engine.
    * Pure codegen'd filter — survives pushdown, shuffles nothing. */
  def hashSample(df: DataFrame, idCol: String, thresholdHex4: String): DataFrame =
    df.filter(substring(md5(col(idCol).cast("string")), 1, 4) < thresholdHex4)

  /** Stratified quota sample: at most `quota` rows per group, chosen by
    * md5-of-id rank (deterministic, uniform within each group). The
    * rank filter compiles to WindowGroupLimit: each map task keeps only
    * its local top-`quota` before the group shuffle. */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       quota: Int): DataFrame =
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(groupCol)
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .filter(col("__rk") <= quota)
      .drop("__rk")

  /** Mixture sampling: build a training mix hitting per-group quotas
    * (the "data mixture" step — e.g. 50% en / 30% code / 20% math of a
    * target budget), with the deterministic md5-of-id rank as the
    * within-group selector. Groups short of quota contribute everything
    * they have; groups not in the mix are dropped. Same WindowGroupLimit
    * plan as [[stratifiedSample]] — map tasks keep only their local
    * top-quota before the group shuffle. */
  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
                    quotas: Map[String, Int]): DataFrame = {
    // Not-in-mix groups are pruned BEFORE the rank window either way.
    // Small mixes inline the quota as a when-chain (pure codegen, no
    // join); past ~100 entries the chain's O(|quotas|) expression depth
    // bloats codegen, so the quota map becomes a broadcast-joined
    // relation instead — the rank filter still compiles to
    // WindowGroupLimit, and the map-side inner join drops not-in-mix
    // groups exactly like the isin filter.
    def rank(d: DataFrame): DataFrame =
      d.withColumn("__rk", row_number().over(
        Window.partitionBy(groupCol)
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
    if (quotas.size <= 100) {
      val qCol = quotas.foldLeft(lit(0)) { case (acc, (g, q)) =>
        when(col(groupCol) === g, lit(q)).otherwise(acc)
      }
      rank(df.filter(col(groupCol).isin(quotas.keys.toSeq: _*)))
        .filter(col("__rk") <= qCol)
        .drop("__rk")
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val qdf = quotas.toSeq.toDF("__mix_g", "__mix_q")
      rank(df.join(broadcast(qdf), col(groupCol) === col("__mix_g")))
        .filter(col("__rk") <= col("__mix_q"))
        .drop("__rk", "__mix_g", "__mix_q")
    }
  }

  /** Epoch-weighted mixture upsampling: replicate each group's rows by a
    * real-valued weight (the "epochs over the dataset" knob of training
    * recipes — e.g. wiki ×3.2, web ×0.8). A weight w emits floor(w) full
    * copies of every row plus one extra copy of a deterministic
    * hash-chosen frac(w) of rows; w < 1 therefore downsamples (0 full
    * copies, the fractional rule keeps a w-share). The selector is the
    * same md5-prefix uniform as [[hashSample]], so the result is exactly
    * reproducible and oracle-checkable. Output repeats the row once per
    * `epoch` (0-based).
    *
    * Scale shape: copies come from `explode(sequence(...))` — a codegen
    * generator, no shuffle, no join (the weight map inlines as a
    * when-chain; mixes are small by nature). Row count grows by design;
    * nothing else does. */
  def upsampleMixture(df: DataFrame, groupCol: String, idCol: String,
                      weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(w => w >= 0 && w < 1000),
      s"weights must be in [0, 1000), got $weights")
    // small maps inline as a when-chain (pure codegen); past ~100
    // entries the chain's O(|weights|) expression depth bloats codegen,
    // so the weight map becomes a broadcast-joined relation — the same
    // threshold split as [[mixtureSample]]
    val weighted =
      if (weights.size <= 100) {
        val wCol = weights.foldLeft(lit(0.0)) { case (acc, (g, w)) =>
          when(col(groupCol) === g, lit(w)).otherwise(acc)
        }
        df.withColumn("__w", wCol)
      } else {
        val spark = df.sparkSession
        import spark.implicits._
        val wdf = weights.toSeq.toDF("__mix_g", "__w")
        df.join(broadcast(wdf), col(groupCol) === col("__mix_g"))
          .drop("__mix_g")
      }
    // md5-prefix uniform in [0,1): 4 hex chars / 0x10000, as hashSample
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("double") / 65536.0
    weighted
      .withColumn("__copies",
        (floor(col("__w")) + when(u < col("__w") - floor(col("__w")), 1)
          .otherwise(0)).cast("int"))
      .filter(col("__copies") >= 1)
      .withColumn("epoch", explode(sequence(lit(0), col("__copies") - 1)))
      .drop("__w", "__copies")
  }

  /** Temperature-scaled mixture weights — the "how much of each source"
    * step BEFORE [[mixtureSample]]/[[upsampleMixture]] consume the knobs.
    * Standard multilingual/multi-source recipe (T5, PaLM, XLM-R): a
    * source of size nₛ samples with probability ∝ nₛ^α, α ∈ (0,1]
    * flattening the natural distribution so small sources are not
    * drowned. Emits per group: size, sampling probability, and the
    * effective epochs over that source a prob-proportional token budget
    * implies. One partial-aggregated shuffle over the corpus; the
    * normalization total is an exact decimal sum of 6-dp-rounded
    * weights, so the output is partitioning-independent. */
  def temperatureMix(df: DataFrame, groupCol: String, sizeCol: String,
                     alpha: Double): DataFrame = {
    val g = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(sizeCol).as("n_size"))
      .withColumn("__w", fround(pow(col("n_size").cast("double"), lit(alpha)), 6))
    val tot = g.agg(
      sum(col("__w").cast("decimal(38,6)")).cast("double").as("__tw"),
      sum("n_docs").as("__td"))
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_size"),
        fround(col("__w") / col("__tw"), 6).as("prob"),
        fround(col("__w") / col("__tw") * col("__td") / col("n_docs"), 6).as("epochs"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): each row draws u ∈ (0,1] from the md5 of its id and
    * competes with key = u^(1/w); the k largest keys win — over many
    * draws each row's win probability is proportional to its weight,
    * with zero RNG state to disagree on across engines or re-runs.
    * Selection orders on the 9-dp-rounded key with an id tiebreak so
    * both engines cut the same boundary. The top-k is a distributed
    * TakeOrdered merge — no global sort, no shuffle of the corpus. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 1d) / lit(4294967296d)
    df.withColumn("skey", fround(pow(u, lit(1d) / col(weightCol).cast("double")), 9))
      .orderBy(col("skey").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col(weightCol), col("skey"))
  }

  /** Global heavy hitters: the k most frequent word n-grams with their
    * total occurrence and distinct-document counts — the boilerplate /
    * template-text detector run before span-level dedup. Partial
    * aggregation combines counts map-side, and the top-k is a
    * distributed TakeOrderedAndProject merge (never a global sort of
    * the gram universe); ties break lexicographically so the cut is
    * deterministic. */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, k: Int): DataFrame =
    explodedGrams(graft.core.Par.expand(docs), idCol, textCol, n,
        distinctPerDoc = false)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("n_occ").desc, col("gram").asc)
      .limit(k)

  /** Blocklist (badword) gate, C4-style: per document, the number and
    * fraction of normalized words that appear in `blocked`, plus the
    * keep verdict (`blockedFrac <= maxFrac`). The blocklist inlines as
    * an array literal filter — pure codegen'd column math, no shuffle,
    * no join (real blocklists are hundreds of words; for a corpus-scale
    * dynamic list, join a broadcast relation instead). */
  def blocklistStats(df: DataFrame, textCol: String, blocked: Seq[String],
                     maxFrac: Double = 0.0): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist")
    val ws = words(col(textCol))
    val blockedArr = array(blocked.map(w => lit(w.toLowerCase)): _*)
    val nBlocked = size(filter(ws, w => array_contains(blockedArr, w)))
    df.withColumn("n_words", size(ws).cast("long"))
      .withColumn("n_blocked", nBlocked.cast("long"))
      .withColumn("blocked_frac",
        col("n_blocked").cast("double") / col("n_words"))
      .withColumn("keep", col("blocked_frac") <= maxFrac)
  }

  /** Deterministic train/val/test split: each row gets a split label
    * from the same md5-prefix uniform as [[hashSample]], cut at the
    * cumulative fractions of `splits` (ordered; the last split absorbs
    * the rounding remainder). Membership is a pure function of the id,
    * so adding rows later never reshuffles existing assignments — the
    * property training pipelines need for stable eval sets. Pure
    * codegen'd projection: no shuffle, no RNG state. */
  def datasetSplit(df: DataFrame, idCol: String,
                   splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"bad splits $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("double") / 65536.0
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
    val labeled = splits.init.zip(cuts.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), cut), rest) =>
      when(u < cut, lit(name)).otherwise(rest)
    }
    df.withColumn("split", labeled)
  }

  /** Materialized sequence packing: [[packBins]] then concatenate each
    * bin's documents (id order) into one training sequence. The
    * per-bin collect is bounded by `targetTokens` by construction, so
    * no group ever exceeds ~one training sequence of text — safe at
    * any corpus size. One extra keyed aggregation over packBins. */
  def packTexts(df: DataFrame, groupCol: String, idCol: String,
                textCol: String, targetTokens: Int): DataFrame = {
    packBins(df, groupCol, idCol, textCol, targetTokens)
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol), col(textCol)))),
            x => x.getField(textCol)), " ").as("seq_text"))
  }

  /** PII scrubbing: replace emails, IPv4 addresses, and long digit runs
    * (phone/account numbers) with typed placeholder tokens. The patterns
    * are deliberately lookaround-free so the same regexes run unchanged
    * on any RE2/PCRE-class engine, keeping redaction reproducible.
    * Pure codegen'd column expressions — no shuffle, no UDF. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val DigitRunRe = "[0-9][0-9 ()+-]{7,}[0-9]"

  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, DigitRunRe, "<NUMBER>")
  }

  /** Count of PII hits by kind (for redaction reporting). */
  def piiCounts(text: Column): (Column, Column, Column) = (
    size(regexp_extract_all(text, lit(EmailRe), lit(0))),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))),
    size(regexp_extract_all(regexp_replace(regexp_replace(text, EmailRe, " "),
      Ipv4Re, " "), lit(DigitRunRe), lit(0))))

  /** Repetition statistics (the duplicate-content heuristics published
    * with large-corpus quality filtering: duplicate-word fraction and
    * the most-frequent-bigram mass fraction; documents dominated by
    * repeated content get filtered before training).
    *
    * dup_word_frac is pure higher-order column math (no shuffle);
    * top_bigram_frac explodes bigrams → per-(doc,gram) count →
    * per-doc max/total — two keyed aggregations with map-side partials,
    * never a per-doc collect. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    val base = df.select(col(idCol), col(textCol))
      .withColumn("n_words", size(ws))
      .withColumn("dup_word_frac",
        lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws))
    val grams = explodedGrams(base, idCol, textCol, 2, distinctPerDoc = false)
      .groupBy(idCol, "gram").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg((max("c").cast("double") / sum("c")).as("top_bigram_frac"))
    base.drop(textCol).join(grams, Seq(idCol), "left")
  }

  /** Cross-document duplicated SPANS — the exact-substring dedup signal
    * (the "remove long duplicated substrings before training" step
    * published with large-corpus dedup work, re-expressed over word
    * n-grams): a word n-gram is *duplicated* when it appears in at
    * least `minDocs` DISTINCT documents; per document, runs of
    * duplicated grams whose word coverage `[pos, pos+n-1]` overlaps or
    * abuts merge into maximal spans.
    *
    * Returns one row per span: (id, span_start, span_end, n_grams) with
    * 0-based inclusive word indexes into the normalized word stream.
    *
    * Plan shape (all keyed, no driver loop): one positional explode,
    * a distinct-(id,gram) aggregation + gram-keyed count to find
    * duplicated grams, a gram-keyed semi-join back to the positional
    * stream, then a per-document sort window (gaps-and-islands merge)
    * + per-(id, island) aggregation. The hot side stays ids+positions
    * (never the text) after the first projection, so the shuffles carry
    * narrow rows even when documents are megabytes.
    *
    * Gram identity travels as `xxhash64(gram)` — an 8-byte fixed key
    * instead of the n-word string — so the distinct/count/semi-join
    * shuffles move ~5× fewer bytes on 5-grams of real prose. A 64-bit
    * collision (two different grams sharing a hash) would merge their
    * duplicate sets; at 10^9 distinct grams the chance any collision
    * exists is ~3%, and a single collision only widens one span by one
    * gram — the standard trade every hash-keyed dedup makes. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val posGrams = graft.core.Par.expand(docs)
      .select(col(idCol), words(col(textCol)).as("__ws")) // split ONCE per doc
      .select(col(idCol), posexplode(wordNgramsOf(col("__ws"), n)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"), // generator pos is int
        xxhash64(col("gram")).as("__gh")) // gram string dropped pre-shuffle
    // distinct docs per gram: dedupe WITHIN each doc's row via
    // array_distinct BEFORE the explode, so the docs-per-gram count is
    // one partial-agg shuffle of bare hashes — no shuffle-distinct of
    // the full (id, gram) stream (the interpreted per-element xxhash64
    // lambda is CPU the exchange it replaces would dwarf)
    val dupGrams = graft.core.Par.expand(docs)
      .select(words(col(textCol)).as("__ws"))
      .select(explode(array_distinct(
        transform(wordNgramsOf(col("__ws"), n), g => xxhash64(g)))).as("__gh"))
      .groupBy("__gh").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__gh")
    val dup = posGrams.join(dupGrams, Seq("__gh"), "left_semi")
    // islands: a gram at p2 extends the span of a previous gram at p1
    // iff their coverages overlap or abut (p2 <= p1 + n); `pos` is
    // unique within a doc so the running sum is deterministic
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    val prev = lag(col("pos"), 1).over(byPos)
    dup
      .withColumn("__brk", when(prev.isNull || col("pos") > prev + n, 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(byPos))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** Per-document exact-substring dedup accounting: total words, words
    * covered by cross-document duplicated spans ([[duplicateSpans]],
    * same `n`/`minDocs` semantics), and the surviving fraction after
    * those spans are cut. The stats make the removal decision
    * reviewable before any text is rewritten (spans are maximal and
    * non-overlapping, so covered words = Σ(span_end − span_start + 1)).
    * Documents with no duplicated span report dup_words = 0. */
  def substringDedupStats(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, minDocs: Int = 2): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, n, minDocs)
      .groupBy(idCol)
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_words"),
        count(lit(1)).as("n_spans"))
    docs.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_words"))
      .join(spans, Seq(idCol), "left")
      .withColumn("dup_words", coalesce(col("dup_words"), lit(0L)))
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("keep_frac",
        (col("n_words") - col("dup_words")).cast("double") / col("n_words"))
  }

  /** Per-group percentile gate: keep rows whose score clears their
    * group's exact `pct`-quantile (e.g. "drop the bottom half of each
    * language by quality score"). The per-group thresholds reduce to
    * one tiny relation (exact interpolated percentile, partial-agg
    * friendly) broadcast back over the corpus — the corpus itself never
    * re-shuffles, so the gate is a map-side join + filter at any scale. */
  def percentileFilter(df: DataFrame, groupCol: String, scoreCol: Column,
                       pct: Double, keepAtOrAbove: Boolean = true): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0,1), got $pct")
    val th = df.groupBy(groupCol)
      .agg(percentile(scoreCol.cast("double"), lit(pct)).as("__th"))
    val scored = df.withColumn("__score", scoreCol.cast("double"))
      .join(broadcast(th), Seq(groupCol))
    (if (keepAtOrAbove) scored.filter(col("__score") >= col("__th"))
     else scored.filter(col("__score") < col("__th")))
      .drop("__score", "__th")
  }

  /** Deterministic global shuffle for training export: every engine
    * that sorts by `md5(seed ":" id)` (id as the collision tiebreak)
    * reproduces the same permutation, so the training order is
    * re-derivable from (seed, ids) alone — no RNG state to ship.
    *
    * Scale shape: a range-partitioned sort on the hash (Spark samples
    * the hash space for balanced bounds — md5 is uniform, so no skew),
    * then `zipWithIndex` assigns contiguous positions with one O(#
    * partitions) count job + one map pass; no global window, no
    * single-partition stage. */
  def globalShuffle(df: DataFrame, idCol: String, seed: String,
                    outCol: String = "shuffle_pos"): DataFrame = {
    val spark = df.sparkSession
    val h = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val sorted = df.withColumn("__h", h)
      .repartitionByRange(col("__h"), col(idCol))
      .sortWithinPartitions(col("__h"), col(idCol))
    val schema = sorted.schema.add(outCol, org.apache.spark.sql.types.LongType)
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(indexed, schema).drop("__h")
  }

  /** Sequence packing: concatenate consecutive documents (id order
    * within each group) into training bins of ~`targetTokens`
    * whitespace tokens. Bin k of a group holds the docs whose running
    * token count (exclusive of self) falls in [k·target, (k+1)·target).
    * One window shuffle per group key; no driver-side loop. */
  def packBins(df: DataFrame, groupCol: String, idCol: String,
               textCol: String, targetTokens: Int): DataFrame = {
    val toks = size(words(col(textCol)))
    val win = Window.partitionBy(groupCol).orderBy(idCol)
    df.withColumn("__tok", toks)
      .withColumn("__cum", sum(col("__tok")).over(win) - col("__tok"))
      .withColumn("bin", floor(col("__cum") / targetTokens))
      .drop("__cum")
      .withColumnRenamed("__tok", "n_tokens")
  }
}
