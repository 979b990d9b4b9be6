package graft

import org.apache.spark.sql.functions._
import graft.text.Curation

/** Corpus-curation operators: decontamination, deterministic sampling,
  * stratified quotas, sequence packing — semantics + plan shape. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate finds a planted eval leak and only that") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // leaks "beta gamma delta epsilon"
      (2L, "one two three four five six"),
      (3L, "completely different words here now yes")).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "prefix beta gamma delta epsilon suffix")).toDF("doc_id", "text")
    val got = Curation.decontaminate(corpus, eval_, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L), got)
  }

  test("decontaminate broadcasts the eval side (no corpus shuffle join)") {
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val eval_ = Seq((2L, "b c d e f")).toDF("doc_id", "text")
    val plan = Curation.decontaminate(corpus, eval_, "doc_id", "text", n = 4)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("decontaminateScaled matches decontaminate exactly, even with a saturated filter") {
    val docs = (1L to 60L).map(i =>
      (i, s"w${i}a w${i}b w${i}c common tail words here x$i y$i z$i"))
    val corpus = docs.filter(_._1 % 10 < 9).toDF("doc_id", "text")
    val eval_ = docs.filter(_._1 % 10 == 9).toDF("doc_id", "text")
    val exact = Curation.decontaminate(corpus, eval_, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // numBits=64: far fewer bits than grams — false positives everywhere,
    // result still exact because the confirm join removes them
    val scaled = Curation.decontaminateScaled(corpus, eval_, "doc_id", "text",
        n = 3, expectedEvalGrams = 8, numBits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scaled == exact, s"scaled=$scaled exact=$exact")
  }

  test("decontaminateScaled probes the bloom filter BELOW the confirm join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val eval_ = Seq((2L, "b c d e f")).toDF("doc_id", "text")
    val lp = Curation.decontaminateScaled(corpus, eval_, "doc_id", "text",
        n = 4, expectedEvalGrams = 8, numBits = 1 << 10)
      .queryExecution.optimizedPlan
    val join = lp.collectFirst { case j: LJoin => j }.get
    // the corpus (gram-producing, expensive) branch filters through the
    // bloom before reaching the join's exchange — the full-width gram
    // stream never shuffles
    def hasProbe(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.exists {
        case f: LFilter => f.condition.collectFirst {
          case b: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => b
        }.isDefined
        case _ => false
      }
    assert(hasProbe(join.left), lp.toString)
  }

  test("bloom filter never false-negatives over its build keys") {
    val keys = (1L to 5000L).map(i => i * 2654435761L).toDF("k")
    val bf = keys.select(graft.functions.BloomFns.bloomAgg(spark,
      col("k"), 5000, 1L << 16).as("bf")).head.getAs[Array[Byte]](0)
    val misses = keys.filter(!graft.functions.BloomFns.mightContain(spark,
      col("k"), lit(bf))).count()
    assert(misses == 0)
  }

  test("wordNgrams: short and null texts produce empty arrays, not descending sequences") {
    val df = Seq((1L, "one two"), (2L, null.asInstanceOf[String]), (3L, "a b c"))
      .toDF("id", "text")
      .select(col("id"), Curation.wordNgramsOf(split(col("text"), " "), 3).as("g"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L).isEmpty && got(2L).isEmpty)
    assert(got(3L) == Seq("a b c"))
  }

  test("hashSample is a deterministic subset and a pure filter") {
    val df = spark.range(1000).toDF("id")
    val a = Curation.hashSample(df, "id", "1999").as[Long].collect().toSet
    val b = Curation.hashSample(df, "id", "1999").as[Long].collect().toSet
    assert(a == b)
    assert(a.nonEmpty && a.size < 300, a.size) // ~10% of 1000
    // rate monotonicity: a larger threshold strictly contains a smaller one
    val wider = Curation.hashSample(df, "id", "3333").as[Long].collect().toSet
    assert(a.subsetOf(wider) && wider.size > a.size)
    val plan = Curation.hashSample(df, "id", "1999").queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
  }

  test("stratifiedSample keeps exactly the quota per group via WindowGroupLimit") {
    val df = spark.range(500)
      .select(col("id"), (col("id") % 5).cast("string").as("grp"))
    val got = Curation.stratifiedSample(df, "grp", "id", quota = 7)
    val counts = got.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts.values.toSet == Set(7L), counts)
    // rank-limit pushdown: Spark plans a WindowGroupLimit below the shuffle
    val plan = got.queryExecution.executedPlan.toString()
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("mixtureSample: a 1k-group quota map plans a broadcast join, same results as inline") {
    val df = (1 to 4000).map(i => (s"g${i % 400}", i.toLong)).toDF("grp", "id")
    val bigQuotas = (0 until 1000).map(g => s"g$g" -> 3).toMap // 600 groups absent from df
    val planned = Curation.mixtureSample(df, "grp", "id", bigQuotas)
    val plan = planned.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "quota map must join, not inline, past the when-chain threshold: " + plan)
    // equivalence with the inline path on an overlapping small mix
    val smallQuotas = (0 until 50).map(g => s"g$g" -> 3).toMap
    val inline = Curation.mixtureSample(df, "grp", "id", smallQuotas)
      .collect().map(_.toSeq).toSet
    val joined = Curation.mixtureSample(df, "grp", "id", smallQuotas ++
      (1000 until 1951).map(g => s"x$g" -> 1).toMap) // same live groups, >100 entries
      .collect().map(_.toSeq).toSet
    assert(joined == inline, "broadcast path must select the identical rows")
    // per-group quota respected on the broadcast path
    val counts = planned.groupBy("grp").count().collect()
    assert(counts.forall(_.getLong(1) <= 3))
    assert(counts.length == 400, s"all 400 live groups sampled, got ${counts.length}")
  }

  test("scrubPii redacts emails, IPv4s and digit runs in order") {
    val df = Seq((1L,
      "mail bob.smith+x@corp.example.org node 192.168.10.3 tel 010-1234-5678 ok 42"))
      .toDF("id", "t")
    val got = df.select(Curation.scrubPii(col("t"))).as[String].head()
    assert(got == "mail <EMAIL> node <IP> tel <NUMBER> ok 42", got)
    val (ne, ni, nn) = Curation.piiCounts(col("t"))
    val counts = df.select(ne, ni, nn).head()
    assert((counts.getInt(0), counts.getInt(1), counts.getInt(2)) == ((1, 1, 1)), counts)
  }

  test("repetitionStats flags repeated content, not diverse text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "eight totally different words appear right here now")).toDF("doc_id", "text")
    val got = Curation.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    val (n1, dwf1, tbf1) = got(1L)
    assert(n1 == 8 && dwf1 == 1.0 - 1.0 / 8 && tbf1 == 1.0, got(1L)) // all bigrams "spam spam"
    val (n2, dwf2, tbf2) = got(2L)
    assert(n2 == 8 && dwf2 == 0.0 && math.abs(tbf2 - 1.0 / 7) < 1e-12, got(2L))
  }

  test("duplicateSpans: overlapping and abutting duplicated grams merge, " +
      "intra-doc repetition alone does not count") {
    val df = Seq(
      // docs 1 and 2 share "alpha beta gamma delta" (grams at pos 1..2
      // of doc 1 overlap → one span) and nothing else
      (1L, "x alpha beta gamma delta y z q"),
      (2L, "alpha beta gamma delta k l m n"),
      // doc 3 repeats a trigram INSIDE itself only — not cross-doc
      (3L, "p q r p q r p q r s t u")).toDF("doc_id", "text")
    val got = Curation.duplicateSpans(df, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: grams "alpha beta gamma"@1, "beta gamma delta"@2 → span [1,4]
    // doc 2: same grams @0,@1 → span [0,3]; doc 3: nothing (minDocs = 2)
    assert(got == Set((1L, 1L, 4L, 2L), (2L, 0L, 3L, 2L)), got)
  }

  test("duplicateSpans: a gap past coverage+1 splits spans") {
    val df = Seq(
      (1L, "a b c GAP1 GAP2 GAP3 a b c"),
      (2L, "a b c t u v w x y z")).toDF("doc_id", "text")
    // dup gram "a b c" at doc 1 pos 0 and pos 6: 6 > 0 + 3 → two spans
    val got = Curation.duplicateSpans(df, "doc_id", "text", n = 3)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 2L), (6L, 8L)), got)
  }

  test("substringDedupStats: clean docs report zero, covered words sum spans") {
    val df = Seq(
      (1L, "x alpha beta gamma delta y z q"),
      (2L, "alpha beta gamma delta k l m n"),
      (3L, "totally unrelated words sit here quietly today ok")).toDF("doc_id", "text")
    val got = Curation.substringDedupStats(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((8L, 4L, 1L)), got(1L)) // span [1,4] → 4 words
    assert(got(2L) == ((8L, 4L, 1L)), got(2L))
    assert(got(3L) == ((8L, 0L, 0L)), got(3L))
  }

  test("percentileFilter: per-group median gate, threshold side broadcasts") {
    val df = Seq(
      ("en", 1L, 10L), ("en", 2L, 20L), ("en", 3L, 30L), // median 20
      ("de", 4L, 5L), ("de", 5L, 50L) // median 27.5 (interpolated)
    ).toDF("lang", "doc_id", "score")
    val kept = Curation.percentileFilter(df, "lang", col("score"), 0.5)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 5L))
    val dropped = Curation.percentileFilter(df, "lang", col("score"), 0.5,
      keepAtOrAbove = false)
    assert(dropped.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    val plan = kept.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("globalShuffle: contiguous positions, deterministic, no global window") {
    val df = (0L until 100L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val out = Curation.globalShuffle(df, "doc_id", seed = "s1")
    val pos = out.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (0L until 100L), pos.take(5).toSeq)
    // deterministic: same seed → same permutation; different seed → different
    val p1 = out.orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    val p2 = Curation.globalShuffle(df, "doc_id", "s1")
      .orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    val p3 = Curation.globalShuffle(df, "doc_id", "s2")
      .orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    assert(p1 == p2)
    assert(p1 != p3)
    assert(p1 != (0L until 100L).toSeq) // actually shuffled
  }

  test("packBins: bins respect the running-token boundary per group") {
    val df = Seq(
      ("en", 1L, ("w " * 900).trim), // 900 tokens  cum0=0    bin 0
      ("en", 2L, ("w " * 900).trim), // 900         cum=900   bin 0
      ("en", 3L, ("w " * 900).trim), // 900         cum=1800  bin 0 (1800 < 2000)
      ("en", 4L, ("w " * 900).trim), // 900         cum=2700  bin 1
      ("de", 5L, ("w " * 100).trim)  // independent group     bin 0
    ).toDF("lang", "doc_id", "text")
    val got = Curation.packBins(df, "lang", "doc_id", "text", targetTokens = 2000)
      .select("lang", "doc_id", "bin").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("en", 1L, 0L), ("en", 2L, 0L), ("en", 3L, 0L),
      ("en", 4L, 1L), ("de", 5L, 0L)), got)
  }

  test("upsampleMixture: integer weights replicate exactly, zero drops, " +
      "fractional share is deterministic") {
    val df = (1L to 200L).map(i =>
      (i, if (i <= 100) "wiki" else "web")).toDF("doc_id", "source")
    val got = Curation.upsampleMixture(df, "source", "doc_id",
      Map("wiki" -> 3.0, "web" -> 0.5))
      .groupBy("source").agg(
        countDistinct("doc_id").as("docs"), count(lit(1)).as("rows"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // wiki ×3.0: every doc appears exactly 3 times (epochs 0,1,2)
    assert(got("wiki") == (100L, 300L), got)
    // web ×0.5: a hash-chosen ~half survives once; deterministic re-run
    val (webDocs, webRows) = got("web")
    assert(webDocs == webRows && webDocs > 20 && webDocs < 80, got)
    val again = Curation.upsampleMixture(df, "source", "doc_id",
      Map("wiki" -> 3.0, "web" -> 0.5))
      .filter(col("source") === "web").count()
    assert(again == webRows)
    // epochs are 0-based and dense per row set
    val epochs = Curation.upsampleMixture(df, "source", "doc_id",
      Map("wiki" -> 3.0, "web" -> 0.5))
      .filter(col("source") === "wiki").filter(col("doc_id") === 1L)
      .select("epoch").as[Int].collect().sorted.toSeq
    assert(epochs == Seq(0, 1, 2), epochs)
  }

  test("upsampleMixture: fractional top-up adds the hash share above floor(w)") {
    val df = (1L to 400L).map(i => (i, "w")).toDF("doc_id", "source")
    val n = Curation.upsampleMixture(df, "source", "doc_id", Map("w" -> 2.25))
      .count()
    // 2 full copies of 400 + ~25% extra: binomial(400, .25) around 100
    assert(n > 800L + 55L && n < 800L + 150L, n)
    // group not in the mix is dropped
    val dropped = Curation.upsampleMixture(
      df.withColumn("source", when(col("doc_id") <= 10, "other").otherwise("w")),
      "source", "doc_id", Map("w" -> 1.0)).count()
    assert(dropped == 390L, dropped)
  }

  test("datasetSplit: labels partition the id space, stable under growth, no shuffle") {
    val df = (1L to 1000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val got = Curation.datasetSplit(df, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = got.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L, counts)
    assert(counts("train") > 700 && counts("train") < 900, counts)
    assert(counts("val") > 50 && counts("val") < 160, counts)
    // growth stability: the first 500 ids keep their labels when 500 more arrive
    val small = Curation.datasetSplit(df.filter(col("doc_id") <= 500), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val big = got.filter(col("doc_id") <= 500)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small == big)
    val plan = got.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
  }

  test("datasetSplit rejects fractions that do not sum to 1") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.datasetSplit(df, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("packTexts: bin text is the id-ordered concatenation of its docs") {
    val df = Seq(
      ("en", 2L, "bravo two"),
      ("en", 1L, "alpha one"),
      ("en", 3L, "charlie three"),
      ("de", 9L, "neun")).toDF("lang", "doc_id", "text")
    // target 5 tokens: en cum(excl) = 0,2,4 → doc1,doc2 bin0; doc3 cum=4 bin0
    val got = Curation.packTexts(df, "lang", "doc_id", "text", targetTokens = 5)
      .select("lang", "bin", "n_docs", "seq_text")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(got(("en", 0L)) == (3L, "alpha one bravo two charlie three"), got)
    assert(got(("de", 0L)) == (1L, "neun"), got)
  }

  test("upsampleMixture: a 1k-group weight map plans a broadcast join, same rows as inline") {
    val df = (1L to 500L).map(i => (i, s"g${i % 40}")).toDF("doc_id", "source")
    val small = (0 until 40).map(g => s"g$g" -> 2.5).toMap
    val big = small ++ (1000 until 1961).map(g => s"x$g" -> 1.0).toMap // same live groups, >100 entries
    val inline = Curation.upsampleMixture(df, "source", "doc_id", small)
      .collect().map(_.toSeq).toSet
    val planned = Curation.upsampleMixture(df, "source", "doc_id", big)
    val plan = planned.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "weight map must join, not inline, past the when-chain threshold: " + plan)
    assert(planned.collect().map(_.toSeq).toSet == inline)
  }

  test("upsampleMixture plans generator-only: no shuffle, no join") {
    val df = (1L to 50L).map(i => (i, "w")).toDF("doc_id", "source")
    val plan = Curation.upsampleMixture(df, "source", "doc_id", Map("w" -> 2.5))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }
}
