package graft

import org.apache.spark.sql.functions._
import graft.text.CorpusStats

/** Corpus-statistics wave: entropy, PMI, KL drift, overlap matrix,
  * containment, cohort retention. */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("wordEntropy: uniform doc hits log2(k), repeated single word hits 0") {
    val df = Seq(
      (1L, "a b c d"),     // 4 distinct, uniform -> 2 bits
      (2L, "x x x x"),     // degenerate -> 0 bits
      (3L, "a a b b")      // 2 symbols uniform -> 1 bit
    ).toDF("doc_id", "text")
    val got = CorpusStats.wordEntropy(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 4L, 4L, 2.0), (2L, 4L, 1L, 0.0), (3L, 4L, 2L, 1.0)), got.toSeq)
  }

  test("wordEntropy is partitioning-independent (decimal term sums)") {
    val rows = (0L until 50L).map(i => (i, s"w${i % 7} w${i % 3} w${i % 5} common text here"))
    val a = CorpusStats.wordEntropy(rows.toDF("doc_id", "text").repartition(1),
      "doc_id", "text").orderBy("doc_id").collect().toSeq
    val b = CorpusStats.wordEntropy(rows.toDF("doc_id", "text").repartition(17),
      "doc_id", "text").orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("pmiCollocations ranks an exclusive pair above an independent one") {
    // "hong kong" always co-occur and never elsewhere; "the cat" is diluted
    val docs = (Seq.fill(6)("hong kong") ++ Seq.fill(6)("the cat") ++
      Seq.fill(12)("the dog cat fish")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = CorpusStats.pmiCollocations(docs.toDF("doc_id", "text"), "text",
      minCount = 5L, k = 3).collect()
    assert(got.head.getString(0) == "hong kong", got.mkString(","))
    val pmis = got.map(_.getDouble(2))
    assert(pmis.sliding(2).forall(p => p(0) >= p(1)), pmis.toSeq)
  }

  test("sourceKl: a source matching the corpus mix scores far below a skewed one") {
    // balanced has the corpus's own 50/50 a-b mix; skew is all-a
    val docs = Seq.tabulate(20)(i => (i.toLong, "bal", "a b")) ++
      Seq.tabulate(10)(i => ((100 + i).toLong, "skew", "a a"))
    val got = CorpusStats.sourceKl(docs.toDF("doc_id", "source", "text"),
      "source", "text").collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("skew") > got("bal"), got)
    assert(got("bal") < 0.2 && got("skew") > 0.2, got)
  }

  test("crossOverlap counts shared distinct grams and never self-joins the gram stream") {
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta"),
      (2L, "s2", "alpha beta gamma other"),
      (3L, "s3", "totally different words here")).toDF("doc_id", "source", "text")
    val df = CorpusStats.crossOverlap(docs, "source", "text", n = 3)
    val got = df.collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // s1 {abg, bgd}, s2 {abg, bgo} share exactly "alpha beta gamma"
    assert(got(("s1", "s2")) == ((1L, math.floor(1.0 / 3.0 * 1e6 + 0.5) / 1e6)), got)
    assert(!got.contains(("s1", "s3")) && !got.contains(("s2", "s3")), got)
    // scale shape: one aggregation over (gram -> source set); no join keyed on gram
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.toLowerCase.contains("join gram"), plan)
  }

  test("containmentPairs is asymmetric: the quoted doc scores 1.0, its host much lower") {
    val small = "one two three four five"          // 3 trigrams, all inside big
    val big = "zero one two three four five six seven eight nine ten"
    val docs = Seq((1L, "blk", small), (2L, "blk", big), (3L, "blk", "unrelated junk text"))
      .toDF("doc_id", "source", "text")
    val got = CorpusStats.containmentPairs(docs, "source", n = 3, threshold = 0.0,
        idCol = "doc_id", textCol = "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 2L)) == 1.0, got)
    assert(got((2L, 1L)) < 0.5, got)
  }

  test("rollingZscore flags exactly the planted spike, baseline excludes the point itself") {
    // stable series at ~10 with a single spike at position 30
    val rows = (0 until 60).map { i =>
      val v = if (i == 30) 500.0 else 10.0 + (i % 5) * 0.1
      ("tag1", i.toLong * 1000000L, i.toLong, v)
    }
    val df = rows.toDF("name", "t_us", "seq", "value")
    val got = graft.operators.SeqOps.rollingZscore(df, "name", "t_us", "seq",
        "value", window = 20, threshold = 3.0)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.map(_._1).contains(30000000L), got.toSeq)
    val spike = got.find(_._1 == 30000000L).get
    assert(spike._2 > 100, spike) // a 490-sigma-ish outlier
    // the spike contaminates the NEXT 20 baselines; nothing before it fires
    assert(got.forall(_._1 >= 30000000L), got.toSeq)
  }

  test("zipfFit recovers slope -1 on a planted 1/rank corpus") {
    // word r appears floor(1200/r) times, r = 1..30
    val text = (1 to 30).flatMap(r => Seq.fill(1200 / r)(s"w$r")).mkString(" ")
    val got = CorpusStats.zipfFit(Seq((1L, text)).toDF("doc_id", "text"), "text", k = 30)
      .head()
    assert(got.getLong(0) == 30L)
    assert(math.abs(got.getDouble(1) - (-1.0)) < 0.02, got)
  }

  test("infoProfile: a deterministic alternation has ~zero conditional entropy") {
    val docs = Seq.tabulate(20)(i => (i.toLong, ("a b " * 30).trim)).toDF("doc_id", "text")
    val r = CorpusStats.infoProfile(docs, "text").head()
    val (hu, hc) = (r.getDouble(2), r.getDouble(4))
    assert(math.abs(hu - 1.0) < 0.01, r)  // 50/50 a,b
    assert(hc < 0.05, r)                  // next word is (nearly) determined
  }

  test("countMin never undercounts and is exact when the table outsizes the vocab") {
    val docs = Seq.tabulate(30)(i => (i.toLong, s"w${i % 7} w${i % 7} filler")).toDF("doc_id", "text")
    val got = CorpusStats.countMin(docs, "text", rows = 4, width = 1024, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (w, exact, est, coll) =>
      assert(est >= exact, s"$w undercounted: $est < $exact")
      assert(coll == (est > exact))
    }
    // 8 distinct words vs 4x1024 counters: collisions are impossible
    assert(got.forall(!_._4), got.toSeq)
    assert(got.find(_._1 == "filler").get._2 == 30L)
  }

  test("countMin collides (over-counts) when the table is tiny, never under") {
    val docs = Seq.tabulate(64)(i => (i.toLong, s"word$i")).toDF("doc_id", "text")
    val got = CorpusStats.countMin(docs, "text", rows = 2, width = 4, k = 30)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.forall { case (exact, est) => est >= exact })
    assert(got.exists { case (exact, est) => est > exact }, "64 words in 2x4 cells must collide")
  }

  test("maintainCountMin: streamed partials merge to the batch sketch; replay is idempotent") {
    import java.nio.file.Files
    val rawDir = tempDir("graft_cms_raw")
    val sketchDir = tempDir("graft_cms") + "/s"
    val ck = tempDir("graft_cms_ck")
    val docs = Seq.tabulate(40)(i => (i.toLong, s"w${i % 6} w${i % 6} common"))
      .toDF("doc_id", "text")
    // two arrival chunks
    docs.filter($"doc_id" < 25).write.mode("append").parquet(rawDir)
    docs.filter($"doc_id" >= 25).write.mode("append").parquet(rawDir)
    val schema = spark.read.parquet(rawDir).schema
    graft.streaming.Watch.maintainCountMin(spark, rawDir, schema, "text",
      rows = 3, width = 64, sketchDir = sketchDir, checkpoint = ck)
      .awaitTermination(60000)
    val merged = graft.streaming.Watch.loadCountMin(spark, sketchDir)
    val direct = CorpusStats.cmCounters(spark.read.parquet(rawDir), "text", 3, 64)
    assert(merged.orderBy("i", "b").collect().toSeq ==
      direct.orderBy("i", "b").collect().toSeq)
    // replaying a batch's publish (same batchId, same partials — the
    // at-least-once scenario) is idempotent: files replaced, totals flat
    val before = merged.agg(sum("v")).head().getLong(0)
    val batch0 = spark.read.parquet(s"$sketchDir/batch-0-*.snappy.parquet")
    graft.streaming.Watch.publishBatch(batch0.coalesce(1), sketchDir, 0L)
    val after = graft.streaming.Watch.loadCountMin(spark, sketchDir)
      .agg(sum("v")).head().getLong(0)
    assert(after == before, s"replay changed totals: $before -> $after")
  }

  test("weightedSample is deterministic and favors heavy rows") {
    val df = (0L until 200L).map(i => (i, if (i < 10) 10000L else 1L))
      .toDF("doc_id", "n_chars")
    val a = graft.text.Curation.weightedSample(df, "doc_id", "n_chars", k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val b = graft.text.Curation.weightedSample(df, "doc_id", "n_chars", k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(a.toSeq == b.toSeq)
    assert(a.length == 20)
    // all ten weight-10000 rows beat the field of 190 weight-1 rows
    val winners = a.map(_._1).toSet
    assert((0L until 10L).forall(winners.contains), winners)
    // keys descend
    assert(a.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("corpusDiff classifies all four statuses") {
    val old_ = Seq((1L, "same"), (2L, "before"), (3L, "gone")).toDF("doc_id", "text")
    val new_ = Seq((1L, "same"), (2L, "after"), (4L, "fresh")).toDF("doc_id", "text")
    val got = CorpusStats.corpusDiff(old_, new_, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"), got)
  }

  test("skewReport: a hot key reads its true share and skew factor") {
    val df = (Seq.fill(80)("hot") ++ (0 until 20).map(i => s"k$i")).toDF("k")
    val got = CorpusStats.skewReport(df, "k", k = 3).collect()
    val hot = got.find(_.getString(0) == "hot").get
    assert(hot.getLong(1) == 80L)
    assert(hot.getDouble(2) == 0.8)             // 80 of 100 rows
    assert(hot.getDouble(3) == 16.8, hot)       // 0.8 * 21 keys
  }

  test("fuzzyVocabPairs finds cross-length pairs once and never all-pairs joins") {
    val df = Seq((1L, "cat cart mouse house")).toDF("doc_id", "text")
    val got = CorpusStats.fuzzyVocabPairs(df, "text", maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("cart", "cat", 1), ("house", "mouse", 1)), got)
  }

  test("fuzzyVocabPairs maxDist=2 catches double-substitutions and 2-length gaps") {
    // abxdeyg is two substitutions from abcdefg (same length — the pair a
    // pure-deletion intuition would miss); 'ca' is 1 and 'c' is 2 edits
    // from cat; 'house'→'ho' is 3 edits and must NOT pair
    val df = Seq((1L, "abcdefg abxdeyg cat ca c house ho")).toDF("doc_id", "text")
    val got = CorpusStats.fuzzyVocabPairs(df, "text", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got.contains(("abcdefg", "abxdeyg", 2)), got)
    assert(got.contains(("ca", "cat", 1)) && got.contains(("c", "cat", 2)), got)
    assert(!got.exists(p => p._1 == "ho" && p._2 == "house"), got)
  }

  test("fuzzy candidate volume is near-linear in vocab, not |length-bucket| squared") {
    // 1,500 distinct words, ALL length 7 — under length-bucket blocking
    // every pair is a candidate (1,124,250); under deletion-neighborhood
    // blocking only words actually sharing a ≤2-deletion variant pair up
    val rnd = new scala.util.Random(42)
    val base = Iterator.continually(
        (0 until 7).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      .distinct.take(1470).toVector
    // plant 30 known 1-edit variants so recall is asserted, not vacuous
    val planted = base.take(30).map(w => "z" + w.drop(1))
    val vocab = (base ++ planted).distinct.toDF("w")
    val n = vocab.count()
    val cands = CorpusStats.fuzzyCandidates(vocab, maxDist = 2)
    val cnt = cands.count()
    assert(cnt < 10L * n, s"candidates $cnt for vocab $n — blocking degraded")
    val pairs = CorpusStats.fuzzyVocabPairs(
        vocab.select(col("w").as("text")), "text", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    base.take(30).zip(planted).filter { case (a, b) => a != b }.foreach {
      case (a, b) =>
        val (w1, w2) = if (a < b) (a, b) else (b, a)
        assert(pairs.contains((w1, w2)), s"missed planted pair $a / $b")
    }
  }

  test("transition matrix rows are proper distributions over observed successors") {
    val got = graft.queries.Analytics.defs("q_transition_matrix")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (prev, rows) =>
      val p = rows.map(_._3).sum
      assert(math.abs(p - 1.0) < 1e-4, s"$prev sums to $p")
    }
  }

  test("rfm scores sit in 1..4 and segment concatenates them") {
    val got = graft.queries.Analytics.defs("q_rfm")(spark, "/root/testdata/sf0.001").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (rs, fs, ms, seg) = (r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7))
      assert(Seq(rs, fs, ms).forall(x => x >= 1 && x <= 4), r)
      assert(seg == s"$rs$fs$ms", r)
    }
    // quartile gates actually split the population: every score level occurs
    assert(got.map(_.getInt(5)).distinct.length >= 3)
  }

  test("retention gate query: offsets start at 0 and cohort sizes are monotone non-increasing") {
    val got = graft.queries.Analytics.defs("q_retention")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val byCohort = got.groupBy(_._1)
    byCohort.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._2 == 0L, sorted.toSeq)           // week 0 present
      assert(sorted.head._3 == sorted.map(_._3).max, sorted.toSeq) // week 0 is the peak
    }
  }
}
