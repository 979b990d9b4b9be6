package graft

import org.apache.spark.sql.functions._
import graft.text.Bpe

/** Real BPE tokenizer: training on the classic example corpus, greedy
  * rank-ordered encoding, roundtrip invariant, distributed plumbing. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainFromHistogram learns the textbook merges on low/lower/newest") {
    // the Sennrich et al. running example shape: 'lo' dominates
    val hist = Array(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val m = Bpe.trainFromHistogram(hist, numMerges = 4)
    // 'es' wins first (9 = newest 6 + widest 3), then 'est', 'est</w>', then lo (7)
    assert(m.merges.take(4) == Seq(("e", "s"), ("es", "t"), ("est", Bpe.Eow), ("l", "o")),
      m.merges)
  }

  test("encodeWord applies merges lowest-rank-first; unknown word falls to chars") {
    val m = Bpe.Model(Seq(("e", "s"), ("es", "t"), ("est", Bpe.Eow), ("l", "o")))
    assert(m.encodeWord("newest") == Seq("n", "e", "w", "est" + Bpe.Eow))
    assert(m.encodeWord("lowest") == Seq("lo", "w", "est" + Bpe.Eow))
    assert(m.encodeWord("xyz") == Seq("x", "y", "z", Bpe.Eow))
    assert(m.encodeWord("") == Nil)
  }

  test("training is deterministic: same corpus, same merge table") {
    val df = (1L to 50L).map(i => (i, s"alpha beta gamma delta ep$i")).toDF("id", "text")
    val m1 = Bpe.train(df, "text", numMerges = 30)
    val m2 = Bpe.train(df, "text", numMerges = 30)
    assert(m1.merges == m2.merges)
    assert(m1.merges.nonEmpty)
  }

  test("distributed encode roundtrips and plans as a pure projection") {
    val df = Seq((1L, "the quick brown fox"), (2L, "THE  Quick\tfox")).toDF("id", "text")
    val m = Bpe.train(df, "text", numMerges = 20)
    val enc = df.select(col("id"),
      Bpe.encode(spark, col("text"), m).as("toks"),
      regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
    val rows = enc.select(col("id"), Bpe.decode(col("toks")).as("dec"), col("norm"))
      .collect()
    rows.foreach(r => assert(r.getString(1) == r.getString(2), r))
    val plan = enc.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), plan)
  }

  test("token counts sit between word count and char+word count") {
    val df = Seq((1L, "aa bb aa bb cc")).toDF("id", "text")
    val m = Bpe.train(df, "text", numMerges = 2)
    val n = df.select(size(Bpe.encode(spark, col("text"), m)).as("n")).as[Int].head()
    assert(n >= 5 && n <= 10 + 5, n) // 5 words, 10 non-space chars
  }

  test("merge exhaustion stops early instead of looping") {
    val m = Bpe.trainFromHistogram(Array(("ab", 1L)), numMerges = 100)
    // "ab</w>" admits at most 2 merges — a,b then ab,</w>
    assert(m.merges.size <= 2, m.merges)
    assert(m.encodeWord("ab") == Seq("ab" + Bpe.Eow))
  }

  test("save/load roundtrips the merge table; corrupt artifacts are rejected") {
    val df = (1L to 30L).map(i => (i, s"foo bar baz qux w$i")).toDF("id", "text")
    val m = Bpe.train(df, "text", numMerges = 15)
    val dir = tempDir("bpe_model")
    Bpe.save(m, spark, s"$dir/model")
    val loaded = Bpe.load(spark, s"$dir/model")
    assert(loaded.merges == m.merges)
    // encodes identically through the loaded model
    val enc1 = df.select(Bpe.encode(spark, col("text"), m)).as[Seq[String]].collect()
    val enc2 = df.select(Bpe.encode(spark, col("text"), loaded)).as[Seq[String]].collect()
    assert(enc1.toSeq == enc2.toSeq)
    // integrity: a gapped rank table is rejected
    spark.createDataFrame(Seq((0, "a", "b"), (2, "c", "d")))
      .toDF("rank", "left", "right")
      .write.mode("overwrite").parquet(s"$dir/bad")
    intercept[IllegalArgumentException] { Bpe.load(spark, s"$dir/bad") }
  }

  test("property: roundtrip holds for 200 random corpora and merge depths") {
    val rnd = new scala.util.Random(20260815L) // seeded — failures reproduce
    val alpha = "abcdefg"
    def word() = (0 until (1 + rnd.nextInt(8)))
      .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (trial <- 1 to 200) {
      val vocab = (0 until (1 + rnd.nextInt(12))).map(_ => word())
      val hist = vocab.distinct.map(w => (w, 1L + rnd.nextInt(50))).toArray
      val m = Bpe.trainFromHistogram(hist, numMerges = 1 + rnd.nextInt(40))
      // any text over the histogram's alphabet must roundtrip exactly
      val text = (0 until (1 + rnd.nextInt(15)))
        .map(_ => if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size)) else word())
        .mkString(" ")
      val decoded = text.split(" ").filter(_.nonEmpty)
        .flatMap(m.encodeWord).mkString("")
        .replace(Bpe.Eow, " ").stripTrailing()
      assert(decoded == text.split(" ").filter(_.nonEmpty).mkString(" "),
        s"trial $trial: model=${m.merges} text=$text decoded=$decoded")
      // encoded length never exceeds chars + words (one EOW per word)
      val n = text.split(" ").filter(_.nonEmpty).map(m.encodeWord(_).size).sum
      val words = text.split(" ").filter(_.nonEmpty)
      assert(n >= words.length && n <= words.map(_.length).sum + words.length)
    }
  }
}
