package graft

import org.apache.spark.sql.functions._
import graft.similarity.{Ann, Pq}

/** Product quantization: codebook determinism, encode shape, ADC recall
  * against brute-force cosine, and the exact-rerank path. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val index = Pq.train(emb, m = 16, ksub = 16, iters = 3)

  test("training is deterministic and codebooks are well-formed") {
    val again = Pq.train(emb, m = 16, ksub = 16, iters = 3)
    assert(index.m == 16 && index.dsub == 4 && index.ksub == 16)
    assert(index.codebooks.flatten.flatten.toSeq == again.codebooks.flatten.flatten.toSeq)
  }

  test("encode emits one m-length code per vector, codes in range") {
    val codes = Pq.encode(emb, index)
    assert(codes.count() == emb.count())
    val row = codes.orderBy("eid").first()
    val code = row.getSeq[Int](1)
    assert(code.length == 16 && code.forall(c => c >= 0 && c < 16))
  }

  test("index save/load round-trips bit-exactly (durable artifact, not per-JVM fit)") {
    import java.nio.file.Files
    val pqPath = tempDir("graft_pq_idx") + "/i"
    Pq.save(index, spark, pqPath)
    val loaded = Pq.load(spark, pqPath)
    assert(loaded.m == index.m && loaded.dsub == index.dsub && loaded.ksub == index.ksub)
    assert(loaded.codebooks.flatten.flatten.toSeq == index.codebooks.flatten.flatten.toSeq)

    val ivf = graft.similarity.Ivf.train(emb, k = 8, iters = 2)
    val ivfPath = tempDir("graft_ivf_idx") + "/i"
    graft.similarity.Ivf.save(ivf, spark, ivfPath)
    val ivf2 = graft.similarity.Ivf.load(spark, ivfPath)
    assert(ivf2.centroids.flatten.toSeq == ivf.centroids.flatten.toSeq)
    // searches through the loaded index are identical
    val q = emb.filter($"vec_id" < 3)
    val a = graft.similarity.Ivf.topK(q, emb, ivf, k = 5, nprobe = 2)
      .select("qid", "rnk", "eid").collect().map(_.toSeq).toSeq
    val b = graft.similarity.Ivf.topK(q, emb, ivf2, k = 5, nprobe = 2)
      .select("qid", "rnk", "eid").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("a vector stream encodes against a storage-loaded index (stateless map, no shuffle)") {
    import java.nio.file.Files
    val idxPath = tempDir("graft_pq_sidx") + "/i"
    Pq.save(index, spark, idxPath)
    val loaded = Pq.load(spark, idxPath)
    val srcDir = tempDir("graft_pq_src") + "/t"
    val ck = tempDir("graft_pq_ck")
    emb.filter($"vec_id" < 20).write.parquet(srcDir)
    val stream = spark.readStream.schema(emb.schema).parquet(srcDir)
    val q = Pq.encode(stream, loaded)
      .writeStream.format("memory").queryName("pq_stream_codes")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql("SELECT * FROM pq_stream_codes")
      .orderBy("eid").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val batch = Pq.encode(emb.filter($"vec_id" < 20), index)
      .orderBy("eid").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(streamed.toSeq == batch.toSeq, "stream codes == batch codes via loaded index")
  }

  test("ADC topK recall vs brute force; exact rerank recovers the tail") {
    val q = emb.filter($"vec_id" < 5)
    val brute = Ann.bruteForceTopK(q, emb, k = 10)
      .select("qid", "eid").as[(Long, Long)].collect().toSet
    val codes = Pq.encode(emb, index)
    val adc = Pq.topK(q, codes, index, k = 10)
      .select("qid", "eid").as[(Long, Long)].collect().toSet
    val adcRecall = (brute intersect adc).size.toDouble / brute.size
    assert(adcRecall >= 0.4, s"adc recall=$adcRecall")
    val reranked = Pq.topKRerank(q, codes, emb, index, k = 10, factor = 4)
      .select("qid", "eid").as[(Long, Long)].collect().toSet
    val rerankRecall = (brute intersect reranked).size.toDouble / brute.size
    assert(rerankRecall >= adcRecall, s"rerank=$rerankRecall adc=$adcRecall")
    assert(rerankRecall >= 0.6, s"rerank recall=$rerankRecall")
  }
}
