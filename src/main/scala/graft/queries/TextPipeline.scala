package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.dedup.Dedup
import graft.similarity.Ann
import Q._

/** LLM-training-data pipeline battery: dedup, similarity search, text
  * analysis, multimodal plumbing — over `documents` / `embeddings`.
  */
object TextPipeline {
  private val bpeCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.text.Bpe.Model]

  val defs: Map[String, QueryFn] = Map(
    // ---- token counting (whitespace + regex tokenizer) ----------------
    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          TextOps.wsTokenCount(col("text")).as("ws_tokens"),
          TextOps.regexTokenCount(col("text")).as("re_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("total_ws_tokens"),
          sum("re_tokens").as("total_re_tokens"),
          fround(avg(col("ws_tokens")), 4).as("avg_ws_tokens"))
        .orderBy("lang")
    }),

    // ---- per-document quality scoring ---------------------------------
    // ---- Flesch–Kincaid readability (quality-filter feature) ----------
    "q_readability" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id") +: graft.text.TextOps.readability(col("text")): _*)
        .orderBy("doc_id")),

    "q_text_quality" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("n_words"),
          fround(TextOps.avgWordLen(col("text")), 4).as("avg_word_len"),
          fround(TextOps.stopwordRatio(col("text")), 4).as("stop_ratio"),
          fround(TextOps.alphaRatio(col("text")), 4).as("alpha_ratio"))
        .orderBy("doc_id")
    }),

    // ---- per-doc top TF-IDF terms (corpus keyword signal) -------------
    "q_tfidf_topterms" -> ((s, dir) => {
      TextOps.tfidfTopTerms(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", k = 3)
        .select(col("doc_id"), col("rnk"), col("term"),
          fround(col("score"), 6).as("score"))
        .orderBy("doc_id", "rnk")
    }),

    // ---- one-row corpus audit (tokens / vocab / hapax tail) -----------
    "q_corpus_stats" -> ((s, dir) => {
      TextOps.corpusStats(t(s, dir, "documents"), "doc_id", "text")
        .select(col("n_docs"), col("n_tokens"), col("vocab"),
          fround(col("hapax_frac"), 6).as("hapax_frac"),
          fround(col("avg_doc_tokens"), 4).as("avg_doc_tokens"),
          col("max_doc_tokens"))
    }),

    // ---- Gopher-rule quality gate (per-rule booleans + keep) ----------
    "q_gopher_rules" -> ((s, dir) => {
      TextOps.gopherRules(t(s, dir, "documents").filter(col("doc_id") < 400),
          "doc_id", "text", minWords = 50)
        .orderBy("doc_id")
    }),

    // ---- bigram-LM perplexity: reference-trained quality scoring ------
    "q_lm_perplexity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bigramLmScore(
          docs.filter(col("doc_id") % 10 === 9),
          docs.filter(col("doc_id") % 10 < 9),
          "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          fround(col("log_ppl"), 6).as("log_ppl"))
        .orderBy("doc_id")
    }),

    // ---- language-ID by marker-word counts ----------------------------
    "q_text_langid" -> ((s, dir) => {
      TextOps.langid(t(s, dir, "documents").filter(col("doc_id") < 100), col("text"))
        .select(col("doc_id"), col("en_hits"), col("de_hits"), col("es_hits"),
          col("fr_hits"), col("predicted_lang"))
        .orderBy("doc_id")
    }),

    // ---- content fingerprint (md5) + winnowing in library -------------
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          substring(md5(col("text")), 1, 16).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- near-dup detection: bigram-shingle Jaccard, source-blocked ---
    "q_dedup_jaccard" -> ((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), blockCol = "source", threshold = 0.3)
        .select(col("doc_a"), col("doc_b"), fround(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- near-dup clustering: connected components over pair edges ----
    "q_dedup_cluster" -> ((s, dir) => {
      val edges = Dedup.jaccardPairs(t(s, dir, "documents"),
        blockCol = "source", threshold = 0.1)
      Dedup.connectedComponents(edges)
        .select(col("v").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // ---- canonical selection: keep the BEST doc per near-dup cluster --
    // The standard LLM-dedup workflow after clustering: one survivor per
    // cluster, highest word count, ties to the lowest doc_id. Both the
    // rank and the member count are PARTITIONED windows (no global sort).
    "q_dedup_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.jaccardPairs(docs, blockCol = "source", threshold = 0.1))
        .withColumnRenamed("v", "doc_id")
      val scored = docs.join(clusters, Seq("doc_id"))
        .select(col("cluster"), col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("n_words"))
      val byRank = Window.partitionBy("cluster")
        .orderBy(col("n_words").desc, col("doc_id").asc)
      scored
        .withColumn("rn", row_number().over(byRank))
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("cluster")))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("canonical_id"),
          col("n_words").as("canonical_words"), col("n_docs"))
        .orderBy("cluster")
    }),

    // ---- per-doc n-gram duplication rate ------------------------------
    // Fraction of a doc's distinct bigrams shared with >=1 other doc —
    // the corpus-level repetition signal (one gram-keyed shuffle).
    "q_dup_ngram_rate" -> ((s, dir) => {
      graft.text.Curation.dupNgramRate(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", n = 2)
        .withColumn("dup_frac",
          fround(col("n_shared").cast("double") / col("n_ngrams"), 6))
        .orderBy("doc_id")
    }),

    // ---- exact-substring dedup: cross-doc duplicated spans ------------
    // A 5-gram appearing in >=2 distinct docs is duplicated; per doc,
    // overlapping/abutting duplicated grams merge into maximal spans
    // (gaps-and-islands over a per-doc window). The hot shuffles carry
    // only (id, pos) after the first projection.
    "q_dup_spans" -> ((s, dir) => {
      graft.text.Curation.duplicateSpans(
          t(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id", "span_start")
    }),

    // ---- exact-substring dedup accounting: per-doc cut fraction -------
    "q_dedup_substring" -> ((s, dir) => {
      graft.text.Curation.substringDedupStats(
          t(s, dir, "documents"), "doc_id", "text", n = 5)
        .withColumn("keep_frac", fround(col("keep_frac"), 6))
        .orderBy("doc_id")
    }),

    // ---- per-language quality percentile gate --------------------------
    // keep documents at or above their language's median token count:
    // tiny per-group threshold relation broadcast back, corpus never
    // re-shuffles (integer scores keep the interpolated median exactly
    // representable, so both engines agree at the boundary)
    "q_quality_filter" -> ((s, dir) => {
      graft.text.Curation.percentileFilter(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              TextOps.wsTokenCount(col("text")).cast("long").as("n_words")),
          "lang", col("n_words"), pct = 0.5)
        .select("doc_id", "lang", "n_words")
        .orderBy("doc_id")
    }),

    // ---- deterministic global shuffle (training export order) ---------
    // Range-partitioned sort on md5(seed:id) + zipWithIndex — the
    // engine-portable shuffled export; no global window stage.
    "q_shuffle_export" -> ((s, dir) => {
      graft.text.Curation.globalShuffle(
          t(s, dir, "documents").select("doc_id", "lang"), "doc_id", seed = "42")
        .select("doc_id", "lang", "shuffle_pos")
        .orderBy("shuffle_pos")
    }),

    // ---- end-to-end curation: drop near-dups (keep cluster canonical),
    // ---- quality-filter, count per language -- the training-data shape
    "q_pipeline_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.jaccardPairs(docs, blockCol = "source", threshold = 0.1))
      docs.join(clusters.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
        .filter(TextOps.wsTokenCount(col("text")) >= 30)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // ---- MinHash + LSH near-dup (oracle rebuilds the whole pipeline:
    // FNV-1a bigram hashes, 32 affine permutations mod 2^31-1, 8-band
    // buckets, exact-Jaccard verify — every stage hash-checked) --------
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLshPairs(t(s, dir, "documents"), numHashes = 32, bands = 8,
        verifyThreshold = 0.3)
        .select(col("doc_a"), col("doc_b"), fround(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- incremental near-dup: new docs vs the existing corpus --------
    // the "dedup the crawl delta before ingest" step; every join is
    // asymmetric (delta carries shingles, corpus stays narrow)
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashLshPairsAgainst(
          docs.filter(col("doc_id") % 10 === 9),
          docs.filter(col("doc_id") % 10 < 9),
          numHashes = 32, bands = 8, verifyThreshold = 0.3)
        .select(col("in_id"), col("corpus_id"), fround(col("jaccard"), 4).as("jaccard"))
        .orderBy("in_id", "corpus_id")
    }),

    // the SAME kernel as a real Structured Streaming intake: the delta
    // arrives as a stream, every join is stream-static, and the result
    // must hash-match the identical DuckDB oracle as the batch twin
    "q_stream_neardup" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
      StreamRun.gate("q_stream_neardup", d0, "append") { src =>
        Dedup.minhashLshPairsAgainst(
          src.filter(col("doc_id") % 10 === 9),
          d0.filter(col("doc_id") % 10 < 9),
          numHashes = 32, bands = 8, verifyThreshold = 0.3)
      }.select(col("in_id"), col("corpus_id"), fround(col("jaccard"), 4).as("jaccard"))
        .orderBy("in_id", "corpus_id")
    }),

    // ---- SimHash signatures (md5-bit form so the ±1 vote aggregation
    // is oracle-checked; production default stays xxhash64) ------------
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashMd5(t(s, dir, "documents").filter(col("doc_id") < 200), col("text"))
        .select(col("doc_id"), col("simhash"))
        .orderBy("doc_id")
    }),

    // ---- ANN: brute-force cosine top-k --------------------------------
    "q_embedding_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
        .select(col("qid"), col("rnk"), col("eid"), r6(col("cos_sim")).as("cos_sim"))
        .orderBy("qid", "rnk")
    }),

    // ---- embedding near-dup: top-3 cosine pairs per label block -------
    "q_embedding_pairs" -> ((s, dir) => {
      Ann.topPairsPerBlock(t(s, dir, "embeddings"), "label", 3)
        .select(col("label"), col("rnk"), col("vec_a"), col("vec_b"),
          r6(col("cos_sim")).as("cos_sim"))
        .orderBy("label", "rnk")
    }),

    // ---- ANN: LSH-bucketed, recall-gated ------------------------------
    // the approximate mode's oracle form: per-query recall@10 vs the
    // exact top-10 must clear the bound (measured min 0.2 across SFs at
    // planes=4 + 1-bit multiprobe; bound 0.1 leaves one-hit margin) —
    // the machinery itself is hash-anchored by q_ann_lsh_full
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      Ann.recallAtK(Ann.lshTopK(q, emb, k = 10, planes = 4),
        Ann.bruteForceTopK(q, emb, k = 10), bound = 0.1)
    }),

    // ---- LSH, exhaustive probe: every bucket scanned == brute-force
    // top-k, the exact oracle anchor for the LSH machinery ---------------
    "q_ann_lsh_full" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb.filter(col("vec_id") < 5), emb, k = 10, planes = 8,
          probeAll = true)
        .select(col("qid"), col("rnk"), col("eid"), r6(col("cos_sim")).as("cos_sim"))
        .orderBy("qid", "rnk")
    }),

    // ---- distributed SCRIPT: per-partition JS over documents ----------
    "q_script_map" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val df = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_words", LongType),
        StructField("density", DoubleType)))
      graft.script.ScriptOps.mapScript(df, schema, "",
        """var words = $.values[1].split(' ');
          |var n = words.length;
          |$.yield($.values[0], n, Math.floor(1000.0 * n / ($.values[1].length + 1)) / 1000);
          |""".stripMargin, "", 0L)
        .orderBy("doc_id")
    }),

    // ---- embedding clustering: nearest-centroid assignment ------------
    "q_embedding_cluster" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
        .select(transform(col("embedding"), x => x.cast("double")).as("c"))
        .collect().map(_.getSeq[Double](0).toArray)
      val idx = graft.similarity.Ivf.Index(cents)
      emb.select(col("vec_id"),
          graft.similarity.Ivf.cellOf(
            transform(col("embedding"), x => x.cast("double")), idx).as("cell"))
        .groupBy(col("cell").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"))
        .orderBy("cluster")
    }),

    // ---- semantic dedup: embedding-cosine near-dup, cell-blocked ------
    // SemDeDup shape: nearest-centroid blocking, within-cell cosine
    // pairs >= 0.45, components, keep the min-id representative.
    "q_dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select(transform(col("embedding"), x => x.cast("double")).as("c"))
        .collect().map(_.getSeq[Double](0).toArray)
      Dedup.semanticDedup(emb, graft.similarity.Ivf.Index(cents),
          threshold = 0.45)
        .select(col("id").as("vec_id"), col("cell"), col("cluster"), col("keep"))
        .orderBy("vec_id")
    }),

    // ---- multimodal: opaque binary column + typed metadata ------------
    "q_multimodal_meta" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          ascii(col("text")).as("first_code"),
          pmod(octet_length(col("text")) * 31 + ascii(col("text")), lit(256)).as("fake_feat"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL BMP/WAV decode over synthesized payloads ----
    // Deterministic binaries built from each document's character codes,
    // then decoded by the actual pure-JVM codecs (header walk, padded
    // scanlines, RIFF chunk scan) — the oracle recomputes the same stats
    // from the source characters, so a decoder bug breaks the hash.
    "q_multimodal_decode" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select("doc_id", "text")
      val synthSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("bmp", BinaryType),
        StructField("wav", BinaryType)))
      val media = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val codes = r.getString(1).map(_.toInt & 0xFF).toArray
          Row(id,
            Multimodal.synthBmp(codes, 1 + (id % 4).toInt, 1 + (id % 3).toInt),
            Multimodal.synthWav(codes, 8000 + (id % 3).toInt * 4000,
              32 + (id % 16).toInt))
        }
      }(Encoders.row(synthSchema))
      val bmp = Multimodal.decodeMedia(media, "doc_id", "bmp")
        .select(col("doc_id"), col("width").as("bmp_w"),
          col("height").as("bmp_h"), fround(col("pixel_mean"), 4).as("bmp_mean"))
      val wav = Multimodal.decodeMedia(media, "doc_id", "wav")
        .select(col("doc_id"), col("sample_rate").as("wav_hz"),
          col("n_samples").as("wav_n"), fround(col("rms"), 4).as("wav_rms"))
      bmp.join(wav, "doc_id").orderBy("doc_id")
    }),

    // ---- multimodal: nearest-neighbor resize over binary payloads -----
    // decode → integer-mapped resample → BMP re-encode; the oracle
    // recomputes the resized raster from the synthesis formula (source
    // pixel of output (X,Y) is (X*w/3, Y*h/2) floor-mapped, BMP rows
    // bottom-up). Round-trip decodability of the re-encoded BMP is
    // pinned by ServerMultimodalSpec.
    "q_multimodal_resize" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select("doc_id", "text")
      val synthSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("bmp", BinaryType)))
      val media = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val codes = r.getString(1).map(_.toInt & 0xFF).toArray
          Row(id, Multimodal.synthBmp(codes, 1 + (id % 4).toInt, 1 + (id % 3).toInt))
        }
      }(Encoders.row(synthSchema))
      Multimodal.resizeMedia(media, "doc_id", "bmp", outW = 3, outH = 2)
        .select(col("doc_id"), col("width"), col("height"),
          fround(col("pixel_mean"), 4).as("res_mean"),
          octet_length(col("bin")).as("out_bytes"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: perceptual hash (aHash) image dedup --------------
    // Each doc's BMP is hashed twice: as-is and uniformly brightened by
    // +10 per channel (codes are ASCII <= 126, so no clipping). aHash is
    // EXACTLY invariant to that shift (all grays and the mean move by
    // 10), so selfmatch_ok must be true per doc; discrim_ok proves the
    // hash separates different content corpus-wide. width/height are the
    // oracle-checkable columns.
    "q_multimodal_ahash" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select("doc_id", "text")
      val synthSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("bmp", BinaryType),
        StructField("bmp_shift", BinaryType)))
      val media = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val codes = r.getString(1).map(_.toInt & 0xFF).toArray
          val w = 1 + (id % 4).toInt
          val h = 1 + (id % 3).toInt
          Row(id, Multimodal.synthBmp(codes, w, h),
            Multimodal.synthBmp(codes.map(_ + 10), w, h))
        }
      }(Encoders.row(synthSchema))
      val a = Multimodal.ahashMedia(media, "doc_id", "bmp")
      val b = Multimodal.ahashMedia(media, "doc_id", "bmp_shift")
        .select(col("doc_id"), col("ahash").as("ahash_shift"))
      val joined = a.join(b, "doc_id")
      val nDistinct = joined.agg(countDistinct("ahash").as("__nd"))
      joined.crossJoin(broadcast(nDistinct))
        .select(col("doc_id"), col("width"), col("height"),
          (col("ahash") === col("ahash_shift")).as("selfmatch_ok"),
          (col("__nd") >= 25).as("discrim_ok"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: JPEG/PNG decode through JDK ImageIO --------------
    // PNG is lossless, so the decoded channel mean is recomputed exactly
    // by the oracle from the source characters; JPEG is lossy, so its
    // oracle-checked surface is the exactly-preserved dimensions (pixel
    // statistics for JPEG are asserted in ServerMultimodalSpec instead).
    "q_multimodal_imageio" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      // printable-ASCII texts only: UTF-16 code units == code points
      // there (the oracle indexes code points), and non-empty is
      // guaranteed (synthImage substitutes '?' defensively otherwise)
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 100 && col("text").isNotNull &&
          col("text").rlike("^[ -~]+$"))
        .select("doc_id", "text")
      val synthSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("png", BinaryType),
        StructField("jpg", BinaryType)))
      val media = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val codes = r.getString(1).map(_.toInt & 0xFF).toArray
          Row(id,
            Multimodal.synthPng(codes, 1 + (id % 5).toInt, 1 + (id % 4).toInt),
            Multimodal.synthJpeg(codes, 2 + (id % 6).toInt, 2 + (id % 5).toInt))
        }
      }(Encoders.row(synthSchema))
      val png = Multimodal.decodeMedia(media, "doc_id", "png")
        .select(col("doc_id"), col("width").as("png_w"),
          col("height").as("png_h"), fround(col("pixel_mean"), 4).as("png_mean"))
      val jpg = Multimodal.decodeMedia(media, "doc_id", "jpg")
        .select(col("doc_id"), col("media_type").as("jpg_type"),
          col("width").as("jpg_w"), col("height").as("jpg_h"))
      png.join(jpg, "doc_id").orderBy("doc_id")
    }),

    // ---- multimodal: MJPEG frame sampling with REAL per-frame decode --
    // Each document becomes a concatenated-JPEG stream (3 + id%4 frames,
    // frame k sized 2+((id+k)%4) × 2+((id+k)%3)); the splitter walks
    // SOI/EOI markers — not fixed offsets — and every 2nd frame decodes
    // through ImageIO, so the oracle-checked dimensions prove both the
    // marker scan and the decode. Replaces the round-7 frame-decode stub.
    "q_multimodal_frames" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 60 && col("text").isNotNull)
        .select("doc_id", "text")
      val synthSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("mjpeg", BinaryType)))
      val media = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val codes = r.getString(1).map(_.toInt & 0xFF).toArray
          Row(id, Multimodal.synthMjpeg(codes, id, 3 + (id % 4).toInt))
        }
      }(Encoders.row(synthSchema))
      Multimodal.sampleMjpegFrames(media, "doc_id", "mjpeg", everyNth = 2)
        .select("doc_id", "frame_idx", "width", "height")
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- curation: eval-set decontamination ---------------------------
    // 4-gram overlap between the corpus (doc_id % 10 < 9) and a held-out
    // 10% eval slice (doc_id % 10 = 9): the eval side stays the small
    // side at every scale factor, so the broadcast design holds as the
    // corpus grows. (Real pipelines use 8-13-gram windows; the synthetic
    // vocabulary needs 4 to produce collisions worth checking.)
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Curation.decontaminate(
          docs.filter(col("doc_id") % 10 < 9),
          docs.filter(col("doc_id") % 10 === 9),
          "doc_id", "text", n = 4)
        .orderBy("doc_id")
    }),

    // ---- STREAMING decontamination: the intake-time eval screen -------
    // The corpus arrives as a stream; the eval-gram set is static and
    // broadcast. Same kernel, same oracle as q_decontaminate — the
    // stream-static join + complete-mode count must reproduce the batch
    // result exactly once the source drains.
    "q_stream_decontaminate" -> ((s, dir) => {
      val d0 = t(s, dir, "documents")
      // complete mode: running per-doc counts; no watermark needed
      StreamRun.gate("q_stream_decontaminate", d0, "complete") { src =>
        graft.text.Curation.decontaminate(
          src.filter(col("doc_id") % 10 < 9),
          d0.filter(col("doc_id") % 10 === 9),
          "doc_id", "text", n = 4)
      }.orderBy("doc_id")
    }),

    // ---- STREAMING per-source admission quota --------------------------
    // At most 10 docs per source ever pass the intake; the per-key
    // counter crosses micro-batch boundaries. Single bounded batch →
    // admission is ascending doc_id, the same relation the batch
    // row_number cap yields.
    "q_stream_source_cap" -> ((s, dir) => {
      StreamRun.gate("q_stream_source_cap", t(s, dir, "documents"), "append") { src =>
        graft.streaming.CuratedStream.quotaAdmit(src, "source", "doc_id", k = 10)
      }.orderBy("source", "doc_id")
    }),

    // ---- curation: decontamination, beyond-broadcast eval plan --------
    // Same contract/oracle as q_decontaminate — bloom prefilter + exact
    // confirm join must return the IDENTICAL result through a plan whose
    // big side never shuffles at full width. Tight numBits on purpose:
    // exactness must not depend on the filter's sizing.
    "q_decontaminate_scaled" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Curation.decontaminateScaled(
          docs.filter(col("doc_id") % 10 < 9),
          docs.filter(col("doc_id") % 10 === 9),
          "doc_id", "text", n = 4,
          expectedEvalGrams = 1L << 16, numBits = 1L << 20)
        .orderBy("doc_id")
    }),

    // ---- curation: contamination audit report -------------------------
    // decontaminate() is the enforcement filter; this is the per-doc
    // audit (total grams, leaked grams, fraction) incl. CLEAN docs.
    "q_decontaminate_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Curation.decontaminateReport(
          docs.filter(col("doc_id") % 10 < 9),
          docs.filter(col("doc_id") % 10 === 9),
          "doc_id", "text", n = 4)
        .withColumn("leak_frac",
          fround(col("n_leaked").cast("double") / col("n_ngrams"), 6))
        .orderBy("doc_id")
    }),

    // ---- curation: training-mix construction --------------------------
    // Quota per language (groups short of quota give all they have: fr
    // caps at its corpus size at sf0.01); md5-of-id rank keeps selection
    // reproducible in any engine.
    "q_mixture_sample" -> ((s, dir) => {
      graft.text.Curation.mixtureSample(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id",
          Map("en" -> 100, "de" -> 40, "fr" -> 500))
        .orderBy("doc_id")
    }),

    // ---- curation: deterministic hash sampling ------------------------
    // md5-prefix cutoff ≈ 10%: the same predicate runs verbatim in the
    // oracle, so the sample membership is exactly reproducible.
    "q_hash_sample" -> ((s, dir) =>
      graft.text.Curation.hashSample(
          t(s, dir, "documents").select("doc_id", "lang", "source"),
          "doc_id", thresholdHex4 = "1999")
        .orderBy("doc_id")),

    // ---- curation: stratified per-language quota ----------------------
    "q_stratified_sample" -> ((s, dir) =>
      graft.text.Curation.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", quota = 20)
        .select("lang", "doc_id").orderBy("lang", "doc_id")),

    // ---- int8 embedding quantization ----------------------------------
    // The CODES are oracle-checked (md5 of the joined code string), not
    // just the error stats — the arithmetic is IEEE-double reproducible
    // so DuckDB derives identical int8 codes from the same floats.
    "q_embedding_quantize" -> ((s, dir) => {
      import graft.similarity.Quantize
      val q = Quantize.quantizeInt8(t(s, dir, "embeddings"), "embedding")
      q.select(col("vec_id"),
          size(col("codes")).as("n_dims"),
          md5(concat_ws(",", col("codes"))).as("codes_md5"),
          (array_max(Quantize.reconstructionError("embedding")) <=
            col("scale") / 254.0 + 1e-9).as("err_ok"))
        .orderBy("vec_id")
    }),

    // ---- curation: PII scrubbing --------------------------------------
    // Deterministic synthetic PII (email/IP/phone derived from doc_id)
    // planted into each document, then scrubbed; the oracle re-runs the
    // identical RE2-safe regex chain and hashes the redacted text.
    "q_pii_scrub" -> ((s, dir) => {
      import graft.text.Curation
      val withPii = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".1 call 010-1234-"),
          (lit(1000) + pmod(col("doc_id"), lit(9000)))).as("t"))
      val (ne, ni, nn) = Curation.piiCounts(col("t"))
      withPii.select(col("doc_id"),
          md5(Curation.scrubPii(col("t"))).as("scrub_md5"),
          ne.as("n_emails"), ni.as("n_ips"), nn.as("n_numbers"))
        .orderBy("doc_id")
    }),

    // ---- curation: repetition filters (duplicate-content heuristics) --
    "q_repetition" -> ((s, dir) =>
      graft.text.Curation.repetitionStats(
          t(s, dir, "documents").filter(col("doc_id") < 200), "doc_id", "text")
        .select(col("doc_id"), col("n_words"),
          fround(col("dup_word_frac"), 4).as("dup_word_frac"),
          fround(col("top_bigram_frac"), 4).as("top_bigram_frac"))
        .orderBy("doc_id")),

    // ---- curation: sequence packing into ~2000-token bins -------------
    "q_pack_bins" -> ((s, dir) =>
      graft.text.Curation.packBins(
          t(s, dir, "documents").select("lang", "doc_id", "text"),
          "lang", "doc_id", "text", targetTokens = 2000)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
        .orderBy("lang", "bin")),

    // ---- curation: unicode NFC normalization (native expression) ------
    // The corpus is ASCII, so the gate plants NFD sequences itself
    // (every 'e' becomes 'e'+U+0301) and verifies the native
    // unicode_normalize expression recomposes exactly what DuckDB's
    // nfc_normalize does — char counts shrink, md5 of the UTF-8 bytes
    // matches byte-for-byte.
    "q_text_normalize" -> ((s, dir) => {
      import graft.functions.TextExprs
      val nfd = regexp_replace(col("text"), "e", "e\u0301")
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), nfd.as("__t"))
        .select(col("doc_id"),
          length(col("__t")).cast("long").as("n_chars_nfd"),
          TextExprs.unicodeNormalize(s, col("__t"), "NFC").as("__n"))
        .select(col("doc_id"), col("n_chars_nfd"),
          length(col("__n")).cast("long").as("n_chars_nfc"),
          md5(col("__n")).as("norm_md5"))
        .orderBy("doc_id")
    }),

    // ---- curation: epoch-weighted mixture upsampling ------------------
    // wiki-style ×3 / web ×2.5 / downsample ×0.4 replication with the
    // deterministic md5-prefix fractional rule; rows repeat per epoch.
    "q_mixture_upsample" -> ((s, dir) =>
      graft.text.Curation.upsampleMixture(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 3.0, "src2" -> 0.4, "src3" -> 1.0))
        .orderBy("doc_id", "epoch")),

    // ---- curation: full cleaning pass (NFC + ctl strip + collapse) ----
    // Planted NFD sequences, control chars (BEL, U+009F) and whitespace
    // runs; cleanText must byte-match DuckDB's nfc_normalize + the same
    // regex chain (md5 anchors the exact cleaned stream).
    "q_clean_text" -> ((s, dir) => {
      import graft.functions.TextExprs
      val planted = concat(lit("  x\u0007y "),
        regexp_replace(col("text"), "e", "e\u0301"),
        lit("\t\tz\u009fq  "))
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), TextExprs.cleanText(s, planted).as("__c"))
        .select(col("doc_id"),
          length(col("__c")).cast("long").as("n_chars"),
          md5(col("__c")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // ---- corpus cube: per (lang x source) totals with all margins -----
    // multi-dimensional corpus accounting (the "data card" table):
    // cube() computes every grouping set in ONE aggregation pass —
    // partial-agg friendly, no per-margin re-scan.
    "q_corpus_cube" -> ((s, dir) => {
      val w = t(s, dir, "documents").select(col("lang"), col("source"),
        TextOps.wsTokenCount(col("text")).cast("long").as("__tok"))
      w.cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("__tok").as("n_tokens"))
        .select(coalesce(col("lang"), lit("<all>")).as("lang"),
          coalesce(col("source"), lit("<all>")).as("source"),
          col("n_docs"), col("n_tokens"))
        .orderBy("lang", "source")
    }),

    // ---- real BPE tokenizer: train on the word histogram, encode ------
    // distributed; correctness rides two in-query verdicts (the merge
    // loop is not SQL-expressible): decode(encode(t)) must equal the
    // normalized text byte-for-byte, and the token count must sit in
    // [n_words, n_chars + n_words] (every word >= 1 symbol, never more
    // than its chars + EOW). n_words is the oracle-checkable column.
    "q_bpe_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = bpeCache.getOrElseUpdate(s"$dir/documents.parquet",
        graft.text.Bpe.train(docs, "text", numMerges = 100))
      val normed = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      docs.select(col("doc_id"), col("text"),
          graft.text.Bpe.encode(s, col("text"), model).as("__toks"))
        .select(col("doc_id"),
          size(split(regexp_replace(lower(col("text")), "\\s+", " "), " ")).cast("long").as("n_words"),
          (graft.text.Bpe.decode(col("__toks")) === normed).as("roundtrip_ok"),
          size(col("__toks")).cast("long").as("__n"),
          length(regexp_replace(col("text"), "\\s", "")).cast("long").as("__chars"))
        .withColumn("compression_ok",
          col("__n") >= col("n_words") && col("__n") <= col("__chars") + col("n_words"))
        .select("doc_id", "n_words", "roundtrip_ok", "compression_ok")
        .orderBy("doc_id")
    }),

    // ---- curation: blocklist (badword) gate, C4-style -----------------
    // the synthetic vocabulary stands in for a badword list; frac is
    // rounded on both sides to dodge double-division boundary drift
    "q_blocklist_filter" -> ((s, dir) =>
      graft.text.Curation.blocklistStats(
          t(s, dir, "documents").select("doc_id", "text"),
          "text", Seq("spark", "window", "merge"), maxFrac = 0.02)
        .select(col("doc_id"), col("n_words"), col("n_blocked"),
          fround(col("blocked_frac"), 6).as("blocked_frac"), col("keep"))
        .orderBy("doc_id")),

    // ---- curation: deterministic train/val/test split -----------------
    // 80/10/10 by md5-prefix uniform; membership is a pure function of
    // the id (stable eval sets under corpus growth).
    "q_dataset_split" -> ((s, dir) =>
      graft.text.Curation.datasetSplit(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")),

    // ---- curation: materialized packed training sequences -------------
    // packBins + in-bin id-ordered concatenation; the md5 anchors the
    // exact packed byte stream, not just the bin accounting.
    "q_pack_texts" -> ((s, dir) =>
      graft.text.Curation.packTexts(
          t(s, dir, "documents").select("lang", "doc_id", "text"),
          "lang", "doc_id", "text", targetTokens = 2000)
        .select(col("lang"), col("bin"), col("n_docs"), col("bin_tokens"),
          md5(col("seq_text")).as("seq_md5"))
        .orderBy("lang", "bin")))

  val oracles: Map[String, String] = Map(
    "q_token_count" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
         CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_re_tokens,
         floor((avg(len(string_split(text, ' '))))*10000.0 + 0.5)/10000.0 AS avg_ws_tokens
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q_readability" ->
      """WITH w AS (SELECT doc_id, lower(text) AS lt,
             list_filter(list_transform(
               string_split(regexp_replace(lower(text),'\s+',' ','g'),' '),
               t -> regexp_replace(t,'[^a-z]','','g')), t -> t <> '') AS ws
           FROM documents WHERE doc_id < 200),
         c AS (SELECT doc_id,
             len(ws) AS nw0,
             greatest(1, len(ws)) AS nw,
             greatest(1, len(regexp_extract_all(lt,'[.!?]+'))) AS ns,
             list_sum(list_transform(ws, t -> greatest(1,
               len(regexp_extract_all(t,'[aeiouy]+')) -
               CASE WHEN t LIKE '%e'
                     AND len(regexp_extract_all(t,'[aeiouy]+')) > 1
                    THEN 1 ELSE 0 END))) AS syl
           FROM w),
         r AS (SELECT doc_id, nw0, nw, ns, syl,
             floor(nw * 1.0 / ns * 1e9 + 0.5)/1e9 AS r1,
             floor(syl * 1.0 / nw * 1e9 + 0.5)/1e9 AS r2
           FROM c)
         SELECT doc_id, CAST(nw0 AS BIGINT) AS n_words,
           CAST(ns AS BIGINT) AS n_sentences,
           CAST(syl AS BIGINT) AS n_syllables,
           floor((206.835 - 1.015 * r1 - 84.6 * r2) * 1e6 + 0.5)/1e6 AS fk_ease,
           floor((0.39 * r1 + 11.8 * r2 - 15.59) * 1e6 + 0.5)/1e6 AS fk_grade
         FROM r ORDER BY doc_id""",
    "q_text_quality" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         floor((CAST(strlen(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')))*10000.0 + 0.5)/10000.0 AS avg_word_len,
         floor((CAST(len(list_filter(string_split(text, ' '),
             w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
               / len(string_split(text, ' ')))*10000.0 + 0.5)/10000.0 AS stop_ratio,
         floor((CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
               / strlen(text))*10000.0 + 0.5)/10000.0 AS alpha_ratio
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "q_corpus_stats" ->
      """WITH toks AS (SELECT
             unnest(string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS term
           FROM documents),
         tc AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
         terms AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
             CAST(sum(c) AS BIGINT) AS n_tokens FROM tc),
         dl AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             avg(n) AS avg_doc_tokens, CAST(max(n) AS INT) AS max_doc_tokens
           FROM (SELECT len(string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS n
             FROM documents))
         SELECT n_docs, n_tokens, vocab,
           floor((hapax*1.0/vocab)*1000000 + 0.5)/1000000 AS hapax_frac,
           floor(avg_doc_tokens*10000 + 0.5)/10000 AS avg_doc_tokens,
           max_doc_tokens
         FROM dl CROSS JOIN terms""",
    "q_gopher_rules" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
             len(string_split(text, ' ')) AS n
           FROM documents WHERE doc_id < 400),
         r AS (SELECT doc_id,
             (n >= 50 AND n <= 100000) AS r_word_count,
             (strlen(replace(text, ' ', ''))*1.0/n >= 3 AND
              strlen(replace(text, ' ', ''))*1.0/n <= 10) AS r_mean_word_len,
             (len(regexp_extract_all(text, '#|\.\.\.'))*1.0/n <= 0.1) AS r_symbol_ratio,
             (len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))*1.0/n >= 0.8) AS r_alpha_words,
             (len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2) AS r_stopwords
           FROM w)
         SELECT doc_id, r_word_count, r_mean_word_len, r_symbol_ratio,
           r_alpha_words, r_stopwords,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio AND
            r_alpha_words AND r_stopwords) AS keep
         FROM r ORDER BY doc_id""",
    "q_lm_perplexity" ->
      """WITH refd AS (SELECT string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents WHERE doc_id % 10 < 9),
         refbg AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM (
             SELECT ws, unnest(generate_series(1, len(ws)-1)) AS i
             FROM refd WHERE len(ws) >= 2)),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM refbg GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS c1 FROM refbg GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v FROM
             (SELECT unnest(ws) AS w FROM refd)),
         dd AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM (
             SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
             FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
               FROM documents WHERE doc_id % 10 = 9)
             WHERE len(ws) >= 2)),
         j AS (SELECT dd.doc_id,
             -ln((coalesce(c12.c12, 0) + 1.0) / (coalesce(c1.c1, 0) + v.v)) AS nll
           FROM dd LEFT JOIN c12 ON dd.w1 = c12.w1 AND dd.w2 = c12.w2
             LEFT JOIN c1 ON dd.w1 = c1.w1 CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(avg(nll)*1000000 + 0.5)/1000000 AS log_ppl
         FROM j GROUP BY 1 ORDER BY 1""",
    "q_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id,
             unnest(string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS term
           FROM documents WHERE doc_id < 300),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
         s AS (SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1.0)/(df.df + 1.0)) + 1.0) AS score
           FROM tf JOIN df USING(term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
           FROM s)
         SELECT doc_id, CAST(rnk AS INT) AS rnk, term,
           floor(score*1000000 + 0.5)/1000000 AS score
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q_text_langid" ->
      """SELECT doc_id,
         len(list_filter(string_split(text,' '), w -> w IN ('the','a','of'))) AS en_hits,
         len(list_filter(string_split(text,' '), w -> w IN ('der','und','die'))) AS de_hits,
         len(list_filter(string_split(text,' '), w -> w IN ('el','la','los'))) AS es_hits,
         len(list_filter(string_split(text,' '), w -> w IN ('le','les','une'))) AS fr_hits,
         CASE
           WHEN len(list_filter(string_split(text,' '), w -> w IN ('der','und','die'))) >
                len(list_filter(string_split(text,' '), w -> w IN ('the','a','of'))) THEN 'de'
           WHEN len(list_filter(string_split(text,' '), w -> w IN ('el','la','los'))) >
                len(list_filter(string_split(text,' '), w -> w IN ('the','a','of'))) THEN 'es'
           WHEN len(list_filter(string_split(text,' '), w -> w IN ('le','les','une'))) >
                len(list_filter(string_split(text,' '), w -> w IN ('the','a','of'))) THEN 'fr'
           ELSE 'en' END AS predicted_lang
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id, substring(md5(text), 1, 16) AS fingerprint
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    // The full MinHash+LSH pipeline in SQL. FNV-1a 64 runs as a
    // list_reduce over char codes in HUGEINT (xor needs a signed round
    // trip; the multiply wraps mod 2^64); base = floorMod(hash, 2^31-1);
    // permutation j is (base·a_j + b_j) mod p with the kernel's exact
    // constants; docs sharing any 4-row band slice become candidates;
    // survivors carry exact bigram-set Jaccard ≥ 0.3 (ArrayExprs
    // BigramHashes/MinHashSig/JaccardSorted, Dedup.minhashLshPairs).
    "q_dedup_minhash" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS sp FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         bgx AS (
           SELECT doc_id, unnest(generate_series(1, len(sp)-1)) AS i, sp FROM w),
         bgs AS (SELECT doc_id, sp[i] || ' ' || sp[i+1] AS g FROM bgx),
         bgh AS (
           SELECT doc_id, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(generate_series(1, strlen(g)),
                 j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS HUGEINT))),
               (acc, c) -> (CASE WHEN xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) < 0
                 THEN CAST(xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) AS HUGEINT) + 18446744073709551616
                 ELSE CAST(xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) AS HUGEINT) END)
                 * 1099511628211 % 18446744073709551616) AS hu
           FROM bgs),
         bg AS (SELECT DISTINCT doc_id, hu FROM bgh),
         base AS (
           SELECT doc_id,
             CAST(((CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END)
               % 2147483647 + 2147483647) % 2147483647 AS BIGINT) AS b
           FROM bg),
         sig AS (
           SELECT doc_id, CAST(r.range AS BIGINT) AS j,
             MIN((b * ((1103515245 * (CAST(r.range AS BIGINT) + 1)) % 2147483647)
               + (12345 + 7919 * CAST(r.range AS BIGINT))) % 2147483647) AS h
           FROM base CROSS JOIN range(32) r GROUP BY 1, 2),
         bands AS (
           SELECT doc_id, j // 4 AS band, string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS sliced
           FROM sig GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.sliced = b.sliced
           WHERE a.doc_id < b.doc_id),
         sets AS (SELECT doc_id, list(hu) AS s FROM bg GROUP BY doc_id),
         vr AS (
           SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
           FROM cand c JOIN sets sa ON sa.doc_id = c.doc_a JOIN sets sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, floor(jac*10000.0 + 0.5)/10000.0 AS jaccard
         FROM vr WHERE jac >= 0.3 ORDER BY doc_a, doc_b""",
    // the cross-relation form of the LSH oracle: candidates pair a
    // delta doc (doc_id % 10 = 9) with a corpus doc (% 10 < 9); the
    // signature/band/verify algebra is byte-identical to q_dedup_minhash
    "q_dedup_incremental" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS sp FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         bgx AS (
           SELECT doc_id, unnest(generate_series(1, len(sp)-1)) AS i, sp FROM w),
         bgs AS (SELECT doc_id, sp[i] || ' ' || sp[i+1] AS g FROM bgx),
         bgh AS (
           SELECT doc_id, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(generate_series(1, strlen(g)),
                 j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS HUGEINT))),
               (acc, c) -> (CASE WHEN xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) < 0
                 THEN CAST(xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) AS HUGEINT) + 18446744073709551616
                 ELSE CAST(xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) AS HUGEINT) END)
                 * 1099511628211 % 18446744073709551616) AS hu
           FROM bgs),
         bg AS (SELECT DISTINCT doc_id, hu FROM bgh),
         base AS (
           SELECT doc_id,
             CAST(((CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END)
               % 2147483647 + 2147483647) % 2147483647 AS BIGINT) AS b
           FROM bg),
         sig AS (
           SELECT doc_id, CAST(r.range AS BIGINT) AS j,
             MIN((b * ((1103515245 * (CAST(r.range AS BIGINT) + 1)) % 2147483647)
               + (12345 + 7919 * CAST(r.range AS BIGINT))) % 2147483647) AS h
           FROM base CROSS JOIN range(32) r GROUP BY 1, 2),
         bands AS (
           SELECT doc_id, j // 4 AS band, string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS sliced
           FROM sig GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS corpus_id
           FROM bands a JOIN bands b ON a.band = b.band AND a.sliced = b.sliced
           WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 < 9),
         sets AS (SELECT doc_id, list(hu) AS s FROM bg GROUP BY doc_id),
         vr AS (
           SELECT c.in_id, c.corpus_id,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
           FROM cand c JOIN sets sa ON sa.doc_id = c.in_id JOIN sets sb ON sb.doc_id = c.corpus_id)
         SELECT in_id, corpus_id, floor(jac*10000.0 + 0.5)/10000.0 AS jaccard
         FROM vr WHERE jac >= 0.3 ORDER BY in_id, corpus_id""",
    "q_stream_neardup" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS sp FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         bgx AS (
           SELECT doc_id, unnest(generate_series(1, len(sp)-1)) AS i, sp FROM w),
         bgs AS (SELECT doc_id, sp[i] || ' ' || sp[i+1] AS g FROM bgx),
         bgh AS (
           SELECT doc_id, list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(generate_series(1, strlen(g)),
                 j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS HUGEINT))),
               (acc, c) -> (CASE WHEN xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) < 0
                 THEN CAST(xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) AS HUGEINT) + 18446744073709551616
                 ELSE CAST(xor(CASE WHEN acc >= 9223372036854775808 THEN CAST(acc - 18446744073709551616 AS BIGINT) ELSE CAST(acc AS BIGINT) END, CAST(c AS BIGINT)) AS HUGEINT) END)
                 * 1099511628211 % 18446744073709551616) AS hu
           FROM bgs),
         bg AS (SELECT DISTINCT doc_id, hu FROM bgh),
         base AS (
           SELECT doc_id,
             CAST(((CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END)
               % 2147483647 + 2147483647) % 2147483647 AS BIGINT) AS b
           FROM bg),
         sig AS (
           SELECT doc_id, CAST(r.range AS BIGINT) AS j,
             MIN((b * ((1103515245 * (CAST(r.range AS BIGINT) + 1)) % 2147483647)
               + (12345 + 7919 * CAST(r.range AS BIGINT))) % 2147483647) AS h
           FROM base CROSS JOIN range(32) r GROUP BY 1, 2),
         bands AS (
           SELECT doc_id, j // 4 AS band, string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS sliced
           FROM sig GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS corpus_id
           FROM bands a JOIN bands b ON a.band = b.band AND a.sliced = b.sliced
           WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 < 9),
         sets AS (SELECT doc_id, list(hu) AS s FROM bg GROUP BY doc_id),
         vr AS (
           SELECT c.in_id, c.corpus_id,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
           FROM cand c JOIN sets sa ON sa.doc_id = c.in_id JOIN sets sb ON sb.doc_id = c.corpus_id)
         SELECT in_id, corpus_id, floor(jac*10000.0 + 0.5)/10000.0 AS jaccard
         FROM vr WHERE jac >= 0.3 ORDER BY in_id, corpus_id""",
    // SimHash recomputed bit-by-bit: token hash bit i = bit (i%4) of hex
    // digit 16-i/4 of md5 (the 64-bit value's big-endian hex), ±1 votes
    // summed per bit over ALL tokens (duplicates count), sign → bit
    "q_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents WHERE doc_id < 200),
         h AS (SELECT doc_id, md5(tok) AS m FROM toks),
         votes AS (
           SELECT doc_id, CAST(r.range AS INT) AS i,
             SUM(CASE WHEN ((strpos('0123456789abcdef',
                     substr(m, 16 - CAST(r.range AS INT) // 4, 1)) - 1)
                   >> (CAST(r.range AS INT) % 4)) & 1 = 1
               THEN 1 ELSE -1 END) AS v
           FROM h CROSS JOIN range(64) r GROUP BY 1, 2)
         SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CASE WHEN i = 63
             THEN -9223372036854775808 ELSE (1::BIGINT << i) END)
             ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id ORDER BY doc_id""",
    "q_dedup_jaccard" ->
      // sparse gram-join form: |A∩B| via shared-gram GROUP BY instead
      // of all-pairs list_intersect — identical values (pairs sharing
      // no gram have j = 0 < the 0.3 threshold either way), but hash-
      // join-parallel where the nested-loop list form ran one DuckDB
      // thread for an hour at the sf1 decade
      """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS sp FROM documents),
         b AS MATERIALIZED (SELECT doc_id, source,
                 list_distinct(list_transform(generate_series(1, len(sp)-1),
                   i -> sp[i] || ' ' || sp[i+1])) AS bg
               FROM w WHERE len(sp) >= 2),
         bl AS MATERIALIZED (SELECT doc_id, source, len(bg) AS nb FROM b),
         g AS (SELECT doc_id, source, unnest(bg) AS gr FROM b),
         ic AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS inter
               FROM g a JOIN g c ON a.source = c.source AND a.gr = c.gr
                 AND a.doc_id < c.doc_id
               GROUP BY 1, 2),
         p AS (SELECT doc_a, doc_b,
                 CAST(inter AS DOUBLE) / (la.nb + lb.nb - inter) AS j
               FROM ic
               JOIN bl la ON la.doc_id = ic.doc_a
               JOIN bl lb ON lb.doc_id = ic.doc_b)
         SELECT doc_a, doc_b, floor((j)*10000.0 + 0.5)/10000.0 AS jaccard FROM p
         WHERE j >= 0.3 ORDER BY doc_a, doc_b""",
    "q_pipeline_curate" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, source, string_split(text,' ') AS sp FROM documents),
         b AS (SELECT doc_id, source,
                 list_distinct(list_transform(generate_series(1, len(sp)-1),
                   i -> sp[i] || ' ' || sp[i+1])) AS bg
               FROM w WHERE len(sp) >= 2),
         p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
               FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
               WHERE CAST(len(list_intersect(a.bg, c.bg)) AS DOUBLE) /
                 (len(a.bg) + len(c.bg) - len(list_intersect(a.bg, c.bg))) >= 0.1),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         verts AS (SELECT DISTINCT src AS v FROM e),
         reach(v, r) AS (
           SELECT v, v FROM verts
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.v
         ),
         clusters AS (SELECT v, min(r) AS cluster FROM reach GROUP BY v)
         SELECT lang, count(*) AS n_docs
         FROM documents d LEFT JOIN clusters c ON d.doc_id = c.v
         WHERE (c.cluster IS NULL OR c.cluster = d.doc_id)
           AND len(string_split(d.text, ' ')) >= 30
         GROUP BY 1 ORDER BY 1""",
    "q_dedup_cluster" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, source, string_split(text,' ') AS sp FROM documents),
         b AS (SELECT doc_id, source,
                 list_distinct(list_transform(generate_series(1, len(sp)-1),
                   i -> sp[i] || ' ' || sp[i+1])) AS bg
               FROM w WHERE len(sp) >= 2),
         p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
               FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
               WHERE CAST(len(list_intersect(a.bg, c.bg)) AS DOUBLE) /
                 (len(a.bg) + len(c.bg) - len(list_intersect(a.bg, c.bg))) >= 0.1),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         verts AS (SELECT DISTINCT src AS v FROM e),
         reach(v, r) AS (
           SELECT v, v FROM verts
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.v
         )
         SELECT v AS doc_id, min(r) AS cluster FROM reach
         GROUP BY v ORDER BY doc_id""",
    // approximate LSH: every query vector must clear the recall bound —
    // the constant-true oracle is exactly what the query must prove
    "q_ann_lsh" ->
      """SELECT vec_id AS qid, CAST(1 AS BOOLEAN) AS recall_ok
         FROM embeddings WHERE vec_id < 5 ORDER BY qid""",
    // exhaustive-probe LSH == brute-force cosine top-k (same recipe as
    // the IVF/PQ exact anchors)
    "q_ann_lsh_full" ->
      """WITH q AS (SELECT vec_id AS qid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id AS eid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
           FROM embeddings),
         p AS (SELECT qid, eid,
             (SELECT sum(x*y) FROM (SELECT unnest(qe) AS x, unnest(ee) AS y)) /
             (sqrt((SELECT sum(x*x) FROM (SELECT unnest(qe) AS x))) *
              sqrt((SELECT sum(y*y) FROM (SELECT unnest(ee) AS y)))) AS cs
           FROM q JOIN e ON qid <> eid)
         SELECT qid, rnk, eid, round(cs,6) AS cos_sim FROM (
           SELECT qid, eid, cs,
             row_number() OVER (PARTITION BY qid ORDER BY cs DESC, eid) AS rnk
           FROM p)
         WHERE rnk <= 10 ORDER BY qid, rnk""",
    "q_embedding_topk" ->
      """WITH q AS (SELECT vec_id AS qid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id AS eid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
           FROM embeddings),
         p AS (SELECT qid, eid,
             (SELECT sum(x*y) FROM (SELECT unnest(qe) AS x, unnest(ee) AS y)) /
             (sqrt((SELECT sum(x*x) FROM (SELECT unnest(qe) AS x))) *
              sqrt((SELECT sum(y*y) FROM (SELECT unnest(ee) AS y)))) AS cs
           FROM q JOIN e ON qid <> eid)
         SELECT qid, rnk, eid, round(cs,6) AS cos_sim FROM (
           SELECT qid, eid, cs,
             row_number() OVER (PARTITION BY qid ORDER BY cs DESC, eid) AS rnk
           FROM p)
         WHERE rnk <= 10 ORDER BY qid, rnk""",
    "q_embedding_pairs" ->
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
           FROM embeddings),
         p AS (SELECT a.label, a.vec_id AS vec_a, c.vec_id AS vec_b,
             (SELECT sum(x*y) FROM (SELECT unnest(a.ee) AS x, unnest(c.ee) AS y)) /
             (sqrt((SELECT sum(x*x) FROM (SELECT unnest(a.ee) AS x))) *
              sqrt((SELECT sum(y*y) FROM (SELECT unnest(c.ee) AS y)))) AS cs
           FROM e a JOIN e c ON a.label = c.label AND a.vec_id < c.vec_id)
         SELECT label, rnk, vec_a, vec_b, round(cs,6) AS cos_sim FROM (
           SELECT label, vec_a, vec_b, cs,
             row_number() OVER (PARTITION BY label ORDER BY cs DESC, vec_a, vec_b) AS rnk
           FROM p)
         WHERE rnk <= 3 ORDER BY label, rnk""",
    "q_script_map" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         floor(1000.0 * len(string_split(text, ' ')) / (strlen(text) + 1)) / 1000
           AS density
         FROM documents WHERE doc_id < 200 ORDER BY doc_id""",
    "q_embedding_cluster" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
         d AS (SELECT e.vec_id, c.cid,
                 (SELECT sum((x-y)*(x-y))
                  FROM (SELECT unnest(e.v) AS x, unnest(c.cv) AS y)) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
               FROM d)
         SELECT cid AS cluster, count(*) AS n, min(vec_id) AS min_vec
         FROM a WHERE rn = 1 GROUP BY 1 ORDER BY 1""",
    // the full SemDeDup pipeline re-derived: assignment (same recipe as
    // q_embedding_cluster), within-cell cosine pairs with precomputed
    // norms (dot/(na*nb) — the kernel's exact float shape), recursive-CTE
    // components, min-id keep
    "q_dedup_semantic" ->
      """WITH RECURSIVE
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         d AS (SELECT e.vec_id, c.cid,
                 (SELECT sum((x-y)*(x-y))
                  FROM (SELECT unnest(e.v) AS x, unnest(c.cv) AS y)) AS dist
               FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                   FROM d) WHERE rn = 1),
         ev AS (SELECT e.vec_id, asn.cid, e.v,
                  sqrt((SELECT sum(x*x) FROM (SELECT unnest(e.v) AS x))) AS nrm
                FROM e JOIN asn USING (vec_id)),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM ev a JOIN ev b ON a.cid = b.cid AND a.vec_id < b.vec_id
               WHERE (SELECT sum(x*y)
                      FROM (SELECT unnest(a.v) AS x, unnest(b.v) AS y)) /
                     (a.nrm * b.nrm) >= 0.45),
         eds AS (SELECT id_a AS src, id_b AS dst FROM p
                 UNION ALL SELECT id_b, id_a FROM p),
         verts AS (SELECT DISTINCT src AS v FROM eds),
         reach(v, r) AS (SELECT v, v FROM verts
           UNION SELECT eds.dst, reach.r FROM reach JOIN eds ON eds.src = reach.v),
         cl AS (SELECT v AS vec_id, min(r) AS cluster FROM reach GROUP BY v)
         SELECT asn.vec_id, CAST(asn.cid AS BIGINT) AS cell,
           coalesce(cl.cluster, asn.vec_id) AS cluster,
           (asn.vec_id = coalesce(cl.cluster, asn.vec_id)) AS keep
         FROM asn LEFT JOIN cl USING (vec_id) ORDER BY vec_id""",
    "q_multimodal_meta" ->
      """SELECT doc_id, strlen(text) AS n_bytes, ascii(text) AS first_code,
         (strlen(text) * 31 + ascii(text)) % 256 AS fake_feat
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "q_multimodal_decode" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS L,
             CAST(1 + doc_id % 4 AS INT) AS w, CAST(1 + doc_id % 3 AS INT) AS h,
             CAST(8000 + (doc_id % 3) * 4000 AS INT) AS hz,
             CAST(32 + doc_id % 16 AS INT) AS n
           FROM documents WHERE doc_id < 100),
         c AS (
           SELECT doc_id, w, h, hz, n,
             list_transform(generate_series(1, w*h*3), i ->
               ascii(substr(text, CAST((i-1) % L AS INT) + 1, 1)) % 256) AS pix,
             list_transform(generate_series(1, n), i ->
               (ascii(substr(text, CAST((i-1) % L AS INT) + 1, 1)) % 256 - 128) * 128) AS smp
           FROM d)
         SELECT doc_id, w AS bmp_w, h AS bmp_h,
           floor(list_aggregate(pix, 'avg')*10000.0 + 0.5)/10000.0 AS bmp_mean,
           hz AS wav_hz, n AS wav_n,
           floor(sqrt(list_aggregate(list_transform(smp,
             x -> CAST(x AS DOUBLE)*x), 'avg'))*10000.0 + 0.5)/10000.0 AS wav_rms
         FROM c ORDER BY doc_id""",
    // resized channel q (0..17): pixel p=q//3 → (X,Y)=(p%3, p//3);
    // source sx=X*w//3, sy=Y*h//2; BMP bottom-up → file row f=h-1-sy;
    // synth code index (f*w+sx)*3 + q%3 cyclic over the text. The mean
    // is BGR/RGB-swap invariant (whole-pixel byte set), so channel order
    // needs no modeling.
    "q_multimodal_ahash" ->
      """SELECT doc_id,
           CAST(1 + doc_id % 4 AS INT) AS width,
           CAST(1 + doc_id % 3 AS INT) AS height,
           true AS selfmatch_ok, true AS discrim_ok
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "q_multimodal_resize" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS L,
             CAST(1 + doc_id % 4 AS INT) AS w, CAST(1 + doc_id % 3 AS INT) AS h
           FROM documents WHERE doc_id < 100),
         c AS (
           SELECT doc_id,
             list_transform(generate_series(0, 17), q ->
               ascii(substr(text, CAST(
                 (((h - 1 - ((q//3)//3) * h // 2) * w
                   + ((q//3)%3) * w // 3) * 3 + q%3) % L AS INT) + 1, 1)) % 256)
             AS pix
           FROM d)
         SELECT doc_id, CAST(3 AS INT) AS width, CAST(2 AS INT) AS height,
           floor(list_aggregate(pix, 'avg')*10000.0 + 0.5)/10000.0 AS res_mean,
           CAST(78 AS INT) AS out_bytes
         FROM c ORDER BY doc_id""",
    "q_multimodal_imageio" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS L,
             CAST(1 + doc_id % 5 AS INT) AS pw, CAST(1 + doc_id % 4 AS INT) AS ph,
             CAST(2 + doc_id % 6 AS INT) AS jw, CAST(2 + doc_id % 5 AS INT) AS jh
           FROM documents
           WHERE doc_id < 100 AND regexp_matches(text, '^[ -~]+$')),
         c AS (
           SELECT doc_id, pw, ph, jw, jh,
             list_transform(generate_series(1, pw*ph*3), i ->
               ascii(substr(text, CAST((i-1) % L AS INT) + 1, 1)) % 256) AS pix
           FROM d)
         SELECT doc_id, pw AS png_w, ph AS png_h,
           floor(list_aggregate(pix, 'avg')*10000.0 + 0.5)/10000.0 AS png_mean,
           'image/jpeg' AS jpg_type, jw AS jpg_w, jh AS jpg_h
         FROM c ORDER BY doc_id""",
    "q_multimodal_frames" ->
      """WITH d AS (
           SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS nf
           FROM documents WHERE doc_id < 60 AND text IS NOT NULL),
         f AS (
           SELECT doc_id, unnest(generate_series(0, nf - 1)) AS k FROM d)
         SELECT doc_id, CAST(k AS INT) AS frame_idx,
           CAST(2 + (doc_id + k) % 4 AS INT) AS width,
           CAST(2 + (doc_id + k) % 3 AS INT) AS height
         FROM f WHERE k % 2 = 0 ORDER BY doc_id, frame_idx""",
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-3),
             i -> array_to_string(ws[i:i+3],' ')) AS gs FROM w),
         ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 10 = 9),
         tr AS (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g WHERE doc_id % 10 < 9)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked_ngrams
         FROM tr JOIN ev USING(gram) GROUP BY 1 ORDER BY 1""",
    "q_stream_source_cap" ->
      """SELECT source, doc_id FROM (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY source, doc_id""",
    // streaming twin: identical oracle — the drained stream must equal
    // the batch screen
    "q_stream_decontaminate" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-3),
             i -> array_to_string(ws[i:i+3],' ')) AS gs FROM w),
         ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 10 = 9),
         tr AS (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g WHERE doc_id % 10 < 9)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked_ngrams
         FROM tr JOIN ev USING(gram) GROUP BY 1 ORDER BY 1""",
    // bloom prefilter + exact confirm ≡ plain join: same oracle text
    "q_decontaminate_scaled" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-3),
             i -> array_to_string(ws[i:i+3],' ')) AS gs FROM w),
         ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 10 = 9),
         tr AS (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g WHERE doc_id % 10 < 9)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked_ngrams
         FROM tr JOIN ev USING(gram) GROUP BY 1 ORDER BY 1""",
    "q_decontaminate_report" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-3),
             i -> array_to_string(ws[i:i+3],' ')) AS gs FROM w),
         ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 10 = 9),
         tr AS (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g WHERE doc_id % 10 < 9)
         SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(ev.gram) AS BIGINT) AS n_leaked,
           floor((CAST(count(ev.gram) AS DOUBLE)/count(*))*1000000 + 0.5)/1000000 AS leak_frac
         FROM tr LEFT JOIN ev ON tr.gram = ev.gram
         GROUP BY 1 ORDER BY 1""",
    "q_dedup_canonical" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, source, string_split(text,' ') AS sp FROM documents),
         b AS (SELECT doc_id, source,
                 list_distinct(list_transform(generate_series(1, len(sp)-1),
                   i -> sp[i] || ' ' || sp[i+1])) AS bg
               FROM w WHERE len(sp) >= 2),
         p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
               FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
               WHERE CAST(len(list_intersect(a.bg, c.bg)) AS DOUBLE) /
                 (len(a.bg) + len(c.bg) - len(list_intersect(a.bg, c.bg))) >= 0.1),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         verts AS (SELECT DISTINCT src AS v FROM e),
         reach(v, r) AS (
           SELECT v, v FROM verts
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.v
         ),
         clu AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY v),
         scored AS (SELECT c.cluster, d.doc_id,
             len(string_split(d.text,' ')) AS n_words
           FROM clu c JOIN documents d ON d.doc_id = c.doc_id),
         r AS (SELECT cluster, doc_id, n_words,
             row_number() OVER (PARTITION BY cluster
               ORDER BY n_words DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster) AS n_docs
           FROM scored)
         SELECT cluster, doc_id AS canonical_id, n_words AS canonical_words,
           CAST(n_docs AS BIGINT) AS n_docs
         FROM r WHERE rn = 1 ORDER BY cluster""",
    "q_dup_ngram_rate" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id, unnest(list_distinct(
             list_transform(generate_series(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1]))) AS gram FROM w),
         cnt AS (SELECT gram, count(*) AS n_docs_with FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN cnt.n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           floor((CAST(sum(CASE WHEN cnt.n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 /count(*))*1000000 + 0.5)/1000000 AS dup_frac
         FROM g JOIN cnt ON g.gram = cnt.gram
         GROUP BY 1 ORDER BY 1""",
    "q_quality_filter" ->
      """WITH s AS (SELECT doc_id, lang,
             CAST(len(string_split(regexp_replace(lower(text),'\s+',' ','g'),' '))
               AS BIGINT) AS n_words
           FROM documents),
         t AS (SELECT lang, quantile_cont(CAST(n_words AS DOUBLE), 0.5) AS th
           FROM s GROUP BY lang)
         SELECT s.doc_id, s.lang, s.n_words
         FROM s JOIN t USING (lang) WHERE s.n_words >= t.th
         ORDER BY s.doc_id""",
    "q_shuffle_export" ->
      """SELECT doc_id, lang,
           row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
             doc_id) - 1 AS shuffle_pos
         FROM documents ORDER BY shuffle_pos""",
    "q_dup_spans" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         gi AS (SELECT doc_id, unnest(generate_series(1, len(ws)-4)) AS i, ws FROM w),
         g AS (SELECT doc_id, CAST(i-1 AS BIGINT) AS pos,
             array_to_string(ws[i:i+4], ' ') AS gram FROM gi),
         cnt AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g) t
           GROUP BY gram HAVING count(*) >= 2),
         p AS (SELECT g.doc_id, g.pos FROM g JOIN cnt USING (gram)),
         b AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
             THEN 1 ELSE 0 END AS brk FROM p),
         i2 AS (SELECT doc_id, pos, sum(brk) OVER
             (PARTITION BY doc_id ORDER BY pos) AS island FROM b)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
         FROM i2 GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "q_dedup_substring" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         gi AS (SELECT doc_id, unnest(generate_series(1, len(ws)-4)) AS i, ws FROM w),
         g AS (SELECT doc_id, CAST(i-1 AS BIGINT) AS pos,
             array_to_string(ws[i:i+4], ' ') AS gram FROM gi),
         cnt AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g) t
           GROUP BY gram HAVING count(*) >= 2),
         p AS (SELECT g.doc_id, g.pos FROM g JOIN cnt USING (gram)),
         b AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
             THEN 1 ELSE 0 END AS brk FROM p),
         i2 AS (SELECT doc_id, pos, sum(brk) OVER
             (PARTITION BY doc_id ORDER BY pos) AS island FROM b),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
           FROM i2 GROUP BY doc_id, island),
         agg AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS dup_words,
             CAST(count(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id)
         SELECT d.doc_id, len(string_split(regexp_replace(lower(d.text),
             '\s+',' ','g'),' ')) AS n_words,
           coalesce(agg.dup_words, 0) AS dup_words,
           coalesce(agg.n_spans, 0) AS n_spans,
           floor((CAST(len(string_split(regexp_replace(lower(d.text),'\s+',' ','g'),' '))
                   - coalesce(agg.dup_words, 0) AS DOUBLE)
               / len(string_split(regexp_replace(lower(d.text),'\s+',' ','g'),' ')))
             *1000000 + 0.5)/1000000 AS keep_frac
         FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""",
    "q_mixture_sample" ->
      """WITH r AS (SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents WHERE lang IN ('en','de','fr'))
         SELECT doc_id, lang FROM r
         WHERE rk <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40
                               WHEN 'fr' THEN 500 ELSE 0 END
         ORDER BY doc_id""",
    "q_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,4) < '1999' ORDER BY doc_id""",
    "q_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT lang, doc_id FROM r WHERE rk <= 20 ORDER BY lang, doc_id""",
    "q_embedding_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
           FROM embeddings),
         c AS (SELECT vec_id, embedding, scale,
             list_transform(embedding, x -> CAST(round(127.0 * CAST(x AS DOUBLE) / scale) AS INT)) AS codes
           FROM s WHERE scale > 0)
         SELECT vec_id, CAST(len(codes) AS INT) AS n_dims,
           md5(array_to_string(codes, ',')) AS codes_md5,
           list_aggregate(list_transform(generate_series(1, len(codes)), i ->
             abs(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale / 127.0)), 'max')
             <= scale/254.0 + 1e-9 AS err_ok
         FROM c ORDER BY vec_id""",
    "q_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.1 call 010-1234-' ||
             CAST(1000 + doc_id % 9000 AS VARCHAR) AS t
           FROM documents WHERE doc_id < 200),
         s AS (SELECT doc_id, t,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
               '[0-9][0-9 ()+-]{7,}[0-9]', '<NUMBER>', 'g') AS scrubbed
           FROM p)
         SELECT doc_id, md5(scrubbed) AS scrub_md5,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
           len(regexp_extract_all(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', ' ', 'g'),
             '[0-9][0-9 ()+-]{7,}[0-9]')) AS n_numbers
         FROM s ORDER BY doc_id""",
    "q_repetition" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents WHERE doc_id < 200),
         base AS (SELECT doc_id, len(ws) AS n_words,
             1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)/len(ws) AS dwf FROM w),
         g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
             i -> array_to_string(ws[i:i+1],' '))) AS gram FROM w),
         c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1,2),
         m AS (SELECT doc_id, CAST(max(c) AS DOUBLE)/sum(c) AS tbf FROM c GROUP BY 1)
         SELECT base.doc_id, n_words,
           floor(dwf*10000.0+0.5)/10000.0 AS dup_word_frac,
           floor(tbf*10000.0+0.5)/10000.0 AS top_bigram_frac
         FROM base LEFT JOIN m USING(doc_id) ORDER BY base.doc_id""",
    "q_pack_bins" ->
      """WITH w AS (SELECT lang, doc_id,
             len(string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS tok
           FROM documents),
         c AS (SELECT lang, doc_id, tok, sum(tok) OVER (PARTITION BY lang
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum
           FROM w)
         SELECT lang, CAST(floor(cum/2000.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens
         FROM c GROUP BY 1,2 ORDER BY 1,2""",
    "q_text_normalize" ->
      """WITH d AS (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t
           FROM documents WHERE doc_id < 200)
         SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars_nfd,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
           md5(nfc_normalize(t)) AS norm_md5
         FROM d ORDER BY doc_id""",
    "q_mixture_upsample" ->
      """WITH w AS (SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 3.0
                         WHEN 'src2' THEN 0.4 WHEN 'src3' THEN 1.0
                         ELSE 0 END AS w,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER)/65536.0 AS u
           FROM documents),
         c AS (SELECT doc_id, source,
             CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS INT) AS copies
           FROM w)
         SELECT doc_id, source, CAST(e AS INT) AS epoch FROM (
           SELECT doc_id, source, unnest(range(copies)) AS e FROM c WHERE copies >= 1)
         ORDER BY doc_id, epoch""",
    "q_bpe_tokens" ->
      """SELECT doc_id,
           CAST(len(string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS BIGINT) AS n_words,
           true AS roundtrip_ok, true AS compression_ok
         FROM documents ORDER BY doc_id""",
    "q_corpus_cube" ->
      """WITH w AS (SELECT lang, source, len(string_split(text, ' ')) AS tok
           FROM documents)
         SELECT coalesce(lang, '<all>') AS lang,
           coalesce(source, '<all>') AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens
         FROM w GROUP BY CUBE(lang, source) ORDER BY lang, source""",
    "q_blocklist_filter" ->
      """WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         c AS (SELECT doc_id, len(ws) AS n_words,
             len(list_filter(ws, x -> x IN ('spark','window','merge'))) AS n_blocked
           FROM w)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_blocked AS BIGINT) AS n_blocked,
           floor((CAST(n_blocked AS DOUBLE)/n_words)*1000000.0+0.5)/1000000.0 AS blocked_frac,
           (CAST(n_blocked AS DOUBLE)/n_words) <= 0.02 AS keep
         FROM c ORDER BY doc_id""",
    "q_clean_text" ->
      """WITH d AS (SELECT doc_id,
             '  x' || chr(7) || 'y ' || replace(text, 'e', 'e' || chr(769))
               || chr(9) || chr(9) || 'z' || chr(159) || 'q  ' AS t
           FROM documents WHERE doc_id < 200),
         c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
             nfc_normalize(t),
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g'),
             '[ \t]+', ' ', 'g')) AS clean
           FROM d)
         SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_chars,
           md5(clean) AS clean_md5
         FROM c ORDER BY doc_id""",
    "q_dataset_split" ->
      """SELECT doc_id, lang,
           CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS INTEGER)/65536.0 AS u
           FROM documents)
         ORDER BY doc_id""",
    "q_pack_texts" ->
      """WITH w AS (SELECT lang, doc_id, text,
             len(string_split(regexp_replace(lower(text),'\s+',' ','g'),' ')) AS tok
           FROM documents),
         c AS (SELECT lang, doc_id, text, tok, sum(tok) OVER (PARTITION BY lang
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum
           FROM w)
         SELECT lang, CAST(floor(cum/2000.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens,
           md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
         FROM c GROUP BY 1,2 ORDER BY 1,2""")
}
