package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.Par
import scala.util.Using
import scala.util.control.NonFatal

/** Deduplication operators for training-data pipelines.
  *
  * Scale design:
  *  - exact dedup = hash-groupBy (one shuffle on the content hash);
  *  - Jaccard near-dup uses *blocking* (a cheap equality key) so the
  *    quadratic self-join only happens inside blocks;
  *  - MinHash+LSH replaces blocking with banded signature buckets: one
  *    pass to build deterministic signatures (higher-order functions, all
  *    codegen'd — no ML-pipeline fitting step), explode to (band,
  *    bucket-hash), groupBy-join candidates, then verify with exact
  *    Jaccard. At 100 TB the candidate set, not the corpus, is quadratic.
  *  - SimHash gives a 64-bit near-dup key (hamming-ball lookups).
  */
object Dedup {
  /** Exact duplicate removal: keep the lowest id per identical content. */
  def exact(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(contentCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Connected components over an undirected similarity-pair edge list —
    * near-dup CLUSTERING (the step after pair detection in a training
    * pipeline: each cluster keeps one canonical document). Iterative
    * min-label propagation: every vertex takes the minimum label in its
    * closed neighborhood until fixpoint. Each round is one shuffle
    * (join + groupBy); diameter-bounded convergence, checked with a
    * cheap changed-count — the hash-join/AQE machinery handles skew. For
    * graphs with giant components at extreme scale, swap the propagation
    * step for the large-star/small-star rounds (Kiveris et al. 2014) —
    * same join-shape, fewer rounds. */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
                          dstCol: String = "doc_b", maxIter: Int = 20,
                          /** ≤ this many (symmetric) edges → driver
                            * union-find instead of iterative rounds */
                          driverMaxEdges: Long = 2000000L): DataFrame = {
    // materialize the (possibly expensive) edge producer ONCE: cut the
    // DIRECTED list's lineage first — the symmetrizing union would
    // otherwise run the producer (a pair-similarity join, typically the
    // dominant cost) twice, and every propagation round reads `sym`
    // twice more. A checkpoint (not persist) so the rounds also plan
    // over a bare RDD scan instead of re-analyzing the producer lineage.
    val symCp = Using.resource(Par.materialize(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))) { d =>
      Par.materialize(d.df
        .union(d.df.select(col("dst").as("src"), col("src").as("dst"))))
    }
    Using.resource(symCp) { cp =>
      val sym = cp.df
      // Similarity graphs shrink drastically after thresholding: when the
      // edge set fits on the driver, path-compressed union-find beats any
      // number of distributed rounds (each round costs 2 joins + an agg of
      // scheduling latency). The distributed path remains the 100 TB-scale
      // route for billions of edges.
      if (sym.count() <= driverMaxEdges) unionFind(sym)
      else labelRounds(sym, maxIter)
    }
  }

  /** Driver union-find over a collected symmetric edge list; min-root
    * union keeps the label = min vertex id, the propagation fixpoint. */
  private def unionFind(sym: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
      }
      x
    }
    val verts = new java.util.TreeSet[java.lang.Long]()
    sym.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        verts.add(a); verts.add(b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
    import scala.jdk.CollectionConverters._
    val rows = verts.asScala.toSeq.map(v => Row(v.longValue, find(v)))
    sym.sparkSession.createDataFrame(new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(StructField("v", LongType, nullable = false),
        StructField("cluster", LongType, nullable = false))))
  }

  /** Distributed min-label propagation rounds over `sym`. Each round is
    * materialized — each round's plan embeds two copies of the previous
    * round's, so without lineage truncation the logical plan grows
    * 2^rounds and the DRIVER dies in the optimizer long before any data
    * pressure. One round is live at a time: round i−1 closes once round
    * i is materialized. The last round backs the returned frame, so the
    * caller owns it; a failure closes it. */
  private def labelRounds(sym: DataFrame, maxIter: Int): DataFrame = {
    def propagate(l: DataFrame): DataFrame = {
      val nbrMin = sym
        .join(l.select(col("v").as("dst2"), col("label").as("nlabel")),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("v")).agg(min("nlabel").as("nmin"))
      l.join(nbrMin, Seq("v"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    // pointer-jumping: label(v) ← label(label(v)) — labels are always
    // vertex ids, so the mapping composes with itself and distances halve
    // geometrically (O(log diameter) rounds on chains)
    def jump(l: DataFrame): DataFrame =
      l.select(col("v"), col("label").as("mid"))
        .join(l.select(col("v").as("mid"), col("label")), Seq("mid"))
        .select("v", "label")
    var live = Par.materialize(sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label")))
    try {
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        // propagate twice then jump, one materialization per round; the
        // round carries the previous label as `old` and counts changed
        // labels while it materializes, so convergence costs no job
        val labels = live.df.select("v", "label")
        val stepped = jump(propagate(propagate(labels)))
        val changed = Observation()
        val next = Par.materialize(
          labels.select(col("v"), col("label").as("old")).join(stepped, Seq("v"))
            .observe(changed, count(when(col("label") =!= col("old"), 1)).as("n")))
        live.close()
        live = next
        converged = changed.get("n") == 0L
        i += 1
      }
    } catch { case NonFatal(e) => live.close(); throw e }
    live.df.select(col("v"), col("label").as("cluster"))
  }

  /** SemDeDup-style embedding near-dup (Abbas et al. 2023 shape):
    * assign each vector to its nearest coarse centroid, enumerate cosine
    * pairs WITHIN a cell only, connect >=threshold edges into components,
    * and keep the min-id representative per component. Output one row per
    * input vector: (id, cell, cluster, keep).
    *
    * Scale: the blocking makes the pair step quadratic in the CELL, not
    * the corpus — with k centroids the self-join shuffles once on `cell`
    * and each task scans ~ (n/k)^2 /2 pairs with a codegen'd cosine
    * kernel; the thresholded edge set (tiny by construction) feeds the
    * same component machinery as the text near-dup path. Nothing global,
    * no all-pairs. The blocking is the standard approximation: a pair
    * split across cells is not considered (mirrored by the oracle). */
  def semanticDedup(df: DataFrame, index: graft.similarity.Ivf.Index,
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    // materialize the assignment ONCE (SemDeDup's own recipe): cellOf is
    // k interpreted higher-order aggregates per row, and the relation is
    // read three times below (both pair-join sides + the final output
    // join) — without the checkpoint the k-way distance scan runs 3×
    val assigned = df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("cell",
        graft.similarity.Ivf.cellOf(col("v"), index).cast("long"))
    Using.resource(Par.materialize(assigned)) { cp =>
      val e = cp.df
      val a = e.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
      val b = e.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
      val edges = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
        .filter(graft.functions.ArrayExprs.cosineSim(spark,
          col("va"), col("vb")) >= threshold)
        .select("id_a", "id_b")
      val cc = connectedComponents(edges, "id_a", "id_b")
        .withColumnRenamed("v", "id")
      e.select(col("id"), col("cell"))
        .join(cc, Seq("id"), "left")
        .select(col("id"), col("cell"),
          coalesce(col("cluster"), col("id")).as("cluster"))
        .withColumn("keep", col("id") === col("cluster"))
        .localCheckpoint(eager = true)
    }
  }

  /** Distinct word-bigram shingle set of a text column — the
    * compose-from-functions formulation of what the hot paths do with
    * the native `ArrayExprs.bigramHashes` expression (BigramHashesSpec
    * pins their equivalence). zip_with over the array and its 1-shifted
    * self: lambda bodies must not reference the split tree — interpreted
    * lambdas defeat CSE and would re-split the text per position. */
  def bigramShingles(text: Column): Column = {
    val sp = split(text, " ")
    val pairs = zip_with(sp, slice(sp, lit(2), greatest(size(sp) - 1, lit(0))),
      (x, y) => concat(x, lit(" "), y)) // trailing (last, null) → null
    when(size(sp) >= 2, array_distinct(array_compact(pairs)))
      .otherwise(array().cast("array<string>"))
  }

  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Block-local near-dup pairs by bigram-shingle Jaccard ≥ threshold.
    * `blockCol` is the equality blocking key (e.g. source, length bucket).
    *
    * Shingles are hashed to 64-bit ints once per document *before* the
    * quadratic pairing, so the O(pairs·|shingles|) intersection runs on
    * longs, not strings (~20× cheaper per comparison at 100 TB); hash
    * collisions shift Jaccard by ≤1/|union| with probability ≈ |S|²/2^64.
    *
    * `rebalance` gates the pre-expansion spread (Par.expand): the right
    * default for one-shot consumers, but callers that reference the
    * RESULT repeatedly without materializing it (Triangles' orientation
    * joins) must pass false — the injected RoundRobin exchange is
    * cloned into every reference of the subtree (r18: pagerank's plan
    * gained 32 RoundRobin exchanges and regressed 0.77×) while
    * ReusedExchange dedupes the un-rebalanced shape for free. */
  def jaccardPairs(docs: DataFrame, blockCol: String, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   rebalance: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    val b = (if (rebalance) graft.core.Par.expand(docs) else docs)
      .filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol), col(blockCol),
        graft.functions.ArrayExprs.bigramHashes(spark, col(textCol)).as("bg"))
    val a = b.select(col(idCol).as("doc_a"), col(blockCol).as("blk"), col("bg").as("bg_a"))
    val c = b.select(col(idCol).as("doc_b"), col(blockCol).as("blk"), col("bg").as("bg_b"))
    a.join(c, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      // threshold-aware kernel: size-ratio + remaining-elements early
      // exits fire on the near-misses that dominate a blocked self-join;
      // values emitted for passing pairs are exact (see JaccardSortedMin)
      .withColumn("jaccard",
        graft.functions.ArrayExprs.jaccardSortedMin(spark, col("bg_a"), col("bg_b"), threshold))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The (id, band, bucket) LSH keying of already-signed docs: band b's
    * bucket is xxhash64(comma-joined signature slice, seed b). Shared by
    * [[minhashLshPairs]] and the bucket-stats audit — identical keying
    * is what makes a doc's buckets stable across runs and relations. */
  private def bandBucketsOfSigs(sigs: DataFrame, numHashes: Int, bands: Int,
                                idCol: String): DataFrame = {
    val rowsPerBand = numHashes / bands
    sigs.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** (id, band, bucket) LSH keys of `docs` — the collision-audit
    * relation behind bucket-size statistics: a fat bucket is a candidate
    * explosion (near-identical template cluster, or too few bands). */
  def bandBuckets(docs: DataFrame, numHashes: Int, bands: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    val sigs = graft.core.Par.expand(docs)
      .filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol),
        graft.functions.ArrayExprs.bigramHashes(spark, col(textCol)).as("bg"))
      .withColumn("sig",
        graft.functions.ArrayExprs.minhashSig(spark, col("bg"), numHashes))
    bandBucketsOfSigs(sigs, numHashes, bands, idCol)
  }

  /** MinHash+LSH near-dup pairs: sign → band → bucket join → verify.
    * Candidates whose *exact* shingle Jaccard ≥ verifyThreshold survive. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int, bands: Int,
                      verifyThreshold: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    val sigs = graft.core.Par.expand(docs)
      .filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol),
        graft.functions.ArrayExprs.bigramHashes(spark, col(textCol)).as("bg"))
      .withColumn("sig", graft.functions.ArrayExprs.minhashSig(spark, col("bg"), numHashes))
    // (band, hash(band-slice)) buckets — ids only; the heavy shingle
    // arrays stay out of the explode/join/distinct and are re-joined just
    // for the final verification of the (small) candidate set.
    val banded = bandBucketsOfSigs(sigs, numHashes, bands, idCol)
    val l = banded.select(col(idCol).as("doc_a"), col("band"), col("bucket"))
    val r = banded.select(col(idCol).as("doc_b"), col("band"), col("bucket"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val bgs = sigs.select(col(idCol), col("bg"))
    candidates
      .join(bgs.select(col(idCol).as("doc_a"), col("bg").as("bg_a")), Seq("doc_a"))
      .join(bgs.select(col(idCol).as("doc_b"), col("bg").as("bg_b")), Seq("doc_b"))
      .withColumn("jaccard",
        graft.functions.ArrayExprs.jaccardSortedMin(spark, col("bg_a"), col("bg_b"), verifyThreshold))
      .filter(col("jaccard") >= verifyThreshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental near-dup: MinHash-LSH candidates of `incoming` documents
    * AGAINST an existing `corpus` (the "dedup the new crawl before it
    * enters the corpus" step), verified with exact Jaccard. Same
    * deterministic signature recipe as [[minhashLshPairs]], so a doc's
    * buckets match across runs and relations.
    *
    * Shape: the corpus side buckets as (id, band, bucket) — narrow rows,
    * shingles never shuffled; the incoming side (the small delta, by
    * premise) carries its shingle set through the explode so the verify
    * step joins only the STATIC corpus shingles back. That asymmetry
    * makes the operator streaming-capable: with a streaming `incoming`,
    * every join here is stream-static and the dedup of repeated
    * candidate pairs is the only state (bounded by the delta's true-dup
    * count; wrap with a watermark upstream for unbounded streams). */
  def minhashLshPairsAgainst(incoming: DataFrame, corpus: DataFrame,
                             numHashes: Int, bands: Int, verifyThreshold: Double,
                             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val spark = corpus.sparkSession
    // corpus side expands below; the incoming delta is small by premise
    // (and per-micro-batch repartition of a streaming delta was measured
    // a regression in r18), so it signs un-rebalanced
    def sigs(df: DataFrame) = df
      .filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol),
        graft.functions.ArrayExprs.bigramHashes(spark, col(textCol)).as("bg"))
      .withColumn("sig",
        graft.functions.ArrayExprs.minhashSig(spark, col("bg"), numHashes))
    def bandBuckets = posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b)))
    // a streaming delta re-reads the corpus index EVERY micro-batch —
    // pin the static side in memory exactly as a production intake would
    // pin its signature index (batch callers keep the one-pass plan)
    val corpSigs0 = sigs(graft.core.Par.expand(corpus))
    val corpSigs = if (incoming.isStreaming) corpSigs0.persist() else corpSigs0
    val corpBanded = corpSigs.select(col(idCol).as("corpus_id"), bandBuckets)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val inBanded = sigs(incoming)
      .select(col(idCol).as("in_id"), col("bg").as("bg_a"), bandBuckets)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    inBanded.join(corpBanded, Seq("band", "bucket"))
      .dropDuplicates("in_id", "corpus_id")
      .join(corpSigs.select(col(idCol).as("corpus_id"), col("bg").as("bg_b")),
        Seq("corpus_id"))
      .withColumn("jaccard", graft.functions.ArrayExprs.jaccardSortedMin(spark,
        col("bg_a"), col("bg_b"), verifyThreshold))
      .filter(col("jaccard") >= verifyThreshold)
      .select("in_id", "corpus_id", "jaccard")
  }

  /** 64-bit SimHash over word tokens: per bit, sum ±1 weighted by token
    * hash bit; sign → bit. Single expression, no shuffle. The token-hash
    * bit test is pluggable: xxhash64 (codegen'd, default) for
    * production, [[simhashMd5]] for an engine-portable signature. */
  def simhash(docs: DataFrame, text: Column, idCol: String = "doc_id",
              bitOf: (Column, Int) => Column =
                (tok, i) => shiftright(xxhash64(tok), i).bitwiseAND(1L)): DataFrame = {
    val tokens = split(text, " ")
    val bitCols = (0 until 64).map { i =>
      val votes = aggregate(tokens, lit(0L),
        (acc, tok) => acc + when(bitOf(tok, i) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    docs.withColumn("simhash", bitCols.reduce(_ bitwiseOR _))
  }

  /** Portable SimHash: the 64-bit token value is the first 16 hex chars
    * of md5 (big-endian), so bit i lives in hex digit `16 - i/4` at
    * in-digit position `i%4` — the identical digit arithmetic runs in
    * external engines, making the signature oracle-checkable. Native
    * expression (ArrayExprs.SimhashMd5): one MD5 per token, direct
    * digest-byte bit tests — a naive one-aggregate-per-bit formulation
    * recomputed md5 64× per token and ran 3× slower at sf0.1. */
  def simhashMd5(docs: DataFrame, text: Column, idCol: String = "doc_id"): DataFrame = {
    graft.functions.ArrayExprs.register(docs.sparkSession)
    docs.withColumn("simhash",
      org.apache.spark.sql.functions.call_function("simhash_md5", text))
  }
}
