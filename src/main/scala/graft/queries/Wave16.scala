package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._
import graft.functions.Rounding.fround

/** Wave-16 battery: similarity-graph triangles, CCNet-style perplexity
  * bucketing, per-source caps, suffix boilerplate mining, vocabulary
  * coverage, and the LSH bucket-size audit. Every query ships with a
  * full DuckDB re-derivation oracle and a deterministic ORDER BY.
  */
object Wave16 {
  val defs: Map[String, QueryFn] = Map(

    // ---- triangle counts over the near-dup similarity graph ----------
    // Degree-ordered orientation: 2 shuffle joins, wedge fan-out bounded
    // by out-degree ≤ O(√m) — survives power-law similarity graphs.
    "q_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // rebalance=false: Triangles references the pair subtree 6× (3
      // orient joins + wedges ×2 + close) without materializing it —
      // the Par.expand RoundRobin exchange clones into every reference
      // (r18 regression, 0.70×); ReusedExchange dedupes the plain shape
      val pairs = graft.dedup.Dedup.jaccardPairs(docs,
          blockCol = "source", threshold = 0.05, rebalance = false)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.graph.Triangles.perNode(pairs)
        .select(col("v").as("doc_id"), col("n_triangles"))
        .orderBy("doc_id")
    }),

    // ---- CCNet-style perplexity buckets (head / middle / tail) --------
    // Exact terciles of the 6-dp-pinned bigram-LM log-perplexity; the
    // threshold relation is 1 row and broadcasts.
    "q_perplexity_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.text.TextOps.bigramLmScore(
          docs.filter(col("doc_id") % 10 === 9),
          docs.filter(col("doc_id") % 10 < 9), "doc_id", "text")
        .select(col("doc_id"), fround(col("log_ppl"), 6).as("log_ppl"))
      val th = scored.agg(
        expr("percentile(log_ppl, 1.0D/3.0D)").as("t1"),
        expr("percentile(log_ppl, 2.0D/3.0D)").as("t2"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("log_ppl"),
          when(col("log_ppl") <= col("t1"), "head")
            .when(col("log_ppl") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // ---- deterministic per-source document cap -------------------------
    // The "at most k docs per domain" curation rule, md5-ordered so both
    // engines keep the same docs; the window partitions on source (never
    // global).
    "q_source_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("__h"))
        .withColumn("keep_rank", row_number().over(
          Window.partitionBy("source").orderBy(col("__h"))).cast("long"))
        .filter(col("keep_rank") <= 10)
        .select(col("source"), col("doc_id"), col("keep_rank"))
        .orderBy("source", "keep_rank")
    }),

    // ---- boilerplate suffix mining -------------------------------------
    // Most frequent 3-word document suffixes — shared sign-offs /
    // template footers show up here long before any pairwise dedup.
    "q_suffix_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ws = split(regexp_replace(lower(col("text")), "\\s+", " "), " ")
      docs.filter(size(ws) >= 3)
        .select(array_join(slice(ws, -3, 3), " ").as("suffix"))
        .groupBy("suffix").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("suffix")).limit(20)
    }),

    // ---- vocabulary coverage of the top-k words -------------------------
    // Zipf companion: the token share covered by the k most frequent
    // words. Rank AND cumulative count come from one broadcast self-pair
    // aggregation over the tiny top-k relation (no global window).
    "q_vocab_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wc = docs.select(explode(
          split(regexp_replace(lower(col("text")), "\\s+", " "), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val top = wc.orderBy(col("c").desc, col("w")).limit(50)
      val tot = wc.agg(sum("c").as("tot"))
      top.join(broadcast(top.select(col("w").as("w2"), col("c").as("c2"))),
          col("c2") > col("c") ||
            (col("c2") === col("c") && col("w2") <= col("w")))
        .groupBy(col("w"), col("c"))
        .agg(count(lit(1)).as("rank"), sum("c2").as("cum"))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("w").as("word"), col("c").as("cnt"),
          fround(col("cum").cast("double") / col("tot"), 6).as("cum_frac"))
        .orderBy("rank")
    }),

    // ---- fixed-window chunking with overlap (RAG splitter) -------------
    // Word windows of 64 with stride 48 (25% overlap); chunk text rides
    // as md5 so the gate stays compact. One explode, no window function.
    "q_chunk_fixed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val W = 64
      val S = 48
      val ws = split(regexp_replace(lower(col("text")), "\\s+", " "), " ")
      docs.select(col("doc_id"), ws.as("__ws"), size(ws).as("n"))
        .select(col("doc_id"), col("__ws"), col("n"),
          explode(sequence(lit(0L),
            ceil(greatest(col("n") - W, lit(0)).cast("double") / S)
              .cast("long"))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * S).as("w_start"),
          least(lit(W.toLong), col("n") - col("chunk_id") * S).as("n_words"),
          md5(array_join(
            slice(col("__ws"), (col("chunk_id") * S + 1).cast("int"), lit(W)),
            " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- hard-negative mining (contrastive-training negatives) ---------
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.similarity.Ann.hardNegatives(emb.filter(col("vec_id") < 5), emb,
          k = 5, labelCol = "label")
        .select(col("qid"), col("rnk"), col("eid"),
          fround(col("cos_sim"), 6).as("cos_sim"))
        .orderBy("qid", "rnk")
    }),

    // ---- LSH band-bucket size audit ------------------------------------
    // The candidate-explosion early warning: bucket-size histogram of the
    // same (band, bucket) keying q_dedup_minhash joins on. A fat bucket
    // means a template cluster (or too few bands) BEFORE the join runs.
    "q_lsh_bucket_stats" -> ((s, dir) => {
      graft.dedup.Dedup.bandBuckets(t(s, dir, "documents"),
          numHashes = 32, bands = 8)
        .groupBy("band", "bucket").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_buckets"))
        .select(col("sz").as("bucket_size"), col("n_buckets"))
        .orderBy("bucket_size")
    }))

  val oracles: Map[String, String] = Map(
    "q_triangles" ->
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
             >= 0.05),
         tri AS (SELECT p1.doc_a AS x, p1.doc_b AS y, p2.doc_b AS z
           FROM p p1 JOIN p p2 ON p2.doc_a = p1.doc_b
             JOIN p p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
         n AS (SELECT unnest([x, y, z]) AS doc_id FROM tri)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         FROM n GROUP BY 1 ORDER BY 1""",
    "q_perplexity_buckets" ->
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
             LEFT JOIN c1 ON dd.w1 = c1.w1 CROSS JOIN v),
         scored AS (SELECT doc_id,
             floor(avg(nll)*1000000 + 0.5)/1000000 AS log_ppl
           FROM j GROUP BY 1),
         th AS (SELECT quantile_cont(log_ppl, 1.0/3.0) AS t1,
             quantile_cont(log_ppl, 2.0/3.0) AS t2 FROM scored)
         SELECT doc_id, log_ppl,
           CASE WHEN log_ppl <= t1 THEN 'head'
                WHEN log_ppl <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM scored CROSS JOIN th ORDER BY doc_id""",
    "q_source_cap" ->
      """SELECT source, doc_id, keep_rank FROM (
           SELECT source, doc_id, CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS keep_rank
           FROM documents)
         WHERE keep_rank <= 10 ORDER BY source, keep_rank""",
    "q_suffix_boilerplate" ->
      """WITH sp AS (SELECT string_split(
             regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         sfx AS (SELECT array_to_string(ws[-3:], ' ') AS suffix
           FROM sp WHERE len(ws) >= 3)
         SELECT suffix, CAST(count(*) AS BIGINT) AS cnt
         FROM sfx GROUP BY 1 ORDER BY cnt DESC, suffix LIMIT 20""",
    "q_vocab_coverage" ->
      """WITH wc AS (SELECT unnest(string_split(
             regexp_replace(lower(text),'\s+',' ','g'),' ')) AS w,
           FROM documents),
         c AS (SELECT w, count(*) AS c FROM wc GROUP BY 1),
         top AS (SELECT w, c FROM c ORDER BY c DESC, w LIMIT 50),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM c),
         r AS (SELECT a.w, a.c, CAST(count(*) AS BIGINT) AS rank,
             CAST(sum(b.c) AS BIGINT) AS cum
           FROM top a JOIN top b
             ON b.c > a.c OR (b.c = a.c AND b.w <= a.w)
           GROUP BY 1, 2)
         SELECT rank, w AS word, CAST(c AS BIGINT) AS cnt,
           floor(CAST(cum AS DOUBLE)/tot*1000000 + 0.5)/1000000 AS cum_frac
         FROM r CROSS JOIN tot ORDER BY rank""",
    "q_chunk_fixed" ->
      """WITH sp AS (SELECT doc_id, string_split(
             regexp_replace(lower(text),'\s+',' ','g'),' ') AS ws
           FROM documents),
         c AS (SELECT doc_id, ws, len(ws) AS n,
             unnest(generate_series(0,
               CAST(ceil(greatest(len(ws) - 64, 0) / 48.0) AS INT))) AS chunk_id
           FROM sp)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 48 AS BIGINT) AS w_start,
           CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_words,
           md5(array_to_string(ws[chunk_id*48+1 : chunk_id*48+64], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""",
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id AS eid, label AS elabel,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
           FROM embeddings),
         p AS (SELECT qid, eid,
             (SELECT sum(x*y) FROM (SELECT unnest(qe) AS x, unnest(ee) AS y)) /
             (sqrt((SELECT sum(x*x) FROM (SELECT unnest(qe) AS x))) *
              sqrt((SELECT sum(y*y) FROM (SELECT unnest(ee) AS y)))) AS cs
           FROM q JOIN e ON qid <> eid AND qlabel <> elabel)
         SELECT qid, rnk, eid, floor(cs*1000000 + 0.5)/1000000 AS cos_sim FROM (
           SELECT qid, eid, cs,
             row_number() OVER (PARTITION BY qid ORDER BY cs DESC, eid) AS rnk
           FROM p)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "q_lsh_bucket_stats" ->
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
         sz AS (SELECT band, sliced, CAST(count(*) AS BIGINT) AS sz
           FROM bands GROUP BY 1, 2)
         SELECT sz AS bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
         FROM sz GROUP BY 1 ORDER BY 1""")
}
