package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Scale design: queries are broadcast (small side), the corpus streams —
  * brute force is one broadcast-nested-loop with a codegen'd dot product
  * (higher-order functions, no UDF) and a per-query top-k via window.
  * The LSH variant buckets the corpus by random-hyperplane sign bits so
  * each query only scans matching buckets (multi-probe = exact bucket +
  * all 1-bit-flip neighbors, trading recall for a corpus-fraction scan).
  * The signatures are deterministic: hyperplane components are derived
  * from xxhash64(dim, plane) — reproducible across runs and engines.
  */
object Ann {
  /** Cast a float array column to double (stable dot-product math). */
  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Per-row broadcast-size estimate built from the schema: variable-width
    * columns (arrays, strings) are measured per row, fixed-width columns
    * contribute their type width. Used by the [[hardNegatives]] guard's
    * probe tier so the byte budget holds even when the row count is tiny
    * but each row is a wide embedding. */
  private def rowSizeExpr(df: DataFrame): Column =
    df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) =>
          coalesce(size(col(f.name)).cast("long"), lit(0L)) *
            lit(math.max(et.defaultSize, 1).toLong) + lit(16L)
        case org.apache.spark.sql.types.StringType =>
          coalesce(length(col(f.name)).cast("long"), lit(0L)) + lit(20L)
        case dt => lit(math.max(dt.defaultSize, 1).toLong)
      }
    }.reduce(_ + _)

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native-expression cosine (tight loop; bit-identical to
    * `dot(a, b) / (norm(a) * norm(b))`). */
  private def fastCosine(df: DataFrame, a: Column, b: Column): Column =
    graft.functions.ArrayExprs.cosineSim(df.sparkSession, a, b)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qe"))
    val e = corpus.select(col(idCol).as("eid"), toDouble(col(vecCol)).as("ee"))
    val scored = e.join(broadcast(q), col("qid") =!= col("eid"))
      .withColumn("cos_sim", fastCosine(corpus, col("qe"), col("ee")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("eid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "eid", "cos_sim")
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the k most cosine-similar corpus vectors with a DIFFERENT label —
    * the "looks right, isn't" examples a retriever trains against. Same
    * broadcast-queries shape as [[bruteForceTopK]], with the label
    * exclusion inside the join condition so excluded rows never score.
    *
    * The broadcast is guarded in two tiers: the optimizer's own size
    * estimate first (driver-side plan stats — no job; the common case
    * where the query relation is simply small), then — because
    * size-only stats pass a Filter's child size through unreduced, so a
    * handful of queries filtered from a huge corpus would be
    * misclassified — one bounded probe job (`limit(max+1)`, reads at
    * most max+1 rows) that measures BOTH the row count and a
    * schema-derived byte estimate; the broadcast survives only when the
    * probed rows stay under the row cap AND the probed bytes stay under
    * `broadcastMaxBytes` — the byte budget is enforceable on either
    * tier (100k wide-embedding rows can still be hundreds of MB). A
    * query set small by both measures replicates (one corpus pass, no
    * shuffle); a genuinely large one switches to a shuffle-replicated
    * nested-loop join — still every (query, corpus) block pair scored
    * in parallel, but neither side rides the driver or a single
    * executor's heap. The cross product is inherent to exact mining;
    * the blocked/IVF modes are the cheaper approximate path. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    labelCol: String, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    broadcastMaxBytes: Long = 256L << 20,
                    broadcastMaxQueries: Long = 100000L): DataFrame = {
    val q0 = queries.select(col(idCol).as("qid"), col(labelCol).as("qlabel"),
      toDouble(col(vecCol)).as("qe"))
    val e = corpus.select(col(idCol).as("eid"), col(labelCol).as("elabel"),
      toDouble(col(vecCol)).as("ee"))
    val small =
      q0.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(broadcastMaxBytes) || {
        val cap = (math.min(broadcastMaxQueries, Int.MaxValue - 1L) + 1L).toInt
        val probe = q0.limit(cap)
          .agg(count(lit(1)).as("n"), coalesce(sum(rowSizeExpr(q0)), lit(0L)).as("b"))
          .head()
        probe.getLong(0) <= broadcastMaxQueries && probe.getLong(1) <= broadcastMaxBytes
      }
    val q = if (small) broadcast(q0) else q0.hint("shuffle_replicate_nl")
    val scored = e.join(q,
        col("qid") =!= col("eid") && col("qlabel") =!= col("elabel"))
      .withColumn("cos_sim", fastCosine(corpus, col("qe"), col("ee")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("eid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "eid", "cos_sim")
  }

  /** recall@k of an approximate top-k against the exact top-k: one row
    * per query vector, `(qid, recall_ok)`. This is the oracle-facing form
    * of the approximate ANN modes — DuckDB cannot rebuild the engine-side
    * index, but "every query recalls ≥ bound of its true neighbors" is an
    * exact, hash-checkable statement. Both inputs carry (qid, eid); the
    * join and counts stay distributed. */
  def recallAtK(approx: DataFrame, exact: DataFrame, bound: Double): DataFrame = {
    val hits = approx.select("qid", "eid")
      .join(exact.select("qid", "eid"), Seq("qid", "eid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"),
        (coalesce(col("n_hits"), lit(0L)) / col("n_exact") >= bound).as("recall_ok"))
      .orderBy("qid")
  }

  /** Top near-dup pairs inside each block (e.g. cluster/label/coarse
    * quantizer cell) — the blocked path of embedding near-dup detection. */
  def topPairsPerBlock(corpus: DataFrame, blockCol: String, k: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = corpus.select(col(idCol), col(blockCol), toDouble(col(vecCol)).as("ee"))
    val a = e.select(col(idCol).as("vec_a"), col(blockCol), col("ee").as("ea"))
    val b = e.select(col(idCol).as("vec_b"), col(blockCol), col("ee").as("eb"))
    val pairs = a.join(b, Seq(blockCol)).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", fastCosine(corpus, col("ea"), col("eb")))
    val w = Window.partitionBy(blockCol).orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(blockCol, "rnk", "vec_a", "vec_b", "cos_sim")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 → uniform in [-0.5, 0.5). */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(1000000L)).cast("double") / 1000000d) - 0.5d

  /** Sign-bit LSH bucket id of a vector under `planes` hyperplanes. */
  def lshBucket(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x * planeComponent(p, i)), lit(0d), (acc, x) => acc + x)
      when(proj > 0d, shiftleft(lit(1), p)).otherwise(0)
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** LSH-bucketed ANN top-k with 1-bit multi-probe. Approximate: recall
    * traded for scanning ~ (planes+1)/2^planes of the corpus per query.
    * `probeAll` probes every bucket — exhaustive, equal to brute-force
    * top-k, so the bucketing/probe/rank machinery gets an exact oracle
    * anchor (mirrors the IVF nprobe=k and PQ corpus-factor modes). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              probeAll: Boolean = false): DataFrame = {
    val e = corpus.select(col(idCol).as("eid"), toDouble(col(vecCol)).as("ee"))
      .withColumn("bucket", lshBucket(col("ee"), planes))
    val probed = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qe"))
      .withColumn("qbucket", lshBucket(col("qe"), planes))
    val q = (if (probeAll)
        probed.withColumn("bucket",
          explode(sequence(lit(0), lit((1 << planes) - 1))))
      else
        // multi-probe: exact bucket + every 1-bit flip
        probed.withColumn("bucket", explode(array(
          col("qbucket") +: (0 until planes).map(p => col("qbucket").bitwiseXOR(1 << p)): _*))))
      .drop("qbucket")
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("eid"))
      .withColumn("cos_sim", fastCosine(corpus, col("qe"), col("ee")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("eid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "eid", "cos_sim")
  }
}
