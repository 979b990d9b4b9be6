package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (IVF-PQ's storage half): the vector splits into
  * `m` subspaces, each quantized against its own `ksub`-entry codebook,
  * so a d-dim float vector stores as m small codes — the compression
  * that makes billion-vector corpora scannable (a 64-dim float32 vector
  * becomes 8 bytes at m=8). Queries score codes with an ADC lookup
  * table (one inner product per (subspace, centroid), then a table sum
  * per candidate) and optionally rerank the pool with exact cosine.
  *
  * Determinism mirrors [[Ivf]]: codebooks seed from the lowest-id
  * sample rows and run a fixed number of Lloyd steps; same corpus, same
  * index. Training touches only a hash-sample and collects one
  * (subspace, cell) aggregate per iteration — m·ksub·dsub doubles reach
  * the driver, never the corpus.
  */
object Pq {
  /** codebooks(s)(c) is the dsub-dim centroid c of subspace s. */
  case class Index(m: Int, dsub: Int, codebooks: Array[Array[Array[Double]]]) {
    def ksub: Int = codebooks(0).length
    /** Σ_s |codebook_s(code_s)|² — the reconstructed norm². */
    private[similarity] def normSqTable: Array[Array[Double]] =
      codebooks.map(_.map(c => c.map(x => x * x).sum))
  }

  private def toDoubleArr(a: Column): Column = transform(a, x => x.cast("double"))

  /** Train m codebooks with one partial-sum pass per Lloyd step over the
    * cached sample: each partition reduces to m·ksub·dsub sums + counts,
    * merged on the driver. */
  def train(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 4,
            idCol: String = "vec_id", vecCol: String = "embedding",
            sampleInv: Int = 4): Index = {
    val all = corpus.select(col(idCol).as("id"), toDoubleArr(col(vecCol)).as("v"))
    val sampled = all.filter(pmod(hash(col("id")), lit(sampleInv)) === 0)
    // NO Par.expand: plain-double partial sums — see Ivf.train
    val trained = graft.core.Par.within(if (sampleInv <= 1) all else sampled) { e =>
      val head = e.orderBy("id").limit(ksub).select("v")
        .collect().map(_.getSeq[Double](0).toArray)
      // sample too small for ksub seeds: None retrains on everything below
      if (head.length < ksub && sampleInv > 1) None
      else {
        require(head.nonEmpty, s"Pq.train: empty corpus, cannot seed $ksub codes")
        val d = head(0).length
        require(d % m == 0, s"Pq.train: dim $d not divisible by m=$m")
        val dsub = d / m
        // seed subspace s from the head rows' s-th slices
        var books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
          head.map(v => v.slice(s * dsub, s * dsub + dsub))
        }
        // classic distributed Lloyd: each partition accumulates per-(s,cell)
        // dim sums + counts in flat arrays, one small partial per partition
        // reaches the driver — no per-row expression interpretation
        val spark = corpus.sparkSession
        import spark.implicits._
        val vecs = e.select(col("v")).as[Seq[Double]]
        var it = 0
        while (it < iters) {
          val bcBooks = spark.sparkContext.broadcast(books)
          val mm = m; val ds = dsub; val kk = ksub
          val partials = vecs.mapPartitions { rows =>
            val cb = bcBooks.value
            val sums = Array.ofDim[Double](mm, kk, ds)
            val counts = Array.ofDim[Long](mm, kk)
            rows.foreach { v =>
              var s = 0
              while (s < mm) {
                val book = cb(s)
                var best = 0; var bestD = Double.MaxValue; var c = 0
                while (c < book.length) {
                  var dd = 0d; var j = 0
                  while (j < ds) {
                    val t = v(s * ds + j) - book(c)(j); dd += t * t; j += 1
                  }
                  if (dd < bestD) { bestD = dd; best = c }
                  c += 1
                }
                val sRow = sums(s)(best)
                var j = 0
                while (j < ds) { sRow(j) += v(s * ds + j); j += 1 }
                counts(s)(best) += 1L
                s += 1
              }
            }
            Iterator.single((sums.map(_.map(_.toSeq).toSeq).toSeq,
              counts.map(_.toSeq).toSeq))
          }.collect()
          val next = books.map(_.map(_.clone()))
          var s = 0
          while (s < m) {
            var c = 0
            while (c < ksub) {
              var n = 0L
              val acc = new Array[Double](dsub)
              partials.foreach { case (sums, counts) =>
                n += counts(s)(c)
                var j = 0
                while (j < dsub) { acc(j) += sums(s)(c)(j); j += 1 }
              }
              if (n > 0) next(s)(c) = acc.map(_ / n)
              c += 1
            }
            s += 1
          }
          books = next
          bcBooks.destroy()
          it += 1
        }
        Some(Index(m, dsub, books))
      }
    }
    trained.getOrElse(train(corpus, m, ksub, iters, idCol, vecCol, sampleInv = 1))
  }

  /** Persist the codebooks as a (sub, code, pos, coeff) parquet relation
    * (same durable-artifact rationale as [[Ivf.save]]: train once, load
    * from storage in every job that scans the coded corpus). */
  def save(index: Index, spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    (for {
      (book, s) <- index.codebooks.zipWithIndex
      (c, code) <- book.zipWithIndex
      (x, pos) <- c.zipWithIndex
    } yield (s, code, pos, x)).toSeq.toDF("sub", "code", "pos", "coeff")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val rows = spark.read.parquet(path)
      .select("sub", "code", "pos", "coeff").collect()
    require(rows.nonEmpty, s"empty PQ index at $path")
    val m = rows.iterator.map(_.getInt(0)).max + 1
    val ksub = rows.iterator.map(_.getInt(1)).max + 1
    val dsub = rows.iterator.map(_.getInt(2)).max + 1
    // a partially-written artifact must be an integrity error, not a
    // silently-zeroed codebook coefficient
    require(rows.length == m * ksub * dsub,
      s"corrupt PQ index at $path: ${rows.length} cells, expected $m*$ksub*$dsub")
    val books = Array.fill(m, ksub)(new Array[Double](dsub))
    rows.foreach(r => books(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    Index(m, dsub, books)
  }

  /** Encode the corpus: (eid, code array<int> of length m). One
    * mapPartitions pass with broadcast codebooks and tight argmin loops —
    * encoding rides the scan with no shuffle, and at index-build time the
    * codes land in storage next to the vectors. */
  def encode(corpus: DataFrame, index: Index,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index)
    corpus.select(col(idCol).cast("long"), toDoubleArr(col(vecCol)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val idx = bc.value
        val m = idx.m; val dsub = idx.dsub
        it.map { case (id, v) =>
          val code = new Array[Int](m)
          var s = 0
          while (s < m) {
            val cb = idx.codebooks(s)
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cb.length) {
              var d = 0d; var j = 0
              while (j < dsub) {
                val t = v(s * dsub + j) - cb(c)(j); d += t * t; j += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            code(s) = best; s += 1
          }
          (id, code.toSeq)
        }
      }.toDF("eid", "code")
  }

  /** ADC top-k: per query, an m×ksub inner-product lookup table built
    * once on the driver; one mapPartitions pass over the codes keeps a
    * bounded per-(partition, query) top-k heap, so only Q·partitions·k
    * candidate rows ever shuffle — the corpus side touches nothing but
    * codes. Approximate cosine = table sum / (|q|·reconstructed norm). */
  def topK(queries: DataFrame, codes: DataFrame, index: Index, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = index.m; val dsub = index.dsub; val ks = index.ksub
    val qs = queries.select(col(idCol).cast("long"), toDoubleArr(col(vecCol)))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val luts = qs.map { case (qid, qv) =>
      val lut = Array.ofDim[Double](m, ks)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ks) {
          val cb = index.codebooks(s)(c)
          var acc = 0d; var j = 0
          while (j < dsub) { acc += qv(s * dsub + j) * cb(j); j += 1 }
          lut(s)(c) = acc; c += 1
        }
        s += 1
      }
      (qid, lut, math.sqrt(qv.map(x => x * x).sum))
    }
    val bcLuts = spark.sparkContext.broadcast(luts)
    val bcNorms = spark.sparkContext.broadcast(index.normSqTable)
    val scored = codes.select(col("eid").cast("long"), col("code"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val lts = bcLuts.value
        val nrm = bcNorms.value
        // worst candidate on top: lowest sim, then highest eid
        val ord = Ordering.by[(Long, Double), (Double, Long)] {
          case (eid, sim) => (-sim, eid)
        }
        val heaps = lts.map(q =>
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
        it.foreach { case (eid, code) =>
          var qi = 0
          while (qi < lts.length) {
            val (qid, lut, qn) = lts(qi)
            if (qid != eid) {
              var ip = 0d; var nsq = 0d; var s = 0
              while (s < code.length) {
                val c = code(s)
                ip += lut(s)(c); nsq += nrm(s)(c); s += 1
              }
              val sim = ip / (qn * math.sqrt(nsq))
              val h = heaps(qi)
              if (h.size < k) h.enqueue((eid, sim))
              else {
                val (weid, wsim) = h.head
                if (sim > wsim || (sim == wsim && eid < weid)) {
                  h.dequeue(); h.enqueue((eid, sim))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (eid, sim) => (lts(qi)._1, eid, sim) }
        }
      }.toDF("qid", "eid", "adc_sim")
    val w = Window.partitionBy("qid").orderBy(col("adc_sim").desc, col("eid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "eid", "adc_sim")
  }

  /** ADC candidates reranked by exact cosine: the scale recipe — PQ
    * narrows the corpus to k·`factor` candidates per query, then only
    * those rows' full vectors are read and scored exactly. */
  def topKRerank(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
                 index: Index, k: Int, factor: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val pool = topK(queries, codes, index, k * factor, idCol, vecCol)
      .select("qid", "eid")
    val e = corpus.select(col(idCol).as("eid"), toDoubleArr(col(vecCol)).as("ee"))
    val qv = queries.select(col(idCol).as("qid"), toDoubleArr(col(vecCol)).as("qe"))
    val exact = pool.join(e, "eid").join(broadcast(qv), "qid")
      .withColumn("cos_sim", graft.functions.ArrayExprs.cosineSim(spark, col("qe"), col("ee")))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("eid").asc)
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "eid", "cos_sim")
  }
}
