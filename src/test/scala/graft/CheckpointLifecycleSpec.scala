package graft

import org.apache.spark.sql.functions._

/** Pins the checkpoint lifetime rule (`graft.core.Par`): kernels that
  * checkpoint an INTERMEDIATE relation free its storage blocks at kernel
  * exit — on normal return, early return and exception alike — instead
  * of leaving them to the ContextCleaner; a 208-query bench JVM
  * otherwise accumulates dead blocks that compete with execution
  * memory. The returned (still-consumable) frame's own blocks stay
  * alive and readable. */
class CheckpointLifecycleSpec extends SparkSpec {

  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** blocks are dropped asynchronously (unpersist(blocking=false)) —
    * poll briefly before judging. */
  private def eventuallyAtMost(n: Int, baseline: Set[Int]): Unit = {
    var tries = 0
    while (persistedIds().diff(baseline).size > n && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    val leaked = persistedIds().diff(baseline)
    assert(leaked.size <= n,
      s"expected <=$n surviving checkpoint RDDs, found ${leaked.size}: $leaked")
  }

  test("trainAndScore frees the feature relation, keeps the scored result readable") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = persistedIds()
    val out = graft.text.QualityClassifier.trainAndScore(
      docs, "doc_id", "text", col("lang") === "en")
    // only the returned scored checkpoint may survive
    eventuallyAtMost(1, base)
    assert(out.count() == docs.count()) // result still consumable
  }

  test("connectedComponents frees edge + round checkpoints, keeps labels readable") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val edges = graft.dedup.Dedup.jaccardPairs(docs, "source", 0.05)
    val base = persistedIds()
    val cc = graft.dedup.Dedup.connectedComponents(edges)
    // driver union-find path: everything freed; distributed path: only
    // the final round's labels survive
    eventuallyAtMost(1, base)
    assert(cc.count() >= 0) // result still consumable
  }

  test("Ivf.train frees its Lloyd sample") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = persistedIds()
    val idx = graft.similarity.Ivf.train(emb, k = 4, iters = 2)
    assert(idx.centroids.nonEmpty)
    eventuallyAtMost(0, base)
  }

  test("kmeans fitStats frees the widened base, keeps the k-row stats readable") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = persistedIds()
    val stats = graft.similarity.Kmeans.fitStats(
      emb, "vec_id", "embedding", k = 4, iters = 2)
    eventuallyAtMost(1, base) // only the k-row result checkpoint survives
    assert(stats.count() <= 4)
  }

  test("Ivf.train frees the sample when it falls back to the full corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = persistedIds()
    // ~1/8 of 500 vectors cannot seed 100 centroids: the early-return
    // path retrains on everything
    val idx = graft.similarity.Ivf.train(emb, k = 100, iters = 1)
    assert(idx.centroids.length == 100)
    eventuallyAtMost(0, base)
  }

  test("Pq.train frees its sample when the dimension check throws") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = persistedIds()
    val e = intercept[IllegalArgumentException] {
      graft.similarity.Pq.train(emb, m = 5, ksub = 4, iters = 1) // 64 % 5 != 0
    }
    assert(e.getMessage.contains("not divisible"), e.getMessage)
    eventuallyAtMost(0, base)
  }

  test("kmeans fitStats frees its base when k exceeds the corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = persistedIds()
    val e = intercept[IllegalArgumentException] {
      graft.similarity.Kmeans.fitStats(emb, "vec_id", "embedding", k = 1000, iters = 1)
    }
    assert(e.getMessage.contains("corpus smaller than k"), e.getMessage)
    eventuallyAtMost(0, base)
  }

  test("connectedComponents distributed rounds leave only the result") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val edges = graft.dedup.Dedup.jaccardPairs(docs, "source", 0.05)
    val driver = graft.dedup.Dedup.connectedComponents(edges)
      .orderBy("v").collect().toSeq
    val base = persistedIds()
    val cc = graft.dedup.Dedup.connectedComponents(edges, driverMaxEdges = 0L)
    eventuallyAtMost(1, base)
    // the rolling rounds reach the same labels as the driver union-find
    assert(cc.orderBy("v").collect().toSeq == driver)
  }

  test("a body that throws frees its input's blocks") {
    val base = persistedIds()
    val e = intercept[IllegalStateException] {
      graft.core.Par.within(spark.range(100).toDF()) { d =>
        assert(d.count() == 100)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    eventuallyAtMost(0, base)
  }

  test("a returned frame stays readable after its input is freed") {
    val base = persistedIds()
    val out = graft.core.Par.through(spark.range(100).toDF("v")) { d =>
      d.filter(col("v") % 2 === 0)
    }
    eventuallyAtMost(1, base) // the input is gone, the result's checkpoint stays
    assert(out.count() == 50)
    // the driver-data form refuses to hand out a frame over its freed scan
    val e = intercept[IllegalStateException] {
      graft.core.Par.within(spark.range(10).toDF("v"))(d => d.filter(col("v") > 2))
    }
    assert(e.getMessage.contains("Par.through"), e.getMessage)
    eventuallyAtMost(1, base)
  }

  test("rolling rounds leave only the last round alive") {
    val base = persistedIds()
    val out = graft.core.Par.rolling { rounds =>
      var cur = rounds.cut(spark.range(10).toDF("v"))
      (1 to 3).foreach { _ =>
        cur = rounds.cut(cur.select((col("v") + 1).as("v")))
        eventuallyAtMost(1, base) // one live round at a time
      }
      cur.select((col("v") * 2).as("v"))
    }
    eventuallyAtMost(1, base) // the last round backs the result
    assert(out.agg(sum("v")).head.getLong(0) == 150) // 2 * (3 + … + 12)
    // a result that does not read the last round frees it; so does a failure
    val counted = graft.core.Par.rolling { rounds =>
      val n = rounds.cut(spark.range(7).toDF("v")).count()
      spark.range(n).toDF("v")
    }
    assert(counted.count() == 7)
    intercept[ArithmeticException] {
      graft.core.Par.rolling { rounds =>
        rounds.cut(spark.range(5).toDF("v"))
        throw new ArithmeticException("round failed")
      }
    }
    eventuallyAtMost(1, base)
  }

  test("q_stream_neardup leaves nothing in the session's cache") {
    spark.catalog.clearCache()
    SparkEntry.queries("q_stream_neardup")(spark, sf).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q_dedup_incremental planned after q_stream_neardup reads no cached relation") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val expected = SparkEntry.queries("q_dedup_incremental")(spark, sf).collect().toSeq
    SparkEntry.queries("q_stream_neardup")(spark, sf).collect()
    val df = SparkEntry.queries("q_dedup_incremental")(spark, sf)
    val cached = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case r: InMemoryRelation => r
    }
    assert(cached.isEmpty, df.queryExecution.optimizedPlan.toString.take(4000))
    assert(df.collect().toSeq == expected)
  }

  test("close frees the checkpoint RDD without the lineage WARN") {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("checkpointCapture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(capture)
    def warned = lines.toArray.exists(_.toString.contains("cannot be recomputed"))
    try {
      // control: RDD.unpersist on a locally-checkpointed RDD logs the line
      val direct = spark.sparkContext.parallelize(1 to 10).localCheckpoint()
      direct.count()
      direct.unpersist()
      assert(warned, "the capturing appender saw no unpersist WARN")
      lines.clear()

      val before = persistedIds()
      val cp = graft.core.Par.materialize(spark.range(100).toDF())
      val ids = persistedIds().diff(before)
      assert(ids.size == 1, ids)
      cp.close()
      assert(persistedIds().intersect(ids).isEmpty)
      assert(!warned, lines)
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }
}
