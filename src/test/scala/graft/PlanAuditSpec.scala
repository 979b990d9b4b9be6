package graft

import graft.core.PlanShape

/** Structural plan assertions for the scale-critical gate queries: the
  * properties that keep each plan viable at 100 TB, pinned so a
  * refactor that silently reintroduces a cartesian product, a global
  * window, or an un-broadcast dimension join fails CI — not just the
  * bench counters after the fact. */
class PlanAuditSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.toRdd.count() // drive AQE to the final plan
    df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
  }

  private val heavy = Seq(
    "q_tpch_pricing", "q_join_revenue", "q_top_customers",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_cluster",
    "q_embedding_topk", "q_embedding_pairs", "q_ann_lsh", "q_ann_ivf",
    "q_ann_pq", "q_pipeline_curate", "q_decontaminate", "q_pack_bins",
    "q_stratified_sample", "q_rollup_routed", "q_pivot", "q_asof_join",
    "q_range_join", "q_dedup_canonical", "q_decontaminate_report",
    "q_dup_ngram_rate", "q_sessionize", "q_asof_tolerance",
    "q_dup_spans", "q_dedup_substring", "q_shuffle_export",
    // waves 5-11: corpus statistics, event analytics, graph, sketches
    "q_containment", "q_cross_overlap", "q_heavy_hitters", "q_word_entropy",
    "q_pmi", "q_source_kl", "q_countmin", "q_weighted_sample", "q_zipf",
    "q_retention", "q_transition_matrix", "q_rfm", "q_hopping_window",
    "q_pagerank", "q_temperature_mix", "q_random_projection",
    // wave 16+: graph triangles, perplexity buckets, LSH audit, chunking
    "q_triangles", "q_perplexity_buckets", "q_source_cap",
    "q_vocab_coverage", "q_lsh_bucket_stats", "q_chunk_fixed",
    "q_hard_negatives", "q_fuzzy_vocab")
    // DSIR, the quality classifier and calibration are audited in a
    // dedicated test below: their production forms localCheckpoint the
    // scored relation, which truncates the lineage these generic asserts
    // read, so that test captures the plans the checkpoints execute

  /** Each heavy query runs once; both tests below read its shape. */
  private lazy val heavyShapes: Seq[(String, PlanShape)] = heavy.map { name =>
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.toRdd.count() // drive AQE to the final plan
    name -> PlanShape.of(df)
  }

  test("no cartesian products in any heavy gate query") {
    heavyShapes.foreach { case (name, shape) =>
      assert(shape.cartesians == 0, s"$name plans a CartesianProduct: ${shape.json}")
    }
  }

  test("no unpartitioned windows (single-partition trap) in heavy queries") {
    heavyShapes.foreach { case (name, shape) =>
      assert(shape.globalWindows == 0, s"$name has a global window: ${shape.json}")
    }
  }

  test("small-side joins broadcast: queries vs corpus, eval grams vs corpus") {
    Seq("q_embedding_topk", "q_decontaminate", "q_hard_negatives").foreach { name =>
      val plan = executedPlan(name)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"), s"$name does not broadcast:\n${plan.take(2000)}")
    }
  }

  /** The (action, executed plan) of every query execution `body` runs —
    * the localCheckpoint and collect jobs of an eager kernel, whose
    * plans the returned frame's truncated lineage no longer shows. */
  private def executionsOf(body: => Unit): Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    val events = new java.util.concurrent.CopyOnWriteArrayList[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        events.add((funcName, qe.executedPlan))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously; the kernel ends in one
      // localCheckpoint, so wait until that last one has been seen
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
        assert(events.size > 0 &&
          events.get(events.size - 1)._1 == "localCheckpoint", events)
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    events.asScala.toSeq
  }

  test("DSIR + quality-classifier inner plans: scale shapes, no cartesian, no global window") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // The calibration audit reads plattCalibrate's OWN plan shape, so a
    // synthetic join-free scored relation keeps the input out of the
    // join count (the production input's doc join is audited via the
    // q_quality_calibrated gate row).
    val scoredForCal = docs.select(col("doc_id"), col("source"),
      (pmod(xxhash64(col("doc_id")), lit(1000)).cast("double") / 1000.0d)
        .as("score"),
      when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y"))
    val kernels = Seq[(String, () => Unit)](
      "dsir" -> (() => graft.text.Dsir.weightedScores(docs, "doc_id", "text",
        col("source") === "src1")),
      "quality" -> (() => graft.text.QualityClassifier.trainAndScore(docs,
        "doc_id", "text", col("lang") === "en")),
      "calibrate" -> (() => graft.text.Calibration.plattCalibrate(scoredForCal,
        "doc_id", "source", "score", "y")))
    kernels.foreach { case (name, run) =>
      val execs = executionsOf(run())
      assert(execs.exists(_._1 == "collect"), s"$name: ${execs.map(_._1)}")
      def text(p: org.apache.spark.sql.execution.SparkPlan): String =
        p.toString().split("== Initial Plan ==")(0)
      // the scoring/calibration pass is the kernel's last checkpoint
      val scoring = text(execs.last._2)
      name match {
        case "dsir" =>
          // DSIR still broadcasts its B=1024-row weight table into the
          // doc-keyed scoring aggregation
          assert(scoring.contains("BroadcastHashJoin") || scoring.contains("BroadcastExchange"),
            s"$name scoring does not broadcast the weight table:\n${scoring.take(2000)}")
        case _ =>
          // r18: classifier scoring and Platt calibration inline their
          // bounded parameter tables as literals — the scale assertion
          // is NO join of any kind in any of their executions
          execs.foreach { case (fn, p) =>
            assert(!text(p).contains("Join"),
              s"$name $fn plans a join (expected literal-parameter projection):\n${text(p).take(2000)}")
          }
      }
      execs.foreach { case (fn, p) =>
        val shape = PlanShape.of(p)
        assert(shape.cartesians == 0 && shape.globalWindows == 0,
          s"$name $fn: ${shape.json}\n${text(p).take(2000)}")
      }
    }
  }

  test("parquet scans prune columns: pricing reads only the needed lineitem fields") {
    val plan = executedPlan("q_tpch_pricing")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.nonEmpty, plan.take(1000))
    assert(!read.contains("l_comment") && !read.contains("l_shipinstruct"),
      s"scan reads unused columns: $read")
  }

  test("rollup routing scans the rollup table, not the raw table") {
    val plan = executedPlan("q_rollup_routed")
    // the registered rollup lives under a graft_route temp dir; the raw
    // events.parquet must not appear in the final scan set
    assert(plan.contains("graft_route"), plan.take(2000))
    assert(!plan.contains("events.parquet"), plan.take(2000))
  }

  test("tiered routing picks the HOUR rollup over the MIN one for day-scale buckets") {
    val plan = executedPlan("q_rollup_tiered")
    assert(plan.contains("graft_route"), plan.take(2000)) // HOUR tier dir
    assert(!plan.contains("graft_tmin"), plan.take(2000)) // MIN tier must lose
    assert(!plan.contains("events.parquet"), plan.take(2000))
  }

  test("freshness horizon unions the raw tail with closed rollup buckets") {
    val plan = executedPlan("q_rollup_fresh")
    assert(plan.contains("graft_fresh"), plan.take(2000)) // partial rollup scanned
    assert(plan.contains("events.parquet"), plan.take(2000)) // tail scanned
    assert(plan.contains("Union"), plan.take(2000))
  }

  test("stream-maintained rollup routes through sidecar-loaded metadata") {
    // q_rollup_stream registers NOTHING by hand: the rollup was written
    // by Watch.maintainRollup and the routing comes from
    // RollupRouting.load on the persisted _graft_rollup.json. The plan
    // must read the streamed rollup for closed hours AND union the raw
    // tail past the watermark-derived horizon (the final open hour).
    val plan = executedPlan("q_rollup_stream")
    assert(plan.contains("graft_rstream"), plan.take(2000))
    assert(plan.contains("events.parquet"), plan.take(2000)) // fresh tail
    assert(plan.contains("Union"), plan.take(2000))
  }

  /** How many distinct stages of `plan`'s AQE-final tree evaluate
    * `jaccard_sorted_min`; a stage starts at each exchange, and a reused
    * exchange evaluates nothing. */
  private def jaccardStages(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    var stages = Set.empty[Int]
    var next = 0
    def walk(p: SparkPlan, stage: Int): Unit = {
      if (p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.ArrayExprs.JaccardSortedMin])))
        stages += stage
      val kids = p match {
        case _: ReusedExchangeExec => Nil
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children ++ o.subqueries
      }
      kids.foreach { k =>
        walk(k, if (k.isInstanceOf[Exchange]) { next += 1; next } else stage)
      }
    }
    walk(plan, 0)
    stages.size
  }

  test("pagerank derives its similarity edges once: one jaccard stage, a stable shape") {
    val shapes = (1 to 2).map { _ =>
      val df = SparkEntry.queries("q_pagerank")(spark, sf)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      assert(jaccardStages(plan) == 1, plan.toString.take(4000))
      PlanShape.of(df)
    }
    assert(shapes.distinct.size == 1, shapes.map(_.json))
  }

  test("sketch bounds runs one approx_percentile chain: a stable shape") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Final, HyperLogLogPlusPlus}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // per final-mode aggregate node, the sketches it finishes: `sk` is
    // one chain that finishes both, not one chain per use of `sk`
    def sketchFinals(p: SparkPlan): Seq[Set[String]] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      val here = p match {
        case a: BaseAggregateExec => Seq(a.aggregateExpressions.filter(_.mode == Final)
          .map(_.aggregateFunction).collect {
            case _: ApproximatePercentile => "approx_percentile"
            case _: HyperLogLogPlusPlus => "approx_count_distinct"
          }.toSet).filter(_.nonEmpty)
        case _ => Nil
      }
      here ++ kids.flatMap(sketchFinals)
    }
    val shapes = (1 to 2).map { _ =>
      val df = SparkEntry.queries("q_sketch_bounds")(spark, sf)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      assert(sketchFinals(plan) == Seq(Set("approx_percentile", "approx_count_distinct")),
        plan.toString.take(4000))
      PlanShape.of(df)
    }
    assert(shapes.distinct.size == 1, shapes.map(_.json))
  }

  test("stratified sampling plans a WindowGroupLimit (rank pushdown)") {
    val plan = executedPlan("q_stratified_sample")
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }
}
