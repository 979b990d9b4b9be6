package graft

/** Dev-only timing harness for the slow dedup queries: best-of-N per query
  * at an arbitrary SF dir, same full-plan execution method as Bench
  * (`toRdd.count()` — `df.count()` would rewrite the plan). Not part of the
  * gate; run with `sbt "runMain graft.ProfileSlow [sfDir] [n] [q_...]"`.
  * Env: SPARK_GRAFT_CPUS (default 32), the core count Bench, Verify and
  * PlanDump read too. */
object ProfileSlow {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = if (args.length > 1) args(1).toInt else 3
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // extra args past (dir, n) select the queries; default = usual suspects
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q_dedup_jaccard", "q_dedup_cluster", "q_pipeline_curate",
        "q_dedup_minhash", "q_ann_ivf", "q_timewindow_locf")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-22s best=${times.min}%.3f  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
