package graft

/** Dev-only: candidate/edge/wedge volume counts behind the BENCH_SF1
  * scaling adjudication — how much WORK the pairwise family's inputs
  * generate at each SF (the engine-time-per-unit-work comparison needs
  * the denominator). Run: `sbt "Test/runMain graft.ProfSf1 <sfDir>"`,
  * on `SPARK_GRAFT_CPUS` cores (default 4). */
object ProfSf1 {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // exact-verify candidates: block-pair volume sum_b C(n_b, 2)
    val cand = docs.groupBy("source").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    println(f"candidates_block_pairs=$cand%.0f")

    for (th <- Seq(0.05, 0.1)) {
      val pairs = graft.dedup.Dedup.jaccardPairs(docs,
        blockCol = "source", threshold = th).persist()
      val m = pairs.count()
      // wedge volume after degree-ordered orientation ~ sum_v outdeg(v)^2
      val sym = pairs.select(col("doc_a").as("v"))
        .union(pairs.select(col("doc_b").as("v")))
      val wedges = sym.groupBy("v").count()
        .agg(sum(col("count") * col("count")).cast("double")).head().getDouble(0)
      println(f"threshold=$th edges=$m deg2_sum=$wedges%.0f")
      pairs.unpersist()
    }
    spark.stop()
  }
}
