package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only adjudication harness for the q_stream_quality bench watch
  * item (VERDICT r15 item 1): decomposes the gate query into its three
  * phases — batch GD training, the gram-level scorer run as a BATCH
  * plan, and the same scorer run through Structured Streaming with
  * pre-trained weights — each best-of-N in one JVM, plus the full gate
  * query, so the driver-record cost can be attributed to train vs
  * stream-score vs checkpoint fixed cost. Writes nothing; not a gate.
  *
  * Usage: `sbt "runMain graft.AdjudicateSq [sfDir] [n]"`
  */
object AdjudicateSq {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = if (args.length > 1) args(1).toInt else 5
    val spark = graft.core.Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as DevTime: codegen + parquet reader classloading
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count()

    def bestOf(label: String)(body: => Unit): Unit = {
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-18s best=${times.min}%.3f  " +
        f"runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }

    // phase 1: batch GD training (3 iterations, ≤33-row collects)
    bestOf("train") {
      graft.text.QualityClassifier
        .train(docs, "doc_id", "text", col("lang") === "en")
        .queryExecution.toRdd.count()
    }

    // pre-trained weights for the scorer phases (excluded from timing)
    scala.util.Using.resource(graft.core.Par.materialize(graft.text.QualityClassifier
        .train(docs, "doc_id", "text", col("lang") === "en"))) { cp =>
      val wt = cp.df
      // phase 2: the gram-level scorer as a BATCH plan (no streaming)
      bestOf("score_batch") {
        graft.text.QualityClassifier
          .scoreStream(docs, "doc_id", "text", wt)
          .queryExecution.toRdd.count()
      }

      // phase 3: the same scorer through Structured Streaming
      bestOf("score_stream") {
        graft.queries.StreamRun.gate("adj_score_stream", docs, "complete") { src =>
          graft.text.QualityClassifier.scoreStream(src, "doc_id", "text", wt)
        }.queryExecution.toRdd.count()
      }

      // full gate query for reference (train + stream + memory-sink read)
      bestOf("gate_full") {
        SparkEntry.queries("q_stream_quality")(spark, dir)
          .queryExecution.toRdd.count()
      }
    }

    spark.stop()
  }
}
