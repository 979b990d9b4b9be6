package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-provided parquet star schema (TESTDATA.md).
  *
  * At 100 TB these would be catalog tables over time/key-partitioned
  * parquet/Delta; here a thin path-based facade. All reads go through
  * `spark.read.parquet` so Catalyst column pruning and filter pushdown
  * reach the scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view (idempotent) for SQL-surface use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Partitioning and materialization helpers for the iterative kernels.
  *
  * `expand` is the pre-expansion rebalance against input skew: a
  * corpus arriving in fewer splits than the cluster is wide — one small
  * file locally, a skewed directory at scale — would run a CPU-heavy row
  * expansion (tokenize + n-gram explode + per-gram hashing) on those few
  * threads while the rest of the cluster idles. The cheap pre-shuffle of
  * raw rows buys full-width expansion; a no-op whenever the source is
  * already at least cluster-wide. Streaming frames have no static
  * partitioning to inspect (micro-batch width is the source's concern),
  * so they rebalance unconditionally. Batch callers may pass `by`
  * columns: the rebalance then hashes on them, so later aggregations
  * keyed on those columns need no exchange of their own.
  *
  * `materialize` is the one lineage cut for INTERMEDIATE relations. The
  * lifetime rule:
  *   - a relation read only inside one method is materialized through a
  *     [[Par.Checkpoint]] handle scoped by `scala.util.Using.resource`,
  *     so its blocks are freed on every exit — normal return, early
  *     return, `require` failure or exception;
  *   - a rolling loop (one live round at a time) closes round i−1 once
  *     round i is materialized; its last round backs the frame it
  *     returns (see below), and a failure closes the live handle;
  *   - a frame the method RETURNS is a plain
  *     `.localCheckpoint(eager = true)` as the body's last step — the
  *     caller owns it and the ContextCleaner frees it once unreachable.
  * A locally-checkpointed RDD is not recomputable: nothing may read a
  * handle's frame (or a lazy frame built on it) after `close()`. */
object Par {
  def expand(df: DataFrame, by: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df.repartition(par)
    else if (df.rdd.getNumPartitions < par) df.repartition(par, by: _*)
    else df
  }

  /** One eager local checkpoint: `df` reads it as a bare RDD scan;
    * `close()` frees the blocks of exactly the RDD this handle created
    * (without `RDD.unpersist`'s per-call "cannot be recomputed" WARN —
    * not being recomputable is this handle's contract). */
  final class Checkpoint private[Par] (val df: DataFrame,
                                       rdd: org.apache.spark.rdd.RDD[_])
      extends AutoCloseable {
    def close(): Unit = org.apache.spark.sql.graft.RddBlocks.free(rdd)
  }

  /** Eagerly checkpoint `df` — each later pass plans over a bare RDD
    * scan instead of re-analyzing (and re-running) its lineage — and
    * return the handle that owns the blocks. No session conf is read or
    * written. */
  def materialize(df: DataFrame): Checkpoint = {
    val cp = df.localCheckpoint(eager = true)
    cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => new Checkpoint(cp, l.rdd)
      case other => throw new IllegalStateException(
        s"localCheckpoint did not yield an RDD scan: ${other.nodeName}")
    }
  }
}
