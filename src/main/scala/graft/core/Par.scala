package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Partitioning, and the one owner of checkpoint blocks, for the
  * iterative kernels.
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
  * A kernel that reads a relation more than once cuts its lineage with
  * an eager local checkpoint, so each pass plans over a bare RDD scan.
  * The blocks' lifetime is one of four forms, and no caller checkpoints,
  * persists or frees a relation itself: [[within]] (read inside one
  * body), [[through]] (the same, for a body that returns a frame),
  * [[rolling]] (rounds that each read the one before) and [[keep]] (a
  * frame that outlives its method). A local checkpoint is not
  * recomputable, so nothing may read a scope's frame once the scope has
  * freed it; `within` and `rolling` check that for the frame a body
  * returns. No session conf is read or written. */
object Par {
  def expand(df: DataFrame, by: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df.repartition(par)
    else if (df.rdd.getNumPartitions < par) df.repartition(par, by: _*)
    else df
  }

  /** Checkpoint `df`, run `body` over the scan and free the blocks on
    * every exit (return, `require` failure or exception). For a body
    * that returns driver data: one that returns a frame over the scan
    * fails here rather than hand out freed blocks (use [[through]]). */
  def within[A](df: DataFrame)(body: DataFrame => A): A = {
    val cp = materialize(df)
    try body(cp.df) match {
      case out: Dataset[_] if cp.readBy(out) => throw new IllegalStateException(
        "Par.within: the body returned a frame over the scan it frees; use Par.through")
      case out => out
    } finally cp.close()
  }

  /** [[within]] for a body that returns a frame: the frame is
    * checkpointed ([[keep]]) before the input's blocks are freed. */
  def through(df: DataFrame)(body: DataFrame => DataFrame): DataFrame =
    within(df)(d => keep(body(d)))

  /** Checkpoint a frame that outlives its method: a returned frame, or a
    * static side a stream re-reads every micro-batch. The caller owns the
    * blocks; the ContextCleaner frees them once the frame is unreachable.
    * Nothing enters the session's cache, so no other query plans over it. */
  def keep(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Rounds that each read the one before: `body` runs the loop and
    * checkpoints each round with [[Rounds.cut]], which frees the round
    * before, so one round is live at a time. On return the live round
    * stays only if the returned frame reads it (it then backs the result
    * and the caller owns it); otherwise, and on any failure, it is freed. */
  def rolling(body: Rounds => DataFrame): DataFrame = {
    val rounds = new Rounds
    val out = try body(rounds) catch { case e: Throwable => rounds.free(); throw e }
    if (!rounds.live.exists(_.readBy(out))) rounds.free()
    out
  }

  final class Rounds private[Par] {
    private[Par] var live: Option[Checkpoint] = None

    /** Checkpoint `df` as the live round, free the round before, and
      * return the new round's scan. */
    def cut(df: DataFrame): DataFrame = cut(df, _ => ())._1

    /** [[cut]] with a `check` of the new round that runs while the round
      * before is still readable (a convergence test against it). */
    def cut[A](df: DataFrame, check: DataFrame => A): (DataFrame, A) = {
      val prev = live
      live = Some(materialize(df))
      try (live.get.df, check(live.get.df)) finally prev.foreach(_.close())
    }

    private[Par] def free(): Unit = { live.foreach(_.close()); live = None }
  }

  /** One eager local checkpoint: `df` reads it as a bare RDD scan;
    * `close()` frees the blocks of exactly the RDD this handle created
    * (without `RDD.unpersist`'s per-call "cannot be recomputed" WARN —
    * not being recomputable is this handle's contract). */
  private[graft] final class Checkpoint private[Par] (val df: DataFrame, rdd: RDD[_])
      extends AutoCloseable {
    def close(): Unit = org.apache.spark.sql.graft.RddBlocks.free(rdd)

    private[Par] def readBy(d: Dataset[_]): Boolean =
      d.queryExecution.logical.collectWithSubqueries {
        case l: LogicalRDD if l.rdd eq rdd => l
      }.nonEmpty
  }

  private[graft] def materialize(df: DataFrame): Checkpoint = {
    val cp = df.localCheckpoint(eager = true)
    cp.queryExecution.logical match {
      case l: LogicalRDD => new Checkpoint(cp, l.rdd)
      case other => throw new IllegalStateException(
        s"localCheckpoint did not yield an RDD scan: ${other.nodeName}")
    }
  }
}
