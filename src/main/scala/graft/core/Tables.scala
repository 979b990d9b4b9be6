package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The engine's table catalog over the driver-provided parquet star
  * schema (TESTDATA.md) and any other parquet path it reads whole.
  *
  * A table is catalog metadata, resolved once: the first read of a path
  * in a session runs `spark.read.parquet` — its file listing and its
  * schema-inference job — and keeps the analyzed `LogicalRelation`.
  * Every later read of that path in that session is a frame over
  * `relation.newInstance()` (fresh attribute ids, so two reads of one
  * table self-join unambiguously) and starts no Spark job.
  *   - Lifetime: one entry per (session, qualified path). Sessions never
  *     share a relation; entries of a session whose SparkContext has
  *     stopped are dropped when another session first reads.
  *   - Invalidation: each read lists the path's files (names, lengths,
  *     modification times); a listing that differs from the one the
  *     entry was resolved against — a rewrite, an added or removed
  *     file — resolves the path again.
  *   - Metadata only: the catalog holds no rows. Every query still plans
  *     its own scan, so column pruning and filter pushdown reach the
  *     parquet reader and every run reads the data.
  * Thread-safe: the `/db` request pool and concurrent builders share it;
  * a path resolves once per listing even when many threads read it at
  * once. At 100 TB these would be catalog tables over time/key-
  * partitioned parquet/Delta; the invalidation key would be the table
  * version instead of a listing. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** How many reads resolved a path and how many reused an entry. */
  final case class Counts(resolved: Long, reused: Long)

  /** A resolved relation and the file listing it was resolved against. */
  private final case class Entry(files: Vector[(String, Long, Long)], relation: LogicalRelation)
  /** One path's entry; its monitor makes resolution once per listing. */
  private final class Slot { var entry: Option[Entry] = None }

  private val sessions = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Slot]]()
  private val resolvedN = new AtomicLong
  private val reusedN = new AtomicLong

  def counts: Counts = Counts(resolvedN.get, reusedN.get)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** The parquet table at `path`, through the catalog. */
  def read(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.graft.Frames.ofPlan(spark, relation(spark, path))

  /** The analyzed relation of the parquet table at `path`, with fresh
    * attribute ids — for plan rewrites that splice a table in. */
  def relation(spark: SparkSession, path: String): LogicalPlan = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = listing(fs, p)
    val slot = slotsOf(spark).computeIfAbsent(fs.makeQualified(p).toString, _ => new Slot)
    val rel = slot.synchronized {
      slot.entry match {
        case Some(e) if e.files == files => reusedN.incrementAndGet(); e.relation
        case _ =>
          val r = resolve(spark, path)
          slot.entry = Some(Entry(files, r))
          resolvedN.incrementAndGet()
          r
      }
    }
    rel.newInstance()
  }

  /** Register every table as a temp view (idempotent) for SQL-surface use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  private def slotsOf(spark: SparkSession): ConcurrentHashMap[String, Slot] = {
    val mine = sessions.get(spark)
    if (mine != null) mine
    else {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Slot]())
    }
  }

  /** Every file under `p` (or `p` itself), sorted; empty if absent. */
  private def listing(fs: FileSystem, p: Path): Vector[(String, Long, Long)] = {
    val b = Vector.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => }
    b.result().sortBy(_._1)
  }

  /** One `spark.read.parquet`: the listing and the schema-inference job
    * (a missing or unreadable path throws Spark's own error here). */
  private def resolve(spark: SparkSession, path: String): LogicalRelation =
    spark.read.parquet(path).queryExecution.analyzed match {
      case r: LogicalRelation => r
      case other => throw new IllegalStateException(
        s"parquet read did not resolve to a relation: ${other.nodeName}")
    }
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
