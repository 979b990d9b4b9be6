package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
