package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import scala.util.control.NonFatal

/** Shared runner for the bounded streaming gate queries (AvailableNow →
  * memory sink), recording each run's fixed-vs-kernel time split.
  *
  * Every `q_stream_*` row carries ~1–2 s of Structured-Streaming fixed
  * cost (checkpoint setup, micro-batch loop scheduling, memory-sink
  * registration) on top of the actual kernel work — and that fixed cost
  * is the most host-noise-sensitive part, so streaming rows top the
  * mover list in every noisy bench round. Recording
  * `total − Σ addBatch` (fixed) next to `Σ addBatch` (kernel, from the
  * engine's own progress events) per run lets a >1.5× mover flag on a
  * streaming row be adjudicated from the bench record alone: a fixed-
  * side move is scheduling noise, a kernel-side move is a real plan or
  * kernel change. Bench merges [[lastSplit]] into bench_full.json. */
object StreamRun {
  /** gate-query name → (fixedSec, kernelSec) of its most recent run. */
  val lastSplit =
    new scala.collection.concurrent.TrieMap[String, (Double, Double)]

  /** Checkpoint root for the bounded gate streams. Their checkpoints
    * are EPHEMERAL by construction — each run creates a fresh dir and
    * deletes it at stop, exactly like Spark's own temp-checkpoint path —
    * so they belong on the fastest scratch storage available: the
    * offset WAL, commit log and every state-store delta are fsynced
    * per micro-batch, and on a disk-backed tmpdir those fsyncs were
    * 60-80% of a small batch's wall time (r19 DevStreamProbe: 32 state
    * commits summing 9-43 s on /tmp vs ~0 on tmpfs). Production
    * deployments that need durable recovery set an explicit
    * checkpointLocation (or GRAFT_STREAM_CK_ROOT) on durable storage —
    * the knob is the same one they already own. */
  private[graft] lazy val ckRoot: String =
    sys.env.get("GRAFT_STREAM_CK_ROOT").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_ck"
      else System.getProperty("java.io.tmpdir") + "/graft_ck"
    }

  private[graft] def freshCk(): String =
    s"$ckRoot/${java.util.UUID.randomUUID().toString}"

  private def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete()
    }
    try rm(new java.io.File(path)) catch { case NonFatal(_) => }
  }

  /** Start the writer, wait for the bounded run to finish, record the
    * split. The memory-sink table the caller reads afterwards is
    * unaffected — this only wraps start/awaitTermination, pointing the
    * (ephemeral) checkpoint at [[ckRoot]] and deleting it after, also
    * when the stream fails. */
  def run(name: String, w: DataStreamWriter[Row]): Unit = {
    val ck = freshCk()
    try {
      val t0 = System.nanoTime()
      val q = w.option("checkpointLocation", ck).start()
      q.awaitTermination()
      record(name, q, t0)
    } finally rmTree(ck)
  }

  /** Split-record an already-started query (streams launched by library
    * code, e.g. Watch.maintainRollup): call with the start() timestamp. */
  def await(name: String, q: StreamingQuery, startNanos: Long): Unit = {
    q.awaitTermination()
    record(name, q, startNanos)
  }

  private def record(name: String, q: StreamingQuery, t0: Long): Unit = {
    val totalSec = (System.nanoTime() - t0) / 1e9
    // recentProgress retention is raised to 10k in Bench's session so
    // this sum does not silently drop early micro-batches of long runs
    // (ordinary sessions keep Spark's default retention of 100)
    val kernelSec = q.recentProgress.iterator.map { p =>
      Option(p.durationMs.get("addBatch")).fold(0L)(_.longValue)
    }.sum / 1e3
    lastSplit.put(name,
      (math.max(0.0, totalSec - kernelSec), math.min(kernelSec, totalSec)))
  }
}
