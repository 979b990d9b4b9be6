package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one runner for bounded gate streams: [[gate]] tails a batch
  * table's file as a stream, runs the caller's kernel into a memory sink
  * under AvailableNow and hands back the sink's rows; [[run]] owns the
  * ephemeral checkpoint of any bounded stream and records its
  * fixed-vs-kernel time split.
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
    * 60-80% of a small batch's wall time (r19 stream probe: 32 state
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

  /** Run a bounded gate stream over `batch`'s one input file: `body`
    * turns the tailed source (same schema as `batch`) into the sink
    * frame, which runs to completion in `mode` under AvailableNow into a
    * memory sink. Returns the sink's rows; the frame keeps its plan over
    * the sink, so callers project and order it as usual. The sink's temp
    * view is dropped and the checkpoint deleted on every exit, also when
    * `body` or the stream throws. */
  def gate(name: String, batch: DataFrame, mode: String)(
      body: DataFrame => DataFrame): DataFrame = {
    val s = batch.sparkSession
    val file = batch.inputFiles match {
      case Array(f) => f
      case fs => throw new IllegalArgumentException(
        s"$name: a gate stream tails one file, the batch frame reads ${fs.length}")
    }
    val sink = "gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      val out = body(graft.streaming.Watch.tail(s, file, batch.schema))
      run(name)(ck => out.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start())
      s.table(sink)
    } finally s.catalog.dropTempView(sink)
  }

  /** Start a bounded stream on a fresh ephemeral checkpoint under
    * [[ckRoot]] (`start` receives its path), wait for it to finish and
    * record its split under `name`. The checkpoint is deleted after,
    * also when the stream fails or the wait is interrupted (a stream
    * still running then is stopped first). */
  def run(name: String)(start: String => StreamingQuery): Unit = {
    val ck = s"$ckRoot/${java.util.UUID.randomUUID()}"
    var q: StreamingQuery = null
    try {
      val t0 = System.nanoTime()
      q = start(ck)
      q.awaitTermination()
      record(name, q, t0)
    } finally {
      if (q != null && q.isActive) q.stop()
      graft.core.TempDirs.rmTree(ck)
    }
  }

  /** Keep 10k progress updates per stream in `s`, so [[lastSplit]]'s
    * sum over `recentProgress` does not silently drop early
    * micro-batches of long runs. For the sessions that report the split
    * (Bench, Profile): ordinary sessions keep Spark's default of 100,
    * as retaining 10k progress objects per stream is avoidable driver
    * overhead. */
  def retainProgress(s: SparkSession): Unit =
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

  private def record(name: String, q: StreamingQuery, t0: Long): Unit = {
    val totalSec = (System.nanoTime() - t0) / 1e9
    val kernelSec = q.recentProgress.iterator.map { p =>
      Option(p.durationMs.get("addBatch")).fold(0L)(_.longValue)
    }.sum / 1e3
    lastSplit.put(name,
      (math.max(0.0, totalSec - kernelSec), math.min(kernelSec, totalSec)))
  }
}
