package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the single-threaded replay. Spans come from the
  * benchmark's own calls into each layer; Spark jobs, stages, tasks and
  * Catalyst phases come from Spark's listeners. The replay drains the
  * listener bus after every operation, so each event belongs to the
  * operation that was current when it was delivered. Times are epoch ns
  * so they line up with Spark's epoch-ms event times. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Job]
  val phases = ArrayBuffer.empty[Interval]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stages = ArrayBuffer.empty[Int] // op of each completed stage
  private val stageSubmitMs = scala.collection.mutable.HashMap.empty[Int, Long]
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
  @volatile private var op = -1
  private var open: List[Int] = Nil

  /** Time spent in [[aside]] blocks, which belong to no span. */
  var asideNs = 0L
  def aside[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally asideNs += System.nanoTime() - t0
  }

  /** Open a span around `body`; nested calls become its children. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(name, now(), 0L, open.headOption.getOrElse(-1), op)
    open = id :: open
    try body finally {
      spans(id) = spans(id).copy(endNs = now())
      open = open.tail
    }
  }

  /** Run one operation as a root span; events it causes are its own. */
  def operation[T](index: Int, cls: String)(body: => T): T = {
    op = index
    try span("op:" + cls)(body)
    finally org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
  }

  /** Catalyst phases of a plan executed outside a Dataset action (the
    * sweep's `toRdd.count()`), which the execution listener never sees. */
  def phasesOf(qe: QueryExecution): Unit = synchronized {
    if (seenQe.add(qe)) qe.tracker.phases.foreach { case (name, p) =>
      phases += Interval(op, "catalyst." + name, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val resolve = e.stageInfos.exists(_.details.contains("graft.core.Tables$.load"))
      jobs += Job(op, e.jobId, e.time * 1000000L, Long.MaxValue, resolve)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(endNs = e.time * 1000000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stages += op
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val wait = stageSubmitMs.get(e.stageId).map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
        tasks += TaskRec(op, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime, wait,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phasesOf(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phasesOf(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Trace {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int)
  final case class Interval(op: Int, name: String, startNs: Long, endNs: Long)
  final case class Job(op: Int, id: Int, startNs: Long, endNs: Long, tableResolve: Boolean)
  final case class TaskRec(op: Int, runMs: Long, cpuMs: Long, gcMs: Long, waitMs: Long,
                           shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer figures of one replay. Layer spans are the direct
    * children of each operation's root span. A derived interval (a Spark
    * job or a Catalyst phase) belongs to the layer span that holds its
    * midpoint; a layer's self time is its span minus what its derived
    * intervals cover. `other_ms` is root time covered by neither. Time
    * figures are per operation (total ÷ operations); counts are totals. */
  def layers(t: Trace, ops: Int, cores: Int): Map[String, Double] = {
    val ms = 1e6
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val roots = t.spans.zipWithIndex.filter(_._1.parent < 0).toSeq
    val jobsDone = t.jobs.filter(_.endNs != Long.MaxValue).toSeq
    for ((root, rid) <- roots) {
      val kids = t.spans.filter(_.parent == rid).toSeq
      val derived: Seq[(String, Long, Long)] =
        jobsDone.filter(_.op == root.op).map(j => ("job", j.startNs, j.endNs)).toSeq ++
          t.phases.filter(_.op == root.op).map(p => (p.name, p.startNs, p.endNs)).toSeq
      def owner(s: Long, e: Long): Option[Span] = {
        val mid = s / 2 + e / 2
        kids.find(k => mid >= k.startNs && mid <= k.endNs)
      }
      val byKid = derived.groupBy { case (_, s, e) => owner(s, e) }
      for (k <- kids) {
        val inner = byKid.getOrElse(Some(k), Nil).map { case (_, s, e) => (s, e) }
        val dur = k.endNs - k.startNs
        val self = dur - covered(inner, k.startNs, k.endNs)
        k.name match {
          case "queries.build" =>
            add("queries.build_ms", dur / ms)
            add("queries.build_jobs", byKid.getOrElse(Some(k), Nil).count(_._1 == "job"))
          case n => add(n + "_ms", self / ms)
        }
      }
      val atRoot = byKid.getOrElse(None, Nil).map { case (_, s, e) => (s, e) }
      val cover = covered(kids.map(k => (k.startNs, k.endNs)) ++ atRoot, root.startNs, root.endNs)
      add("other_ms", (root.endNs - root.startNs - cover) / ms)
      val opJobs = jobsDone.filter(_.op == root.op)
      add("exec.wall_ms", covered(opJobs.map(j => (j.startNs, j.endNs))) / ms)
      add("core.table_resolve_ms",
        covered(opJobs.filter(_.tableResolve).map(j => (j.startNs, j.endNs))) / ms)
    }
    t.phases.foreach(p => add(p.name + "_ms", (p.endNs - p.startNs) / ms))
    val perOp = out.map { case (k, v) => k -> (if (k.endsWith("_ms")) v / ops else v) }
    val mb = 1024.0 * 1024.0
    val taskRun = t.tasks.map(_.runMs).sum.toDouble
    val jobWallMs = perOp.getOrElse("exec.wall_ms", 0.0) * ops
    perOp.toMap ++ Map(
      "core.table_resolve_jobs" -> t.jobs.count(_.tableResolve).toDouble,
      "exec.jobs" -> t.jobs.size.toDouble,
      "exec.stages" -> t.stages.size.toDouble,
      "exec.tasks" -> t.tasks.size.toDouble,
      "exec.task_run_ms" -> taskRun / ops,
      "exec.task_cpu_ms" -> t.tasks.map(_.cpuMs).sum.toDouble / ops,
      "exec.sched_wait_ms" -> t.tasks.map(_.waitMs).sum.toDouble / ops,
      "exec.task_gc_ms" -> t.tasks.map(_.gcMs).sum.toDouble / ops,
      "exec.shuffle_read_mb" -> t.tasks.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> t.tasks.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> t.tasks.map(_.spill).sum / mb,
      "exec.core_util" -> (if (jobWallMs > 0) taskRun / (jobWallMs * cores) else 0.0))
  }
}
