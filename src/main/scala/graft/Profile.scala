package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._
import graft.core.{Codegen, PlanShape}
import graft.queries.StreamRun

/** Dev profiler: times named gate queries best-of-`runs` at `sfDir`,
  * executing each plan the way Bench does (`toRdd.count()`: `df.count()`
  * would rewrite it into a count aggregate), and prints per query
  *  - `q_x best=… runs=a,b,c` (dev/bench_sf1.sh parses this line);
  *  - the executed plan's [[graft.core.PlanShape]];
  *  - for the best run: build time (the builder, including any eager
  *    driver jobs) against execution time, the job, stage and task
  *    counts, and every stage whose tasks ran over 20 ms in total;
  *  - for streaming gates: StreamRun's fixed-vs-kernel split and each
  *    micro-batch's `durationMs` buckets;
  *  - per run, `codegen compiles=N ms=M`: the classes the build and
  *    execution compiled. A repeat run should compile none.
  * Writes nothing, so it never disturbs Bench's records.
  *
  * Usage: `sbt "runMain graft.Profile <sfDir> <runs> q_a [q_b …]"`,
  * on `SPARK_GRAFT_CPUS` cores (default 4). */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <sfDir> <runs> q_a [q_b ...]")
    val spark = graft.core.Sessions.local()
    StreamRun.retainProgress(spark)
    try run(spark, args(0), args(1).toInt, args.drop(2).toSeq, println)
    finally spark.stop()
  }

  private final case class Run(sec: Double, buildSec: Double, jobs: Int,
                               stages: Seq[StageInfo],
                               splits: Map[String, (Double, Double)],
                               batches: Seq[StreamingQueryProgress],
                               codegen: Codegen.Counts)

  /** Profile `names` at `dir`, `runs` runs each, writing lines to `out`.
    * Every name is checked before anything runs. */
  def run(spark: SparkSession, dir: String, runs: Int, names: Seq[String],
          out: String => Unit): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")}; " +
      s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var df: DataFrame = null
      val rs = (1 to runs).map { _ =>
        jobs.set(0); stages.clear(); batches.clear(); StreamRun.lastSplit.clear()
        val c0 = Codegen.counts
        val t0 = System.nanoTime()
        df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        ListenerBus.drain(sc)
        Run((t2 - t0) / 1e9, (t1 - t0) / 1e9, jobs.get, stages.asScala.toSeq,
          StreamRun.lastSplit.toMap, batches.asScala.toSeq, Codegen.counts - c0)
      }
      val best = rs.minBy(_.sec)
      out(f"$name%-22s best=${best.sec}%.3f  runs=${rs.map(r => f"${r.sec}%.2f").mkString(",")}")
      out(s"  shape ${PlanShape.of(df).json}")
      rs.zipWithIndex.foreach { case (r, i) =>
        out(f"  codegen compiles=${r.codegen.compiles} ms=${r.codegen.ms}%.1f (run ${i + 1})")
      }
      out(f"  build=${best.buildSec}%.3f exec=${best.sec - best.buildSec}%.3f")
      out(s"  jobs=${best.jobs} stages=${best.stages.size} tasks=${best.stages.map(_.numTasks).sum}")
      best.stages.sortBy(_.stageId).foreach { si =>
        val m = si.taskMetrics
        if (m.executorRunTime > 20)
          out(f"  stage ${si.stageId}%4d run=${m.executorRunTime / 1e3}%6.2f " +
            f"cpu=${m.executorCpuTime / 1e9}%6.2f tasks=${si.numTasks}%4d  ${si.name.take(60)}")
      }
      best.splits.toSeq.sortBy(_._1).foreach { case (gate, (fixed, kernel)) =>
        out(f"  stream $gate fixed=$fixed%.3f kernel=$kernel%.3f")
      }
      best.batches.foreach { p =>
        val ms = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(",")
        out(s"  batch ${p.batchId}: rows=${p.numInputRows} durationMs=$ms")
      }
    } finally {
      spark.streams.removeListener(streamListener)
      sc.removeSparkListener(jobListener)
    }
  }
}
