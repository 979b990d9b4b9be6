package graft

import java.nio.file.{Files, Paths}

/** Dev-only: write `.explain("formatted")` for the named queries to
  * plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
  * files (the judge reads these instead of running Spark). Also appends
  * the AQE-final executed plan (the formatted explain shows the
  * pre-execution plan; the executed one carries the real join
  * strategies and coalesced exchanges).
  *
  * Usage: sbt "runMain graft.PlanDump <tag> <suffix> q_a q_b ..."
  *   e.g.  sbt "runMain graft.PlanDump r18 before q_calibrated_mixture"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> q_a [q_b ...]")
    val tag = args(0); val suffix = args(1); val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Sessions.local(cpus)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    for (name <- names) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.toRdd.count() // settle AQE on the real plan
      val sec = (System.nanoTime() - t0) / 1e9
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==")(0)
      val nBc = "BroadcastExchange".r.findAllMatchIn(executed).length
      val nEx = "Exchange".r.findAllMatchIn(executed).length - nBc
      val body =
        s"== $name ($suffix) — $dir, run ${f"$sec%.2f"}s, " +
          s"executed-plan shuffles=$nEx broadcasts=$nBc ==\n\n" +
          formatted + "\n\n== AQE-final executed plan ==\n\n" + executed + "\n"
      Files.write(outDir.resolve(s"${name.stripPrefix("q_")}_$suffix.txt"),
        body.getBytes("UTF-8"))
      println(f"[plandump] $name%-28s ${sec}%7.2f s  shuffles=$nEx broadcasts=$nBc")
    }
    spark.stop()
  }
}
