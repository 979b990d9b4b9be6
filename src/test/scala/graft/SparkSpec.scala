package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite, graft defaults. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.Sessions.local(cores = 4)
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Stop a streaming query without the abort noise: cancelling a
    * ProcessingTimeTimeout stream routinely interrupts a state-store
    * commit mid-batch, and the cancelled tasks log ERROR
    * (CANNOT_WRITE_STATE_STORE / "Aborting task") even though the stop
    * is clean. Silence the log for the stop window only — assertion
    * failures, not logs, are what these suites check. */
  protected def stopQuietly(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val sc = spark.sparkContext
    sc.setLogLevel("OFF")
    try { q.stop(); Thread.sleep(200) }
    finally sc.setLogLevel("WARN")
  }

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A fresh `prefix` temp dir, deleted with everything under it when
    * the suite closes. */
  protected def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    temps.add(d)
    d
  }

  /** A fresh temp file, deleted when the suite closes. */
  protected def tempFile(prefix: String, suffix: String): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile(prefix, suffix)
    temps.add(f.toString)
    f
  }

  /** Streams a suite leaves running would still be alive at JVM exit and
    * race the executor teardown (a spurious INTERNAL_ERROR one second
    * before "Run completed"); stop them when the suite closes, then
    * delete its temp dirs and files (the streams may still write into
    * them until they stop). Uses the default session so a suite that
    * never touched `spark` doesn't build one here. */
  override protected def afterAll(): Unit = {
    try {
      SparkSession.getDefaultSession.foreach { s =>
        val active = s.streams.active
        if (active.nonEmpty) {
          s.sparkContext.setLogLevel("OFF")
          try {
            active.foreach(q => scala.util.Try(q.stop()))
            Thread.sleep(200)
          } finally s.sparkContext.setLogLevel("WARN")
        }
      }
    } finally {
      temps.forEach(d => graft.core.TempDirs.rmTree(d))
      temps.clear()
      super.afterAll()
    }
  }

  /** One request through the server's route table, without a socket;
    * `query` is %-encoded into the raw query string. */
  protected def webRoute(method: String, path: String,
                         query: Map[String, Seq[String]] = Map.empty,
                         body: String = ""): graft.server.WebApi.HttpReply = {
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val raw = query.toSeq.flatMap { case (k, vs) => vs.map(v => s"${enc(k)}=${enc(v)}") }
    graft.server.WebRoutes.route(spark, graft.server.WebRoutes.Request(method, path,
      raw.mkString("&"), Map.empty, body.getBytes("UTF-8")))
  }

  /** Sink output with the encoder-Close blank line trimmed: the CSV and
    * NDJSON encoders terminate the wire body with one extra newline
    * (reference csv_encode.go / ndjson/encode.go Close — the exact wire
    * bytes are pinned in CodecBatterySpec). The goldens in these suites
    * were ported as row text, so they compare the trimmed body. */
  protected def trimClose(s: String): String =
    if (s.endsWith("\n\n")) s.dropRight(1) else if (s == "\n") "" else s

  protected def runTrim(script: String): String =
    trimClose(graft.tql.Compiler.run(spark, script))
  protected def runTrim(script: String, nowNs: Long): String =
    trimClose(graft.tql.Compiler.run(spark, script, nowNs))
  protected def runTrim(script: String, nowNs: Long,
                        params: Map[String, Seq[String]]): String =
    trimClose(graft.tql.Compiler.run(spark, script, nowNs, params))
}
