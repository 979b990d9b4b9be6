package graft.streaming

import org.apache.spark.sql.SparkSession

/** Subscriber task dispatch — the per-message pipeline behind MQTT/NATS
  * subscriptions (reference mods/scheduler/sched_subs.go:220-310 and
  * mods/util/writepath.go). The container has no broker, so the broker
  * edge is a [[FileQueue]] (one file = one message); everything from the
  * message inward is the real dispatch path:
  *
  *   - task `*.tql` → run the TQL with the payload bound and
  *     TOPIC/MSGID/DUP/RETAIN params (doMqttTask:233-239);
  *   - task `db/append/<t>[:fmt[:compress]]` / `db/write/<t>…` → decode
  *     json/csv (gzip-aware) and ingest via the write door;
  *   - a failed TQL load/compile/run flips the entry FAILED then stops
  *     it (doTql:281-306).
  */
object Subscribers {

  // ---- util/writepath.go ------------------------------------------------

  final case class WritePath(table: String, format: String, compress: String)

  /** `<table>[:<format>[:<compress>]]` (ParseWritePath). */
  def parseWritePath(path: String): Either[String, WritePath] = {
    val toks = path.split(":", -1)
    if (toks.isEmpty || toks.length > 4) Left("invalid syntax")
    else Right(WritePath(
      toks(0).trim.toUpperCase,
      if (toks.length > 1) toks(1).trim.toLowerCase else "",
      if (toks.length > 2) toks(2).trim.toLowerCase else ""))
  }

  final case class WriteDescriptor(tqlPath: String = "", method: String = "",
                                   table: String = "", format: String = "",
                                   compress: String = "",
                                   timeformat: String = "ns", tz: String = "UTC",
                                   delimiter: String = ",", heading: Boolean = false) {
    def isTqlDestination: Boolean = tqlPath.nonEmpty
  }

  /** NewWriteDescriptor: task path + `?timeformat=&tz=&delimiter=&heading=`
    * query params; `.tql` suffix wins, else `db/append/…` or `db/write/…`. */
  def writeDescriptor(path: String): Either[String, WriteDescriptor] = {
    val (taskPath, query) = path.indexOf('?') match {
      case -1 => (path, "")
      case i => (path.take(i), path.drop(i + 1))
    }
    var wd = WriteDescriptor()
    for (kv <- query.split("&").filter(_.nonEmpty)) {
      val Array(k, v) = (kv.split("=", 2) ++ Array("")).take(2)
      k.toLowerCase match {
        case "timeformat" => wd = wd.copy(timeformat = v)
        case "tz" => wd = wd.copy(tz = v)
        case "delimiter" => wd = wd.copy(delimiter = v)
        case "heading" => wd = wd.copy(heading = v.equalsIgnoreCase("true"))
        case _ =>
      }
    }
    if (taskPath.endsWith(".tql")) Right(wd.copy(tqlPath = taskPath))
    else {
      val (method, rest) =
        if (taskPath.startsWith("db/append/")) ("append", taskPath.stripPrefix("db/append/"))
        else if (taskPath.startsWith("db/write/")) ("insert", taskPath.stripPrefix("db/write/"))
        else return Left(s"unsupported destination '$taskPath'")
      parseWritePath(rest).flatMap { wp =>
        val fmt = if (wp.format.isEmpty) "json" else wp.format
        if (fmt != "json" && fmt != "csv") Left(s"unsupported format '$fmt'")
        else if (wp.compress != "" && wp.compress != "-" && wp.compress != "gzip")
          Left(s"unsupported compression '${wp.compress}'")
        else Right(wd.copy(method = method, table = wp.table, format = fmt,
          compress = if (wp.compress == "-") "" else wp.compress))
      }
    }
  }

  // ---- per-message dispatch ----------------------------------------------

  final case class Reason(success: Boolean, reason: String)

  /** One broker message into one task execution. Stateless aside from
    * the entry whose state it drives. */
  final class Dispatcher(spark: SparkSession,
                         loader: graft.scheduler.Timers.TqlLoader,
                         entry: graft.scheduler.Timers.BaseEntry,
                         taskPath: String) {
    val wd: WriteDescriptor = writeDescriptor(taskPath)
      .fold(e => throw new IllegalArgumentException(e), identity)

    /** doMqttTask: TQL tasks get the MQTT metadata as params. */
    def dispatchMqtt(topic: String, payload: Array[Byte], msgId: Int,
                     dup: Boolean, retain: Boolean): Reason =
      if (wd.isTqlDestination)
        runTql(payload, Map(
          "TOPIC" -> Seq(topic), "MSGID" -> Seq(msgId.toString),
          "DUP" -> Seq(dup.toString), "RETAIN" -> Seq(retain.toString)))
      else ingest(payload)

    /** doNatsTask: headers pass through as params. */
    def dispatchNats(subject: String, payload: Array[Byte],
                     headers: Map[String, Seq[String]] = Map.empty): Reason =
      if (wd.isTqlDestination) runTql(payload, headers)
      else ingest(payload)

    private def runTql(payload: Array[Byte], params: Map[String, Seq[String]]): Reason =
      loader.load(wd.tqlPath) match {
        case Left(e) =>
          entry.setStateError(graft.scheduler.Timers.State.Failed, Some(e))
          entry.stop(); entry.setState(graft.scheduler.Timers.State.Stop)
          Reason(success = false, e)
        case Right(script) =>
          try {
            graft.tql.Compiler.run(spark, script, System.nanoTime(),
              params + ("payload" -> Seq(new String(payload, "UTF-8"))))
            Reason(success = true, "success")
          } catch {
            case e: Exception =>
              val msg = Option(e.getMessage).getOrElse(e.toString)
              entry.setStateError(graft.scheduler.Timers.State.Failed, Some(msg))
              entry.stop(); entry.setState(graft.scheduler.Timers.State.Stop)
              Reason(success = false, msg)
          }
      }

    private def ingest(payload: Array[Byte]): Reason =
      try {
        val contentType = if (wd.format == "csv") "text/csv" else "application/json"
        val params = Map("timeformat" -> wd.timeformat) ++
          (if (wd.compress == "gzip") Map("compress" -> "gzip") else Map.empty) ++
          (if (wd.heading) Map("heading" -> "true") else Map.empty)
        val n = graft.server.WriteDoor.write(spark, wd.table, payload, contentType, params)
        // the SCHEDULER subscriber reply shape (sched_subs.go:479-484,
        // 574-579): humanized count + singular/plural — distinct from the
        // write doors' "success, %d record(s) …" (http_write.go:248)
        val records = if (n > 1) "records" else "record"
        val verb = if (wd.method == "append") "appended" else "inserted"
        Reason(success = true,
          s"${String.format(java.util.Locale.US, "%,d", Long.box(n))} $records $verb")
      } catch {
        case e: Exception =>
          Reason(success = false, Option(e.getMessage).getOrElse(e.toString))
      }
  }

  // ---- file queue (the broker stand-in) -----------------------------------

  /** A directory as a message queue: each `*.msg` file is one message —
    * first line the topic, remainder the payload. `drain` dispatches in
    * name order and removes consumed files, returning the per-message
    * reasons. This is the spec harness for the dispatch path; a real
    * MQTT/NATS client calls the same Dispatcher per delivery. */
  final class FileQueue(dir: java.nio.file.Path) {
    def publish(topic: String, payload: String): java.nio.file.Path = {
      val seq = System.nanoTime()
      val f = dir.resolve(f"$seq%020d.msg")
      java.nio.file.Files.write(f, (topic + "\n" + payload).getBytes("UTF-8"))
      f
    }

    def drain(dispatcher: Dispatcher): Seq[Reason] = {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.toString.endsWith(".msg")).toSeq.sortBy(_.getFileName.toString)
      files.map { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val (topic, payload) = text.indexOf('\n') match {
          case -1 => (text, "")
          case i => (text.take(i), text.drop(i + 1))
        }
        val r = dispatcher.dispatchMqtt(topic, payload.getBytes("UTF-8"),
          msgId = 0, dup = false, retain = false)
        java.nio.file.Files.delete(f)
        r
      }
    }
  }

  // ---- THROTTLE pacing kernel ---------------------------------------------

  /** Streaming THROTTLE(tps): per-record pacing over an iterator with an
    * injectable clock/sleeper (reference fm_monad.go:240-271 — delay
    * each record so at most `tps` pass per second). Batch TQL compiles
    * THROTTLE to a no-op; a streaming micro-batch wraps its
    * per-partition iterator with this. */
  def paced[T](it: Iterator[T], tps: Double,
               nowNs: () => Long = () => System.nanoTime(),
               sleepNs: Long => Unit = ns => Thread.sleep(ns / 1000000L, (ns % 1000000L).toInt)): Iterator[T] = {
    require(tps > 0, s"THROTTLE tps must be positive: $tps")
    val intervalNs = (1e9 / tps).toLong
    var nextDue = nowNs()
    it.map { v =>
      val now = nowNs()
      if (now < nextDue) sleepNs(nextDue - now)
      nextDue = math.max(now, nextDue) + intervalNs
      v
    }
  }
}
