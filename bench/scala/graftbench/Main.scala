package graftbench

import java.lang.management.ManagementFactory
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import graft.server.{HttpLoop, QueryDoor, TagTables}

/** One benchmark run in a fresh JVM: draw the oracle facts of the fixed
  * data set, set up three times (the median is `setup_s`), warm up, run
  * the fixed list of timed operations with tracing off, check every reply,
  * settle the heap, and with `--trace 1` replay the list in process on one
  * thread through the layers' public functions. Prints a `GRAFTBENCH_REPORT`
  * line and a `GRAFTBENCH_RESULT` line, both JSON. `--workload generate`
  * only writes the data set to `--data`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, data: String)

  /** Outcome of one operation; reply bodies are hashed, not kept. */
  final case class Done(status: Int, startNs: Long, endNs: Long, hash: String, bytes: Long,
                        error: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
    def ok: Boolean = error.isEmpty
  }

  val SetupReps = 3
  /** `local[4]`: one Spark task slot per core of the 4-core reference host */
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("data"))
    val code = try { run(a); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  def session(a: Args): SparkSession = {
    val s = graft.core.Sessions.configure(SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Sessions.installRules(s)
  }

  def run(a: Args): Unit = {
    val spark = session(a)
    val dataDir = a.data
    if (a.workload == "generate") { Data.generate(Some(spark), dataDir); return }
    val w: Workload = a.workload match {
      case "serving_read" => new ServingRead(spark, a, dataDir)
      case "analytics_sweep" => new AnalyticsSweep(spark, a, dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    // the Facts arrays are only reachable during plan(), so the heap
    // figure does not count them
    w.plan(Data.generate(None, dataDir))
    val genS = (System.nanoTime() - g0) / 1e9

    val setups = (0 until SetupReps).map { rep =>
      if (rep > 0) w.teardown(rep - 1)
      val t0 = System.nanoTime()
      graft.core.Tables.registerAll(spark, dataDir)
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    val warmed = w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val ops = w.timed
    val t0 = System.nanoTime()
    val done = w.execute()
    val wallS = (System.nanoTime() - t0) / 1e9
    val checked = Checks.verify(ops, done)
    val h0 = System.nanoTime()
    val heap = Heap.liveMb(spark)
    val heapS = (System.nanoTime() - h0) / 1e9

    // a burst of host load in one segment moves the medians little
    val segs = Stats.split(checked, w.segments)
    val segRates = segs.map(d => d.size / ((d.map(_.endNs).max - d.map(_.startNs).min) / 1e9))
    val segLatMs = segs.map(d => Checks.latencies(d).sum / d.size)
    val lat = Checks.latencies(checked)
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setups), "s"),
      "ops_per_s" -> (Stats.median(segRates), "1/s"),
      "latency_ms" -> (Stats.median(segLatMs), "ms"),
      "heap_live_mb" -> (heap, "MB"))
    var failures = checked.zip(ops).zipWithIndex.collect {
      case ((d, r), i) if !d.ok => s"#$i ${r.cls}: ${d.error.get}"
    }
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "ops" -> ops.size,
      "digest" -> Checks.digest(ops, checked), "wall_s" -> wallS, "generate_s" -> genS,
      "heap_settle_s" -> heapS, "setup_reps_s" -> setups, "warmup_s" -> warmS,
      "warmup_ms" -> w.warmList.zip(warmed).map { case (r, d) => s"${r.cls} ${d.ms.round}" },
      "segment_ops_per_s" -> segRates, "latency_p50_ms" -> Stats.pct(lat, 50),
      "latency_p90_ms" -> Stats.pct(lat, 90),
      "classes" -> Checks.perClass(ops, checked))

    var replayed = 0
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val r = w.replay(checked)
        replayed = r.ops
        failures ++= r.failures
        val untraced = Map(
          "untraced.ops_per_s" -> e2e("ops_per_s")._1,
          "untraced.latency_ms" -> e2e("latency_ms")._1,
          "untraced.latency_p90_ms" -> Stats.pct(lat, 90))
        Layers.declared.map { case (k, u) => (k, r.metrics.getOrElse(k, untraced.getOrElse(k, 0.0)), u) }
      }
    report("failures") = failures.take(10)
    val attempted = ops.size + replayed
    println("GRAFTBENCH_REPORT " + Json.obj(report.toSeq))
    println("GRAFTBENCH_RESULT " + Json.obj(Seq(
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}

/** Per-layer metrics of a traced replay, the replies that failed or
  * differ from the untraced pass, and how many operations it replayed. */
final case class Replay(metrics: Map[String, Double], failures: Seq[String], ops: Int)

/** A workload: its fixed list, its setup and its two ways to execute. */
abstract class Workload(val spark: SparkSession, val a: Main.Args, val dataDir: String) {
  /** Build the timed and warm-up lists (and oracles) from the facts. */
  def plan(f: Data.Facts): Unit
  /** Create and preload this workload's tables; the caller registers
    * the views before and times both. */
  def setup(rep: Int): Unit
  def teardown(rep: Int): Unit
  /** A fixed list of operations before the timed ones. */
  def warmUp(): Vector[Main.Done]
  def warmList: Vector[Req]
  def timed: Vector[Req]
  def execute(): Vector[Main.Done]
  /** The timed list runs as this many consecutive segments. */
  def segments: Int = 1
  /** Traced single-threaded replay of `timed`; returns layer metrics and
    * replies that differ from the untraced pass. */
  def replay(untraced: Vector[Main.Done]): Replay

  lazy val port: Int = HttpLoop.ensureServer(spark)
  lazy val inProc = new InProc(spark, dataDir)

  /** Run `reqs` one after another over one HTTP client. */
  def sequential(reqs: Seq[Req]): Vector[Main.Done] = {
    val c = Http.client()
    reqs.map(r => Http.send(c, port, r)).toVector
  }

  /** Closed loop: client c sends ops c, c+n, c+2n, … one at a time. */
  def closedLoop(reqs: Vector[Req], clients: Int): Vector[Main.Done] = {
    val out = new Array[Main.Done](reqs.size)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val hc = Http.client()
        var i = c
        while (i < reqs.size) { out(i) = Http.send(hc, port, reqs(i)); i += clients }
      }, s"client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.toVector
  }

  /** The traced replay: `prepare` resets state, then every op runs in
    * list order through [[InProc]], one operation span each. */
  def tracedReplay(ops: Vector[Req], untraced: Vector[Main.Done], prepare: () => Unit): Replay = {
    prepare()
    val t = new Trace(spark)
    val sc = spark.sparkContext
    val gc0 = Jvm.gcMs(); val cpu0 = Jvm.cpuMs()
    t.start()
    val mb = 1024.0 * 1024.0
    var live = 0.0
    val t0 = System.nanoTime()
    val replies = ops.zipWithIndex.map { case (r, i) =>
      inProc.parseAside(r, t)
      val d = t.operation(i, r.cls)(inProc.run(r, Some(t)))
      live += sc.getRDDStorageInfo.map(x => x.memSize + x.diskSize).sum / mb
      d
    }
    val wallS = (System.nanoTime() - t0) / 1e9 - t.asideNs / 1e9
    t.stop()
    val checked = Checks.verify(ops, replies)
    val mismatches = ops.indices.collect {
      case i if !checked(i).ok => s"replay #$i ${ops(i).cls}: ${checked(i).error.get}"
      case i if checked(i).hash != untraced(i).hash || checked(i).status != untraced(i).status =>
        s"replay #$i ${ops(i).cls}: reply differs from the HTTP reply"
    }
    val roots = t.spans.filter(_.parent < 0)
    val rootMs = roots.map(s => (s.endNs - s.startNs) / 1e6).toSeq
    val n = ops.size
    val waits = ops.indices.filter(i => ops(i).kind != Req.Build)
      .map(i => untraced(i).ms - rootMs(i))
    val layers = Trace.layers(t, n, Main.Cores)
    // Compiler.compile parses the script itself; the parse is timed on its
    // own outside the operation and taken out of the compile self time
    val parseMs = t.asideNs / 1e6 / n
    Replay(layers ++ inProc.counters ++ Map(
      "tql.parse_ms" -> parseMs,
      "tql.compile_ms" -> math.max(0.0, layers.getOrElse("tql.compile_ms", 0.0) - parseMs),
      "server.http_wait_ms" -> (if (waits.isEmpty) 0.0 else Stats.median(waits)),
      "exec.live_blocks_mb" -> live / n,
      "jvm.gc_ms" -> (Jvm.gcMs() - gc0) / n,
      "jvm.process_cpu_ms" -> (Jvm.cpuMs() - cpu0) / n,
      "trace.ops_per_s" -> n / wallS,
      "trace.latency_ms" -> rootMs.sum / n), mismatches, n)
  }
}

final class ServingRead(spark: SparkSession, a: Main.Args, dir: String) extends Workload(spark, a, dir) {
  val Clients = 4
  val PreloadBatches = 8
  private var ops = Vector.empty[Req]
  private var warm = Vector.empty[Req]
  private var tags: TagBatches = _
  private var lastPreload = Vector.empty[Main.Done]
  def table(rep: Int) = s"bench_static_$rep"
  def preload(rep: Int): Vector[Req] = TagBatches.writes(tags, table(rep))
  def timed: Vector[Req] = ops

  /** Timed segments of one block of the mix (20 requests) each. */
  override val segments: Int = math.max(5, math.round(a.seconds / 5.0).toInt)

  def plan(f: Data.Facts): Unit = {
    tags = new TagBatches(a.seed, PreloadBatches)
    ops = Serving.requests(a.seed, segments, f, table(Main.SetupReps - 1), tags)
    // one block of the mix with other parameters
    warm = Serving.requests(a.seed + 1, 1, f, table(Main.SetupReps - 1), tags)
  }

  /** A fresh tag table, preloaded over HTTP through the line-protocol door. */
  def setup(rep: Int): Unit = {
    QueryDoor.execute(spark, TagBatches.ddl(table(rep)))
    lastPreload = sequential(preload(rep))
    Checks.require(preload(rep), lastPreload)
  }
  def teardown(rep: Int): Unit = TagTables.dropTable(spark, table(rep))
  def warmList: Vector[Req] = warm
  def warmUp(): Vector[Main.Done] = Checks.require(warm, closedLoop(warm, Clients))
  /** Segment by segment: all clients finish one before the next starts. */
  def execute(): Vector[Main.Done] = Stats.split(ops, segments).flatMap(closedLoop(_, Clients))

  /** The replay rebuilds the tag table from the same preload batches, so
    * the write path is traced too, then replays the timed reads. */
  def replay(untraced: Vector[Main.Done]): Replay = {
    val t = table(Main.SetupReps - 1)
    tracedReplay(preload(Main.SetupReps - 1) ++ ops, lastPreload ++ untraced, () => {
      TagTables.dropTable(spark, t)
      QueryDoor.execute(spark, TagBatches.ddl(t))
    })
  }
}

final class AnalyticsSweep(spark: SparkSession, a: Main.Args, dir: String) extends Workload(spark, a, dir) {
  private var ops = Vector.empty[Req]
  private var warm = Vector.empty[Req]
  def timed: Vector[Req] = ops
  /** Timed passes; `ops_per_s` is the median pass. */
  val Passes: Int = math.max(3, math.round(a.seconds / 10.0).toInt)

  def plan(f: Data.Facts): Unit = {
    ops = Sweep.requests(a.seed, Passes, f)
    // one full pass in another order
    warm = Sweep.requests(a.seed + 1, 1, f)
  }
  def setup(rep: Int): Unit = ()
  def teardown(rep: Int): Unit = ()
  def warmList: Vector[Req] = warm
  def warmUp(): Vector[Main.Done] = Checks.require(warm, warm.map(r => inProc.run(r, None)))
  /** One segment per pass. */
  override def segments: Int = ops.size / Sweep.Queries.size
  def execute(): Vector[Main.Done] = ops.map(r => inProc.run(r, None))
  /** The first timed pass, which keeps a traced run within its time limit. */
  def replay(untraced: Vector[Main.Done]): Replay = {
    val n = Sweep.Queries.size
    tracedReplay(ops.take(n), untraced.take(n), () => ())
  }
}

/** The layers' public functions, called the way the HTTP handlers call
  * them, each inside its layer span. Replies are byte-identical to the
  * HTTP path's (`elapse` aside), which the replay checks. */
final class InProc(spark: SparkSession, dataDir: String) {
  import graft.sinks.Codecs
  private lazy val builders = graft.SparkEntry.queries
  private var rowsParsed = 0L
  private var refreshRows = 0L
  private var bytesOut = 0L

  def counters: Map[String, Double] = Map(
    "sources.rows_parsed" -> rowsParsed.toDouble,
    "server.tagtables_refresh_rows" -> refreshRows.toDouble,
    "sinks.bytes_out" -> bytesOut.toDouble)

  /** The parse `Compiler.compile` does first, timed on its own. */
  def parseAside(r: Req, t: Trace): Unit = if (r.kind == Req.Tql) t.aside {
    graft.tql.Parser.parseScript(r.text)
    graft.tql.ScriptStructure.parse(r.text)
  }

  def run(r: Req, t: Option[Trace]): Main.Done = {
    def sp[T](name: String)(body: => T): T = t.fold(body)(_.span(name)(body))
    val t0 = System.nanoTime()
    val (status, body) = try r.kind match {
      case Req.Sql =>
        val (sql, fmt, o) = sp("server.decode") {
          val p = HttpLoop.parseQueryMulti(Http.queryString(r))
          val one = (k: String) => p.get(k).flatMap(_.headOption).filter(_.nonEmpty)
          (one("q").get, one("format").getOrElse("json").toUpperCase,
            Codecs.Options(heading = true, rownum = false, precision = -1, transpose = false,
              rowsFlatten = false, rowsArray = false, binaryFormat = "hex", delimiter = ",",
              boxStyle = "default", separateColumns = true, drawBorder = true))
        }
        val df = sp("server.querydoor")(QueryDoor.execute(spark, sql))
        (200, sp("sinks.encode")(Codecs.render(df, fmt, o)).getBytes("UTF-8"))
      case Req.Tql =>
        val c = sp("tql.compile")(graft.tql.Compiler.compile(spark, r.text))
        (200, sp("sinks.encode")(graft.tql.Compiler.renderCompiled(c)).getBytes("UTF-8"))
      case Req.Write =>
        // LineProtocol.writeTo, step by step
        val desc = TagTables.descriptorFor(r.table).get
        val extra = desc.drop(3).collect { case c if c.typ == "varchar" || c.typ == "text" => c.name }
        val rows = sp("sources.lineprotocol_parse") {
          graft.sources.LineProtocol.parse(r.text.getBytes("UTF-8"), "ns")
            .flatMap(p => graft.sources.LineProtocol.toTagRows(p, extra))
        }
        sp("server.tagtables_insert") {
          TagTables.insertAll(spark, r.table, desc.take(3).map(_.name) ++ extra, rows.iterator)
        }
        rowsParsed += rows.size
        refreshRows += TagTables.rowCount(r.table)
        (204, Array.emptyByteArray)
      case Req.Build =>
        val df = sp("queries.build")(builders(r.text)(spark, dataDir))
        val n = sp("exec.driver")(df.queryExecution.toRdd.count())
        t.foreach(_.phasesOf(df.queryExecution))
        (200, n.toString.getBytes("UTF-8"))
    } catch {
      case e: Exception => (500, String.valueOf(e.getMessage).getBytes("UTF-8"))
    }
    bytesOut += body.length
    Checks.done(r, status, t0, System.nanoTime(), body)
  }
}

object Http {
  def client(): HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def queryString(r: Req): String =
    "q=" + URLEncoder.encode(r.text, "UTF-8") + "&format=" + r.format

  def send(c: HttpClient, port: Int, r: Req): Main.Done = {
    val base = s"http://127.0.0.1:$port"
    val req = r.kind match {
      case Req.Sql => HttpRequest.newBuilder(java.net.URI.create(s"$base/db/query?${queryString(r)}")).GET()
      case Req.Tql => HttpRequest.newBuilder(java.net.URI.create(s"$base/db/tql"))
        .POST(HttpRequest.BodyPublishers.ofString(r.text))
      case Req.Write => HttpRequest.newBuilder(java.net.URI.create(s"$base/metrics/write?db=${r.table}"))
        .POST(HttpRequest.BodyPublishers.ofString(r.text))
      case Req.Build => throw new IllegalArgumentException("builds run in process")
    }
    val t0 = System.nanoTime()
    try {
      val rsp = c.send(req.build(), HttpResponse.BodyHandlers.ofByteArray())
      Checks.done(r, rsp.statusCode(), t0, System.nanoTime(), rsp.body())
    } catch {
      case e: Exception => Checks.done(r, 599, t0, System.nanoTime(), String.valueOf(e).getBytes("UTF-8"))
    }
  }
}

object Checks {
  def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Check one reply against its oracle and keep only its hash. */
  def done(r: Req, status: Int, t0: Long, t1: Long, body: Array[Byte]): Main.Done = {
    val err =
      if (status / 100 != 2) Some(s"status $status: ${new String(body.take(300), "UTF-8")}")
      else r.check(body)
    Main.Done(status, t0, t1, sha(Req.stable(body)), body.length.toLong, err)
  }

  /** Every repeat of one request must return the same reply. */
  def verify(ops: Vector[Req], done: Vector[Main.Done]): Vector[Main.Done] = {
    val first = scala.collection.mutable.HashMap.empty[String, String]
    ops.zip(done).map { case (r, d) =>
      if (!d.ok) d
      else first.get(r.key) match {
        case Some(h) if h != d.hash => d.copy(error = Some("reply differs from an earlier identical request"))
        case _ => first(r.key) = d.hash; d
      }
    }
  }

  def require(ops: Seq[Req], done: Vector[Main.Done]): Vector[Main.Done] = {
    ops.zip(done).foreach { case (r, d) =>
      if (!d.ok) throw new IllegalStateException(s"warm-up ${r.cls} failed: ${d.error.get}")
    }
    done
  }

  /** Failed ops count as missing every latency limit. */
  def latencies(done: Seq[Main.Done]): Seq[Double] =
    done.map(d => if (d.ok) d.ms else Double.PositiveInfinity)

  def digest(ops: Seq[Req], done: Seq[Main.Done]): String =
    sha(ops.zip(done).map { case (r, d) => s"${r.cls}:${d.status}:${d.hash}" }.mkString("\n").getBytes("UTF-8"))

  def perClass(ops: Seq[Req], done: Seq[Main.Done]): Map[String, Map[String, Double]] =
    ops.indices.groupBy(i => ops(i).cls).map { case (c, is) =>
      c -> Map("n" -> is.size.toDouble, "p50_ms" -> Stats.median(is.map(done(_).ms)),
        "bytes" -> Stats.median(is.map(done(_).bytes.toDouble)))
    }
}

object Stats {
  /** Linear-interpolation percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** `xs` cut into `n` consecutive parts of near-equal size. */
  def split[T](xs: Vector[T], n: Int): Vector[Vector[T]] =
    (0 until n).toVector.map(i => xs.slice(i * xs.size / n, (i + 1) * xs.size / n))
}

object Heap {
  /** Live heap once the ContextCleaner has drained and repeated full GCs
    * agree within 1 MB (two agreeing pairs in a row). */
  def liveMb(spark: SparkSession): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    val sc = spark.sparkContext
    var prev = -1.0
    var prevPending = -1
    var agree = 0
    var used = 0.0
    var i = 0
    while (agree < 2 && i < 20) {
      System.gc()
      Thread.sleep(200)
      org.apache.spark.graftbench.Bus.drain(sc)
      used = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      val pending = org.apache.spark.graftbench.Bus.cleanerPending(sc)
      if (prev >= 0 && math.abs(used - prev) < 1.0 && pending == prevPending) agree += 1 else agree = 0
      prev = used; prevPending = pending; i += 1
    }
    used
  }
}

object Jvm {
  def gcMs(): Double = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t.toDouble
  }
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e6
    case _ => 0.0
  }
}

/** The per-layer metrics every traced run prints, with their units. */
object Layers {
  val declared: Seq[(String, String)] = Seq(
    "server.http_wait_ms" -> "ms", "server.decode_ms" -> "ms", "server.querydoor_ms" -> "ms",
    "server.tagtables_insert_ms" -> "ms", "server.tagtables_refresh_rows" -> "rows",
    "sources.lineprotocol_parse_ms" -> "ms", "sources.rows_parsed" -> "rows",
    "tql.parse_ms" -> "ms", "tql.compile_ms" -> "ms",
    "catalyst.parsing_ms" -> "ms", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "core.table_resolve_ms" -> "ms", "core.table_resolve_jobs" -> "count",
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "exec.driver_ms" -> "ms", "exec.wall_ms" -> "ms", "exec.jobs" -> "count",
    "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.sched_wait_ms" -> "ms", "exec.task_gc_ms" -> "ms",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.core_util" -> "ratio", "exec.live_blocks_mb" -> "MB",
    "sinks.encode_ms" -> "ms", "sinks.bytes_out" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.process_cpu_ms" -> "ms", "other_ms" -> "ms",
    "trace.ops_per_s" -> "1/s", "trace.latency_ms" -> "ms",
    "untraced.ops_per_s" -> "1/s", "untraced.latency_ms" -> "ms",
    "untraced.latency_p90_ms" -> "ms")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
