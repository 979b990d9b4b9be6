package graft.server

import org.apache.spark.sql.SparkSession

/** The loopback server's transport, and the TQL `HTTP()` source and
  * `doHttp` sink's loopback client (reference `mods/util/httpdsl/exec.go`,
  * `mods/tql/fm_monad.go` HttpDoer, `fm_encoder.go:169-183` fmHttp).
  *
  * This container has zero egress, so the request executor REFUSES any
  * host that does not resolve to a loopback address — the request DSL,
  * raw-request writer, and response plumbing are all real, and an
  * in-JVM server double exposes the `/db` front doors so the surface is
  * testable end-to-end. On a deployed cluster this loopback check is the
  * seam where a real egress policy would plug in.
  *
  * The server is transport only: one context at `/` decodes each
  * exchange once into a [[WebRoutes.Request]], [[WebRoutes.route]]
  * picks the handler, and [[respond]] writes its [[WebApi.HttpReply]]
  * (status, Content-Type, the reply's own headers, body).
  *
  * Concurrency: the server runs its exchanges on a bounded pool of N
  * daemon threads, N = the serving session's
  * `sparkContext.defaultParallelism`, over a queue of 4·N exchanges.
  * When the pool and the queue are full, the accepting dispatcher thread
  * runs the exchange itself (caller-runs), so an overload slows
  * accepting down and never drops a connection. Each exchange runs in
  * its own Spark job group (request id, "<method> <path>"), cleared when
  * it ends, so no pooled thread carries one request's group into the
  * next. Shared state on the request path is safe under this: the TQL
  * compiler keeps its per-script state in thread-locals, and
  * [[TagTables]] serializes each table's writers under one lock while
  * readers plan over snapshots. A `/db/tql` script whose `HTTP()` source
  * calls back into this server is served by a second pool thread; only
  * N such nested calls in flight at once can exhaust the pool and wait
  * out the loopback client's 30 s socket timeout.
  */
object HttpLoop {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import java.util.concurrent.{ArrayBlockingQueue, ThreadPoolExecutor, TimeUnit}
  import java.util.concurrent.atomic.AtomicLong

  @volatile private var server: HttpServer = null
  @volatile private var session: SparkSession = null
  private val requestIds = new AtomicLong()

  /** Mount a spec handler at exact `path` in the route table. */
  def handle(path: String)(fn: WebRoutes.Request => WebApi.HttpReply): Unit =
    WebRoutes.mounted.put(path, fn)

  /** Start (once) the in-JVM server on 127.0.0.1:ephemeral; returns port. */
  def ensureServer(spark: SparkSession): Int = synchronized {
    session = spark
    if (server != null) return port
    val srv = HttpServer.create(new java.net.InetSocketAddress(
      java.net.InetAddress.getLoopbackAddress, 0), 0)
    val n = spark.sparkContext.defaultParallelism
    srv.setExecutor(newPool(n, 4 * n))
    srv.createContext("/", (ex: HttpExchange) => respond(ex))
    srv.start()
    server = srv
    port
  }

  def port: Int = server.getAddress.getPort

  /** The running server's request pool (a [[newPool]]). */
  private[graft] def pool: ThreadPoolExecutor =
    server.getExecutor.asInstanceOf[ThreadPoolExecutor]

  /** The request pool: `threads` daemon workers over a queue of `queued`
    * exchanges; a full pool and queue hand the exchange back to the
    * submitting thread (caller-runs), so nothing is rejected. */
  private[graft] def newPool(threads: Int, queued: Int): ThreadPoolExecutor = {
    val ids = new AtomicLong()
    new ThreadPoolExecutor(threads, threads, 0L, TimeUnit.MILLISECONDS,
      new ArrayBlockingQueue[Runnable](queued),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-http-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      },
      new ThreadPoolExecutor.CallerRunsPolicy)
  }

  /** Decode, route and answer one exchange inside its own job group; a
    * handler that throws replies 500 with the message as plain text. */
  private def respond(ex: HttpExchange): Unit = {
    val sc = session.sparkContext
    sc.setJobGroup(s"http-${requestIds.incrementAndGet()}",
      s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}", interruptOnCancel = false)
    try {
      val reply = try WebRoutes.route(session, decode(ex)) catch {
        case e: Exception => WebApi.HttpReply(500, "text/plain", String.valueOf(e.getMessage))
      }
      try {
        val payload = reply.wireBytes
        reply.headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        ex.getResponseHeaders.set("Content-Type", reply.contentType)
        ex.sendResponseHeaders(reply.status, if (payload.isEmpty) -1 else payload.length)
        if (payload.nonEmpty) ex.getResponseBody.write(payload)
      } finally ex.close()
    } finally sc.clearJobGroup()
  }

  /** The exchange as a [[WebRoutes.Request]]; header names match in any
    * case (the JDK spells them "Content-type"). */
  private def decode(ex: HttpExchange): WebRoutes.Request = {
    val hdrs = scala.collection.immutable.TreeMap.newBuilder[String, String](
      Ordering.comparatorToOrdering(String.CASE_INSENSITIVE_ORDER))
    ex.getRequestHeaders.forEach((k, vs) => if (!vs.isEmpty) hdrs += k -> vs.get(0))
    WebRoutes.Request(ex.getRequestMethod, ex.getRequestURI.getPath,
      Option(ex.getRequestURI.getRawQuery).getOrElse(""), hdrs.result(),
      ex.getRequestBody.readAllBytes())
  }

  /** Query params with repeats kept (the lake door takes multi-values). */
  def parseQueryMulti(raw: String): Map[String, Seq[String]] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

  /** The egress policy of every outbound HTTP edge in this build: `host`
    * must resolve to a loopback address. A deployment relaxes this check,
    * not the fetch paths. */
  def requireLoopback(host: String): java.net.InetAddress = {
    val addr = try java.net.InetAddress.getByName(host) catch {
      case _: java.net.UnknownHostException => null
    }
    require(addr != null && addr.isLoopbackAddress,
      s"egress disabled: '$host' is not a loopback address (this build only talks to in-process doubles)")
    addr
  }

  /** Raw-socket HTTP exchange (exec.go executeRawRequest), LOOPBACK ONLY:
    * writes the raw request bytes, reads to EOF (requests carry
    * `Connection: close`). */
  def executeRaw(host: String, portNo: Int, raw: Array[Byte]): Array[Byte] = {
    val sock = new java.net.Socket(requireLoopback(host), portNo)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      out.write(raw); out.flush()
      sock.getInputStream.readAllBytes()
    } finally sock.close()
  }

  // ---- HTTP DSL (exec.go) ----------------------------------------------

  private case class ParsedReq(method: String, url: java.net.URI,
                               version: String, headers: Seq[(String, String)],
                               body: Seq[String])

  /** `HTTP({ GET url \n ?q=… \n &k=v \n Header: v \n\n body… })` — parse,
    * build the raw request, exchange, return the raw response text. */
  def executeDsl(content: String): String = executeDslExchange(content)._2

  /** Like [[executeDsl]] but returns (raw request, raw response) — the
    * httpdsl.Execute exchange shape the markdown `http` fence renders
    * (mods/util/mdconv/httpext/exec.go). */
  def executeDslExchange(content: String): (String, String) = {
    val (req, rsp) = executeDslExchangeBytes(content)
    (req, new String(rsp, "UTF-8"))
  }

  /** Byte-level twin: the response body stays raw so a gzip payload can
    * be decompressed for display (mdconv httpext renderer). */
  def executeDslExchangeBytes(content: String): (String, Array[Byte]) = {
    val req = parseDsl(content)
    val body =
      if (req.body.isEmpty) Array.emptyByteArray else resolveBody(req.headers, req.body)
    val raw = requestBytes(req.method, req.url, req.version, req.headers, body)
    require(req.url.getScheme == "http",
      s"unsupported scheme ${req.url.getScheme} (loopback http only)")
    (new String(raw, "UTF-8"), exchange(req.url, raw))
  }

  private def parseDsl(content: String): ParsedReq = {
    val lines = content.replace("\r\n", "\n").split("\n", -1)
    var idx = 0
    while (idx < lines.length && lines(idx).trim.isEmpty) idx += 1
    require(idx < lines.length, "http: empty request")
    // request line: METHOD URL [HTTP/x[.y]] — everything after the first
    // "?" is the query (spaces allowed) up to a trailing version token
    // (httpdsl exec.go:213-244 parseRequestLine)
    val reqLine = lines(idx).trim
    val qIx = reqLine.indexOf('?')
    var version = ""
    var params = ""
    val head = if (qIx < 0) reqLine else {
      val after = reqLine.substring(qIx + 1)
      val vm = "^(.*?)(?:\\s+(HTTP/(?:\\d|\\d\\.\\d)))?$".r
        .findFirstMatchIn(after)
      vm match {
        case Some(m) =>
          params = m.group(1)
          if (m.group(2) != null) version = m.group(2)
        case None => params = after
      }
      reqLine.take(qIx)
    }
    val first = head.split("\\s+")
    require(first.length >= 2, "http: invalid request line")
    val method = first(0).toUpperCase
    var rawUrl = first(1) + (if (params.nonEmpty) "?" + params else "")
    if (first.length > 2 && version.isEmpty) version = first(2)
    idx += 1
    val headers = Vector.newBuilder[(String, String)]
    var done = false
    while (idx < lines.length && !done) {
      val t = lines(idx).trim
      if (t.isEmpty) { idx += 1; done = true }
      else if (t.startsWith("?") || t.startsWith("&")) { rawUrl += t; idx += 1 }
      else if (t.startsWith("HTTP/") && version.isEmpty) { version = t; idx += 1 }
      else {
        val i = t.indexOf(':')
        require(i > 0, s"http: invalid header line '$t'")
        headers += t.take(i).trim -> t.drop(i + 1).trim
        idx += 1
      }
    }
    val body = if (idx < lines.length) lines.drop(idx).toSeq else Nil
    val uri = new java.net.URI(normalizeQuery(rawUrl))
    require(uri.isAbsolute && uri.getHost != null, "http: absolute URL is required")
    ParsedReq(method, uri,
      if (version.isEmpty) "HTTP/1.1" else version, headers.result(), body)
  }

  /** Re-encode the query like Go's url.Values.Encode (sorted keys,
    * form-encoded values) so `?q=select *` DSL lines become legal URLs. */
  private def normalizeQuery(rawUrl: String): String = {
    val qi = rawUrl.indexOf('?')
    if (qi < 0) return rawUrl
    // Go url.QueryEscape parity: '*' escapes to %2A, '~' stays bare
    // (exec_test.go TestExecuteGetWithQueryExtension pins
    // q=select+%2A+from+tag_simple in the raw request)
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
      .replace("*", "%2A").replace("%7E", "~")
    val params = rawUrl.drop(qi + 1).split("&").iterator
      .map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv.trim -> "" else kv.take(i).trim -> kv.drop(i + 1).trim
      }.toSeq.sortBy(_._1)
    if (params.isEmpty) rawUrl.take(qi)
    else rawUrl.take(qi) + "?" + params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
  }

  /** `< path` / `< @path` body file directive (httpdsl/exec.go:407-432):
    * bare path resolves against the serving root, @path is an OS path. */
  private def fileDirective(line: String): Option[java.nio.file.Path] = {
    val t = line.trim
    if (!t.startsWith("< ")) return None
    val p = t.stripPrefix("<").trim
    if (p.isEmpty) None
    else if (p.startsWith("@")) Some(java.nio.file.Paths.get(p.stripPrefix("@").trim))
    else Some(java.nio.file.Paths.get(graft.tql.Compiler.templateRoot, p))
  }

  /** Body assembly per Content-Type (httpdsl/exec.go:300-370): multipart
    * keeps one "\n" after EVERY line (boundary framing) and inlines file
    * directives; urlencoded joins `&`-continuations without newlines;
    * anything else is a plain LF join unless it leads with a directive. */
  private def resolveBody(headers: Seq[(String, String)], lines: Seq[String]): Array[Byte] = {
    val contentType = headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("Content-Type") => v.toLowerCase
    }.getOrElse("")
    def fileBytes(p: java.nio.file.Path): Array[Byte] =
      java.nio.file.Files.readAllBytes(p) ++ "\n".getBytes("UTF-8")
    if (contentType == "application/x-www-form-urlencoded") {
      val b = new StringBuilder
      lines.zipWithIndex.foreach { case (line, i) =>
        b.append(line)
        if (i != 0 && !line.startsWith("&")) b.append('\n')
      }
      b.toString.getBytes("UTF-8")
    } else if (contentType.contains("multipart/form-data") ||
        fileDirective(lines.head).isDefined) {
      val out = new java.io.ByteArrayOutputStream()
      lines.foreach { line =>
        fileDirective(line) match {
          case Some(p) => out.write(fileBytes(p))
          case None => out.write((line + "\n").getBytes("UTF-8"))
        }
      }
      out.toByteArray
    } else lines.mkString("\n").getBytes("UTF-8")
  }

  /** The one loopback request writer: request line, the caller's
    * headers in order, then `Host` and `Connection: close` unless the
    * caller gave them, and `Content-Length` for a body (replacing the
    * caller's). */
  private def requestBytes(method: String, url: java.net.URI, version: String,
                           headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val target = Option(url.getRawPath).filter(_.nonEmpty).getOrElse("/") +
      Option(url.getRawQuery).map("?" + _).getOrElse("")
    def has(name: String) = headers.exists(_._1.equalsIgnoreCase(name))
    val sb = new StringBuilder(s"$method $target $version\r\n")
    headers.foreach { case (k, v) =>
      if (!(body.nonEmpty && k.equalsIgnoreCase("content-length")))
        sb.append(s"$k: $v\r\n")
    }
    if (!has("host"))
      sb.append(s"Host: ${url.getHost}${if (url.getPort > 0) s":${url.getPort}" else ""}\r\n")
    if (body.nonEmpty) sb.append(s"Content-Length: ${body.length}\r\n")
    if (!has("connection")) sb.append("Connection: close\r\n")
    sb.append("\r\n")
    sb.toString.getBytes("UTF-8") ++ body
  }

  /** Send `raw` to `url`'s host and port (80 when absent). */
  private def exchange(url: java.net.URI, raw: Array[Byte]): Array[Byte] =
    executeRaw(url.getHost, if (url.getPort > 0) url.getPort else 80, raw)

  // ---- doHttp (fm_monad.go HttpDoer) ------------------------------------

  /** One doHttp exchange per matching WHEN record: header args are
    * `"Name: value"` strings; a POST body with no Content-Type is
    * CSV-encoded (text/csv default) like the reference's csv.Writer. */
  def doHttp(method: String, urlStr: String, content: Option[Seq[Any]],
             headerArgs: Seq[String],
             log: (String, String) => Unit): Unit = {
    val headers = scala.collection.mutable.LinkedHashMap[String, String]()
    headerArgs.foreach { h =>
      val i = h.indexOf(':')
      if (i > 0) headers(h.take(i).trim) = h.drop(i + 1).trim
    }
    val m = method.toUpperCase
    val hasCtype = headers.keys.exists(_.equalsIgnoreCase("content-type"))
    val body: Array[Byte] =
      if (m == "POST" && content.isDefined) {
        if (!hasCtype) {
          headers("Content-Type") = "text/csv"
          (csvLine(content.get) + "\n").getBytes("UTF-8")
        } else content.get.map(fmtGo).mkString("").getBytes("UTF-8")
      } else Array.emptyByteArray
    val uri = new java.net.URI(urlStr)
    require(uri.getScheme == "http" && uri.getHost != null,
      s"doHttp: absolute http URL required, got $urlStr")
    val agent =
      if (headers.keys.exists(_.equalsIgnoreCase("user-agent"))) Nil
      else Seq("User-Agent" -> "graft tql http doer")
    val resp = new String(exchange(uri,
      requestBytes(m, uri, "HTTP/1.1", agent ++ headers.toSeq, body)), "UTF-8")
    val status = resp.linesIterator.nextOption().getOrElse("")
    val reply = resp.take(500)
    // the reference logs the status (warn >= 400) and drops the body
    if ("HTTP/\\S+ ([45]\\d\\d)".r.findFirstIn(status).isDefined)
      log("WARN", s"http-doer $m $urlStr $status $reply")
    else log("DEBUG", s"http-doer $m $urlStr $status")
  }

  /** Parsed exchange for the SCRIPT `$.request` binding (fm_script.go
    * jsFuncRequest): returns (status, statusText, headers, body). */
  def simpleRequest(method: String, urlStr: String, body: String,
                    headers: Seq[(String, String)]): (Int, String, Map[String, String], String) = {
    val uri = new java.net.URI(urlStr)
    require(uri.getScheme == "http" && uri.getHost != null,
      s"absolute http URL required, got $urlStr")
    val payload =
      if (body.nonEmpty && (method == "POST" || method == "PUT"))
        body.getBytes("UTF-8")
      else Array.emptyByteArray
    val resp = new String(
      exchange(uri, requestBytes(method, uri, "HTTP/1.1", headers, payload)), "UTF-8")
    val sep = resp.indexOf("\r\n\r\n")
    val (head, b) =
      if (sep >= 0) (resp.take(sep), resp.drop(sep + 4))
      else {
        val s2 = resp.indexOf("\n\n")
        if (s2 >= 0) (resp.take(s2), resp.drop(s2 + 2)) else (resp, "")
      }
    val lines = head.split("\r?\n")
    val statusParts = lines.headOption.getOrElse("").split(" ", 2)
    val code = try statusParts.lift(1).map(_.split(" ")(0).toInt).getOrElse(0)
      catch { case _: Exception => 0 }
    val statusText = statusParts.lift(1).getOrElse("")
    val hdrs = lines.drop(1).flatMap { l =>
      val i = l.indexOf(':')
      if (i > 0) Some(l.take(i).trim -> l.drop(i + 1).trim) else None
    }.toMap
    (code, statusText, hdrs, b)
  }

  /** Go csv.Writer line: %v-formatted fields, quoted when they contain
    * separators/quotes. */
  private def csvLine(vals: Seq[Any]): String = vals.map { v =>
    val s = fmtGo(v)
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
  }.mkString(",")

  private def fmtGo(v: Any): String = graft.sinks.GoTemplate.fmtVal(v)
}
