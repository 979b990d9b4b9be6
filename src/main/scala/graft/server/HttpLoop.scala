package graft.server

import org.apache.spark.sql.SparkSession

/** Loopback-only HTTP plumbing for the TQL `HTTP()` source and `doHttp`
  * sink (reference `mods/util/httpdsl/exec.go`, `mods/tql/fm_monad.go`
  * HttpDoer, `fm_encoder.go:169-183` fmHttp).
  *
  * This container has zero egress, so the request executor REFUSES any
  * host that does not resolve to a loopback address — the request DSL,
  * raw-request builder, and response plumbing are all real, and an
  * in-JVM server double exposes the `/db` front doors so the surface is
  * testable end-to-end. On a deployed cluster this loopback check is the
  * seam where a real egress policy would plug in.
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

  /** Extra spec-installed handlers:
    * path → (method, query, headers, body) → (status, contentType, payload). */
  private val handlers =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, String, Map[String, String], Array[Byte]) => (Int, String, Array[Byte])]()

  def handle(path: String)(
      fn: (String, String, Map[String, String], Array[Byte]) => (Int, String, Array[Byte])): Unit = {
    handlers.put(path, fn)
    if (server != null) install(server, path)
  }

  private def install(srv: HttpServer, path: String): Unit =
    try srv.createContext(path, (ex: HttpExchange) => respond(ex) {
      val fn = handlers.get(path)
      val body = ex.getRequestBody.readAllBytes()
      val hdrs = {
        val b = Map.newBuilder[String, String]
        ex.getRequestHeaders.forEach((k, vs) =>
          if (!vs.isEmpty) b += k.toLowerCase -> vs.get(0))
        b.result()
      }
      fn(ex.getRequestMethod, Option(ex.getRequestURI.getRawQuery).getOrElse(""), hdrs, body)
    }) catch { case _: IllegalArgumentException => () /* already bound */ }

  /** Start (once) the in-JVM server on 127.0.0.1:ephemeral; returns port. */
  def ensureServer(spark: SparkSession): Int = synchronized {
    session = spark
    if (server != null) return port
    val srv = HttpServer.create(new java.net.InetSocketAddress(
      java.net.InetAddress.getLoopbackAddress, 0), 0)
    val n = spark.sparkContext.defaultParallelism
    srv.setExecutor(newPool(n, 4 * n))
    srv.createContext("/db/query", (ex: HttpExchange) => respond(ex) {
      // full request decode per the reference handleQuery
      // (http_query.go:25-63): GET reads query params; POST reads a JSON
      // or form-urlencoded body (http_query_test.go POST_/POST_FORM_
      // variants); any other POST content type replies 415 with the JSON
      // error envelope (TestHttpQueryUnsupportedContentTypeForm)
      val rawQ = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val body = ex.getRequestBody.readAllBytes()
      val decoded: Either[WebApi.HttpReply, Map[String, Seq[String]]] =
        ex.getRequestMethod.toUpperCase match {
          case "POST" =>
            val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
              .getOrElse("").takeWhile(_ != ';').trim.toLowerCase
            // a malformed body is a CLIENT error: the reference's bind
            // failure replies 400 with the JSON envelope (http_query.go
            // ShouldBind), not a generic 500
            def bind400(e: Exception) = Left(WebApi.HttpReply(400,
              "application/json; charset=utf-8",
              s"""{"success":false,"reason":${graft.sinks.GoJs.quote(
                String.valueOf(e.getMessage))},"elapse":"0s"}"""))
            ct match {
              case "application/json" =>
                try Right(WebApi.decodeJsonBodyParams(new String(body, "UTF-8")))
                catch { case e: Exception => bind400(e) }
              case "application/x-www-form-urlencoded" =>
                try Right(parseQueryMulti(new String(body, "UTF-8")))
                catch { case e: Exception => bind400(e) }
              case other => Left(WebApi.HttpReply(415,
                "application/json; charset=utf-8",
                s"""{"success":false,"reason":"unsupported content-type: $other","elapse":"0s"}"""))
            }
          case _ =>
            // a malformed %-escape in the query string is the same
            // client error as a malformed POST body
            try Right(parseQueryMulti(rawQ))
            catch {
              case e: Exception => Left(WebApi.HttpReply(400,
                "application/json; charset=utf-8",
                s"""{"success":false,"reason":${graft.sinks.GoJs.quote(
                  String.valueOf(e.getMessage))},"elapse":"0s"}"""))
            }
        }
      decoded match {
        case Left(reply) =>
          (reply.status, reply.contentType, reply.wireBytes)
        case Right(params) =>
          val reply = WebApi.dbQuery(session, params)
          // compress=gzip → gzip body + Content-Encoding header, like
          // http_query.go (TestHttpQueryCompressedResponse: the client
          // auto-decompresses and sees the plain CSV bytes)
          if (reply.status == 200 &&
            params.get("compress").exists(_.headOption.contains("gzip"))) {
            val buf = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(buf)
            gz.write(reply.wireBytes); gz.close()
            ex.getResponseHeaders.set("Content-Encoding", "gzip")
            (200, reply.contentType, buf.toByteArray)
          } else (reply.status, reply.contentType, reply.wireBytes)
      }
    })
    srv.createContext("/metrics/write", (ex: HttpExchange) => respond(ex) {
      // InfluxDB line-protocol door (http_write.go handleLineWrite;
      // status/envelope shapes from http_write_test.go TestHandleLineWrite):
      // bad gzip → 400 "invalid gzip compression"; missing timestamp →
      // 400 {"error":"no timestamp"}; measurement/tag/field parse errors
      // → 500; success → 204 No Content.
      val params = parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val db = params.getOrElse("db", "")
      val precision = params.getOrElse("precision", "ns")
      val raw = ex.getRequestBody.readAllBytes()
      val gz = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .exists(_.equalsIgnoreCase("gzip"))
      val payload: Either[(Int, String, Array[Byte]), Array[Byte]] =
        if (!gz) Right(raw)
        else try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(raw))
          try Right(in.readAllBytes()) finally in.close()
        } catch {
          case _: Exception => Left((400, "application/json",
            """{"error":"invalid gzip compression"}""".getBytes("UTF-8")))
        }
      payload match {
        case Left(reply) => reply
        case Right(bytes) =>
          try {
            graft.sources.LineProtocol.writeTo(session, db, bytes, precision)
            (204, "application/json", Array.emptyByteArray)
          } catch {
            case e: IllegalArgumentException if
                String.valueOf(e.getMessage) == "no timestamp" =>
              (400, "application/json",
                """{"error":"no timestamp"}""".getBytes("UTF-8"))
            // Table-descriptor failures are client errors: the reference
            // replies 400 {"error":"column error: ..."} when ShowTable
            // fails for the target db (mods/server/http_write.go:489-492).
            case e: IllegalArgumentException if
                String.valueOf(e.getMessage).startsWith("column error") =>
              (400, "application/json",
                s"""{"error":${graft.sinks.GoJs.quote(String.valueOf(e.getMessage))}}"""
                  .getBytes("UTF-8"))
            case e: Exception =>
              (500, "application/json",
                s"""{"error":${graft.sinks.GoJs.quote(String.valueOf(e.getMessage))}}"""
                  .getBytes("UTF-8"))
          }
      }
    })
    // metrics endpoints (http_test.go TestStatz/TestDebugMetrics/
    // TestHandleStatzConfig): /debug/statz JSON, /debug/metrics
    // Prometheus text, /debug/statz/config get/set
    srv.createContext("/debug/statz", (ex: HttpExchange) => respond(ex) {
      if (ex.getRequestURI.getPath.stripSuffix("/").endsWith("/config")) {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val r = WebApi.statzConfig(ex.getRequestMethod, body)
        (r.status, r.contentType, r.wireBytes)
      } else
        (200, "application/json", Metrics.statzJson().getBytes("UTF-8"))
    })
    srv.createContext("/debug/metrics", (ex: HttpExchange) => respond(ex) {
      (200, "text/plain; version=0.0.4; charset=utf-8",
        Metrics.prometheusText().getBytes("UTF-8"))
    })
    srv.createContext("/db/tql", (ex: HttpExchange) => respond(ex) {
      val script = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      (200, "application/json", graft.tql.Tql.run(session, script).getBytes("UTF-8"))
    })
    // /db/public/… AND /public/… — static files + cgi-bin scripts from
    // the server filesystem's /public tree (http_public.go handlePublic
    // mounts at /public — that mount must exist or the door's own
    // Location values, like the index.html 302 to "/public/app/", and
    // /db/tql's "/public/…" 302 dangle; the CGI response parse + door
    // rules live in PublicDoor/CgiWriter)
    def publicHandler(mount: String): HttpExchange => Unit =
      (ex: HttpExchange) => respond(ex) {
        val sub = ex.getRequestURI.getPath.stripPrefix(mount)
        // the JDK server matches contexts by PLAIN string prefix, so
        // "/publicfoo" also lands here — only segment-boundary paths
        // belong to the door (gin's "/public/*path" is segment-aware)
        if (sub.nonEmpty && !sub.startsWith("/"))
          (404, "application/json; charset=utf-8",
            """{"success":false,"reason":"not found"}""".getBytes("UTF-8"))
        else {
          val hdrs = {
            // canonicalize per dash-token: the JDK Headers class
            // normalizes keys to "Content-type" while cgiEnv looks up
            // "Content-Type"
            def canon(k: String) = k.split("-").map(t =>
              if (t.isEmpty) t else t.head.toUpper + t.tail.toLowerCase).mkString("-")
            val b = Map.newBuilder[String, String]
            ex.getRequestHeaders.forEach((k, vs) =>
              if (!vs.isEmpty) b += canon(k) -> vs.get(0))
            b.result()
          }
          val r = PublicDoor.handle(sub, ex.getRequestMethod,
            ServerFiles.publicFile, ServerFiles.publicDir,
            Option(ex.getRequestURI.getRawQuery).getOrElse(""), hdrs,
            body = ex.getRequestBody.readAllBytes())
          r.headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
          (r.status, r.contentType, r.wireBytes)
        }
      }
    srv.createContext("/db/public", ex => publicHandler("/db/public")(ex))
    srv.createContext("/public", ex => publicHandler("/public")(ex))
    // POST /web/api/md — markdown → XHTML with {{ file_* }} substitution
    // from the base64 X-Referer header (http.go:1105-1144 handleMarkdown;
    // goldens http_test.go TestMarkdown)
    srv.createContext("/web/api/md", (ex: HttpExchange) => respond(ex) {
      val src = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val refererB64 = Option(ex.getRequestHeaders.getFirst("X-Referer")).getOrElse("")
      val referer =
        try new String(java.util.Base64.getDecoder.decode(refererB64), "UTF-8")
        catch { case e: IllegalArgumentException =>
          null
        }
      if (referer == null)
        (400, "text/plain", "illegal base64 data in X-Referer".getBytes("UTF-8"))
      else {
        val dark = parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          .get("darkMode").contains("true")
        (200, "application/xhtml+xml",
          Markdown.render(src, dark, referer).getBytes("UTF-8"))
      }
    })
    srv.createContext("/web/api", (ex: HttpExchange) => respond(ex) {
      val raw = ex.getRequestBody.readAllBytes()
      val body = new String(raw, "UTF-8")
      val multi = parseQueryMulti(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val r = WebRoutes.route(session, ex.getRequestMethod,
        ex.getRequestURI.getPath, multi, body, raw)
      (r.status, r.contentType, r.wireBytes)
    })
    srv.createContext("/lakes", (ex: HttpExchange) => respond(ex) {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val multi = parseQueryMulti(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val r = WebRoutes.routeLake(session, ex.getRequestMethod,
        ex.getRequestURI.getPath, multi, body)
      (r.status, r.contentType, r.wireBytes)
    })
    val it = handlers.keySet().iterator()
    while (it.hasNext) install(srv, it.next())
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

  private def respond(ex: HttpExchange)(
      fn: => (Int, String, Array[Byte])): Unit = {
    val sc = session.sparkContext
    sc.setJobGroup(s"http-${requestIds.incrementAndGet()}",
      s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}", interruptOnCancel = false)
    try {
      val (code, ctype, payload) = try fn catch {
        case e: Exception =>
          (500, "text/plain", String.valueOf(e.getMessage).getBytes("UTF-8"))
      }
      try {
        ex.getResponseHeaders.set("Content-Type", ctype)
        ex.sendResponseHeaders(code, if (payload.isEmpty) -1 else payload.length)
        if (payload.nonEmpty) ex.getResponseBody.write(payload)
      } finally ex.close()
    } finally sc.clearJobGroup()
  }

  /** Query params with repeats kept (the lake door takes multi-values). */
  def parseQueryMulti(raw: String): Map[String, Seq[String]] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

  def parseQuery(raw: String): Map[String, String] =
    raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toMap

  /** Raw-socket HTTP exchange (exec.go executeRawRequest), LOOPBACK ONLY:
    * writes the raw request bytes, reads to EOF (requests carry
    * `Connection: close`). */
  def executeRaw(host: String, portNo: Int, raw: Array[Byte]): Array[Byte] = {
    val addr = try java.net.InetAddress.getByName(host) catch {
      case _: java.net.UnknownHostException => null
    }
    require(addr != null && addr.isLoopbackAddress,
      s"egress disabled: '$host' is not a loopback address (this build only talks to in-process doubles)")
    val sock = new java.net.Socket(addr, portNo)
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
    val raw = buildRaw(req)
    require(req.url.getScheme == "http",
      s"unsupported scheme ${req.url.getScheme} (loopback http only)")
    val p = if (req.url.getPort > 0) req.url.getPort else 80
    (new String(raw, "UTF-8"), executeRaw(req.url.getHost, p, raw))
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
    } else if (contentType.contains("multipart/form-data")) {
      val out = new java.io.ByteArrayOutputStream()
      lines.foreach { line =>
        fileDirective(line) match {
          case Some(p) => out.write(fileBytes(p))
          case None => out.write((line + "\n").getBytes("UTF-8"))
        }
      }
      out.toByteArray
    } else if (fileDirective(lines.head).isDefined) {
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

  private def buildRaw(req: ParsedReq): Array[Byte] = {
    val target = {
      val t = Option(req.url.getRawPath).filter(_.nonEmpty).getOrElse("/") +
        Option(req.url.getRawQuery).map("?" + _).getOrElse("")
      t
    }
    val body: Array[Byte] =
      if (req.body.isEmpty) Array.emptyByteArray
      else resolveBody(req.headers, req.body)
    val sb = new StringBuilder
    sb.append(s"${req.method} $target ${req.version}\r\n")
    var hasHost = false
    var hasConn = false
    req.headers.foreach { case (k, v) =>
      val kl = k.toLowerCase
      if (kl == "host") hasHost = true
      if (kl == "connection") hasConn = true
      if (!(kl == "content-length" && body.nonEmpty))
        sb.append(s"$k: $v\r\n")
    }
    if (!hasHost) {
      val hostPort = req.url.getHost +
        (if (req.url.getPort > 0) s":${req.url.getPort}" else "")
      sb.append(s"Host: $hostPort\r\n")
    }
    if (body.nonEmpty) sb.append(s"Content-Length: ${body.length}\r\n")
    if (!hasConn) sb.append("Connection: close\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes("UTF-8")
    head ++ body
  }

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
    val target = Option(uri.getRawPath).filter(_.nonEmpty).getOrElse("/") +
      Option(uri.getRawQuery).map("?" + _).getOrElse("")
    val sb = new StringBuilder
    sb.append(s"$m $target HTTP/1.1\r\n")
    val hostPort = uri.getHost + (if (uri.getPort > 0) s":${uri.getPort}" else "")
    sb.append(s"Host: $hostPort\r\n")
    if (!headers.keys.exists(_.equalsIgnoreCase("user-agent")))
      sb.append("User-Agent: graft tql http doer\r\n")
    headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    if (body.nonEmpty) sb.append(s"Content-Length: ${body.length}\r\n")
    sb.append("Connection: close\r\n\r\n")
    val raw = sb.toString.getBytes("UTF-8") ++ body
    val port = if (uri.getPort > 0) uri.getPort else 80
    val resp = new String(executeRaw(uri.getHost, port, raw), "UTF-8")
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
    val target = Option(uri.getRawPath).filter(_.nonEmpty).getOrElse("/") +
      Option(uri.getRawQuery).map("?" + _).getOrElse("")
    val payload =
      if (body.nonEmpty && (method == "POST" || method == "PUT"))
        body.getBytes("UTF-8")
      else Array.emptyByteArray
    val sb = new StringBuilder
    sb.append(s"$method $target HTTP/1.1\r\n")
    val hostPort = uri.getHost + (if (uri.getPort > 0) s":${uri.getPort}" else "")
    sb.append(s"Host: $hostPort\r\n")
    headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    if (payload.nonEmpty) sb.append(s"Content-Length: ${payload.length}\r\n")
    sb.append("Connection: close\r\n\r\n")
    val port = if (uri.getPort > 0) uri.getPort else 80
    val resp = new String(
      executeRaw(uri.getHost, port, sb.toString.getBytes("UTF-8") ++ payload), "UTF-8")
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
