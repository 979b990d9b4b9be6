package graft.server

import WebApi.HttpReply
import CgiWriter.CgiError

/** The `/db/public/…` door (reference mods/server/http_public.go
  * handlePublic): static file serving from the public tree plus
  * `…/cgi-bin/….js` script execution with the output interpreted as a
  * parsed CGI/1.1 response ([[CgiWriter]]).
  *
  * Where the reference shells each CGI script out to its jsh process
  * emulator (`self jsh -S …`), this door runs the SAME `.js` source
  * in-process through the engine's SCRIPT interpreter
  * (graft.script.Interpreter) — console output is the CGI stream, the
  * request context arrives as a `process.env` object carrying the
  * standard CGI/1.1 variables (http_public.go contextToCGIEnv). The
  * response-side semantics (status, content-type, redirects, SSE flush,
  * HEAD, diagnostics) are byte-faithful to the reference test battery.
  *
  * Local CGI redirects re-enter THIS door (the reference re-enters its
  * whole gin router, so a script could redirect to any route; our door
  * scopes redirect targets to the public tree — the one cross-door
  * consumer, /db/tql's `/public/…` 302, already routes here). A chain
  * of local redirects is capped at [[PublicDoor.MaxLocalRedirects]] —
  * a self-redirecting script replies 500 "too many redirects" instead
  * of recursing unboundedly.
  *
  * The request body reaches CGI scripts as `process.stdin` —
  * `read()` returns the whole body once then null, `readLine()`
  * consumes it line-wise (the reference wires ctx.Request.Body as the
  * script engine's stdin Reader, http_public.go:178).
  *
  * Path rules (handlePublic): leading slash stripped, any `..` →
  * 400 "invalid path"; `/cgi-bin/` paths get `.js` appended when
  * missing and must resolve to a file; static GETs resolve directories
  * to their `index.html`, explicit `…/index.html` requests redirect to
  * the directory form, and content types come from the shared
  * extension table (ServerFiles.contentTypeOfFile).
  */
object PublicDoor {

  /** Local-redirect chain cap — past this the door replies 500 "too
    * many redirects" (a CGI script redirecting to itself would
    * otherwise recurse through handle() until StackOverflowError,
    * which escapes the Exception handlers and drops the connection). */
  val MaxLocalRedirects = 10

  /** Filesystem abstraction: `file(path)` = bytes when a regular file
    * exists, `dir(path)` = true when the path is a directory. */
  def handle(rawPath: String, method: String,
             file: String => Option[Array[Byte]],
             dir: String => Boolean,
             queryString: String = "",
             requestHeaders: Map[String, String] = Map.empty,
             clockNs: Long = 0L,
             body: Array[Byte] = Array.emptyByteArray,
             redirectDepth: Int = 0): HttpReply = {
    val t0 = System.nanoTime()
    def err(status: Int, reason: String): HttpReply =
      HttpReply(status, "application/json; charset=utf-8",
        WebApi.envelope(success = false, reason, t0))

    if (redirectDepth > MaxLocalRedirects) return err(500, "too many redirects")
    val trimmed = rawPath.stripPrefix("/")
    if (trimmed.contains("..")) return err(400, "invalid path")
    val path = "/public/" + trimmed

    if (path.contains("/cgi-bin/")) {
      val scriptPath = if (path.endsWith(".js")) path else path + ".js"
      file(scriptPath) match {
        case None => err(404, "not found")
        case Some(src) =>
          runCgi(new String(src, "UTF-8"), scriptPath, method, queryString,
            requestHeaders, clockNs, body,
            loc => handle(loc.stripPrefix("/public/"), method, file, dir,
              queryString, requestHeaders, clockNs, body, redirectDepth + 1),
            err)
      }
    } else if (method.equalsIgnoreCase("GET")) {
      file(path) match {
        case Some(bytes) =>
          if (path.endsWith("/index.html"))
            HttpReply(302, "", "",
              Map("Location" -> path.stripSuffix("index.html")))
          else serveBytes(path, bytes)
        case None if dir(path) =>
          val idx = path.stripSuffix("/") + "/index.html"
          file(idx) match {
            case Some(bytes) => serveBytes(idx, bytes)
            case None => err(404, "not found")
          }
        case None => err(404, "not found")
      }
    } else err(404, "not found")
  }

  private def serveBytes(path: String, bytes: Array[Byte]): HttpReply = {
    val ct = ServerFiles.contentTypeOfFile(path)
    HttpReply(200, ct, new String(bytes, "UTF-8"), Map.empty, Some(bytes))
  }

  /** The standard CGI/1.1 environment (http_public.go contextToCGIEnv
    * — the engine-visible subset; jsh mount/controller variables have
    * no analogue in-process). */
  private[server] def cgiEnv(scriptName: String, method: String,
                             queryString: String,
                             headers: Map[String, String]): Map[String, String] = {
    def h(name: String) = headers.getOrElse(name, "")
    Map(
      "AUTH_TYPE" -> "",
      "CONTENT_ENCODING" -> h("Content-Encoding"),
      "CONTENT_LENGTH" -> h("Content-Length"),
      "CONTENT_TYPE" -> h("Content-Type"),
      "GATEWAY_INTERFACE" -> "CGI/1.1",
      "HTTP_ACCEPT" -> h("Accept"),
      "HTTP_COOKIE" -> h("Cookie"),
      "HTTP_HOST" -> h("Host"),
      "HTTP_USER_AGENT" -> h("User-Agent"),
      "PATH_INFO" -> scriptName,
      "PATH_TRANSLATED" -> scriptName,
      "QUERY_STRING" -> queryString,
      "REMOTE_USER" -> "",
      "REQUEST_METHOD" -> method,
      "SCRIPT_NAME" -> scriptName,
      "SERVER_PROTOCOL" -> "HTTP/1.1",
      "SERVER_SOFTWARE" -> "graft")
  }

  private def runCgi(source: String, scriptName: String, method: String,
                     queryString: String, requestHeaders: Map[String, String],
                     clockNs: Long, body: Array[Byte],
                     dispatch: String => HttpReply,
                     err: (Int, String) => HttpReply): HttpReply = {
    val writer = new CgiWriter(method, loc => dispatch(loc))
    val stdout = new CgiWriter.LimitedCapture(4096)
    val stderr = new CgiWriter.LimitedCapture(4096)
    val host = new graft.script.Interp.Host {
      def nowNs: Long = clockNs
      override def log(level: String, parts: Seq[Any]): Unit = {
        val line = parts.map(graft.script.Interp.display).mkString(" ")
        if (level == "ERROR") { stderr.write(line + "\n") }
        else {
          stdout.write(line + "\n")
          writer.log(level, Seq(line))
        }
      }
    }
    val interp = new graft.script.Interpreter(host)
    val process = graft.script.Interp.newObj()
    val envObj = graft.script.Interp.newObj()
    cgiEnv(scriptName, method, queryString, requestHeaders)
      .foreach { case (k, v) => envObj(k) = v }
    process("env") = envObj
    // process.stdin: the request body as the script's input stream
    // (the reference passes ctx.Request.Body as the engine stdin
    // Reader, http_public.go:178). read() drains the remainder once;
    // readLine() consumes through the next '\n' (kept, Go bufio-style);
    // both return null at EOF.
    val bodyText = new String(body, "UTF-8")
    var stdinPos = 0
    val stdin = graft.script.Interp.newObj()
    stdin("read") = graft.script.Interp.Native("read", 0, (_, _) =>
      if (stdinPos >= bodyText.length) null
      else { val s = bodyText.substring(stdinPos); stdinPos = bodyText.length; s })
    stdin("readLine") = graft.script.Interp.Native("readLine", 0, (_, _) =>
      if (stdinPos >= bodyText.length) null
      else {
        val nl = bodyText.indexOf('\n', stdinPos)
        val end = if (nl < 0) bodyText.length else nl + 1
        val s = bodyText.substring(stdinPos, end); stdinPos = end; s
      })
    process("stdin") = stdin
    interp.global.declare("process", process)
    def diag(base: String): HttpReply =
      err(500, CgiWriter.appendDiagnostic(base, stdout.toString, stderr.toString))
    // Error-form parity (http_public.go): a failure while the script
    // RUNS — including a CGI parse error raised by a write, which in
    // the reference fails the engine's output write — is an "engine
    // run error"; only Finalize-time parse failures are "invalid cgi
    // response".
    try interp.run(source)
    catch {
      case e: Exception =>
        val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        return diag("engine run error: " + m)
    }
    try writer.finish()
    catch {
      case e: CgiError => diag("invalid cgi response: " + e.getMessage)
      case e: Exception =>
        val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        diag("engine run error: " + m)
    }
  }
}
