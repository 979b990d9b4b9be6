package graft.server

import org.apache.spark.sql.SparkSession
import WebApi.HttpReply

/** The server's one route table (reference mods/server/http.go:268-347):
  * every request the loopback server accepts ([[HttpLoop.ensureServer]])
  * arrives here as one [[WebRoutes.Request]] and leaves as one
  * [[WebApi.HttpReply]]. Routes match on `(method, path segments)`, so
  * `/db/queryx` is not `/db/query`:
  *  - `/db/query` → [[WebApi.dbQuery]], `/db/tql` → [[WebApi.tqlQuery]],
  *    `/db/tql/<path>` → [[WebApi.tqlFile]] over [[ServerFiles.publicFile]];
  *  - `/metrics/write` (line protocol), `/debug/statz[/config]`,
  *    `/debug/metrics`;
  *  - `/db/public/…` and `/public/…` → [[PublicDoor]];
  *  - `/web/api/md` (markdown), the `/web/api/…` management surface and
  *    the `/lakes/…` group;
  *  - any path a spec mounts with [[HttpLoop.handle]].
  * Any other path replies 404 with the `not found` envelope. Decoding
  * that only one route needs (a content-type switch, gunzip, a header)
  * lives beside that route below. */
object WebRoutes {

  /** One decoded exchange. `headers` match names case-insensitively
    * (the first value of each); `rawQuery` is still %-encoded. */
  final case class Request(method: String, path: String, rawQuery: String,
                           headers: Map[String, String], body: Array[Byte]) {
    lazy val text: String = new String(body, "UTF-8")
    /** Query params with repeats kept; throws on a malformed %-escape. */
    lazy val params: Map[String, Seq[String]] = HttpLoop.parseQueryMulti(rawQuery)
    def param(k: String): Option[String] = params.get(k).flatMap(_.headOption)
    lazy val segments: List[String] = path.split("/").toList.filter(_.nonEmpty)
  }

  /** Spec-mounted handlers by exact path ([[HttpLoop.handle]]). */
  private[server] val mounted =
    new java.util.concurrent.ConcurrentHashMap[String, Request => HttpReply]()

  private def notFound(path: String): HttpReply =
    HttpReply(404, "application/json",
      s"""{"success":false,"reason":${graft.sinks.GoJs.jsonQuote(s"'$path' not found")}}""")

  def route(spark: SparkSession, req: Request): HttpReply =
    req.segments match {
      case List("db", "query") => dbQuery(spark, req)
      case List("db", "tql") =>
        WebApi.tqlQuery(spark, req.method, req.params, Some(req.text))
      case "db" :: "tql" :: _ =>
        WebApi.tqlFile(spark, ServerFiles.publicFile, req.path.stripPrefix("/db/tql"),
          req.params, req.headers)
      case List("metrics", "write") => metricsWrite(spark, req)
      // metrics endpoints (http_test.go TestStatz/TestDebugMetrics/
      // TestHandleStatzConfig)
      case List("debug", "statz") =>
        HttpReply(200, "application/json", Metrics.statzJson())
      case List("debug", "statz", "config") => WebApi.statzConfig(req.method, req.text)
      case List("debug", "metrics") =>
        HttpReply(200, "text/plain; version=0.0.4; charset=utf-8", Metrics.prometheusText())
      // static files + cgi-bin scripts from the public tree, at /db/public
      // and at the reference mount /public (http_public.go handlePublic),
      // which the door's own Location values and /db/tql's "/public/…"
      // 302 point at
      case "db" :: "public" :: _ => public(req, "/db/public")
      case "public" :: _ => public(req, "/public")
      case List("web", "api", "md") => markdown(req)
      case "web" :: "api" :: rest => api(spark, req, rest)
      case "lakes" :: rest => lake(spark, req, rest)
      case _ =>
        Option(mounted.get("/" + req.segments.mkString("/")))
          .fold(notFound(req.path))(_(req))
    }

  /** The `/web/api` management surface (http.go:277-335). */
  private def api(spark: SparkSession, req: Request, parts: List[String]): HttpReply = {
    val body = req.text
    (req.method.toUpperCase, parts) match {
      // tables / tags / tag stat (http.go:277-280)
      case ("GET", List("tables")) => WebApi.tablesReply(spark, req.params)
      case ("GET", List("tables", table, "tags")) =>
        WebApi.tagsReply(spark, table, req.params)
      case ("GET", List("tables", table, "tags", tag, "stat")) =>
        WebApi.tagStatReply(spark, table, tag, req.params)
      // timers (http.go:310-315)
      case ("GET", List("backup", "archives")) => Backup.archivesReply()
      case ("POST", List("backup", "archive")) => Backup.archiveReply(spark, body)
      case ("GET", List("backup", "archive", "status")) => Backup.statusReply()
      case ("GET", List("backup", "mounts")) => Backup.mountsReply()
      case ("POST", List("backup", "mounts", name)) =>
        Backup.mountReply(spark, name, body)
      case ("DELETE", List("backup", "mounts", name)) =>
        Backup.unmountReply(spark, name)
      // trailing-slash = empty :name param (backupd.go:367-372, 425-430)
      case ("POST" | "DELETE", List("backup", "mounts")) =>
        Backup.mountReply(spark, "", body)

      case ("GET", List("timers")) => WebApi.timersList(spark)
      case ("GET", List("timers", name)) => WebApi.timerGet(spark, name)
      case ("POST", List("timers")) => WebApi.timersAdd(spark, body)
      case ("POST", List("timers", name, "state")) =>
        WebApi.flatJsonSafe(body).get("state").map(_.toUpperCase) match {
          case Some("START") => WebApi.timersStartStop(spark, name, start = true)
          case Some("STOP") => WebApi.timersStartStop(spark, name, start = false)
          case _ => HttpReply(400, "application/json",
            """{"success":false,"reason":"invalid state"}""")
        }
      case ("PUT", List("timers", name)) => WebApi.timersUpdate(spark, name, body)
      case ("DELETE", List("timers", name)) => WebApi.timersDelete(spark, name)
      // bridges (http.go:316-319)
      case ("GET", List("bridges")) => WebApi.bridgesList()
      case ("POST", List("bridges")) => WebApi.bridgesAdd(body)
      case ("POST", List("bridges", name, "state")) => WebApi.bridgesState(spark, name, body)
      case ("DELETE", List("bridges", name)) => WebApi.bridgesDelete(name)
      // subscribers (http.go:320-324)
      case ("GET", List("subscribers")) => WebApi.subscribersList(spark)
      case ("GET", List("subscribers", name)) => WebApi.subscriberGet(spark, name)
      case ("POST", List("subscribers")) => WebApi.subscribersAdd(spark, body)
      case ("POST", List("subscribers", name, "state")) =>
        WebApi.subscribersState(spark, name, body)
      case ("DELETE", List("subscribers", name)) =>
        WebApi.subscribersDelete(spark, name)
      // statz output-table config (http.go handleStatzConfig; also
      // mounted at /debug/statz/config)
      case (m, List("statz", "config")) => WebApi.statzConfig(m, body)
      // script file manager (http.go:1586-1775 handleFiles over ssfs)
      case (m, "files" :: rest) =>
        ServerFiles.handle(m, "/" + rest.mkString("/"), req.params, body, req.body)
      // splitters / rpc / refs (http.go:297-299, 332)
      case ("POST", List("splitter", "sql")) => WebApi.splitterSql(body)
      case ("POST", List("splitter", "http")) => WebApi.splitterHttp(body)
      case ("POST", List("rpc")) => JsonRpc.handleHttpRpc(spark, body)
      case ("GET", "refs" :: rest) => WebApi.refs("/" + rest.mkString("/"))
      case _ => notFound(req.path)
    }
  }

  /** The `/lakes` handler group (http.go:341-347). */
  private def lake(spark: SparkSession, req: Request, parts: List[String]): HttpReply =
    (req.method.toUpperCase, parts) match {
      case ("GET", List("tags")) => LakeDoor.getTagList(spark, req.params)
      case ("GET", List("values", typ)) => LakeDoor.getValues(spark, typ, req.params)
      case ("GET", List("values")) => LakeDoor.getValues(spark, "", req.params)
      case ("POST", List("values")) => LakeDoor.postValues(spark, "", req.text)
      case ("POST", List("values", typ)) => LakeDoor.postValues(spark, typ, req.text)
      case ("POST", List("inter", "execquery")) => LakeDoor.execQuery(spark, req.text)
      case _ => notFound(req.path)
    }

  /** `/db/query` request decode (http_query.go:25-63): GET reads the query
    * params; POST reads a JSON or form-urlencoded body (http_query_test.go
    * POST_/POST_FORM_ variants); any other POST content type is a 415
    * (TestHttpQueryUnsupportedContentTypeForm). A body or query string
    * that does not decode is a client error, 400, like the reference's
    * ShouldBind failure. `compress=gzip` gzips a 200 body and sets
    * Content-Encoding (TestHttpQueryCompressedResponse). */
  private def dbQuery(spark: SparkSession, req: Request): HttpReply = {
    val t0 = System.nanoTime()
    def bad(status: Int, reason: String) =
      HttpReply(status, "application/json; charset=utf-8",
        WebApi.envelope(success = false, reason, t0))
    val decoded: Either[HttpReply, Map[String, Seq[String]]] =
      try req.method.toUpperCase match {
        case "POST" =>
          req.headers.getOrElse("Content-Type", "")
            .takeWhile(_ != ';').trim.toLowerCase match {
            case "application/json" => Right(WebApi.decodeJsonBodyParams(req.text))
            case "application/x-www-form-urlencoded" =>
              Right(HttpLoop.parseQueryMulti(req.text))
            case other => Left(bad(415, s"unsupported content-type: $other"))
          }
        case _ => Right(req.params)
      } catch { case e: Exception => Left(bad(400, String.valueOf(e.getMessage))) }
    decoded.map { params =>
      val reply = WebApi.dbQuery(spark, params)
      if (reply.status == 200 && params.get("compress").exists(_.headOption.contains("gzip")))
        reply.copy(headers = reply.headers + ("Content-Encoding" -> "gzip"),
          bodyBytes = Some(WebApi.gzip(reply.wireBytes)))
      else reply
    }.merge
  }

  /** `/metrics/write`, the InfluxDB line-protocol door (http_write.go
    * handleLineWrite; shapes from http_write_test.go TestHandleLineWrite):
    * bad gzip → 400 "invalid gzip compression"; missing timestamp → 400
    * {"error":"no timestamp"}; a table-descriptor failure → 400 "column
    * error: …" (http_write.go:489-492); other parse errors → 500;
    * success → 204 No Content. */
  private def metricsWrite(spark: SparkSession, req: Request): HttpReply = {
    def error(status: Int, msg: String) =
      HttpReply(status, "application/json", s"""{"error":${graft.sinks.GoJs.jsonQuote(msg)}}""")
    val payload =
      if (!req.headers.get("Content-Encoding").exists(_.equalsIgnoreCase("gzip")))
        Some(req.body)
      else try {
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(req.body))
        try Some(in.readAllBytes()) finally in.close()
      } catch { case _: Exception => None }
    payload.fold(error(400, "invalid gzip compression")) { bytes =>
      try {
        graft.sources.LineProtocol.writeTo(spark, req.param("db").getOrElse(""), bytes,
          req.param("precision").getOrElse("ns"))
        HttpReply(204, "application/json", "")
      } catch {
        case e: IllegalArgumentException if String.valueOf(e.getMessage) == "no timestamp" ||
            String.valueOf(e.getMessage).startsWith("column error") =>
          error(400, e.getMessage)
        case e: Exception => error(500, String.valueOf(e.getMessage))
      }
    }
  }

  /** The public door under `mount`; the rest of the path is the file. */
  private def public(req: Request, mount: String): HttpReply =
    PublicDoor.handle(req.path.stripPrefix(mount), req.method,
      ServerFiles.publicFile, ServerFiles.publicDir, req.rawQuery, req.headers,
      body = req.body)

  /** `POST /web/api/md` — markdown → XHTML with `{{ file_* }}`
    * substitution from the base64 X-Referer header (http.go:1105-1144
    * handleMarkdown; goldens http_test.go TestMarkdown). */
  private def markdown(req: Request): HttpReply = {
    val referer =
      try Some(new String(java.util.Base64.getDecoder.decode(
        req.headers.getOrElse("X-Referer", "")), "UTF-8"))
      catch { case _: IllegalArgumentException => None }
    referer.fold(HttpReply(400, "text/plain", "illegal base64 data in X-Referer")) { r =>
      HttpReply(200, "application/xhtml+xml",
        Markdown.render(req.text, req.param("darkMode").contains("true"), r))
    }
  }
}
