package graft.server

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.sinks.GoJs

/** The `/web/api/tables…` REST shapes (reference mods/server/http_query.go
  * + http_tables handlers; expectations pinned in http_test.go:1621-1797):
  * table listing with Kind() strings and glob name filter, per-table tag
  * listing, and the per-tag stat row. All return DataFrames whose machtype
  * metadata drives the JSON envelope's `types` array. */
object WebApi {
  private def f(name: String, dt: DataType, mach: String): StructField =
    StructField(name, dt, nullable = true,
      new MetadataBuilder().putString("machtype", mach).build())

  private def df(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  /** `GET /web/api/tables[?showall=true][&name=glob]` — ROWNUM, DB, USER,
    * NAME, TYPE with api.TableInfo.Kind() display strings ("Tag Table",
    * "KeyValue Table (data)", …). The glob matches table NAME. */
  def tables(spark: SparkSession, showAll: Boolean = false,
             nameGlob: Option[String] = None): DataFrame = {
    val mach = TagTables.allVisibleTables
    val base = mach.map { case (t, typ, _) =>
      (t.toUpperCase, typ match {
        case "Tag" => "Tag Table"
        case "Log" => "Log Table"
        case other => s"$other Table"
      })
    }
    val shadows = if (!showAll) Nil else
      mach.filter(_._2 == "Tag").flatMap { case (t, _, hasRollup) =>
        val tu = t.toUpperCase
        val core = Seq(
          s"_${tu}_DATA_0" -> "KeyValue Table (data)",
          s"_${tu}_META" -> "Lookup Table (meta)")
        val rollups = if (!hasRollup) Nil else
          Seq("SEC", "MIN", "HOUR").map(u =>
            s"_${tu}_ROLLUP_$u" -> "KeyValue Table (rollup)")
        core ++ rollups
      }
    val re = nameGlob.map(globToRegex)
    val rows = (base ++ shadows)
      .filter { case (n, _) => re.forall(_.matches(n)) }
      .sortBy(_._1)
      .zipWithIndex.map { case ((n, kind), i) =>
        Row(i + 1, "MACHBASEDB", "SYS", n, kind)
      }
    df(spark, StructType(Seq(f("ROWNUM", IntegerType, "int32"),
      f("DB", StringType, "string"), f("USER", StringType, "string"),
      f("NAME", StringType, "string"), f("TYPE", StringType, "string"))), rows)
  }

  /** Translate the reference's glob syntax to a case-insensitive java
    * regex — '*' any run, '?' any single char, '[^a-z]' character
    * classes with ranges, '\\' escape (mods/util/glob/match.go:11-34).
    * A malformed class ('[' with no closing ']') degrades to a literal
    * '[', which matches no real table name — same observable outcome as
    * the reference's ErrBadPattern (zero rows). */
  private[graft] def globToRegex(g: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("(?i)^")
    def lit(c: Char): Unit =
      if (c.isLetterOrDigit) sb.append(c) else sb.append('\\').append(c)
    var i = 0
    while (i < g.length) {
      g.charAt(i) match {
        case '*' => sb.append(".*"); i += 1
        case '?' => sb.append('.'); i += 1
        case '\\' if i + 1 < g.length => lit(g.charAt(i + 1)); i += 2
        case '[' =>
          // find the matching ']' — the class must be non-empty, so a
          // ']' directly after '[' (or '[^') is a class member
          var j = i + 1
          if (j < g.length && g.charAt(j) == '^') j += 1
          val start = j
          var close = -1
          while (j < g.length && close < 0) {
            if (g.charAt(j) == '\\' && j + 1 < g.length) j += 2
            else if (g.charAt(j) == ']' && j > start) close = j
            else j += 1
          }
          if (close < 0) { lit('['); i += 1 }
          else {
            sb.append('[')
            var k = i + 1
            if (g.charAt(k) == '^') { sb.append('^'); k += 1 }
            while (k < close) {
              g.charAt(k) match {
                case '\\' if k + 1 < close => lit(g.charAt(k + 1)); k += 2
                case '-' => sb.append('-'); k += 1 // range operator
                case c => lit(c); k += 1
              }
            }
            sb.append(']'); i = close + 1
          }
        case c => lit(c); i += 1
      }
    }
    sb.append('$').toString.r
  }

  /** `GET /web/api/tables/:table/tags` — ROWNUM, NAME of distinct tags. */
  def tags(spark: SparkSession, table: String): DataFrame = {
    TagTables.ensure(spark, table)
    val t = spark.table(table)
    val nameC = if (t.columns.contains("NAME")) "NAME" else "name"
    val names = t.select(nameC).distinct().collect()
      .map(_.getString(0)).sorted
    df(spark, StructType(Seq(f("ROWNUM", IntegerType, "int32"),
      f("NAME", StringType, "string"))),
      names.zipWithIndex.map { case (n, i) => Row(i + 1, n) }.toSeq)
  }

  /** An HTTP front-door reply: status code, Content-Type, body, plus
    * any extra headers (X-Chart-Type, Location). */
  case class HttpReply(status: Int, contentType: String, body: String,
                       headers: Map[String, String] = Map.empty,
                       // binary payloads (image/file serving) must not
                       // round-trip through a UTF-8 String
                       bodyBytes: Option[Array[Byte]] = None) {
    def wireBytes: Array[Byte] = bodyBytes.getOrElse(body.getBytes("UTF-8"))
  }

  /** The `{"success":…,"reason":…,"elapse":…}` envelope of every reply
    * that carries no rows (gin's `c.JSON` in the reference handlers),
    * with an optional `data` object before `elapse`. The reason is quoted
    * like Go's `json.Marshal`, so any reason text reads back as JSON;
    * `elapse` is the Go duration since `t0`. Content types stay with the
    * caller. */
  def envelope(success: Boolean, reason: String, t0: Long,
               data: Option[String] = None): String = {
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    val d = data.fold("")(j => s""","data":$j""")
    s"""{"success":$success,"reason":${GoJs.jsonQuote(reason)}$d,"elapse":"$elapse"}"""
  }

  /** gzip `bytes` (the `compress=gzip` request option). */
  private[server] def gzip(bytes: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(bytes); gz.close()
    buf.toByteArray
  }

  /** Decode a JSON QueryRequest body into the `/db/query` param map —
    * shared by the HTTP POST path and the MQTT db/query door, which
    * carry the same request shape (svrmsg.go QueryRequest). The bind
    * array `p` stays JSON text; booleans/numbers print Go-style. */
  def decodeJsonBodyParams(body: String): Map[String, Seq[String]] =
    graft.script.Builtins.jsonParse(body) match {
      case m: scala.collection.Map[_, _] =>
        m.asInstanceOf[scala.collection.Map[String, Any]].iterator.map {
          case (k, v) =>
            val s = v match {
              case null => ""
              case b: java.lang.Boolean => b.toString
              case str: String => str
              case other =>
                String.valueOf(graft.script.Builtins.jsonStringify(other))
            }
            k -> Seq(s)
        }.toMap
      case _ => Map.empty[String, Seq[String]]
    }

  /** Server cypher for `ENC:`-prefixed query text: (alg, key, pad) per
    * the reference's httpd config (http.go:110-112). Disabled unless
    * configured — matching the reference's empty default. */
  @volatile var cypher: Option[(String, String, String)] = None

  /** `GET/POST /db/query` — request params decoded per the reference's
    * QueryRequest (svrmsg.go:30-108: q, p JSON bind array, format,
    * timeformat, tz, rownum, heading, header=skip, precision, transpose,
    * rowsFlatten, rowsArray, binaryformat, delimiter), bound SQL executed
    * through the query door, rendered by the matching codec with its
    * Content-Type. Errors reply the reference's JSON error envelope
    * (http_query_test.go TestHttpQueryEmptySqlErrors/BindParamInvalid). */
  def dbQuery(spark: SparkSession,
              params: Map[String, Seq[String]]): HttpReply = {
    import graft.sinks.Codecs
    val t0 = System.nanoTime()
    def one(k: String): Option[String] =
      params.get(k).flatMap(_.headOption).filter(_.nonEmpty)
    def bool(k: String, dflt: Boolean): Boolean =
      one(k).map(_.equalsIgnoreCase("true")).getOrElse(dflt)
    def err(status: Int, reason: String): HttpReply =
      HttpReply(status, "application/json; charset=utf-8", envelope(success = false, reason, t0))

    val sqlText0 = one("q").getOrElse("")
    if (sqlText0.trim.isEmpty) return err(400, "sql text is empty")
    // ENC:-prefixed query text decrypts through the server cypher when
    // one is configured (http_query.go:65-74); a decrypt failure is a
    // 400 with the "decrypt sql fail, ..." reason
    // (TestHttpQueryEncrypted wrong-key case)
    val sqlText = cypher match {
      case Some((alg, key, pad)) if sqlText0.startsWith("ENC:") =>
        try Crypto.decrypt(sqlText0.stripPrefix("ENC:"), alg, key, pad)
        catch { case e: Exception =>
          return err(400, "decrypt sql fail, " + e.getMessage) }
      case _ => sqlText0
    }
    val binds: Seq[Any] =
      try parseBindParams(one("p").getOrElse(""))
      catch { case e: IllegalArgumentException => return err(400, e.getMessage) }
    val bound =
      try bindSql(sqlText, binds)
      catch { case e: IllegalArgumentException => return err(400, e.getMessage) }

    val format = one("format").getOrElse("json").toLowerCase
    var o = Codecs.Options(
      heading = bool("heading", dflt = true),
      rownum = bool("rownum", dflt = false),
      precision = one("precision").flatMap(p => p.toIntOption).getOrElse(-1),
      transpose = bool("transpose", dflt = false),
      rowsFlatten = bool("rowsFlatten", dflt = false),
      rowsArray = bool("rowsArray", dflt = false),
      binaryFormat = one("binaryformat").getOrElse("hex"),
      delimiter = one("delimiter").getOrElse(","),
      boxStyle = one("boxStyle").getOrElse("default"),
      separateColumns = bool("boxSeparateColumns", dflt = true),
      drawBorder = bool("boxDrawBorder", dflt = true))
    if (one("header").contains("skip")) o = o.copy(heading = false)
    // an unknown tz is a 400 request error with the Go LoadLocation
    // message, not a 500 (TestHttpQueryUnsupportedTimeLocation)
    try one("tz").foreach(z => o = o.copy(tz = graft.time.TimeFns.resolveTz(z)))
    catch { case e: IllegalArgumentException => return err(400, e.getMessage) }
    one("timeformat").foreach { f =>
      f.toLowerCase match {
        case "s" | "ms" | "us" | "ns" => o = o.copy(timeformat = Some(f.toLowerCase))
        case _ =>
          val (jp, trim) = graft.time.TimeFns.resolveNamedOrGoFormat(f)
          o = o.copy(timeformat = Some(jp), trimFractionZeros = trim)
      }
    }
    try {
      val result = QueryDoor.execute(spark, bound)
      // mutations reply the bare envelope with the engine message as
      // `reason` and no data field (http_query_test.go
      // TestHttpQueryMutation)
      val firstWord = bound.trim.split("\\s+").headOption
        .map(_.toLowerCase).getOrElse("")
      val isQuery = Set("select", "show", "desc", "explain", "with")(firstWord)
      if (!isQuery && result.columns.sameElements(Array("MESSAGE"))) {
        val msg = result.collect().headOption.map(_.getString(0)).getOrElse("executed.")
        return HttpReply(200, "application/json", envelope(success = true, msg, t0))
      }
      val (ct, fm) = format match {
        case "csv" => ("text/csv; charset=utf-8", "CSV")
        case "box" => ("text/plain", "BOX")
        case "ndjson" => ("application/x-ndjson", "NDJSON")
        case "markdown" => ("application/xhtml+xml", "MARKDOWN")
        case _ => ("application/json", "JSON")
      }
      HttpReply(200, ct, Codecs.render(result, fm, o))
    } catch {
      case e: Exception =>
        val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        err(500, m.linesIterator.find(_.nonEmpty).getOrElse(e.toString))
    }
  }

  /** Sink format → reply Content-Type (each reference codec's
    * ContentType()). */
  private[server] def sinkContentType(format: String,
                                      o: graft.sinks.Codecs.Options): String =
    format.toUpperCase match {
      case "CSV" => "text/csv; charset=utf-8"
      case "JSON" => "application/json"
      case "NDJSON" => "application/x-ndjson"
      case "MARKDOWN" =>
        if (o.htmlRender) "application/xhtml+xml" else "text/markdown"
      case "HTML" => "application/xhtml+xml"
      case "CHART" | "CHART_LINE" | "CHART_BAR" | "CHART_SCATTER" => "text/html"
      case "GEOMAP" => "text/html"
      case _ => "text/plain" // BOX, TEXT, DISCARD
    }

  /** `GET/POST /db/tql` (routed by [[WebRoutes]]; http_query.go
    * handleTqlQuery): the `$` query param carries the script; a POST body
    * is the script when `$` is absent, otherwise it becomes the task's
    * payload. The other query params bind `param('name')`. Replies use
    * the sink codec's Content-Type; a script that fails to compile or run
    * replies 400 with the JSON envelope, as do the reference reasons
    * "script not found" and (405) "unsupported method". */
  def tqlQuery(spark: SparkSession, method: String,
               params: Map[String, Seq[String]] = Map.empty,
               body: Option[String] = None): HttpReply = {
    val t0 = System.nanoTime()
    def err(status: Int, reason: String): HttpReply =
      HttpReply(status, "application/json; charset=utf-8", envelope(success = false, reason, t0))
    val scriptParam = params.get("$").flatMap(_.headOption).filter(_.nonEmpty)
    val (script, payload) = method.toUpperCase match {
      case "POST" => scriptParam match {
        case Some(s) => (Some(s), body)
        case None => (body, None)
      }
      case "GET" =>
        scriptParam match {
          case Some(s) => (Some(s), None)
          case None => return err(400, "script not found")
        }
      case _ => return err(405, "unsupported method")
    }
    script match {
      case None => return err(400, "script not found")
      case Some(src) =>
        try runScript(spark, src, (params - "$" - "$token") ++
          payload.map(p => "payload" -> Seq(p)).toMap)
        catch {
          case e: Exception =>
            val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
            err(400, m.linesIterator.find(_.nonEmpty).getOrElse(e.toString))
        }
    }
  }

  /** Compile + render a TQL script, with chart sinks going through the
    * chart renderer; `forceChartJson` models the X-Chart-Output: json
    * request header. The one script → reply path of both `/db/tql`
    * doors. */
  private def runScript(spark: SparkSession, src: String,
                        taskParams: Map[String, Seq[String]],
                        forceChartJson: Boolean = false): HttpReply = {
    val c0 = graft.tql.Compiler.compile(spark, src, params = taskParams)
    val isChart = c0.sink.chartArgs.isDefined
    val c =
      if (isChart && forceChartJson)
        c0.copy(sink = c0.sink.copy(chartArgs = c0.sink.chartArgs.map(
          _ :+ graft.tql.Expr.Call("chartJson", List(graft.tql.Expr.Bool(true))))))
      else c0
    val bodyText = graft.tql.Compiler.renderCompiled(c)
    val ct =
      if (isChart) { if (forceChartJson) "application/json" else "text/html" }
      else if (c.sink.format == "SQLEXEC" || c.sink.format == "TABLEINS")
        "application/json"
      else sinkContentType(c.sink.format, c.sink.options)
    val headers =
      if (isChart && c.sink.format.startsWith("CHART")) Map("X-Chart-Type" -> "echarts")
      else Map.empty[String, String]
    HttpReply(200, ct, bodyText, headers)
  }

  /** `GET /db/tql/<path>` (routed by [[WebRoutes]] over
    * [[ServerFiles.publicFile]]; http_query.go handleTqlFile) — stored
    * scripts and static files: `.tql` paths execute through the engine
    * with the query params bound (missing → 404 "not found", compile
    * failure → 500 envelope); `/public/...` paths redirect; other paths
    * serve their bytes. The file provider abstracts the server-side FS. */
  def tqlFile(spark: SparkSession, fs: String => Option[Array[Byte]],
              path: String, params: Map[String, Seq[String]] = Map.empty,
              requestHeaders: Map[String, String] = Map.empty): HttpReply = {
    val t0 = System.nanoTime()
    def err(status: Int, reason: String): HttpReply =
      HttpReply(status, "application/json; charset=utf-8", envelope(success = false, reason, t0))
    if (path.startsWith("/public/"))
      return HttpReply(302, "", "", Map("Location" -> path))
    if (!path.endsWith(".tql")) {
      return fs(path) match {
        case Some(bytes) => HttpReply(200, "text/plain", new String(bytes, "UTF-8"))
        case None => err(404, s"'$path' not found")
      }
    }
    fs(path) match {
      case None => err(404, s"'$path' not found")
      case Some(src) =>
        try runScript(spark, new String(src, "UTF-8"), params,
          forceChartJson = requestHeaders.get("X-Chart-Output").contains("json"))
        catch {
          case e: Exception =>
            val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
            err(500, m.linesIterator.find(_.nonEmpty).getOrElse(e.toString))
        }
    }
  }

  /** Minimal flat-JSON object reader for request bodies ({string, number,
    * bool} values; throws on malformed input so callers reply the error
    * envelope). */
  private[server] def flatJson(body: String): Map[String, String] = {
    val t = body.trim
    if (!t.startsWith("{") || !t.endsWith("}"))
      throw new IllegalArgumentException("unexpected end of JSON input")
    val re = ("\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*" +
      "(\"((?:[^\"\\\\]|\\\\.)*)\"|true|false|null|-?[0-9.eE+]+)").r
    re.findAllMatchIn(t).map { m =>
      val key = m.group(1).replace("\\\"", "\"")
      val raw = m.group(2)
      val v = if (raw.startsWith("\"")) m.group(3).replace("\\\"", "\"") else raw
      key -> v
    }.toMap
  }

  /** [[flatJson]] that swallows malformed bodies (router-side peeking). */
  private[server] def flatJsonSafe(body: String): Map[String, String] =
    try flatJson(body) catch { case _: Exception => Map.empty }

  /** The `/web/api/timers` REST surface (http_facility_test.go
    * TestTimer): list/add/delete/start/stop with the success envelope;
    * schedules render with the reference's omit-empty field set. */
  def timersList(spark: SparkSession): HttpReply = {
    val t0 = System.nanoTime()
    val svc = graft.scheduler.Timers.defaultService(spark)
    val rows = svc.listSchedules().map { r =>
      val fields = Seq(
        Some(s""""name":${GoJs.quote(r.name)}"""),
        Some(s""""type":${GoJs.quote(r.typ)}"""),
        if (r.autoStart) Some(""""autoStart":true""") else None,
        Some(s""""state":${GoJs.quote(r.state)}"""),
        Option(r.task).filter(_.nonEmpty).map(t => s""""task":${GoJs.quote(t)}"""),
        Option(r.schedule).filter(_.nonEmpty).map(s => s""""schedule":${GoJs.quote(s)}"""),
        Option(r.bridge).filter(_.nonEmpty).map(b => s""""bridge":${GoJs.quote(b)}"""),
        Option(r.topic).filter(_.nonEmpty).map(tp => s""""topic":${GoJs.quote(tp)}""")).flatten
      fields.mkString("{", ",", "}")
    }
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    HttpReply(200, "application/json",
      s"""{"success":true,"reason":"success","elapse":"$elapse",""" +
        s""""data":${rows.mkString("[", ",", "]")}}""")
  }

  def timersAdd(spark: SparkSession, body: String): HttpReply = {
    val t0 = System.nanoTime()
    // a malformed request BODY is the client's fault — 400, while a
    // well-formed request the scheduler rejects (bad cron spec) is 500
    // (http_facility_test.go TestTimer: "{" → StatusBadRequest,
    // "* * a b c d " → StatusInternalServerError)
    val decoded =
      try Right(flatJson(body))
      catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
    decoded match {
      case Left(msg) =>
        HttpReply(400, "application/json", envelope(success = false, msg, t0))
      case Right(obj) =>
        try {
          val svc = graft.scheduler.Timers.defaultService(spark)
          val r = svc.addSchedule(obj.getOrElse("name", ""), "timer",
            obj.get("autoStart").contains("true"),
            obj.getOrElse("schedule", ""), obj.getOrElse("path", ""))
          HttpReply(if (r.success) 200 else 500, "application/json",
            envelope(r.success, r.reason, t0))
        } catch {
          case e: Exception =>
            HttpReply(500, "application/json",
              envelope(success = false, String.valueOf(e.getMessage), t0))
        }
    }
  }

  /** `GET /web/api/timers/:name` (http_facility.go:19-45) — the single
    * schedule envelope; unknown names fail with the definition-file load
    * error like subscribers. */
  def timerGet(spark: SparkSession, name: String): HttpReply =
    scheduleReply(graft.scheduler.Timers.defaultService(spark), name, System.nanoTime())

  /** One schedule's envelope, or the definition-file load error of an
    * unknown name (model.go:108-115). */
  private def scheduleReply(svc: graft.scheduler.Timers.Service, name: String,
                            t0: Long): HttpReply =
    svc.getSchedule(name) match {
      case None =>
        HttpReply(500, "application/json", envelope(success = false,
          s"open ${name.toUpperCase}.json: no such file or directory", t0))
      case Some(r) =>
        HttpReply(200, "application/json",
          envelope(success = true, "success", t0, Some(scheduleJson(r))))
    }

  /** `PUT /web/api/timers/:name` (http_facility.go:208-273): get-check
    * first (unknown name fails), then the schedule/task/autoStart update
    * re-registers the entry. */
  def timersUpdate(spark: SparkSession, name: String, body: String): HttpReply = {
    val t0 = System.nanoTime()
    def reply(status: Int, success: Boolean, reason: String) =
      HttpReply(status, "application/json", envelope(success, reason, t0))
    if (name.isEmpty) return reply(400, success = false, "no name specified")
    val obj =
      try flatJson(body)
      catch { case e: Exception => return reply(400, success = false, e.getMessage) }
    val svc = graft.scheduler.Timers.defaultService(spark)
    if (svc.getSchedule(name).isEmpty)
      return reply(500, success = false,
        s"open ${name.toUpperCase}.json: no such file or directory")
    val r = svc.updateSchedule(name, obj.get("autoStart").contains("true"),
      obj.getOrElse("schedule", ""), obj.getOrElse("path", ""))
    outcome(t0, r.success, r.reason)
  }

  /** `GET /web/api/refs/` (http.go:1812-1847) — the console's static
    * reference-link tree; non-root paths 404 with the reference reason. */
  def refs(path: String): HttpReply = {
    val t0 = System.nanoTime()
    if (path != "/")
      return HttpReply(404, "application/json",
        envelope(success = false, s"'$path' not found", t0))
    def item(typ: String, title: String, addr: String, target: String = ""): String = {
      val tgt = if (target.nonEmpty) s""","target":${GoJs.quote(target)}""" else ""
      s"""{"type":${GoJs.quote(typ)},"title":${GoJs.quote(title)},"address":${GoJs.quote(addr)}$tgt}"""
    }
    def group(label: String, items: Seq[String]): String =
      s"""{"label":${GoJs.quote(label)},"items":${items.mkString("[", ",", "]")}}"""
    val refsGroup = group("REFERENCES", Seq(
      item("url", "machbase-neo docs", "https://docs.machbase.com/neo", "_blank"),
      item("url", "machbase sql reference", "https://docs.machbase.com/dbms/sql-reference/", "_docs_machbase"),
      item("url", "https://machbase.com", "https://machbase.com/", "_home_machbase"),
      item("url", "Tutorials", "https://github.com/machbase/neo-tutorials", "_blank"),
      item("url", "Demo web app", "https://github.com/machbase/neo-apps")))
    val sdk = group("SDK", Seq(
      item("url", "SDK", "https://docs.machbase.com/dbms/sdk-integration/", "_docs_machbase"),
      item("url", ".NET Connector", "https://www.nuget.org/packages/UniMachNetConnector", "_blank"),
      item("url", "Python", "https://pypi.org/project/machbaseapi/", "_blank"),
      item("url", "Node.js", "https://www.npmjs.com/package/@machbase/ts-client", "_blank"),
      item("url", "Go", "https://github.com/machbase/neo-client", "_blank")))
    val cheats = group("CHEAT SHEETS", Seq(
      item("wrk", "markdown example", "./tutorials/sample_markdown.wrk"),
      item("wrk", "mermaid example", "./tutorials/sample_mermaid.wrk"),
      item("wrk", "pikchr example", "./tutorials/sample_pikchr.wrk")))
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    HttpReply(200, "application/json",
      s"""{"success":true,"reason":"success","elapse":"$elapse",""" +
        s""""data":{"refs":[$refsGroup,$sdk,$cheats]}}""")
  }

  def timersDelete(spark: SparkSession, name: String): HttpReply = {
    val t0 = System.nanoTime()
    val r = graft.scheduler.Timers.defaultService(spark).delSchedule(name)
    outcome(t0, r.success, r.reason)
  }

  def timersStartStop(spark: SparkSession, name: String, start: Boolean): HttpReply = {
    val t0 = System.nanoTime()
    val svc = graft.scheduler.Timers.defaultService(spark)
    val r = if (start) svc.startSchedule(name) else svc.stopSchedule(name)
    outcome(t0, r.success, r.reason)
  }

  /** A management op's result: 200 on success, 500 on failure. */
  private def outcome(t0: Long, success: Boolean, reason: String): HttpReply =
    HttpReply(if (success) 200 else 500, "application/json", envelope(success, reason, t0))

  /** One schedule object with the reference's omit-empty field set
    * (scheduler management.go:19-29 — QoS renders only when non-zero,
    * autoStart only when true). */
  private def scheduleJson(r: graft.scheduler.Timers.ScheduleRow): String = {
    val fields = Seq(
      Some(s""""name":${GoJs.quote(r.name)}"""),
      Some(s""""type":${GoJs.quote(r.typ)}"""),
      if (r.autoStart) Some(""""autoStart":true""") else None,
      Some(s""""state":${GoJs.quote(r.state)}"""),
      Option(r.task).filter(_.nonEmpty).map(t => s""""task":${GoJs.quote(t)}"""),
      Option(r.schedule).filter(_.nonEmpty).map(s => s""""schedule":${GoJs.quote(s)}"""),
      Option(r.bridge).filter(_.nonEmpty).map(b => s""""bridge":${GoJs.quote(b)}"""),
      Option(r.topic).filter(_.nonEmpty).map(tp => s""""topic":${GoJs.quote(tp)}"""),
      if (r.qos != 0) Some(s""""QoS":${r.qos}""") else None).flatten
    fields.mkString("{", ",", "}")
  }

  /** The `/web/api/subscribers` REST surface (routes http.go:320-324,
    * handlers http.go:811-1073): subscribers share the scheduler
    * registry with timers — the list filters SUBSCRIBER schedules and
    * sorts by name; add validates against the bridge registry first. */
  def subscribersList(spark: SparkSession): HttpReply = {
    val t0 = System.nanoTime()
    val svc = graft.scheduler.Timers.defaultService(spark)
    val rows = svc.listSchedules()
      .filter(_.typ == "SUBSCRIBER").sortBy(_.name).map(scheduleJson)
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    HttpReply(200, "application/json",
      s"""{"success":true,"reason":"success","elapse":"$elapse",""" +
        s""""data":${rows.mkString("[", ",", "]")}}""")
  }

  /** `GET /web/api/subscribers/:name` — an unknown name fails with the
    * definition-file load error (model.go:108-115). */
  def subscriberGet(spark: SparkSession, name: String): HttpReply =
    scheduleReply(graft.scheduler.Timers.defaultService(spark), name, System.nanoTime())

  /** `POST /web/api/subscribers` (http.go:875-973): duplicate names and
    * unknown bridges reject before the schedule registers; only broker
    * bridge types are subscribable ("unknown birdge type" typo kept). */
  def subscribersAdd(spark: SparkSession, body: String): HttpReply = {
    val t0 = System.nanoTime()
    def reply(status: Int, success: Boolean, reason: String) =
      HttpReply(status, "application/json", envelope(success, reason, t0))
    val obj =
      try flatJson(body)
      catch { case e: Exception => return reply(400, success = false, e.getMessage) }
    val svc = graft.scheduler.Timers.defaultService(spark)
    val name = obj.getOrElse("name", "")
    if (svc.getSchedule(name).isDefined)
      return reply(500, success = false, "duplicate name")
    val bridgeName = obj.getOrElse("bridge", "")
    Bridge.typeOf(bridgeName) match {
      case None =>
        reply(500, success = false,
          s"open ${bridgeName.toLowerCase}.json: no such file or directory")
      case Some(t) if t != "mqtt" && t != "nats" =>
        reply(500, success = false, s"""unknown birdge type "$t"""")
      case Some(_) =>
        val r = svc.addSchedule(name, "subscriber",
          obj.get("autoStart").contains("true"),
          schedule = "", task = obj.getOrElse("task", ""),
          bridge = bridgeName, topic = obj.getOrElse("topic", ""),
          qos = obj.get("QoS").flatMap(_.toIntOption).getOrElse(0))
        outcome(t0, r.success, r.reason)
    }
  }

  def subscribersDelete(spark: SparkSession, name: String): HttpReply = {
    val t0 = System.nanoTime()
    val r = graft.scheduler.Timers.defaultService(spark).delSchedule(name)
    outcome(t0, r.success, r.reason)
  }

  /** `POST /web/api/subscribers/:name/state` — START/STOP (case
    * insensitive); anything else is "invalid state" 400 (http.go:1001). */
  def subscribersState(spark: SparkSession, name: String, body: String): HttpReply = {
    val t0 = System.nanoTime()
    def bad(reason: String) =
      HttpReply(400, "application/json", envelope(success = false, reason, t0))
    val obj =
      try flatJson(body)
      catch { case e: Exception => return bad(e.getMessage) }
    val svc = graft.scheduler.Timers.defaultService(spark)
    obj.getOrElse("state", "").toUpperCase match {
      case "START" =>
        val r = svc.startSchedule(name)
        outcome(t0, r.success, r.reason)
      case "STOP" =>
        val r = svc.stopSchedule(name)
        outcome(t0, r.success, r.reason)
      case _ => bad("invalid state")
    }
  }

  /** The `/web/api/bridges` REST surface (http_facility_test.go
    * TestBridge): list/add/delete/state envelopes; a duplicate name
    * rejects with the reference reason before the management op runs. */
  def bridgesList(): HttpReply = {
    val t0 = System.nanoTime()
    val rows = Bridge.list.map { case (n, t, p) =>
      s"""{"name":${GoJs.quote(n)},"type":${GoJs.quote(t)},"path":${GoJs.quote(p)}}"""
    }
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    HttpReply(200, "application/json",
      s"""{"success":true,"reason":"success","elapse":"$elapse",""" +
        s""""data":${rows.mkString("[", ",", "]")}}""")
  }

  def bridgesAdd(body: String): HttpReply = {
    val t0 = System.nanoTime()
    def reply(status: Int, success: Boolean, reason: String) =
      HttpReply(status, "application/json", envelope(success, reason, t0))
    try {
      val obj = flatJson(body)
      val name = obj.getOrElse("name", "")
      if (Bridge.list.exists(_._1.equalsIgnoreCase(name)))
        return reply(400, success = false, s"'$name' is duplicate bridge name.")
      val r = Bridge.addBridge(name, obj.getOrElse("type", ""),
        obj.getOrElse("path", ""))
      reply(if (r.success) 200 else 400, r.success, r.reason)
    } catch {
      case e: Exception => reply(500, success = false, e.getMessage)
    }
  }

  def bridgesDelete(name: String): HttpReply = {
    val t0 = System.nanoTime()
    val r = Bridge.delBridge(name)
    outcome(t0, r.success, r.reason)
  }

  /** `POST /web/api/bridges/:name/state` — test/exec/query
    * (http_facility.go handleBridgeState + execBridge/queryBridge;
    * shapes from http_facility_test.go TestBridgeStateExecAndQuery:
    * query replies `data.column`/`data.rows`, an empty query command is
    * a 400 "no command specified", a missing bridge or bad SQL is 500). */
  def bridgesState(spark: SparkSession, name: String, body: String): HttpReply = {
    val t0 = System.nanoTime()
    def reply(status: Int, success: Boolean, reason: String) =
      HttpReply(status, "application/json", envelope(success, reason, t0))
    try {
      val req = flatJson(body)
      val command = req.getOrElse("command", "")
      req.getOrElse("state", "").toLowerCase match {
        case "test" =>
          val r = Bridge.testBridge(name)
          reply(200, r.success, r.reason)
        case "exec" =>
          if (!Bridge.exists(name))
            return reply(500, success = false, s"bridge '$name' not found")
          try {
            Bridge(name).exec(spark, command, Nil)
            reply(200, success = true, "success")
          } catch {
            case e: Exception => reply(500, success = false,
              String.valueOf(e.getMessage))
          }
        case "query" =>
          if (command.isEmpty)
            return reply(400, success = false, "no command specified")
          if (!Bridge.exists(name))
            return reply(500, success = false, s"bridge '$name' not found")
          try {
            val df = Bridge(name).query(spark, command, Nil)
            val cols = df.columns.map(GoJs.jsonQuote).mkString("[", ",", "]")
            val rows = df.collect().map(r =>
              r.toSeq.map(GoJs.jsonMarshal).mkString("[", ",", "]"))
              .mkString("[", ",", "]")
            HttpReply(200, "application/json", envelope(success = true, "success", t0,
              Some(s"""{"column":$cols,"rows":$rows}""")))
          } catch {
            case e: Exception => reply(500, success = false,
              String.valueOf(e.getMessage))
          }
        case other => reply(400, success = false, s"invalid state '$other'")
      }
    } catch {
      case e: Exception => reply(500, success = false, e.getMessage)
    }
  }

  /** `/debug/statz/config` + `/web/api/statz/config` (http.go
    * handleStatzConfig; shapes from http_test.go TestHandleStatzConfig):
    * GET replies the current output table, POST sets it — a malformed
    * body is a 400 with the decoder message, a non-string `out` is a 400
    * "invalid out value", other methods are 405. */
  def statzConfig(method: String, body: String): HttpReply = {
    val t0 = System.nanoTime()
    def err(status: Int, reason: String) =
      HttpReply(status, "application/json", envelope(success = false, reason, t0))
    method.toUpperCase match {
      case "GET" =>
        HttpReply(200, "application/json", envelope(success = true, "success", t0,
          Some(s"""{"out":${GoJs.quote(Metrics.metricsDestTable)}}""")))
      case "POST" =>
        val parsed =
          try graft.script.Builtins.jsonParse(body)
          catch { case e: Exception =>
            return err(400, String.valueOf(e.getMessage)) }
        parsed match {
          case m: scala.collection.Map[_, _] =>
            m.asInstanceOf[scala.collection.Map[String, Any]].get("out") match {
              case Some(s: String) =>
                Metrics.setMetricsDestTable(s)
                HttpReply(200, "application/json", envelope(success = true, "success", t0))
              case _ => err(400, "invalid out value")
            }
          case _ => err(400, "invalid out value")
        }
      case _ => err(405, "unsupported method")
    }
  }

  /** `POST /web/api/splitter/sql` — the console's statement splitter
    * (http_test.go TestSplitSQL envelope shape). */
  def splitterSql(body: String): HttpReply = {
    val t0 = System.nanoTime()
    val stmts = Splitters.splitSqlStatements(body).map(_.toJson)
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    HttpReply(200, "application/json",
      s"""{"success":true,"reason":"success","elapse":"$elapse",""" +
        s""""data":{"statements":${stmts.mkString("[", ",", "]")}}}""")
  }

  /** `POST /web/api/splitter/http` (http_test.go TestSplitHTTP). */
  def splitterHttp(body: String): HttpReply = {
    val t0 = System.nanoTime()
    val stmts = Splitters.splitHttpStatements(body).map(_.toJson)
    val elapse = graft.time.TimeFns.goDurationString(System.nanoTime() - t0)
    HttpReply(200, "application/json",
      s"""{"success":true,"reason":"success","elapse":"$elapse",""" +
        s""""data":{"statements":${stmts.mkString("[", ",", "]")}}}""")
  }

  /** `p` bind array: JSON scalars only (svrmsg.go normalizeQueryParamValue
    * — arrays/objects reject with the Go type token). */
  private[server] def parseBindParams(raw: String): Seq[Any] = {
    if (raw.trim.isEmpty) return Nil
    // `p` is a JSON array of scalars (svrmsg.go QueryRequest.Params); a
    // nested array or object element errors with the reference's Go-typed
    // message (TestHttpQueryBindParamInvalid / UnsupportedContentType)
    val parsed =
      try graft.script.Builtins.jsonParse(raw)
      catch { case _: Exception =>
        throw new IllegalArgumentException(s"invalid p, $raw") }
    parsed match {
      case s: scala.collection.Seq[_] => s.iterator.map {
        case _: scala.collection.Seq[_] => throw new IllegalArgumentException(
          "bind parameter must be scalar, got []interface {}")
        case _: scala.collection.Map[_, _] => throw new IllegalArgumentException(
          "bind parameter must be scalar, got map[string]interface {}")
        case v => v
      }.toSeq
      case _ => throw new IllegalArgumentException(s"invalid p, $raw")
    }
  }

  /** Substitute `?` placeholders (outside quoted strings) with SQL
    * literals from the bind array. */
  private[server] def bindSql(sql: String, binds: Seq[Any]): String = {
    if (binds.isEmpty) return sql
    val sb = new StringBuilder
    var bi = 0
    var i = 0
    var quote: Char = 0
    while (i < sql.length) {
      val c = sql(i)
      if (quote != 0) { sb.append(c); if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') { sb.append(c); quote = c }
      else if (c == '?') {
        require(bi < binds.size, s"not enough bind parameters")
        sb.append(binds(bi) match {
          case null => "NULL"
          case s: String => "'" + s.replace("'", "''") + "'"
          case b: Boolean => if (b) "TRUE" else "FALSE"
          case d: Double if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
          case other => other.toString
        })
        bi += 1
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** `GET /web/api/tables/:table/tags/:tag/stat` — the reference's
    * per-tag stat row (http_test.go:1748-1797): ROWNUM, NAME, ROW_COUNT,
    * MIN/MAX_TIME, MIN/MAX_VALUE(+times), RECENT_ROW_TIME; time columns
    * are machtype datetime (epoch-ns in the JSON envelope). */
  def tagStat(spark: SparkSession, table: String, tag: String): DataFrame = {
    val stat = QueryDoor.execute(spark, s"show tags $table $tag").collect()
    val rows = stat.zipWithIndex.map { case (r, i) =>
      Row(i + 1, r.get(1), r.get(2), r.get(3), r.get(4),
        r.get(6), r.get(7), r.get(8), r.get(9), r.get(5))
    }.toSeq
    df(spark, StructType(Seq(
      f("ROWNUM", IntegerType, "int32"),
      f("NAME", StringType, "string"),
      f("ROW_COUNT", LongType, "int64"),
      f("MIN_TIME", LongType, "datetime"),
      f("MAX_TIME", LongType, "datetime"),
      f("MIN_VALUE", DoubleType, "double"),
      f("MIN_VALUE_TIME", LongType, "datetime"),
      f("MAX_VALUE", DoubleType, "double"),
      f("MAX_VALUE_TIME", LongType, "datetime"),
      f("RECENT_ROW_TIME", LongType, "datetime"))), rows)
  }

  // ---- /web/api/tables REST surface (http_query.go:395-625) ------------

  private def rowsReply(d: DataFrame, o: graft.sinks.Codecs.Options =
      graft.sinks.Codecs.Options()): HttpReply =
    HttpReply(200, "application/json",
      graft.sinks.Codecs.render(d, "JSON", o))

  /** `GET /web/api/tables?name=&showall=` — standard envelope of
    * ROWNUM/DB/USER/NAME/TYPE. The `name` filter is a glob when it
    * contains glob metacharacters, a PREFIX match otherwise
    * (http_query.go:398-443). */
  def tablesReply(spark: SparkSession,
                  params: Map[String, Seq[String]]): HttpReply = {
    def one(k: String) = params.get(k).flatMap(_.headOption).filter(_.nonEmpty)
    val showAll = one("showall").exists(_.equalsIgnoreCase("true"))
    val glob = one("name").map(_.toUpperCase).map { n =>
      if (n.exists("*?[".contains(_))) n else n + "*"
    }
    rowsReply(tables(spark, showAll, glob))
  }

  /** `GET /web/api/tables/:table/tags?name=` — ROWNUM/NAME rows; the
    * name filter is a prefix on the UPPERCASED query (the reference
    * uppercases the filter but not the tag, http_query.go:476,522);
    * a non-tag table replies 400 "not a tag table". */
  def tagsReply(spark: SparkSession, table: String,
                params: Map[String, Seq[String]]): HttpReply = {
    val isTag = TagTables.allVisibleTables
      .exists(t => t._1.equalsIgnoreCase(table) && t._2 == "Tag")
    if (!isTag)
      return HttpReply(400, "application/json",
        """{"success":false,"reason":"not a tag table"}""")
    val filter = params.get("name").flatMap(_.headOption)
      .filter(_.nonEmpty).map(_.toUpperCase)
    val d0 = tags(spark, table)
    val d = filter.map(p => d0.filter(col("NAME").startsWith(p))).getOrElse(d0)
    rowsReply(d)
  }

  /** `GET /web/api/tables/:table/tags/:tag/stat?timeformat=&tz=` —
    * the per-tag stat envelope; datetime columns honor timeformat/tz
    * exactly like /db/query (http_query.go:553-625). */
  def tagStatReply(spark: SparkSession, table: String, tag: String,
                   params: Map[String, Seq[String]]): HttpReply = {
    // same contract as tagsReply / the reference (http_query.go:573-600):
    // the table lookup itself failing (table doesn't exist) is a 500
    // with the lookup error; an EXISTING non-tag table and a bad
    // tz/timeformat are CLIENT errors (400); a failure while computing
    // the stat is a 500
    val known = TagTables.allVisibleTables
      .find(t => t._1.equalsIgnoreCase(table))
    if (known.isEmpty)
      return HttpReply(500, "application/json",
        s"""{"success":false,"reason":${GoJs.jsonQuote(
          s"Table not found: ${table.toUpperCase}.")}}""")
    if (known.get._2 != "Tag")
      return HttpReply(400, "application/json",
        """{"success":false,"reason":"not a tag table"}""")
    def one(k: String) = params.get(k).flatMap(_.headOption).filter(_.nonEmpty)
    var o = graft.sinks.Codecs.Options()
    try {
      one("tz").foreach(z => o = o.copy(tz = graft.time.TimeFns.resolveTz(z)))
      one("timeformat").foreach { fmt =>
        fmt.toLowerCase match {
          case "s" | "ms" | "us" | "ns" => o = o.copy(timeformat = Some(fmt.toLowerCase))
          case _ =>
            val (jp, trim) = graft.time.TimeFns.resolveNamedOrGoFormat(fmt)
            o = o.copy(timeformat = Some(jp), trimFractionZeros = trim)
        }
      }
    } catch {
      case e: Exception =>
        val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        return HttpReply(400, "application/json",
          s"""{"success":false,"reason":${GoJs.jsonQuote(m)}}""")
    }
    try rowsReply(tagStat(spark, table, tag), o)
    catch {
      case e: Exception =>
        val m = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        HttpReply(500, "application/json",
          s"""{"success":false,"reason":${GoJs.jsonQuote(m)}}""")
    }
  }
}
