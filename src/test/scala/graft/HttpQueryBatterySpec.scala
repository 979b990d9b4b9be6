package graft

import graft.server.{Crypto, HttpLoop, QueryDoor, TagTables, WebApi}

/** Body-level mining of `mods/server/http_query_test.go` — the wire
  * contract of the №1 entry point (`GET/POST /db/query`). The fixture
  * mirrors the reference testsuite: tag table EXAMPLE with one 'temp'
  * row at testTimeTick (1705291859) and ten 'test.query' rows at +1s…
  * +10s with values 1.5·k, so the goldens are the reference's own
  * expected bodies verbatim. Plus `mods/util/crypto_test.go` for the
  * ENC: cypher unit surface.
  */
class HttpQueryBatterySpec extends SparkSpec {

  private val tick = 1705291859000000000L // testTimeTick epoch ns
  private lazy val port = HttpLoop.ensureServer(spark)

  private def mkExample(): Unit = {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table example (NAME varchar(100) primary key, TIME datetime basetime, VALUE double summarized)")
    TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
      Seq("temp", Long.box(tick), Double.box(3.14)))
    for (i <- 1 to 10)
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("test.query", Long.box(tick + i * 1000000000L), Double.box(1.5 * i)))
    QueryDoor.execute(spark, "exec table_flush('example')")
  }
  private def dropExample(): Unit =
    QueryDoor.execute(spark, "drop table example")

  private def q(kv: (String, String)*): WebApi.HttpReply =
    WebApi.dbQuery(spark, kv.map { case (k, v) => k -> Seq(v) }.toMap)

  private def stripElapse(body: String): String =
    body.replaceAll(""","?"elapse":"[^"]*"""", "")

  private def httpRaw(method: String, pathAndQuery: String,
                      body: Array[Byte] = null,
                      contentType: String = null): (Int, String, String) = {
    val url = new java.net.URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    if (contentType != null) c.setRequestProperty("Content-Type", contentType)
    if (body != null) {
      c.setDoOutput(true)
      c.getOutputStream.write(body); c.getOutputStream.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
    val ct = String.valueOf(c.getHeaderField("Content-Type"))
    c.disconnect()
    (code, ct, text)
  }
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  // ---- TestHttpQuery case bodies (http_query_test.go:28-208) ----------

  test("select_aliveness: box golden, text/plain (http_query_test.go:38-50)") {
    val r = q("q" -> "select 123 as VaLue", "format" -> "box")
    assert(r.status == 200 && r.contentType == "text/plain", r)
    assert(r.body ==
      "+-------+\n| VALUE |\n+-------+\n| 123   |\n+-------+\n", r.body)
  }

  test("select_v$example: verbatim unaliased columns + datetime types (http_query_test.go:52-66)") {
    mkExample()
    try {
      val r = q("q" ->
        "select (MIN(MIN_TIME)),(MAX(MAX_TIME)) from v$EXAMPLE_stat where name = 'temp'")
      assert(r.status == 200 && r.contentType == "application/json", r)
      assert(stripElapse(r.body) ==
        s"""{"data":{"columns":["(MIN(MIN_TIME))","(MAX(MAX_TIME))"],"types":["datetime","datetime"],"rows":[[$tick,$tick]]},"success":true,"reason":"success"}""",
        r.body)
      // lowercase spelling keeps the as-written case (bind_params_csv
      // case at :85-97 prints the lowercase heads)
      val r2 = q("q" ->
        "select (min(min_time)),(max(max_time)) from v$EXAMPLE_stat where name = ?",
        "p" -> """["temp"]""", "format" -> "csv")
      assert(r2.contentType == "text/csv; charset=utf-8", r2)
      assert(r2.body ==
        s"(min(min_time)),(max(max_time))\n$tick,$tick\n\n", r2.body)
    } finally dropExample()
  }

  test("select_between_sub_query: datetime int64 arithmetic end-to-end (http_query_test.go:170-208)") {
    mkExample()
    try {
      val sql = """SELECT
						to_timestamp((mTime)) AS TIME,
						SUM(SUMMVAL) / SUM(CNTMVAL) AS VALUE
					FROM (
						SELECT
							TIME / (1000 * 1000 * 1000) * (1000 * 1000 * 1000) as mtime,
							sum(VALUE) as SUMMVAL,
							count(VALUE) as CNTMVAL
						FROM
							EXAMPLE
						WHERE
							NAME = 'test.query'
						AND TIME BETWEEN 1705291858000000000 and 1705291958000000000
						GROUP BY mTime
					)
					GROUP BY TIME
					ORDER by TIME LIMIT 400"""
      val r = q("q" -> sql)
      assert(r.status == 200, r)
      val rows = (1 to 10).map { k =>
        val v = 1.5 * k
        val vs = if (v == v.floor) v.toLong.toString else v.toString
        s"[${tick + k * 1000000000L},$vs]"
      }.mkString(",")
      assert(stripElapse(r.body) ==
        s"""{"data":{"columns":["TIME","VALUE"],"types":["int64","double"],"rows":[$rows]},"success":true,"reason":"success"}""",
        r.body)
    } finally dropExample()
  }

  test("POST /db/query JSON body: bind array + transpose as JSON bool (http_query_test.go:244-280)") {
    mkExample()
    try {
      val payload =
        s"""{"q":"select (min(min_time)),(max(max_time)) from v$$EXAMPLE_stat where name = ?","p":["temp"],"transpose":true}"""
      val (code, ct, body) = httpRaw("POST", "/db/query",
        payload.getBytes("UTF-8"), "application/json")
      assert(code == 200 && ct.startsWith("application/json"), s"$code $ct $body")
      assert(stripElapse(body) ==
        s"""{"data":{"columns":["(min(min_time))","(max(max_time))"],"types":["datetime","datetime"],"cols":[[$tick],[$tick]]},"success":true,"reason":"success"}""",
        body)
    } finally dropExample()
  }

  test("POST /db/query form body: p rides as JSON text (http_query_test.go:282-323, TestHttpQueryBindParamErrors)") {
    mkExample()
    try {
      val form = "q=" + enc(
        "select (min(min_time)),(max(max_time)) from v$EXAMPLE_stat where name = ?") +
        "&p=" + enc("""["temp"]""")
      val (code, ct, body) = httpRaw("POST", "/db/query",
        form.getBytes("UTF-8"), "application/x-www-form-urlencoded")
      assert(code == 200 && ct.startsWith("application/json"), s"$code $body")
      assert(stripElapse(body) ==
        s"""{"data":{"columns":["(min(min_time))","(max(max_time))"],"types":["datetime","datetime"],"rows":[[$tick,$tick]]},"success":true,"reason":"success"}""",
        body)
    } finally dropExample()
  }

  test("POST /db/query unsupported content type replies 415 (TestHttpQueryUnsupportedContentTypeForm :495-513)") {
    val (code, ct, body) = httpRaw("POST", "/db/query",
      """{"q":"select 1"}""".getBytes("UTF-8"), "text/plain")
    assert(code == 415, s"$code $body")
    assert(ct.startsWith("application/json"), ct)
    assert(body.contains(""""success":false"""), body)
    assert(body.contains("unsupported content-type: text/plain"), body)
  }

  test("GET /db/query empty q replies the 400 envelope (TestHttpQueryEmptySqlErrors :406-424)") {
    val (code, ct, body) = httpRaw("GET", "/db/query?q=&format=box")
    assert(code == 400, s"$code $body")
    assert(ct == "application/json; charset=utf-8", ct)
    assert(stripElapse(body) ==
      """{"success":false,"reason":"sql text is empty"}""", body)
  }

  test("nested bind param over JSON body: 400 bind parameter must be scalar (TestHttpQueryUnsupportedContentType :476-494)") {
    val payload =
      """{"q":"select (min(min_time)) from v$EXAMPLE_stat where name = ?","p":[{"name":"temp"}]}"""
    val (code, _, body) = httpRaw("POST", "/db/query",
      payload.getBytes("UTF-8"), "application/json")
    assert(code == 400, s"$code $body")
    assert(body.contains(""""success":false"""), body)
    assert(body.contains("bind parameter must be scalar"), body)
  }

  test("mutation lifecycle: bare 3-key envelopes with the engine reasons (TestHttpQueryMutation :326-406)") {
    TagTables.resetDynamicForTest(spark)
    def exec(sql: String, expectReason: String): Unit = {
      val payload = graft.sinks.GoJs.quote(sql)
      val (code, ct, body) = httpRaw("POST", "/db/query",
        s"""{"q":$payload}""".getBytes("UTF-8"), "application/json")
      assert(code == 200 && ct.startsWith("application/json"), s"$code $body")
      // exactly success/reason/elapse — no data field on mutations
      assert(body.contains(s""""reason":${graft.sinks.GoJs.quote(expectReason)}"""), body)
      assert(body.contains(""""success":true"""), body)
      assert(!body.contains(""""data""""), body)
      assert(stripElapse(body) ==
        s"""{"success":true,"reason":${graft.sinks.GoJs.quote(expectReason)}}""", body)
    }
    exec("CREATE TAG TABLE IF NOT EXISTS http_query_mut (name varchar(40) primary key, time datetime basetime, value double summarized)",
      "Created successfully.")
    exec("INSERT INTO http_query_mut VALUES('http-query-mutation', 1705291859123456789, 3.14)",
      "a row inserted.")
    exec("INSERT INTO http_query_mut VALUES('http-query-mutation', 1705291859123456790, 6.28)",
      "a row inserted.")
    exec("INSERT INTO http_query_mut VALUES('http-query-mutation', 1705291859123456791, 9.42)",
      "a row inserted.")
    exec("DELETE FROM http_query_mut WHERE name='http-query-mutation'",
      "3 rows deleted.")
    exec("DROP TABLE http_query_mut", "Dropped successfully.")
  }

  test("compress=gzip: exact CSV golden through the socket (TestHttpQueryCompressedResponse :533-554)") {
    mkExample()
    try {
      val url = new java.net.URI(s"http://127.0.0.1:$port/db/query?q=" +
        enc("select * from EXAMPLE where name = 'temp' limit 10") +
        "&format=csv&compress=gzip").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 200)
      assert(c.getHeaderField("Content-Encoding") == "gzip")
      assert(c.getHeaderField("Content-Type") == "text/csv; charset=utf-8")
      val gz = new java.util.zip.GZIPInputStream(c.getInputStream)
      val body = new String(gz.readAllBytes(), "UTF-8")
      c.disconnect()
      assert(body == s"NAME,TIME,VALUE\ntemp,$tick,3.14\n\n", body)
    } finally dropExample()
  }

  // ---- TestHttpQueryEncrypted (:555-592) + crypto_test.go -------------

  test("ENC: encrypted query executes; wrong key replies 400 invalid padding (TestHttpQueryEncrypted)") {
    mkExample()
    WebApi.cypher = Some(("AES", "1234567890abcdef", ""))
    try {
      val sql = "SELECT count(*) from example"
      val good = "ENC:" + Crypto.encrypt(sql, "AES", "1234567890abcdef")
      val (code, ct, body) = httpRaw("GET", "/db/query?q=" + enc(good) + "&format=box")
      assert(code == 200 && ct == "text/plain", s"$code $ct $body")
      assert(body ==
        "+----------+\n| COUNT(*) |\n+----------+\n| 11       |\n+----------+\n",
        body)
      val bad = "ENC:" + Crypto.encrypt(sql, "AES", "wrong_7890abcdef")
      val (code2, ct2, body2) = httpRaw("GET", "/db/query?q=" + enc(bad) + "&format=box")
      assert(code2 == 400, s"$code2 $body2")
      assert(ct2 == "application/json; charset=utf-8", ct2)
      assert(stripElapse(body2) ==
        """{"success":false,"reason":"decrypt sql fail, invalid padding"}""",
        body2)
    } finally {
      WebApi.cypher = None
      dropExample()
    }
  }

  test("crypto round-trips + key validation (crypto_test.go TestEncryptString/TestDecryptString/TestValidateCypherKey)") {
    // AES round-trip + the reference's pinned golden (crypto_test.go:146)
    assert(Crypto.encrypt("SELECT * FROM TAG LIMIT 3", "AES", "1234567890abcdef") ==
      "SkEWZMD0vnvoKYZWDtFo2alFuMVjkvdEug7JQexO5C8=")
    val aes = Crypto.encrypt("hello world!!!", "AES", "1234567890abcdef")
    assert(Crypto.decrypt(aes, "AES", "1234567890abcdef") == "hello world!!!")
    // 3DES round-trip
    val des = Crypto.encrypt("hello12345678", "3DES", "123456789012345678901234")
    assert(Crypto.decrypt(des, "3DES", "123456789012345678901234") == "hello12345678")
    // unsupported algorithm / bad key lengths, reference messages
    assert(intercept[IllegalArgumentException](
      Crypto.encrypt("foo", "FOO", "bar")).getMessage.contains("unsupported algorithm"))
    assert(intercept[IllegalArgumentException](
      Crypto.encrypt("foo", "AES", "shortkey")).getMessage.contains("AES key must"))
    assert(intercept[IllegalArgumentException](
      Crypto.encrypt("foo", "3DES", "shortkey")).getMessage.contains("3DES key must"))
    assert(intercept[IllegalArgumentException](
      Crypto.decrypt("notbase64", "AES", "1234567890abcdef")).getMessage.nonEmpty)
    // valid key shapes (TestValidateCypherKey)
    Crypto.validateKey("AES", "1234567890abcdef")
    Crypto.validateKey("AES", "1234567890abcdef12345678")
    Crypto.validateKey("AES", "12345678901234567890123456789012")
    Crypto.validateKey("3DES", "123456789012345678901234")
    intercept[IllegalArgumentException](Crypto.validateKey("AES", "toolongkeytoolongkeytoolongkey!"))
    intercept[IllegalArgumentException](Crypto.validateKey("3DES", "toolongkeytoolongkey!"))
    intercept[IllegalArgumentException](Crypto.validateKey("FOO", "somekey"))
    // pad/unpad goldens (TestPKCS5PadAndUnpad)
    val padded = Crypto.pkcs7Pad("1234567".getBytes("UTF-8"), 8)
    assert(padded.length % 8 == 0)
    assert(new String(Crypto.pkcs7Unpad(padded, 8), "UTF-8") == "1234567")
  }

  // ---- POST /web/api/md route (http_test.go TestMarkdown :1243-1307) ---

  test("POST /web/api/md renders markdown with X-Referer file substitution (TestMarkdown, reference golden files)") {
    def run(name: String, referer: String): Unit = {
      val dir = java.nio.file.Paths.get("/root/reference/mods/server/test")
      val src = java.nio.file.Files.readAllBytes(dir.resolve(s"$name.md"))
      val expect = new String(
        java.nio.file.Files.readAllBytes(dir.resolve(s"$name.txt")), "UTF-8")
      val url = new java.net.URI(s"http://127.0.0.1:$port/web/api/md").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setRequestProperty("X-Referer",
        java.util.Base64.getEncoder.encodeToString(referer.getBytes("UTF-8")))
      c.getOutputStream.write(src); c.getOutputStream.close()
      assert(c.getResponseCode == 200, s"$name: ${c.getResponseCode}")
      assert(c.getHeaderField("Content-Type") == "application/xhtml+xml")
      val got = new String(c.getInputStream.readAllBytes(), "UTF-8")
      c.disconnect()
      assert(got == expect, s"$name:\n$got\n-- want --\n$expect")
    }
    run("test_markdown_list",
      s"http://127.0.0.1:$port/web/api/tql/sample/file.wrk")
    run("test_markdown_list_utf8",
      "http://127.0.0.1:5654/web/api/tql/语言/文檔.wrk")
    run("test_markdown_mermaid",
      "http://127.0.0.1:5654/web/api/tql/语言/文檔.wrk")
  }

  // ---- statz / prometheus endpoints (http_test.go:121-283,860-879) -----

  test("/debug/statz JSON, /debug/metrics prometheus text, statz config (TestStatz/TestDebugMetrics/TestHandleStatzConfig/TestStatzConfig)") {
    import graft.server.Metrics
    Metrics.send("go:goroutine_max", 42.0, 1705291859000000000L)
    Metrics.send("machbase:session:stmt:count", 7.0, 1705291859000000000L)
    // GET /debug/statz returns a JSON object with >= 2 entries
    val (c1, ct1, b1) = httpRaw("GET", "/debug/statz")
    assert(c1 == 200 && ct1.startsWith("application/json"), s"$c1 $ct1")
    val obj = graft.script.Builtins.jsonParse(b1)
      .asInstanceOf[scala.collection.Map[String, Any]]
    assert(obj.size >= 2, b1.take(200))
    // /debug/metrics: prometheus exposition with HELP/TYPE + sample
    // line; names sanitize (machbase_ strips, ':' → '_') and _count
    // infers counter (spi/metrics_test.go TestPrometheusHelperFunctions)
    val (c2, ct2, b2) = httpRaw("GET", "/debug/metrics")
    assert(c2 == 200 && ct2.startsWith("text/plain"), s"$c2 $ct2")
    assert(b2.contains("# TYPE session_stmt_count counter"), b2)
    assert(b2.contains("session_stmt_count 7 1705291859000"), b2)
    assert(b2.contains("# TYPE go_goroutine_max gauge"), b2)
    // sanitizer goldens
    import graft.server.Metrics
    assert(Metrics.sanitizePromMetricName("") == "neo_metric")
    assert(Metrics.sanitizePromMetricName("1abc") == "neo_1abc")
    assert(Metrics.sanitizePromMetricName("machbase:cpu-usage") == "cpu_usage")
    assert(Metrics.sanitizePromMetricName("!!!") == "neo_metric")
    assert(Metrics.inferPromMetricType("request_total") == "counter")
    assert(Metrics.inferPromMetricType("request_count") == "counter")
    assert(Metrics.inferPromMetricType("recv_bytes") == "counter")
    assert(Metrics.inferPromMetricType("cpu_usage") == "gauge")
    // statz config: GET current, POST set/trim, malformed 400
    // "unexpected EOF", non-string 400 "invalid out value", DELETE 405
    val (c3, _, b3) = httpRaw("GET", "/debug/statz/config")
    assert(c3 == 200 && b3.contains(""""out":"""), s"$c3 $b3")
    val (c4, _, _) = httpRaw("POST", "/debug/statz/config",
      """{"out":"   "}""".getBytes("UTF-8"), "application/json")
    assert(c4 == 200 && Metrics.metricsDestTable == "", c4)
    val (c5, _, b5) = httpRaw("POST", "/debug/statz/config",
      """{"out":""".getBytes("UTF-8"), "application/json")
    assert(c5 == 400 && b5.contains("unexpected EOF"), s"$c5 $b5")
    val (c6, _, b6) = httpRaw("POST", "/debug/statz/config",
      """{"out":123}""".getBytes("UTF-8"), "application/json")
    assert(c6 == 400 && b6.contains("invalid out value"), s"$c6 $b6")
    val (c7, _, _) = httpRaw("DELETE", "/debug/statz/config")
    assert(c7 == 405, c7)
    // the same handler serves /web/api/statz/config (TestStatzConfig)
    val r = webRoute("GET", "/web/api/statz/config")
    assert(r.status == 200 && r.body.contains(""""success":true"""), r)
  }

  // ---- machbase from_timestamp/to_timestamp dialect (fm_dbsrc.go:191) --

  test("bucket SQL with to_timestamp/from_timestamp executes with ns semantics (fm_dbsrc.go:217 shape)") {
    mkExample()
    try {
      // 2-second buckets over the ten test.query points, the engine's own
      // generated GROUP BY shape (round() half-up like machbase)
      val sql = "SELECT from_timestamp(round(to_timestamp(time)/2000000000)*2000000000) as btime, count(*) as cnt " +
        "FROM example WHERE name = 'test.query' GROUP BY btime ORDER BY btime"
      val r = q("q" -> sql, "format" -> "csv", "timeformat" -> "s")
      assert(r.status == 200, r.body)
      // points at +1..+10s; round(t/2e9) buckets: +1,+2→(1705291860,
      // 1705291862)... half-up: 1705291861/2e9 rounds up
      val lines = r.body.trim.split("\n").toSeq
      assert(lines.head == "btime,cnt", lines)
      assert(lines.tail.map(_.split(",")(1).toInt).sum == 10, r.body)
    } finally dropExample()
  }
}
