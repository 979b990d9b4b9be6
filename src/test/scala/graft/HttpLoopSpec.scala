package graft

import graft.server.HttpLoop
import graft.tql.Tql

/** TQL HTTP surface against the in-JVM loopback double: the `HTTP()`
  * request-DSL source (TestRestClient, fm_encoder.go:169-183) and the
  * `doHttp` WHEN action (task_test.go:1520-1590). The container has zero
  * egress, so the double stands in for the reference's live server while
  * the DSL parser, raw request builder, and response plumbing run for
  * real over a socket.
  */
class HttpLoopSpec extends SparkSpec {

  private lazy val port = HttpLoop.ensureServer(spark)

  test("HTTP() source: rest-client-query-csv (tql_test.go:2769-2793)") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation")
    val result = runTrim(
      s"""HTTP({
         |  GET http://127.0.0.1:$port/db/query
         |  ?q=select n_nationkey, n_name from nation order by n_nationkey limit 2
         |  &format=csv
         |})
         |TEXT()
         |""".stripMargin)
    assert(result.startsWith("HTTP/1.1 200 OK"), result.take(200))
    // the JDK server double title-cases only the first word of header
    // names ("Content-type"); the reference Go server sends Content-Type
    assert(result.toLowerCase.contains("content-type: text/csv"), result.take(400))
    assert(result.contains("0,NATION_0") && result.contains("1,NATION_1"), result)
  }

  test("compress=gzip gzips the body with Content-Encoding (http_query_test.go TestHttpQueryCompressedResponse)") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation")
    val q = java.net.URLEncoder.encode(
      "select n_nationkey, n_name from nation order by n_nationkey limit 2", "UTF-8")
    val url = new java.net.URI(
      s"http://127.0.0.1:$port/db/query?q=$q&format=csv&compress=gzip").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField("Content-Encoding") == "gzip")
      assert(conn.getHeaderField("Content-Type").startsWith("text/csv"))
      val gz = new java.util.zip.GZIPInputStream(conn.getInputStream)
      val body = new String(gz.readAllBytes(), "UTF-8")
      assert(body.contains("0,NATION_0") && body.contains("1,NATION_1"), body)
    } finally conn.disconnect()
  }

  test("/metrics/write line-protocol envelopes (http_write_test.go TestHandleLineWrite)") {
    import graft.server.{QueryDoor, TagTables}
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table p2line (NAME varchar(200) primary key, TIME datetime basetime, VALUE double summarized)")
    def post(body: Array[Byte], q: String, gzipHdr: Boolean = false): (Int, String) = {
      val url = new java.net.URI(s"http://127.0.0.1:$port/metrics/write?db=p2line$q").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/octet-stream")
      if (gzipHdr) c.setRequestProperty("Content-Encoding", "gzip")
      c.getOutputStream.write(body); c.getOutputStream.close()
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body2 = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
      c.disconnect(); (code, body2)
    }
    def gz(s: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(buf)
      g.write(s.getBytes("UTF-8")); g.close(); buf.toByteArray
    }
    try {
      // invalid gzip → 400
      val (c1, b1) = post("not-gzip".getBytes("UTF-8"), "", gzipHdr = true)
      assert(c1 == 400 && b1.contains("invalid gzip compression"), s"$c1 $b1")
      // missing timestamp → 400 {"error":"no timestamp"}
      val (c2, b2) = post("cpu,host=desktop usage_irq=1".getBytes("UTF-8"), "")
      assert(c2 == 400 && b2.contains("\"error\":\"no timestamp\""), s"$c2 $b2")
      // measurement parse error → 500
      val (c3, b3) = post(",host=desktop usage_irq=1 1670975120000000000".getBytes("UTF-8"), "")
      assert(c3 == 500 && b3.contains("measurement error"), s"$c3 $b3")
      // tag parse error → 500
      val (c4, b4) = post("cpu,host usage_irq=1 1670975120000000000".getBytes("UTF-8"), "")
      assert(c4 == 500 && b4.contains("tag error"), s"$c4 $b4")
      // precision ms/us accepted → 204
      assert(post("cpu,host=desktop usage_irq=1 1670975120000".getBytes("UTF-8"),
        "&precision=ms")._1 == 204)
      assert(post("cpu,host=desktop usage_irq=1 1670975120000000".getBytes("UTF-8"),
        "&precision=us")._1 == 204)
      // gzip'd valid payload → 204
      assert(post(gz("cpu,host=desktop usage_irq=1 1670975120000000000"),
        "", gzipHdr = true)._1 == 204)
      // the three good writes landed with the same instant
      val n = spark.table("p2line")
        .filter(org.apache.spark.sql.functions.col("NAME") === "cpu.usage_irq").count()
      assert(n == 3L, s"rows=$n")
      // undefined target table → 400 "column error: ..." (the reference's
      // table-descriptor failure path, http_write.go:489-492), not 500
      val url5 = new java.net.URI(
        s"http://127.0.0.1:$port/metrics/write?db=no_such_tbl").toURL
      val c5 = url5.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c5.setRequestMethod("POST"); c5.setDoOutput(true)
      c5.getOutputStream.write(
        "cpu,host=desktop usage_irq=1 1670975120000000000".getBytes("UTF-8"))
      c5.getOutputStream.close()
      val code5 = c5.getResponseCode
      val b5 = new String(c5.getErrorStream.readAllBytes(), "UTF-8")
      c5.disconnect()
      assert(code5 == 400 && b5.contains("column error"), s"$code5 $b5")
    } finally QueryDoor.execute(spark, "drop table p2line")
  }

  test("doHttp GET: one request per matching record (task_test.go:1520-1546)") {
    val got = new java.util.concurrent.CopyOnWriteArrayList[String]()
    HttpLoop.handle("/notify") { (method, query, _, _) =>
      assert(method == "GET")
      HttpLoop.parseQuery(query).get("v").foreach(got.add)
      (200, "text/plain", "ok.".getBytes("UTF-8"))
    }
    runTrim(
      s"""FAKE( linspace(0, 2, 2) )
         |PUSHVALUE(0, "msg123")
         |WHEN( glob("msg*", value(0)), doHttp("GET", strSprintf("http://127.0.0.1:%d/notify?v=%f", $port, value(1)), nil) )
         |DISCARD()
         |""".stripMargin)
    assert(got.size == 2, got)
    assert(got.get(0) == "0.000000" && got.get(1) == "2.000000", got)
  }

  test("doHttp POST value(): CSV body, text/csv default (task_test.go:1548-1590)") {
    val bodies = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ctypes = new java.util.concurrent.CopyOnWriteArrayList[String]()
    HttpLoop.handle("/notify-post") { (method, _, headers, body) =>
      assert(method == "POST")
      headers.get("content-type").foreach(ctypes.add)
      bodies.add(new String(body, "UTF-8").trim)
      (200, "text/plain", "ok.".getBytes("UTF-8"))
    }
    runTrim(
      s"""FAKE( linspace(0, 2, 2) )
         |PUSHVALUE(0, "msg123")
         |WHEN( glob("msg*", value(0)), doHttp("POST", "http://127.0.0.1:$port/notify-post", value()) )
         |DISCARD()
         |""".stripMargin)
    assert(bodies.size == 2, bodies)
    assert(bodies.get(0) == "msg123,0" && bodies.get(1) == "msg123,2", bodies)
    assert(ctypes.size == 2 && ctypes.get(0) == "text/csv", ctypes)
  }

  test("httpdsl exec bodies: query encoding, file directives, form body (httpdsl/exec_test.go:80-164)") {
    import graft.server.HttpLoop
    // GET with ?/& extension lines: the raw request carries Go
    // url.Values encoding (space → +, * → %2A), sorted keys
    val (reqRaw, rspRaw) = HttpLoop.executeDslExchange(
      s"GET http://127.0.0.1:$port/db/query\n?q=select * from tag_simple\n&format=json\n")
    assert(reqRaw.contains("GET /db/query?"), reqRaw.take(120))
    assert(reqRaw.contains("q=select+%2A+from+tag_simple"), reqRaw.take(200))
    assert(reqRaw.contains("format=json"), reqRaw.take(200))
    assert(rspRaw.startsWith("HTTP/1.1 "), rspRaw.take(40))

    // POST body from an OS file via `< @path` (unicode name)
    val dir = java.nio.file.Paths.get(tempDir("dsl_files"))
    // (the reference uses a Korean filename; this container's JVM file
    // encoding cannot create one — the directive path handling is the
    // same either way)
    val jsonPath = dir.resolve("payload-unicode.json")
    java.nio.file.Files.write(jsonPath,
      """{"q":"select 1 as one"}""".getBytes("UTF-8"))
    val (req2, rsp2) = HttpLoop.executeDslExchange(
      s"POST http://127.0.0.1:$port/db/query\nContent-Type: application/json\n\n< @$jsonPath")
    assert(req2.contains("Content-Type: application/json\r\n"), req2.take(200))
    assert(rsp2.contains("\"success\":true"), rsp2.take(300))

    // multipart with per-part file directives (@os-path form)
    val imagePath = dir.resolve("1.png")
    java.nio.file.Files.write(imagePath, "PNGDATA".getBytes("UTF-8"))
    val boundary = "----WebKitFormBoundary7MA4YWxkTrZu0gW"
    val (req3, _) = HttpLoop.executeDslExchange(Seq(
      s"POST http://127.0.0.1:$port/db/query",
      s"Content-Type: multipart/form-data; boundary=$boundary",
      "",
      s"--$boundary",
      "Content-Disposition: form-data; name=\"name\"",
      "",
      "John",
      s"--$boundary",
      "Content-Disposition: form-data; name=\"image\"; filename=\"1.png\"",
      "Content-Type: image/png",
      "",
      s"< @$imagePath",
      s"--$boundary--").mkString("\n"))
    assert(req3.contains("PNGDATA"), req3.takeRight(300))
    assert(req3.contains("name=\"image\"; filename=\"1.png\""), req3.takeRight(400))

    // form-urlencoded body with & continuation reaches the server intact
    val (_, rsp4) = HttpLoop.executeDslExchange(
      s"POST http://127.0.0.1:$port/db/query\nContent-Type: application/x-www-form-urlencoded\n\nq=select 7 as seven\n&format=csv")
    assert(rsp4.contains("seven") && rsp4.contains("7"), rsp4.take(300))
  }

  test("egress is refused for non-loopback hosts") {
    val e = intercept[Exception] {
      runTrim("HTTP({\n  GET http://example.com/anything\n})\nTEXT()\n")
    }
    assert(e.getMessage.contains("egress disabled"), e.getMessage)
    // doHttp logs the refusal instead of failing the pipeline (the
    // reference logs request errors and keeps going)
    val out = runTrim(
      """FAKE( linspace(0, 1, 2) )
        |WHEN( true, doHttp("GET", "http://example.com/x", nil) )
        |CSV()
        |""".stripMargin)
    assert(out == "0\n1\n", out)
  }

  test("js-request: $.request().do(rsp.text) (fm_script_test.go:366-378)") {
    import spark.implicits._
    Seq(("js-req", java.sql.Timestamp.valueOf("2023-10-01 00:00:00"), 1.234))
      .toDF("name", "time", "value").createOrReplaceTempView("tag_simple")
    val out = runTrim(
      s"""SCRIPT("js", {
         |  $$.request("http://127.0.0.1:$port/db/query?q="+encodeURIComponent("select name, time, value from tag_simple limit 2"), {method: "GET"})
         |   .do( (rsp) => {
         |    rsp.text((body) => {
         |      obj = JSON.parse(body);
         |      $$.yield(obj.reason, obj.success);
         |    })
         |  })
         |})
         |CSV()
         |""".stripMargin)
    assert(out == "success,true\n", out)
  }

  test("js-request-json: rsp.json envelope fields (fm_script_test.go:380-396)") {
    import spark.implicits._
    Seq(("js-req", java.sql.Timestamp.valueOf("2023-10-01 00:00:00"), 1.234))
      .toDF("name", "time", "value").createOrReplaceTempView("tag_simple")
    val out = runTrim(
      s"""SCRIPT("js", {
         |  $$.request("http://127.0.0.1:$port/db/query?q="+encodeURIComponent("select name, time, value from tag_simple limit 2"), {method: "GET"})
         |   .do( (rsp) => {
         |    rsp.json((body) => {
         |      $$.yield(...body.data.columns);
         |      $$.yield(...body.data.types);
         |    })
         |  })
         |})
         |CSV()
         |""".stripMargin)
    assert(out == "name,time,value\nstring,datetime,double\n", out)
  }

  test("js-request csv reader + request error surfaces as Error value") {
    val out = runTrim(
      s"""SCRIPT("js", {
         |  $$.request("http://127.0.0.1:$port/db/query?q="+encodeURIComponent("select 7 as a, 'x,y' as b")+"&format=csv", {method: "GET"})
         |   .do( (rsp) => {
         |    rsp.csv((fields) => { $$.yield(fields[0], fields[1]); })
         |  })
         |})
         |CSV()
         |""".stripMargin)
    // /db/query CSV includes the heading row by default (reference
    // golden TestHttpQueryCompressedResponse leads with NAME,TIME,VALUE)
    // and the script-side csv reader sees it as a plain fields row
    assert(out == "a,b\n7,\"x,y\"\n", out)
    val err = runTrim(
      """SCRIPT("js", {
        |  $.request("http://example.com/x").do( (rsp) => {
        |    $.yield(rsp.ok, rsp.error() instanceof Error);
        |  })
        |})
        |CSV()
        |""".stripMargin)
    assert(err == "false,true\n", err)
  }

  test("POST /db/tql runs a script end-to-end over the socket") {
    val resp = HttpLoop.executeDsl(
      s"""POST http://127.0.0.1:$port/db/tql
         |Content-Type: text/plain
         |
         |FAKE( linspace(0, 2, 3) )
         |CSV()""".stripMargin)
    assert(resp.startsWith("HTTP/1.1 200 OK"), resp.take(200))
    assert(resp.contains("0\n1\n2\n"), resp)
  }

  test("HTTP() multipart inline body (fm_encoder_test.go:210-268)") {
    // every body line keeps its newline so the boundary framing survives;
    // the handler parses the parts back out of the raw bytes
    val boundary = "----Boundary7MA4YWxkTrZu0gW"
    @volatile var gotName = ""; @volatile var gotFile = ""
    HttpLoop.handle("/upload") { (method, _, _, body) =>
      assert(method == "POST")
      val parts = new String(body, "UTF-8").split(
        java.util.regex.Pattern.quote("--" + boundary)).toSeq
      def fieldOf(p: String) = p.split("\n\n", 2) match {
        case Array(head, content) => (head, content.stripSuffix("\n"))
        case _ => ("", "")
      }
      parts.foreach { p =>
        val (head, content) = fieldOf(p.stripPrefix("\n"))
        if (head.contains("name=\"NAME\"")) gotName = content
        if (head.contains("name=\"DATA\"")) gotFile = content
      }
      (200, "text/plain", "uploaded".getBytes("UTF-8"))
    }
    val resp = runTrim(
      s"""HTTP({
         |  POST http://127.0.0.1:$port/upload
         |  Content-Type: multipart/form-data; boundary=$boundary
         |
         |--$boundary
         |Content-Disposition: form-data; name="NAME"
         |
         |camera-1
         |--$boundary
         |Content-Disposition: form-data; name="DATA"; filename="image_file.svg"
         |Content-Type: image/svg
         |
         |<svg width="100" height="100"></svg>
         |--$boundary--
         |})
         |TEXT()
         |""".stripMargin)
    assert(resp.contains("HTTP/1.1 200 OK") && resp.contains("uploaded"), resp.take(300))
    assert(gotName == "camera-1", gotName)
    assert(gotFile.contains("<svg width=\"100\""), gotFile)
  }

  test("file('http://…') sources fetch content (task_test.go TestHttpFile)") {
    HttpLoop.handle("/string") { (m, _, _, _) =>
      assert(m == "GET"); (200, "text/plain", "ok.".getBytes("UTF-8")) }
    HttpLoop.handle("/bytes") { (m, _, _, _) =>
      assert(m == "GET"); (200, "text/plain", "ok.".getBytes("UTF-8")) }
    HttpLoop.handle("/csvfile") { (m, _, _, _) =>
      assert(m == "GET"); (200, "text/csv",
        "1,3.141592,true,\"escaped, string\",123456".getBytes("UTF-8")) }

    assert(runTrim(
      s"STRING(file(\"http://127.0.0.1:$port/string\"))\nCSV()\n") == "ok.\n")
    assert(runTrim(
      s"BYTES(file(\"http://127.0.0.1:$port/bytes\"))\nCSV(binaryformat(\"hex\"))\n")
      == "0x6f6b2e\n")
    // quoted cell survives the round-trip: RFC-4180 parse, re-quoted on
    // render (the reference's encoding/csv behavior)
    assert(runTrim(
      s"CSV(file(\"http://127.0.0.1:$port/csvfile\"))\nCSV()\n")
      == "1,3.141592,true,\"escaped, string\",123456\n")
  }

  test("/db/public door end-to-end: static file, CGI script, redirect headers") {
    val tmp = java.nio.file.Paths.get(tempDir("pubdoor"))
    val prev = graft.tql.Compiler.templateRoot
    graft.tql.Compiler.templateRoot = tmp.toString
    try {
      val app = tmp.resolve("public/app")
      java.nio.file.Files.createDirectories(app.resolve("cgi-bin"))
      java.nio.file.Files.write(app.resolve("index.html"),
        "<html><body>CGI Test</body></html>".getBytes("UTF-8"))
      java.nio.file.Files.write(app.resolve("cgi-bin/hello.js"),
        ("console.log('Content-Type: text/plain; charset=utf-8;');\n" +
          "console.log('');\nconsole.log('hello', process.env.QUERY_STRING);")
          .getBytes("UTF-8"))
      def get(path: String): (Int, String, String) = {
        val url = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setInstanceFollowRedirects(false)
        try {
          val code = conn.getResponseCode
          val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
          val body = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
          (code, Option(conn.getHeaderField("Location")).getOrElse(""), body)
        } finally conn.disconnect()
      }
      // static: the directory form serves index.html bytes
      val (c1, _, b1) = get("/db/public/app/")
      assert(c1 == 200 && b1 == "<html><body>CGI Test</body></html>")
      // the explicit index.html path 302-redirects to the directory form
      val (c2, loc, _) = get("/db/public/app/index.html")
      assert(c2 == 302 && loc == "/public/app/")
      // CGI: .js auto-append, console output parsed, env carries the query
      val (c3, _, b3) = get("/db/public/app/cgi-bin/hello?x=1")
      assert(c3 == 200 && b3 == "hello x=1\n", s"$c3 $b3")
      // traversal rejected
      assert(get("/db/public/app/../x")._1 == 400)
      // the door is ALSO mounted at /public (the reference mount) so the
      // 302 Location above is followable and /db/tql's "/public/…" 302
      // resolves: following the redirect serves the directory form
      val (c5, _, b5) = get(loc)
      assert(c5 == 200 && b5 == "<html><body>CGI Test</body></html>", s"$c5 $b5")
      assert(get("/public/app/cgi-bin/hello?x=2")._3 == "hello x=2\n")
      // the JDK server's plain-prefix context match must not leak
      // "/publicfoo" into the door as "foo"
      assert(get("/publicapp/")._1 == 404)
      // POST body reaches CGI scripts as process.stdin
      java.nio.file.Files.write(app.resolve("cgi-bin/echo.js"),
        ("console.log('Content-Type: text/plain');\nconsole.log('');\n" +
          "console.log('got:', process.stdin.read());").getBytes("UTF-8"))
      val url = new java.net.URI(s"http://127.0.0.1:$port/public/app/cgi-bin/echo").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write("payload-42".getBytes("UTF-8"))
      val b6 = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect()
      assert(b6 == "got: payload-42\n", b6)
    } finally {
      graft.tql.Compiler.templateRoot = prev
    }
  }
}
