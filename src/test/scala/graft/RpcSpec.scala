package graft

import graft.server.{Bridge, HttpLoop, JsonRpc, Markdown, WebApi}
import graft.script.Builtins

/** JSON-RPC door parity with mods/server/http_rpc_test.go and the
  * markdown fixtures under mods/server/test/. */
class RpcSpec extends SparkSpec {

  private def rpc(method: String, params: String): String = {
    val body = s"""{"jsonrpc":"2.0","id":1,"method":"${method}","params":${params}}"""
    val r = JsonRpc.handleHttpRpc(spark, body)
    assert(r.status == 200)
    r.body
  }

  private def get(json: String, path: String): Any = {
    var cur: Any = Builtins.jsonParse(json)
    path.split("\\.").foreach { seg =>
      cur = cur match {
        case m: collection.mutable.LinkedHashMap[_, _] =>
          m.asInstanceOf[collection.mutable.LinkedHashMap[String, Any]].getOrElse(seg, null)
        case a: collection.mutable.ArrayBuffer[_] => a.lift(seg.toInt).orNull
        case _ => null
      }
    }
    cur
  }

  test("method-not-found replies -32601 'Method not found'") {
    val out = rpc("nonExistentMethod", "[]")
    assert(get(out, "error.code") == -32601L, out)
    assert(get(out, "error.message") == "Method not found", out)
  }

  test("malformed request json replies -32700 Parse error at HTTP 200") {
    val r = JsonRpc.handleHttpRpc(spark, "{")
    assert(r.status == 200, r)
    assert(get(r.body, "error.code") == -32700L, r.body)
    assert(get(r.body, "error.message") == "Parse error", r.body)
  }

  test("server.info.get reports the runtime OS (TestHttpRpc getServerInfo)") {
    val out = rpc("server.info.get", "[]")
    assert(get(out, "result.runtime.OS") == "linux", out)
    assert(get(out, "result.runtime.Pid").asInstanceOf[Long] > 0L, out)
  }

  private val vizParams =
    """[{"schema":"vizspec/v1","kind":"timeseries","data":{"x":["t1","t2"],"series":[{"name":"value","data":[1,2]}]}}"""

  test("vizspec.render passthrough normalization (TestHttpRpc vizspecRender http_rpc_test.go:622-639)") {
    val out = rpc("vizspec.render", vizParams + "]")
    assert(get(out, "result.schema") == "vizspec/v1", out)
    assert(get(out, "result.kind") == "timeseries", out)
    assert(get(out, "result.data.x.0") == "t1", out)
    assert(get(out, "result.data.series.0.name") == "value", out)
    assert(get(out, "result.data.series.0.data.0") == 1L, out)
    // legacy schema alias normalizes (viz.go:41-43)
    val legacy = rpc("vizspec.render",
      """[{"schema":"advn/v1","data":{"x":[1],"series":[{"name":"v","data":[3]}]}}]""")
    assert(get(legacy, "result.schema") == "vizspec/v1", legacy)
    assert(get(legacy, "result.kind") == "timeseries", legacy)
  }

  test("vizspec.render lifts legacy top-level x/series; preferred hints normalize (viz.go:80-150)") {
    // legacy advn payload WITHOUT a data key: x/series lift into data
    val legacy = rpc("vizspec.render",
      """[{"schema":"advn/v1","x":["a","b"],"series":[{"name":"v","data":[1,2]}]}]""")
    assert(get(legacy, "result.schema") == "vizspec/v1", legacy)
    assert(get(legacy, "result.data.x.0") == "a", legacy)
    assert(get(legacy, "result.data.series.0.name") == "v", legacy)
    // clientHint.renderer + preferred fold into meta.preferred, known
    // names only, deduped in order
    val hinted = rpc("vizspec.render",
      """[{"data":{"x":[1],"series":[{"name":"v","data":[3]}]},""" +
      """"clientHint":{"preferred":["ECharts","bogus","svg"],"renderer":"svg"}}]""")
    assert(get(hinted, "result.meta.preferred.0") == "echarts", hinted)
    assert(get(hinted, "result.meta.preferred.1") == "svg", hinted)
  }

  test("vizspec.export renders an empty chart for all-empty series (statz of a fresh metric)") {
    val empty = """[{"data":{"x":[],"series":[{"name":"v","data":[]}]}}"""
    val svg = rpc("vizspec.export", empty + ""","svg"]""")
    assert(get(svg, "result.format") == "svg", svg)
    assert(get(svg, "result.data").toString.contains("<svg"), svg)
    // axes still draw; no polyline points, no internal error
    assert(!get(svg, "result.data").toString.contains("polyline"), svg)
    val png = rpc("vizspec.export", empty + ""","png"]""")
    assert(get(png, "result.mimeType") == "image/png", png)
  }

  test("vizspec.export svg/png/echarts envelopes (TestHttpRpc vizspecExport http_rpc_test.go:641-699)") {
    val svg = rpc("vizspec.export", vizParams + ""","svg"]""")
    assert(get(svg, "result.schema") == "vizspec-export/v1", svg)
    assert(get(svg, "result.format") == "svg", svg)
    assert(get(svg, "result.mimeType") == "image/svg+xml", svg)
    assert(get(svg, "result.data").toString.contains("<svg"), svg)

    val png = rpc("vizspec.export", vizParams + ""","png"]""")
    assert(get(png, "result.mimeType") == "image/png", png)
    val b64 = get(png, "result.data").toString
    assert(b64.nonEmpty)
    val bytes = java.util.Base64.getDecoder.decode(b64)
    // a real PNG: magic header survives the base64 round trip
    assert(bytes.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'))

    val ech = rpc("vizspec.export", vizParams + ""","echarts"]""")
    assert(get(ech, "result.format") == "echarts", ech)
    assert(get(ech, "result.mimeType") == "application/json", ech)
    assert(get(ech, "result.data.series.0.type") == "line", ech)
    assert(get(ech, "result.data.series.0.name") == "value", ech)
  }

  test("server.info.statz charts the requested measures (TestHttpRpc getServerStatz http_rpc_test.go:59-67)") {
    graft.server.Metrics.send("http:count", 1.0, 1700000000000000000L)
    try {
      val out = rpc("server.info.statz", """[["http:count"]]""")
      assert(get(out, "result.statz.0.name") == "http:count", out)
      assert(get(out, "result.statz.0.spec.schema") == "vizspec/v1", out)
    } finally graft.server.Metrics.clear()
  }

  test("sql.split statement positions (TestHttpRpc splitSqlStatements)") {
    val out = rpc("sql.split", """["select 1;\nselect 2;"]""")
    assert(String.valueOf(get(out, "result.0.text")).trim == "select 1;", out)
    assert(get(out, "result.0.beginLine") == 1L && get(out, "result.0.endLine") == 1L, out)
    assert(get(out, "result.0.isComment") == false, out)
    assert(String.valueOf(get(out, "result.1.text")).trim == "select 2;", out)
    assert(get(out, "result.1.beginLine") == 2L && get(out, "result.1.endLine") == 2L, out)
  }

  test("bridge rpc lifecycle (TestHttpRpc bridge cases)") {
    Bridge.delBridge("br-test")
    try {
      // addBridge → result null
      var out = rpc("bridge.add", """["br-test","sqlite","file::memory:?cache=shared"]""")
      assert(get(out, "jsonrpc") == "2.0" && get(out, "id") == 1L, out)
      assert(out.contains(""""result":null"""), out)

      // listBridges
      out = rpc("bridge.list", "[]")
      assert(get(out, "result.0.name") == "br-test", out)
      assert(get(out, "result.0.type") == "sqlite", out)
      assert(get(out, "result.0.path") == "file::memory:?cache=shared", out)

      // getBridge
      out = rpc("bridge.get", """["br-test"]""")
      assert(get(out, "result.name") == "br-test" && get(out, "result.type") == "sqlite", out)

      // testBridge → true
      out = rpc("bridge.test", """["br-test"]""")
      assert(get(out, "result") == true, out)

      // statsBridge: sql bridge does not support stats → -32000
      out = rpc("bridge.stats", """["br-test"]""")
      assert(get(out, "error.code") == -32000L, out)
      assert(String.valueOf(get(out, "error.message")).contains("does not support stats"), out)

      // exec create / insert
      out = rpc("bridge.exec", """["br-test","CREATE TABLE IF NOT EXISTS rpc_t (id INTEGER NOT NULL PRIMARY KEY, memo TEXT, created_on DATETIME NOT NULL)"]""")
      assert(get(out, "result.Reason") == "success", out)
      out = rpc("bridge.exec", """["br-test","INSERT INTO rpc_t(id, memo, created_on) VALUES(1, 'rpc-row', '2023-09-09 00:00:00Z')"]""")
      assert(get(out, "result.Reason") == "success", out)
      assert(get(out, "result.RowsAffected") == 1L, out)

      // query → handle + columns
      out = rpc("bridge.query", """["br-test","SELECT id, memo, created_on FROM rpc_t ORDER BY id"]""")
      val handle = String.valueOf(get(out, "result.Handle"))
      assert(handle.nonEmpty && handle != "null", out)
      assert(get(out, "result.Columns.0.Name") == "id", out)
      assert(get(out, "result.Columns.1.Name") == "memo", out)
      assert(get(out, "result.Columns.2.Name") == "created_on", out)

      // fetch row, then no-rows, then close
      out = rpc("bridge.result.fetch", s"""["$handle"]""")
      assert(get(out, "result.HasNoRows") == false, out)
      assert(get(out, "result.Values.0") == 1L, out)
      assert(get(out, "result.Values.1") == "rpc-row", out)
      out = rpc("bridge.result.fetch", s"""["$handle"]""")
      assert(get(out, "result.HasNoRows") == true, out)
      out = rpc("bridge.result.close", s"""["$handle"]""")
      assert(out.contains(""""result""""), out)

      // drop + delete
      out = rpc("bridge.exec", """["br-test","DELETE FROM rpc_t"]""")
      assert(get(out, "result.Reason") == "success", out)
      out = rpc("bridge.delete", """["br-test"]""")
      assert(out.contains(""""result":null"""), out)
    } finally Bridge.delBridge("br-test")
  }

  test("bridge.delete refuses while a subscriber rides it (server.go:1512-1531)") {
    graft.scheduler.Timers.resetForTest()
    Bridge.delBridge("rpc-br-sub")
    try {
      assert(rpc("bridge.add", """["rpc-br-sub","mqtt","broker=127.0.0.1:1883"]""")
        .contains(""""result":null"""))
      val add = rpc("schedule.subscriber.add",
        """[{"name":"rpc-sub","bridge":"rpc-br-sub","command":"sub.tql","mqtt":{"topic":"t/q","qos":1}}]""")
      assert(add.contains(""""result":null"""), add)
      val del = rpc("bridge.delete", """["rpc-br-sub"]""")
      assert(get(del, "error.code") == -32000L, del)
      assert(String.valueOf(get(del, "error.message"))
        .contains("""bridge "rpc-br-sub" has a subscriber, RPC-SUB"""), del)
      // schedule list carries the QoS and bridge fields
      val lst = rpc("schedule.list", "[]")
      assert(get(lst, "result.0.name") == "RPC-SUB", lst)
      assert(get(lst, "result.0.bridge") == "rpc-br-sub", lst)
      assert(get(lst, "result.0.QoS") == 1L, lst)
      // start / stop / delete
      assert(rpc("schedule.start", """["rpc-sub"]""").contains(""""result":null"""))
      assert(rpc("schedule.stop", """["rpc-sub"]""").contains(""""result":null"""))
      assert(rpc("schedule.delete", """["rpc-sub"]""").contains(""""result":null"""))
      assert(rpc("bridge.delete", """["rpc-br-sub"]""").contains(""""result":null"""))
    } finally {
      graft.scheduler.Timers.resetForTest()
      Bridge.delBridge("rpc-br-sub")
    }
  }

  test("schedule.timer.add rides the timer validations") {
    graft.scheduler.Timers.resetForTest()
    val root = java.nio.file.Paths.get(tempDir("rpc_timer_root"))
    java.nio.file.Files.write(root.resolve("t.tql"),
      "FAKE(linspace(0,1,2))\nCSV()\n".getBytes("UTF-8"))
    val prevRoot = graft.tql.Compiler.templateRoot
    graft.tql.Compiler.templateRoot = root.toString
    try {
      val bad = rpc("schedule.timer.add",
        """[{"name":"rpc-timer","spec":"* * a b c d ","command":"t.tql"}]""")
      assert(get(bad, "error.code") == -32000L, bad)
      assert(String.valueOf(get(bad, "error.message")).startsWith("invalid schedule"), bad)
      val ok = rpc("schedule.timer.add",
        """[{"name":"rpc-timer","spec":"0 30 * * * *","command":"t.tql"}]""")
      assert(ok.contains(""""result":null"""), ok)
      val lst = rpc("schedule.list", "[]")
      assert(get(lst, "result.0.name") == "RPC-TIMER", lst)
      assert(get(lst, "result.0.schedule") == "0 30 * * * *", lst)
    } finally {
      graft.scheduler.Timers.resetForTest()
      graft.tql.Compiler.templateRoot = prevRoot
    }
  }

  test("session.limit get/set round-trips (TestHttpRpc getSessionLimit)") {
    val before = rpc("session.limit.get", "[]")
    Seq("maxOpenConn", "maxIdleConn", "connMaxIdleTime", "connMaxLifetime")
      .foreach(k => assert(get(before, s"result.$k") != null, before))
    val mo = get(before, "result.maxOpenConn").asInstanceOf[Long]
    assert(rpc("session.limit.set",
      s"""[{"maxOpenConn":${mo + 5},"connMaxIdleTime":"7m0s"}]""")
      .contains(""""result":null"""))
    val after = rpc("session.limit.get", "[]")
    assert(get(after, "result.maxOpenConn") == mo + 5, after)
    assert(get(after, "result.connMaxIdleTime") == "7m0s", after)
    assert(get(after, "result.maxIdleConn") == get(before, "result.maxIdleConn"), after)
    // restore
    rpc("session.limit.set", s"""[{"maxOpenConn":$mo,"connMaxIdleTime":"5m0s"}]""")
  }

  test("session.list / stat / kill over the session registry") {
    val lst = rpc("session.list", "[]")
    assert(get(lst, "result.0.userName") == "SYS", lst)
    val stat = rpc("session.stat", "[false]")
    assert(get(stat, "result.maxOpenConnections") != null &&
      get(stat, "result.openConnections").asInstanceOf[Long] >= 1L, stat)
    val killGhost = rpc("session.kill", """["99999", false]""")
    assert(get(killGhost, "error.code") == -32000L, killGhost)
  }

  test("http.debug.set validates and echoes settings (TestHttpRpc setHttpDebug)") {
    val bad = rpc("http.debug.set", """[{"enable":"yes","logLatency":"1s"}]""")
    assert(get(bad, "error.code") == -32000L &&
      get(bad, "error.message") == "enable should be boolean", bad)
    val set = rpc("http.debug.set", """[{"enable":true,"logLatency":"1m30s"}]""")
    assert(get(set, "result.enable") == true, set)
    assert(get(set, "result.logLatency") == "1m30s", set)
    val off = rpc("http.debug.set", """[{"enable":false,"logLatency":"bogus"}]""")
    assert(get(off, "result.enable") == false, off)
    assert(get(off, "result.logLatency") == "-1ns", off)
  }

  // ---- markdown.render (TestHttpRpc markdownRender cases) ---------------

  test("markdownRender-light: heading and strong") {
    val out = rpc("markdown.render", """["# Hello World\n\nThis is a **test**.",false]""")
    val html = String.valueOf(get(out, "result"))
    assert(html.contains("<h1"), html)
    assert(html.contains("Hello World"), html)
    assert(html.contains("<strong>test</strong>"), html)
  }

  test("markdownRender-dark: list items") {
    val out = rpc("markdown.render", """["## Dark Mode Test\n\n- Item 1\n- Item 2",true]""")
    val html = String.valueOf(get(out, "result"))
    assert(html.contains("<h2"), html)
    assert(html.contains("Dark Mode Test"), html)
    assert(html.contains("<li>Item 1</li>") && html.contains("<li>Item 2</li>"), html)
  }

  test("markdownRender-list: file_* substitution golden (test_markdown_list.txt)") {
    val md = "## markdown test\n- file_root {{ file_root }}\n- file_path {{ file_path }}\n" +
      "- file_name {{ file_name }}\n- file_dir {{ file_dir }}\n"
    val html = Markdown.render(md, darkMode = false,
      "http://127.0.0.1:5654/web/api/tql/sample/file.wrk")
    assert(html ==
      "<div><h2>markdown test</h2>\n<ul>\n" +
        "<li>file_root /web/api/tql</li>\n" +
        "<li>file_path /web/api/tql/sample/file.wrk</li>\n" +
        "<li>file_name file.wrk</li>\n" +
        "<li>file_dir /web/api/tql/sample</li>\n" +
        "</ul>\n</div>", html)
  }

  test("markdownRender-utf8 golden (test_markdown_list_utf8.txt)") {
    val md = "## markdown test\n- file_root {{ file_root }}\n- file_path {{ file_path }}\n" +
      "- file_name {{ file_name }}\n- file_dir {{ file_dir }}\n"
    val html = Markdown.render(md, darkMode = false,
      "http://127.0.0.1:5654/web/api/tql/语言/文檔.wrk")
    assert(html ==
      "<div><h2>markdown test</h2>\n<ul>\n" +
        "<li>file_root /web/api/tql</li>\n" +
        "<li>file_path /web/api/tql/语言/文檔.wrk</li>\n" +
        "<li>file_name 文檔.wrk</li>\n" +
        "<li>file_dir /web/api/tql/语言</li>\n" +
        "</ul>\n</div>", html)
  }

  test("markdownRender-mermaid golden (test_markdown_mermaid.txt)") {
    val md = "# Flowchart\n## Node shapes\n\n```mermaid\nflowchart LR\n" +
      "  id1(\"(Text box)\") --> id2([\"[Text box]\"]) \n" +
      "  id2 --> id3[[\"[[subroutine]]\"]]\n```"
    val html = Markdown.render(md, darkMode = false, "http://127.0.0.1:5654/web/api/tql/diagram.wrk")
    assert(html ==
      "<div><h1>Flowchart</h1>\n<h2>Node shapes</h2>\n" +
        "<pre class=\"mermaid\">flowchart LR\n" +
        "  id1(&#34;(Text box)&#34;) --&gt; id2([&#34;[Text box]&#34;]) \n" +
        "  id2 --&gt; id3[[&#34;[[subroutine]]&#34;]]\n</pre></div>", html)
  }

  test("markdownRender-http-fence executes against the loopback door") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation")
    val port = HttpLoop.ensureServer(spark)
    val md = "## HTTP Test\n\n```http\nGET http://127.0.0.1:" + port +
      "/db/query?q=select n_nationkey from nation limit 1\n```\n"
    val out = rpc("markdown.render", Builtins.jsonStringify(
      collection.mutable.ArrayBuffer[Any](md, java.lang.Boolean.FALSE)).toString)
    val html = String.valueOf(get(out, "result"))
    assert(html.contains("<h2"), html)
    assert(html.contains("HTTP Test"), html)
    assert(html.contains("<span class=\"httpext-method\">GET</span> " +
      "<span class=\"httpext-path\">/db/query</span>?"), html)
    assert(html.contains("HTTP/1.1"), html)
    assert(html.contains("OK"), html)
  }
}
