package graft

import graft.server.{QueryDoor, TagTables, WebApi}
import graft.sinks.Codecs

/** Reproduces the reference's `/web/api/tables…` REST tests
  * (http_test.go:1621-1797) through the JSON envelope renderer. */
class WebApiSpec extends SparkSpec {

  private val tick = 1705291859000000000L // testTimeTick as epoch ns

  test("tables listing with Kind strings and glob filter (TestHttpTables)") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table example (NAME varchar(100) primary key, TIME datetime basetime, VALUE double summarized)")
    try {
      val plain = Codecs.render(WebApi.tables(spark), "JSON")
      assert(plain.contains(""""columns":["ROWNUM","DB","USER","NAME","TYPE"]"""), plain)
      assert(plain.contains(""""types":["int32","string","string","string","string"]"""), plain)
      assert(plain.contains(""""MACHBASEDB","SYS","EXAMPLE","Tag Table""""), plain)
      assert(plain.contains(""""MACHBASEDB","SYS","LOG_DATA","Log Table""""), plain)
      assert(plain.contains(""""MACHBASEDB","SYS","TAG_DATA","Tag Table""""), plain)
      assert(!plain.contains("_EXAMPLE_DATA_0"), plain)

      // showall + name=*DATA* glob: shadows match the glob too, but
      // _EXAMPLE_META does not (http_test.go:1636-1645)
      val filtered = Codecs.render(
        WebApi.tables(spark, showAll = true, nameGlob = Some("*DATA*")), "JSON")
      assert(filtered.contains(""""LOG_DATA","Log Table""""), filtered)
      assert(filtered.contains(""""TAG_DATA","Tag Table""""), filtered)
      assert(filtered.contains(""""_EXAMPLE_DATA_0","KeyValue Table (data)""""), filtered)
      assert(filtered.contains(""""_TAG_DATA_DATA_0","KeyValue Table (data)""""), filtered)
      assert(filtered.contains(""""_TAG_DATA_META","Lookup Table (meta)""""), filtered)
      assert(!filtered.contains("_EXAMPLE_META"), filtered)
      assert(!filtered.contains("EXAMPLE\",")
        || filtered.indexOf("\"EXAMPLE\"") < 0, filtered)
    } finally QueryDoor.execute(spark, "drop table example")
  }

  test("tags + tag stat envelopes (TestHttpTags, TestHttpTagStat)") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table example (NAME varchar(100) primary key, TIME datetime basetime, VALUE double summarized)")
    try {
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("temp", Long.box(tick), Double.box(3.14)))
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("test.query", Long.box(tick), Double.box(1.0)))
      QueryDoor.execute(spark, "exec table_flush('example')")

      assert(Codecs.render(WebApi.tags(spark, "example"), "JSON",
        Codecs.Options(elapse = Some("0s"))) ==
        """{"data":{"columns":["ROWNUM","NAME"],"types":["int32","string"],""" +
        """"rows":[[1,"temp"],[2,"test.query"]]},"success":true,"reason":"success","elapse":"0s"}""")

      val stat = Codecs.render(WebApi.tagStat(spark, "example", "temp"), "JSON",
        Codecs.Options(elapse = Some("0s")))
      assert(stat ==
        """{"data":{"columns":["ROWNUM","NAME","ROW_COUNT","MIN_TIME","MAX_TIME","MIN_VALUE","MIN_VALUE_TIME","MAX_VALUE","MAX_VALUE_TIME","RECENT_ROW_TIME"],""" +
        """"types":["int32","string","int64","datetime","datetime","double","datetime","double","datetime","datetime"],""" +
        s""""rows":[[1,"temp",1,$tick,$tick,3.14,$tick,3.14,$tick,$tick]]},"success":true,"reason":"success","elapse":"0s"}""", stat)
    } finally QueryDoor.execute(spark, "drop table example")
  }

  test("/db/query request decode + codec replies (http_query_test.go TestHttpQuery)") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table example (NAME varchar(100) primary key, TIME datetime basetime, VALUE double summarized)")
    try {
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("temp", Long.box(tick), Double.box(3.14)))
      QueryDoor.execute(spark, "exec table_flush('example')")
      def q(kv: (String, String)*): WebApi.HttpReply =
        WebApi.dbQuery(spark, kv.map { case (k, v) => k -> Seq(v) }.toMap)

      // select_aliveness: box reply is text/plain
      val box = q("q" -> "select 123 as VALUE", "format" -> "box")
      assert(box.status == 200 && box.contentType == "text/plain", box)
      assert(box.body.contains("| VALUE |") && box.body.contains("| 123"), box.body)

      // bind params via the JSON `p` array
      val js = q(
        "q" -> "select (min(min_time)) as mn, (max(max_time)) as mx from v$example_stat where name = ?",
        "p" -> """["temp"]""")
      assert(js.status == 200 && js.contentType == "application/json", js)
      assert(js.body.contains(s""""rows":[[$tick,$tick]]"""), js.body)

      // csv + header=skip + timeformat=s (TestHttpQuery header_skip case)
      val csv = q(
        "q" -> "select (min(min_time)) as mn, (max(max_time)) as mx from v$example_stat where name = ?",
        "p" -> """["temp"]""", "format" -> "csv", "header" -> "skip",
        "timeformat" -> "s")
      assert(csv.contentType == "text/csv; charset=utf-8", csv)
      assert(csv.body == "1705291859,1705291859\n\n", csv.body)

      // transpose / rowsFlatten / rowsArray JSON shapes
      val tr = q("q" -> "select NAME, VALUE from example order by NAME",
        "transpose" -> "true")
      assert(tr.body.contains(""""cols":[["temp"],[3.14]]"""), tr.body)
      val fl = q("q" -> "select NAME, VALUE from example order by NAME",
        "rowsFlatten" -> "true")
      assert(fl.body.contains(""""rows":["temp",3.14]"""), fl.body)
      val ra = q("q" -> "select NAME, VALUE from example order by NAME",
        "rowsArray" -> "true")
      assert(ra.body.contains(""""rows":[{"NAME":"temp","VALUE":3.14}]"""), ra.body)

      // error envelopes
      val empty = q("format" -> "box")
      assert(empty.status == 400 &&
        empty.contentType == "application/json; charset=utf-8", empty)
      assert(empty.body.contains(""""reason":"sql text is empty""""), empty.body)
      val nested = q("q" -> "select * from example where name = ?",
        "p" -> """[["temp"]]""")
      assert(nested.status == 400 &&
        nested.body.contains("bind parameter must be scalar, got []interface {}"),
        nested.body)
      // p must be a JSON ARRAY of scalars; blank means no binds
      // (svrmsg_test.go TestParseQueryParams)
      val notArr = q("q" -> "select * from example where name = ?",
        "p" -> """{"not":"an array"}""")
      assert(notArr.status == 400 && notArr.body.contains("invalid p"), notArr.body)
      val blankP = q("q" -> "select NAME from example order by NAME", "p" -> "   ")
      assert(blankP.status == 200, blankP.body)
      // invalid tz is a 400 with the Go LoadLocation message
      // (TestHttpQueryUnsupportedTimeLocation)
      val badTz = q("q" -> "select NAME from example", "tz" -> "Invalid/Location")
      assert(badTz.status == 400 &&
        badTz.body.contains(""""reason":"unknown time zone Invalid/Location""""),
        badTz.body)
    } finally QueryDoor.execute(spark, "drop table example")
  }

  test("/db/tql file door: static, redirect, 404, compile error, chart json (TestHandleTqlFile)") {
    val files = scala.collection.mutable.Map[String, Array[Byte]](
      "/query_test_static.txt" -> "hello from static file".getBytes("UTF-8"),
      "/query_test_broken.tql" -> "FAKE(".getBytes("UTF-8"),
      "/query_test_output.tql" ->
        "FAKE(linspace(0,360,5))\nMAPVALUE(1, sin((value(0)/180)*PI))\nCHART()".getBytes("UTF-8"),
      "/query_test_ok.tql" -> "FAKE(linspace(0,1,2))\nCSV()".getBytes("UTF-8"))
    def door(path: String, hdrs: Map[String, String] = Map.empty) =
      WebApi.tqlFile(spark, files.get, path, requestHeaders = hdrs)

    val redir = door("/public/redirect-policy.txt")
    assert(redir.status == 302 && redir.headers("Location") == "/public/redirect-policy.txt")

    val static = door("/query_test_static.txt")
    assert(static.status == 200 && static.contentType == "text/plain" &&
      static.body == "hello from static file", static)

    val missing = door("/query_test_missing.tql")
    assert(missing.status == 404 && missing.body.contains(""""success":false""") &&
      missing.body.contains("not found"), missing)

    val broken = door("/query_test_broken.tql")
    assert(broken.status == 500 && broken.body.contains(""""success":false""") &&
      broken.body.contains("reason"), broken)

    val ok = door("/query_test_ok.tql")
    assert(ok.status == 200 && ok.contentType == "text/csv; charset=utf-8" &&
      ok.body == "0\n1\n\n", ok)

    val chart = door("/query_test_output.tql", Map("X-Chart-Output" -> "json"))
    assert(chart.status == 200 && chart.headers.get("X-Chart-Type").contains("echarts"), chart)
    assert(chart.body.contains(""""chartID"""") && chart.body.contains(""""jsAssets"""") &&
      chart.body.contains(""""jsCodeAssets""""), chart.body.take(300))
  }

  test("runtime arg errors drop records, sink still succeeds (TestTQL_SyntaxErrors)") {
    val r = WebApi.tqlQuery(spark, "POST", body = Some(
      "FAKE(linspace(0,1,2))\nMAPKEY(-1,-1) // intended syntax error\nJSON()"))
    assert(r.status == 200, r)
    assert(r.body.contains(""""columns":["x"]""") && r.body.contains(""""types":["double"]""") &&
      r.body.contains(""""rows":[]"""), r.body)
  }

  test("/web/api/timers REST lifecycle envelopes (http_facility_test.go TestTimer)") {
    val root = java.nio.file.Paths.get(tempDir("timer_rest_root"))
    java.nio.file.Files.write(root.resolve("csv_map.tql"),
      "FAKE(linspace(0,1,2))\nCSV()\n".getBytes("UTF-8"))
    val prevRoot = graft.tql.Compiler.templateRoot
    graft.tql.Compiler.templateRoot = root.toString
    graft.scheduler.Timers.resetForTest()
    try {
      val empty = WebApi.timersList(spark)
      assert(empty.status == 200 && empty.body.contains(""""data":[]"""), empty)

      val add = WebApi.timersAdd(spark,
        """{"name":"timer-rest","autoStart":false,"schedule":"0 30 * * * *","path":"csv_map.tql"}""")
      assert(add.status == 200 && add.body.contains(""""success":true"""), add)

      // malformed body → 400 (http_facility_test.go:129-142 pins
      // StatusBadRequest for "{"); a bad cron spec stays 500
      val malformed = WebApi.timersAdd(spark, "{")
      assert(malformed.status == 400 && malformed.body.contains(""""success":false"""), malformed)
      val badSpec = WebApi.timersAdd(spark,
        """{"name":"timer-bad","autoStart":false,"schedule":"* * a b c d ","path":"csv_map.tql"}""")
      assert(badSpec.status == 500 && badSpec.body.contains(""""success":false"""), badSpec)

      val listed = WebApi.timersList(spark)
      assert(listed.body.contains(""""name":"TIMER-REST"""") ||
        listed.body.contains(""""name":"timer-rest""""), listed.body)
      assert(listed.body.contains(""""schedule":"0 30 * * * *"""") &&
        listed.body.contains(""""task":"""), listed.body)

      val started = WebApi.timersStartStop(spark, "timer-rest", start = true)
      assert(started.body.contains(""""success":"""), started)
      val stopped = WebApi.timersStartStop(spark, "timer-rest", start = false)
      assert(stopped.body.contains(""""success":"""), stopped)

      // GET :name single envelope (http_facility.go:19-45)
      val one = WebApi.timerGet(spark, "timer-rest")
      assert(one.status == 200 && one.body.contains(""""name":"TIMER-REST"""") &&
        one.body.contains(""""schedule":"0 30 * * * *""""), one.body)
      val oneMissing = WebApi.timerGet(spark, "timer-ghost")
      assert(oneMissing.status == 500 &&
        oneMissing.body.contains("open TIMER-GHOST.json: no such file"), oneMissing)

      // PUT :name update re-registers with the new spec (http_facility.go:208)
      val upd = WebApi.timersUpdate(spark, "timer-rest",
        """{"autoStart":false,"schedule":"0 0 9 * * *","path":"csv_map.tql"}""")
      assert(upd.status == 200 && upd.body.contains(""""success":true"""), upd)
      assert(WebApi.timerGet(spark, "timer-rest").body
        .contains(""""schedule":"0 0 9 * * *""""))
      val updBadSpec = WebApi.timersUpdate(spark, "timer-rest",
        """{"schedule":"* * a b c d ","path":"csv_map.tql"}""")
      assert(updBadSpec.status == 500 &&
        updBadSpec.body.contains("invalid schedule"), updBadSpec)
      val updMissing = WebApi.timersUpdate(spark, "timer-ghost",
        """{"schedule":"0 0 9 * * *","path":"csv_map.tql"}""")
      assert(updMissing.status == 500 && updMissing.body.contains("no such file"), updMissing)

      val del = WebApi.timersDelete(spark, "timer-rest")
      assert(del.status == 200 && del.body.contains(""""success":true"""), del)
      val delMissing = WebApi.timersDelete(spark, "timer-ghost")
      assert(delMissing.status == 500 && delMissing.body.contains(""""success":false"""), delMissing)
    } finally {
      graft.scheduler.Timers.resetForTest()
      graft.tql.Compiler.templateRoot = prevRoot
    }
  }

  test("/web/api/bridges REST lifecycle envelopes (http_facility_test.go TestBridge)") {
    val name = "test-br-rest"
    try {
      val add = WebApi.bridgesAdd(
        s"""{"name":"$name","type":"sqlite","path":"file::memory:?cache=shared"}""")
      assert(add.status == 200 && add.body.contains(""""success":true"""), add)

      val dup = WebApi.bridgesAdd(
        s"""{"name":"$name","type":"sqlite","path":"file::memory:?cache=shared"}""")
      assert(dup.status == 400 &&
        dup.body.contains(s"'$name' is duplicate bridge name."), dup)

      val listed = WebApi.bridgesList()
      assert(listed.body.contains(s""""name":"$name"""") &&
        listed.body.contains(""""type":"sqlite""""), listed.body)

      val state = WebApi.bridgesState(spark, name, """{"state":"test"}""")
      assert(state.status == 200 && state.body.contains(""""success":true"""), state)
      val badState = WebApi.bridgesState(spark, name, """{"state":"invalid"}""")
      assert(badState.status == 400, badState)

      // exec + query through the state route (http_facility_test.go
      // TestBridgeStateExecAndQuery)
      def st(b: String) = WebApi.bridgesState(spark, name, b)
      assert(st("""{"state":"exec","command":"CREATE TABLE IF NOT EXISTS test_exec (id INTEGER, name TEXT)"}""")
        .body.contains(""""reason":"success""""))
      assert(st("""{"state":"exec","command":"INSERT INTO test_exec VALUES (1, 'alpha'), (2, 'beta')"}""")
        .body.contains(""""success":true"""))
      val qr = st("""{"state":"query","command":"SELECT id, name FROM test_exec ORDER BY id"}""")
      assert(qr.status == 200 &&
        qr.body.contains(""""column":["id","name"]""") &&
        qr.body.contains(""""rows":[[1,"alpha"],[2,"beta"]]"""), qr.body)
      val qEmpty = st("""{"state":"query","command":""}""")
      assert(qEmpty.status == 400 &&
        qEmpty.body.contains(""""reason":"no command specified""""), qEmpty)
      val qBad = st("""{"state":"query","command":"SELECT * FROM table_that_does_not_exist"}""")
      assert(qBad.status == 500 && qBad.body.contains(""""success":false"""), qBad)
      val execMissing = WebApi.bridgesState(spark, "no-such-bridge",
        """{"state":"exec","command":"SELECT 1"}""")
      assert(execMissing.status == 500 &&
        execMissing.body.contains(""""success":false"""), execMissing)
      assert(st("""{"state":"exec","command":"DROP TABLE test_exec"}""")
        .body.contains(""""success":true"""))

      val del = WebApi.bridgesDelete(name)
      assert(del.status == 200 && del.body.contains(""""success":true"""), del)
      val delMissing = WebApi.bridgesDelete("non-existing-br")
      assert(delMissing.status == 500 &&
        delMissing.body.contains("no such file"), delMissing)
    } finally graft.server.Bridge.delBridge(name)
  }

  test("/web/api/subscribers REST lifecycle (http_facility_test.go TestSubscriber)") {
    graft.scheduler.Timers.resetForTest()
    val bridgeName = "existing-bridge"
    try {
      // add the mqtt bridge the subscriber rides on
      val br = WebApi.bridgesAdd(
        s"""{"name":"$bridgeName","type":"mqtt","path":"broker=127.0.0.1:1883 id=client-id"}""")
      assert(br.status == 200 && br.body.contains(""""success":true"""), br)

      // malformed json → 400, success=false
      val malformed = WebApi.subscribersAdd(spark, "{")
      assert(malformed.status == 400 &&
        malformed.body.contains(""""success":false"""), malformed)

      // add subscriber
      val add = WebApi.subscribersAdd(spark,
        """{"name":"test-sub","autoStart":false,"bridge":"existing-bridge",""" +
          """"topic":"test/topic","task":"sub.tql","QoS":0}""")
      assert(add.status == 200 && add.body.contains(""""success":true"""), add)

      // duplicate name rejects
      val dup = WebApi.subscribersAdd(spark,
        """{"name":"test-sub","bridge":"existing-bridge","topic":"t","task":"x.tql"}""")
      assert(dup.status == 500 && dup.body.contains(""""reason":"duplicate name""""), dup)

      // unknown bridge rejects with the load error
      val noBridge = WebApi.subscribersAdd(spark,
        """{"name":"sub2","bridge":"ghost-bridge","topic":"t","task":"x.tql"}""")
      assert(noBridge.status == 500 && noBridge.body.contains("no such file"), noBridge)

      // non-broker bridge type rejects (reference typo kept)
      val sqliteBr = WebApi.bridgesAdd(
        """{"name":"sql-br","type":"sqlite","path":"file::memory:?cache=shared"}""")
      assert(sqliteBr.status == 200, sqliteBr)
      val wrongType = WebApi.subscribersAdd(spark,
        """{"name":"sub3","bridge":"sql-br","topic":"t","task":"x.tql"}""")
      assert(wrongType.status == 500 &&
        wrongType.body.contains("unknown birdge type"), wrongType)

      // GET :name — uppercased stored name, bridge preserved
      val got = WebApi.subscriberGet(spark, "test-sub")
      assert(got.status == 200 && got.body.contains(""""name":"TEST-SUB"""") &&
        got.body.contains(""""bridge":"existing-bridge"""") &&
        got.body.contains(""""type":"SUBSCRIBER""""), got.body)
      val gotMissing = WebApi.subscriberGet(spark, "ghost-sub")
      assert(gotMissing.status == 500 &&
        gotMissing.body.contains("open GHOST-SUB.json: no such file"), gotMissing)

      // list filters SUBSCRIBER schedules only, sorted
      val listed = WebApi.subscribersList(spark)
      assert(listed.status == 200 && listed.body.contains(""""name":"TEST-SUB"""") &&
        listed.body.contains(""""topic":"test/topic""""), listed.body)

      // state START / STOP / invalid / malformed
      val started = WebApi.subscribersState(spark, "test-sub", """{"state":"start"}""")
      assert(started.status == 200 && started.body.contains(""""success":true"""), started)
      val stGot = WebApi.subscriberGet(spark, "test-sub")
      assert(stGot.body.contains(""""state":"RUNNING""""), stGot.body)
      val badJson = WebApi.subscribersState(spark, "test-sub", "{")
      assert(badJson.status == 400 && badJson.body.contains(""""success":false"""), badJson)
      val stopped = WebApi.subscribersState(spark, "test-sub", """{"state":"stop"}""")
      assert(stopped.status == 200 && stopped.body.contains(""""success":true"""), stopped)
      val invalid = WebApi.subscribersState(spark, "test-sub", """{"state":"invalid"}""")
      assert(invalid.status == 400 &&
        invalid.body.contains(""""reason":"invalid state""""), invalid)

      // SHOW SUBSCRIBERS console listing
      val df = graft.server.QueryDoor.execute(spark, "show subscribers")
      assert(df.columns.toSeq ==
        Seq("NAME", "BRIDGE", "TOPIC", "TQL", "AUTOSTART", "STATE"))
      val row = df.collect().head
      assert(row.getString(0) == "TEST-SUB" && row.getString(1) == bridgeName &&
        row.getString(2) == "test/topic" && row.getString(3) == "sub.tql")

      // DELETE — then a second delete fails
      val del = WebApi.subscribersDelete(spark, "test-sub")
      assert(del.status == 200 && del.body.contains(""""success":true"""), del)
      val delMissing = WebApi.subscribersDelete(spark, "test-sub")
      assert(delMissing.status == 500 && delMissing.body.contains("no such file"), delMissing)
    } finally {
      graft.scheduler.Timers.resetForTest()
      graft.server.Bridge.delBridge(bridgeName)
      graft.server.Bridge.delBridge("sql-br")
    }
  }

  test("/web/api routes are live over the loopback HTTP edge") {
    val port = graft.server.HttpLoop.ensureServer(spark)
    val client = java.net.http.HttpClient.newHttpClient()
    def send(method: String, path: String, body: String = ""): (Int, String) = {
      val b = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
      val req = (method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case m => b.method(m, java.net.http.HttpRequest.BodyPublishers.ofString(body))
      }).build()
      val rsp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (rsp.statusCode(), rsp.body())
    }
    // rpc over the wire
    val (rc, rb) = send("POST", "/web/api/rpc",
      """{"jsonrpc":"2.0","id":3,"method":"sql.split","params":["select 1;"]}""")
    assert(rc == 200 && rb.contains(""""jsonrpc":"2.0"""") && rb.contains(""""id":3"""), rb)
    // bridges lifecycle over the wire
    val (ac, ab) = send("POST", "/web/api/bridges",
      """{"name":"wire-br","type":"sqlite","path":"file::memory:?cache=shared"}""")
    assert(ac == 200 && ab.contains(""""success":true"""), ab)
    try {
      val (lc, lb) = send("GET", "/web/api/bridges")
      assert(lc == 200 && lb.contains(""""name":"wire-br""""), lb)
    } finally send("DELETE", "/web/api/bridges/wire-br")
    // refs + 404 envelope
    val (fc, fb) = send("GET", "/web/api/refs/")
    assert(fc == 200 && fb.contains(""""label":"REFERENCES""""), fb)
    val (nc, nb) = send("GET", "/web/api/nothing-here")
    assert(nc == 404 && nb.contains("not found"), nb)
  }

  test("/web/api/tables REST routes: envelope, prefix vs glob filter, non-tag 400") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table example (NAME varchar(100) primary key, TIME datetime basetime, VALUE double summarized)")
    try {
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("temp", Long.box(tick), Double.box(3.14)))
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("test.query", Long.box(tick), Double.box(1.0)))
      QueryDoor.execute(spark, "exec table_flush('example')")
      def route(path: String, q: Map[String, Seq[String]] = Map.empty) =
        webRoute("GET", s"/web/api$path", q)
      // bare name filter = PREFIX semantics (EXAM matches EXAMPLE)
      val pref = route("/tables", Map("name" -> Seq("exam")))
      assert(pref.status == 200 && pref.body.contains("\"EXAMPLE\""), pref.body)
      assert(!pref.body.contains("TAG_DATA"), pref.body)
      // glob filter passes through unchanged
      val glob = route("/tables", Map("name" -> Seq("*DATA*"), "showall" -> Seq("true")))
      assert(glob.body.contains("LOG_DATA") && glob.body.contains("_EXAMPLE_DATA_0"), glob.body)
      // tags with prefix filter (uppercased filter vs raw names)
      val tg = route("/tables/example/tags", Map("name" -> Seq("te")))
      assert(tg.status == 200, tg.body)
      // 'TE' prefix-matches neither raw name (filter uppercased, tag not)
      assert(tg.body.contains("\"rows\":[]"), tg.body)
      assert(!tg.body.contains("temp") && !tg.body.contains("test.query"), tg.body)
      val tgAll = route("/tables/example/tags")
      assert(tgAll.body.contains("temp") && tgAll.body.contains("test.query"), tgAll.body)
      // per-tag stat through the route with epoch-ms timeformat
      val st = route("/tables/example/tags/temp/stat", Map("timeformat" -> Seq("ms")))
      assert(st.status == 200 && st.body.contains("\"ROW_COUNT\""), st.body)
      assert(st.body.contains((tick / 1000000L).toString), st.body)
      // a log table is not a tag table
      val bad = route("/tables/log_data/tags")
      assert(bad.status == 400 && bad.body.contains("not a tag table"), bad.body)
      // ...and the stat endpoint enforces the same 400 (http_query.go:584)
      val badStat = route("/tables/log_data/tags/temp/stat")
      assert(badStat.status == 400 && badStat.body.contains("not a tag table"),
        badStat.body)
      // …but a table that does not exist AT ALL is a 500 with the lookup
      // error — the reference 500s when ShowTable itself fails
      // (http_query.go:573-582) and reserves 400 for existing non-tag tables
      val gone = route("/tables/no_such_table_xyz/tags/temp/stat")
      assert(gone.status == 500 && gone.body.contains("Table not found"),
        s"${gone.status} ${gone.body}")
      // a bad tz is a CLIENT error (400), not a raw 500
      val badTz = route("/tables/example/tags/temp/stat",
        Map("tz" -> Seq("Not/AZone")))
      assert(badTz.status == 400, s"${badTz.status} ${badTz.body}")
      // '?' and '[..]' glob forms match like the reference's glob.Match
      val qm = route("/tables", Map("name" -> Seq("EX?MPLE")))
      assert(qm.body.contains("\"EXAMPLE\""), qm.body)
      val cls = route("/tables", Map("name" -> Seq("EX[AB]MPLE")))
      assert(cls.body.contains("\"EXAMPLE\""), cls.body)
      val clsNeg = route("/tables", Map("name" -> Seq("EX[^A]MPLE")))
      assert(!clsNeg.body.contains("\"EXAMPLE\""), clsNeg.body)
    } finally QueryDoor.execute(spark, "drop table example")
  }

  test("/web/api/refs returns the reference-link tree (http.go:1812-1847)") {
    val root = WebApi.refs("/")
    assert(root.status == 200 && root.body.contains(""""label":"REFERENCES""""), root.body)
    assert(root.body.contains(""""title":"machbase-neo docs"""") &&
      root.body.contains(""""address":"https://docs.machbase.com/neo"""") &&
      root.body.contains(""""target":"_blank""""), root.body)
    assert(root.body.contains(""""label":"SDK"""") &&
      root.body.contains(""""label":"CHEAT SHEETS"""") &&
      root.body.contains(""""type":"wrk""""), root.body)
    // Demo web app has no target → omit-empty
    assert(root.body.contains(
      """{"type":"url","title":"Demo web app","address":"https://github.com/machbase/neo-apps"}"""),
      root.body)
    val missing = WebApi.refs("/nope")
    assert(missing.status == 404 && missing.body.contains("'/nope' not found"), missing)
  }

  test("/db/query binary column rides every format (TestQueryBinaryFormat)") {
    TagTables.resetDynamicForTest(spark)
    def q(kv: (String, String)*): String =
      WebApi.dbQuery(spark, kv.map { case (k, v) => k -> Seq(v) }.toMap).body
    try {
      val created = q("q" -> "CREATE TAG TABLE IF NOT EXISTS test_bin (name varchar(40) primary key, time datetime basetime, value binary)")
      assert(created.contains("Created successfully."), created)
      val inserted = q("q" -> "INSERT INTO test_bin VALUES('name', now, '0x0102A0B0')")
      assert(inserted.contains("a row inserted."), inserted)
      def sel(kv: (String, String)*): String =
        q(Seq("q" -> "SELECT NAME, VALUE FROM test_bin") ++ kv: _*)
      assert(sel().contains("""["name","0x0102a0b0"]"""), sel())
      assert(sel("binaryformat" -> "base64").contains("""["name","AQKgsA=="]"""))
      assert(sel("format" -> "csv").contains("name,0x0102a0b0\n"))
      assert(sel("format" -> "csv", "binaryformat" -> "base64").contains("name,AQKgsA==\n"))
      assert(sel("format" -> "ndjson").contains("""{"NAME":"name","VALUE":"0x0102a0b0"}""" + "\n"))
      assert(sel("format" -> "ndjson", "binaryformat" -> "base64")
        .contains("""{"NAME":"name","VALUE":"AQKgsA=="}""" + "\n"))
      assert(sel("format" -> "box").contains("| name | 0x0102a0b0 |\n"), sel("format" -> "box"))
      assert(sel("format" -> "box", "binaryformat" -> "base64").contains("| name | AQKgsA== |\n"))
    } finally {
      q("q" -> "DROP TABLE test_bin")
      TagTables.resetDynamicForTest(spark)
    }
  }

  test("/web/api/tql script param, body script, payload, errors (TestHandleTqlQuery/Exec)") {
    // GET with the $ param delegates to the tql engine; CSV content type
    val get = WebApi.tqlQuery(spark, "GET",
      Map("$" -> Seq("FAKE(linspace(0,1,2))\nCSV()")))
    assert(get.status == 200 && get.contentType == "text/csv; charset=utf-8", get)
    assert(get.body == "0\n1\n\n", get.body)

    // POST body IS the script when $ is absent
    val post = WebApi.tqlQuery(spark, "POST",
      body = Some("FAKE(linspace(0,1,2))\nCSV()"))
    assert(post.status == 200 && post.body == "0\n1\n\n", post)

    // POST with $ script: the body becomes payload()
    val payload = WebApi.tqlQuery(spark, "POST",
      Map("$" -> Seq("CSV(payload())\nCSV()")), body = Some("a,1\nb,2\n"))
    assert(payload.status == 200 && payload.body == "a,1\nb,2\n\n", payload)

    // error paths: missing script / bad method / compile error
    val missing = WebApi.tqlQuery(spark, "GET")
    assert(missing.status == 400 && missing.body.contains("script not found"), missing)
    val put = WebApi.tqlQuery(spark, "PUT",
      Map("$" -> Seq("FAKE(linspace(0,1,2))\nCSV()")))
    assert(put.status == 405 && put.body.contains("unsupported method"), put)
    val bad = WebApi.tqlQuery(spark, "GET", Map("$" -> Seq("FAKE(")))
    assert(bad.status == 400 && bad.body.contains(""""success":false"""), bad)
  }

  test("/db/query mutation lifecycle replies bare envelopes (TestHttpQueryMutation)") {
    TagTables.resetDynamicForTest(spark)
    def q(sql: String): String =
      WebApi.dbQuery(spark, Map("q" -> Seq(sql))).body.replaceAll(""","elapse":"[^"]*"""", "")
    val base = tick + 123456789L
    try {
      assert(q("CREATE TAG TABLE IF NOT EXISTS http_query_mut (name varchar(40) primary key, time datetime basetime, value double summarized)")
        == """{"success":true,"reason":"Created successfully."}""")
      assert(q(s"INSERT INTO http_query_mut VALUES('http-query-mutation', $base, 3.14)")
        == """{"success":true,"reason":"a row inserted."}""")
      assert(q(s"INSERT INTO http_query_mut VALUES('http-query-mutation', ${base + 1}, 6.28)")
        == """{"success":true,"reason":"a row inserted."}""")
      assert(q(s"INSERT INTO http_query_mut VALUES('http-query-mutation', ${base + 2}, 9.42)")
        == """{"success":true,"reason":"a row inserted."}""")
      assert(q("DELETE FROM http_query_mut WHERE name='http-query-mutation'")
        == """{"success":true,"reason":"3 rows deleted."}""")
      assert(q("DROP TABLE http_query_mut")
        == """{"success":true,"reason":"Dropped successfully."}""")
    } finally TagTables.resetDynamicForTest(spark)
  }
}
