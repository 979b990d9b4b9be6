package graft


/** Inline test cases mirrored from the reference's TQL suite
  * (mods/tql/tql_test.go — behavior observed, scripts re-expressed):
  * each expectation is the reference's own ExpectCSV.
  */
class ReferenceCasesSpec extends SparkSpec {
  import spark.implicits._
  private def run(script: String): String = runTrim(script)

  private def mkTagSimple(): Unit =
    Seq(("tag1", 1692686707380411000L, 0.1), ("tag1", 1692686708380411000L, 0.2))
      .toDF("name", "TIME", "VALUE").createOrReplaceTempView("tag_simple")

  test("MAP_pushkey_manual: rownum key demotes ahead of values") {
    assert(run("FAKE( linspace(1, 2, 2) )\nPUSHKEY(\"k\")\nCSV()\n") == "1,1\n2,2\n")
  }

  test("MAP_popkey_manual: first value becomes the key and leaves the tuple") {
    val out = run(
      """FAKE( json({
        |  ["TAG0", 1, 10],
        |  ["TAG1", 2, 20]
        |}))
        |POPKEY()
        |CSV()
        |""".stripMargin)
    assert(out == "1,10\n2,20\n")
  }

  test("MAP_transpose_header_manual: melt-all with first record as labels") {
    val out = run(
      "FAKE(csv(\"CITY,DATE,TEMPERATURE,HUMIDITY\nTokyo,2023/12/07,23,30\"))\n" +
        "TRANSPOSE(header(true))\nCSV()\n")
    assert(out == "CITY,Tokyo\nDATE,2023/12/07\nTEMPERATURE,23\nHUMIDITY,30\n")
  }

  test("MAP_take_offset_count_manual") {
    val out = run(
      """FAKE( json({
        |  ["TAG0", 1, 10], ["TAG0", 2, 11], ["TAG0", 3, 12],
        |  ["TAG0", 4, 13], ["TAG0", 5, 14], ["TAG0", 6, 15]
        |}))
        |TAKE(3, 2)
        |CSV()
        |""".stripMargin)
    assert(out == "TAG0,4,13\nTAG0,5,14\n")
  }

  test("MAP_drop_offset_count_manual") {
    val out = run(
      """FAKE( json({
        |  ["TAG0", 1, 10], ["TAG0", 2, 11], ["TAG0", 3, 12],
        |  ["TAG0", 4, 13], ["TAG0", 5, 14], ["TAG0", 6, 15]
        |}))
        |DROP(2, 3)
        |CSV()
        |""".stripMargin)
    assert(out == "TAG0,1,10\nTAG0,2,11\nTAG0,6,15\n")
  }

  test("FAKE_json_manual: booleans survive, MAPVALUE scales in place") {
    val out = run(
      """FAKE( json({
        |  ["A", 1, true], ["B", 2, false], ["C", 3, true]
        |}))
        |MAPVALUE(1, value(1)*10)
        |CSV()
        |""".stripMargin)
    assert(out == "A,10,true\nB,20,false\nC,30,true\n")
  }

  test("FAKE_csv_manual: strTrimSpace + parseFloat + parseBool") {
    val out = run(
      "FAKE( csv( strTrimSpace(`\n" +
        "  A,1,true\n  B,2,false\n  C,3,true\n`)))\n" +
        "MAPVALUE(0, strTrimSpace(value(0)))\n" +
        "MAPVALUE(1, parseFloat(value(1))*10)\n" +
        "MAPVALUE(2, parseBool(value(2)))\n" +
        "CSV()\n")
    assert(out == "A,10,true\nB,20,false\nC,30,true\n")
  }

  test("UTIL_string_trim_replace") {
    val out = run(
      """FAKE( json({ ["prefix-hello-suffix"] }))
        |MAPVALUE(0, strTrimPrefix(value(0), "prefix-"))
        |MAPVALUE(0, strTrimSuffix(value(0), "-suffix"))
        |MAPVALUE(0, strReplace(value(0), "l", "L", 1))
        |CSV()
        |""".stripMargin)
    assert(out == "heLlo\n")
  }

  test("strSub rune slicing with negative offsets; byte-offset str(Last)Index (func_test.go:194-272)") {
    // strSub is rune-based with Go edge rules (fm_fake.go:592-630)
    val sub = run(
      """FAKE( json({ ["HelLo 😀 World"] }))
        |PUSHVALUE(1, strSub(value(0)))
        |PUSHVALUE(2, strSub("😀HelLo World", 0, 3))
        |PUSHVALUE(3, strSub(value(0), 6, -2))
        |PUSHVALUE(4, strSub(value(0), -7))
        |PUSHVALUE(5, strSub(value(0), -7, 3))
        |PUSHVALUE(6, strSub(value(0), -1))
        |PUSHVALUE(7, strSub(value(0), -30))
        |PUSHVALUE(8, strSub(value(0), 0, 30))
        |PUSHVALUE(9, strSub(value(0), 30, 30))
        |CSV()
        |""".stripMargin)
    assert(sub == "HelLo 😀 World,HelLo 😀 World,😀He,😀 World,😀 World,😀 W,d,,HelLo 😀 World,\n", sub)
    // strings.Index/LastIndex return BYTE offsets — the 4-byte emoji
    // shifts everything after it (func_test.go:238-272)
    val idx = run(
      """FAKE( json({ ["HelLo 😀 World"] }))
        |PUSHVALUE(1, strIndex(value(0), "😀"))
        |PUSHVALUE(2, strIndex(value(0), "o"))
        |PUSHVALUE(3, strIndex(value(0), "l"))
        |PUSHVALUE(4, strLastIndex(value(0), "😀"))
        |PUSHVALUE(5, strLastIndex(value(0), "o"))
        |PUSHVALUE(6, strLastIndex(value(0), "H"))
        |PUSHVALUE(7, strLastIndex(value(0), "l"))
        |CSV()
        |""".stripMargin)
    assert(idx == "HelLo 😀 World,6,4,2,6,12,0,14\n", idx)
  }

  test("range() and roundTime() arg diagnostics (func_test.go:546-597)") {
    def err(script: String): String =
      intercept[IllegalArgumentException](runTrim(script)).getMessage
    assert(err("FAKE( oscillator(freq(1.0, 1.0), range(false, '1s', '100ms')) )\nCSV()\n")
      == "f(range) arg(0) should be time, but bool")
    assert(err("FAKE( oscillator(freq(1.0, 1.0), range(0, '1x', '100ms')) )\nCSV()\n")
      == "f(range) arg(1) should be duration, but string")
    assert(err("FAKE( oscillator(freq(1.0, 1.0), range(0, '1s', '100x')) )\nCSV()\n")
      == "f(range) arg(2) should be period, but string")
    assert(err("FAKE( oscillator(freq(1.0, 1.0), range(0, '500ms', '1s')) )\nCSV()\n")
      == "f(range) arg(2) period should be smaller than duration")
    assert(err("FAKE( json({[1]}) )\nMAPVALUE(0, roundTime(parseTime(value(0), 's', tz('UTC')), '0s'))\nCSV()\n")
      == "f(roundTime) arg(1) zero duration is not allowed")
  }

  test("CSV file source: datetimeType/floatType fields and undeclared columns stay strings") {
    val tmp = tempFile("graft_csvfile", ".csv")
    java.nio.file.Files.write(tmp,
      "a,1705291859,1.5,extra1\nb,1705291860,2.5,extra2\n".getBytes("UTF-8"))
    val out = run(
      s"""CSV(file('$tmp'), field(0, stringType(), 'name'), field(1, datetimeType('s'), 'time'), field(2, floatType(), 'value'))
         |CSV(timeformat('s'))
         |""".stripMargin)
    assert(out == "a,1705291859,1.5,extra1\nb,1705291860,2.5,extra2\n", out)
  }

  test("variadic element() and float64 len() (func_test.go:598-665)") {
    val out = run(
      """FAKE( json({ ["1234"] }))
        |PUSHVALUE(1, element(0.0, 1.0, 2.0, 3.0, 4.0, 1.0))
        |PUSHVALUE(2, element(0.0, 1.0, 2.0, 3.0, 4.0, 4))
        |PUSHVALUE(3, element("abc", "bcd", "cde", "def", "efg", 4))
        |PUSHVALUE(4, len(value(0)))
        |PUSHVALUE(5, len(list(1, 2, 3, 4)))
        |CSV()
        |""".stripMargin)
    assert(out == "1234,1,4,efg,4,4\n", out)
  }

  test("UTIL_string_lastIndex + inverse-hyperbolic + IEEE remainder") {
    // strings.LastIndex semantics: 0-based, -1 when missing (fm_fake.go:636)
    val out = run(
      """FAKE( json({ ["go gopher"] }))
        |PUSHVALUE(1, strLastIndex(value(0), "go"))
        |PUSHVALUE(2, strLastIndex(value(0), "rodent"))
        |PUSHVALUE(3, strIndex(value(0), "go"))
        |CSV()
        |""".stripMargin)
    assert(out == "go gopher,3,-1,0\n")
    // math.Acosh/Asinh/Atanh/Remainder wrappers (fx_definitions.go:81-98)
    val m = run(
      """FAKE( linspace(2, 2, 1) )
        |MAPVALUE(0, acosh(value(0)))
        |PUSHVALUE(1, asinh(1.0))
        |PUSHVALUE(2, atanh(0.5))
        |PUSHVALUE(3, remainder(13.0, 5.0))
        |CSV( precision(6) )
        |""".stripMargin)
    // Go: acosh(2)=1.316958, asinh(1)=0.881374, atanh(0.5)=0.549306,
    // remainder(13,5)=-2 (rounds 2.6 to nearest even neighbor 3)
    assert(m == "1.316958,0.881374,0.549306,-2.000000\n")
  }

  test("GROUP relation/cdf/moment aggregators through the TQL surface") {
    // lrs = OLS slope of y on x; correlation/covariance two-column;
    // cdf(v,q) empirical; moment(v,k) central (fm_monad.go:900-975)
    val out = run(
      """FAKE( json({
        |  ["a", 1, 2], ["a", 2, 4], ["a", 3, 6], ["a", 4, 9]
        |}))
        |GROUP(by(value(0)),
        |      lrs(value(1), value(2), 'slope'),
        |      correlation(value(1), value(2), 'corr'),
        |      covariance(value(1), value(2), 'cov'),
        |      cdf(value(2), 5, 'cdf5'),
        |      moment(value(2), 2, 'm2'))
        |CSV( precision(4) )
        |""".stripMargin)
    // y = [2,4,6,9] on x = [1,2,3,4]: slope 11.5/5 = 2.3; corr
    // 11.5/√(5·26.75) = 0.9944; sample cov 11.5/3 = 3.8333; cdf(≤5) =
    // 0.5; 2nd central moment Σ(y-5.25)²/4 = 6.6875
    assert(out == "a,2.3000,0.9944,3.8333,0.5000,6.6875\n", out)
  }

  test("GROUP weighted relation aggregators (GroupColumnRelation + wv)") {
    // x=[1,2], y=[2,4], w=[1,2] — gonum weighted forms: cov_w =
    // (Σwxy − SW·mx·my)/(SW−1) = 2/3; corr_w = 1 (y = 2x exactly);
    // lrs_w slope = 2; E_w[(y−μ_w)²] = 8/9; cdf_w(2.5) = 1/3
    val out = run(
      """FAKE( json({ ["a", 1, 2, 1], ["a", 2, 4, 2] }))
        |GROUP(by(value(0)),
        |      lrs(value(1), value(2), weight(value(3)), 'slope'),
        |      correlation(value(1), value(2), weight(value(3)), 'corr'),
        |      covariance(value(1), value(2), weight(value(3)), 'cov'),
        |      cdf(value(2), 2.5, weight(value(3)), 'cdf'),
        |      moment(value(2), 2, weight(value(3)), 'm2'))
        |CSV( precision(4) )
        |""".stripMargin)
    assert(out == "a,2.0000,1.0000,0.6667,0.3333,0.8889\n", out)
  }

  test("UTIL_time_parts: Go accessors over epoch-ns (fm_time.go:53-229)") {
    // 2024-03-05 14:30:45.123456789 UTC — a Tuesday, day 65, ISO week 10.
    // The ns value rides as a JSON string: a 19-digit literal is not
    // float64-exact (the reference's expression layer has the same limit)
    val ns = "\"1709649045123456789\""
    val out = run(
      s"""FAKE( json({ [$ns] }))
         |PUSHVALUE(1, timeYear(value(0)))
         |PUSHVALUE(2, timeMonth(value(0)))
         |PUSHVALUE(3, timeDay(value(0)))
         |PUSHVALUE(4, timeHour(value(0)))
         |PUSHVALUE(5, timeMinute(value(0)))
         |PUSHVALUE(6, timeSecond(value(0)))
         |PUSHVALUE(7, timeNanosecond(value(0)))
         |PUSHVALUE(8, timeISOYear(value(0)))
         |PUSHVALUE(9, timeISOWeek(value(0)))
         |PUSHVALUE(10, timeYearDay(value(0)))
         |PUSHVALUE(11, timeWeekDay(value(0)))
         |POPVALUE(0)
         |CSV()
         |""".stripMargin)
    assert(out == "2024,3,5,14,30,45,123456789,2024,10,65,2\n", out)
    val unix = run(
      s"""FAKE( json({ [$ns] }))
         |PUSHVALUE(1, timeUnix(value(0)))
         |PUSHVALUE(2, timeUnixMilli(value(0)))
         |PUSHVALUE(3, timeUnixMicro(value(0)))
         |PUSHVALUE(4, timeUnixNano(value(0)))
         |POPVALUE(0)
         |CSV( precision(0) )
         |""".stripMargin)
    // timeUnixNano returns float64 like the reference (fmTimeUnix0) —
    // the ns value rounds to the nearest double, …768
    assert(unix == "1709649045,1709649045123,1709649045123456,1709649045123456768\n",
      unix)
    val hourSeoul = run(
      s"""FAKE( json({ [$ns] }))
         |MAPVALUE(0, timeHour(value(0), tz("Asia/Seoul")))
         |CSV()
         |""".stripMargin)
    assert(hourSeoul == "23\n", hourSeoul) // UTC 14:30 + 9h
    val st = run(
      s"""FAKE( json({ [$ns] }))
         |MAPVALUE(0, strTime(value(0), "2006-01-02 15:04:05"))
         |CSV()
         |""".stripMargin)
    assert(st == "2024-03-05 14:30:45\n", st)
  }

  test("UTIL_string_predicates") {
    val out = run(
      """FAKE( json({ ["prefix-hello-suffix"], ["hello"] }))
        |PUSHVALUE(1, strHasPrefix(value(0), "prefix-"))
        |PUSHVALUE(2, strHasSuffix(value(0), "-suffix"))
        |CSV()
        |""".stripMargin)
    assert(out == "prefix-hello-suffix,true,true\nhello,false,false\n")
  }

  test("UTIL_string_replace_all") {
    assert(run("FAKE( json({ [\"a-b-c\"] }))\nMAPVALUE(0, strReplaceAll(value(0), \"-\", \"_\"))\nCSV()\n")
      == "a_b_c\n")
  }

  test("MAP_AVG over inclusive arrange") {
    assert(run("FAKE( arrange(10, 30, 10) )\nMAP_AVG(1, value(0))\nCSV( precision(0) )\n")
      == "10,10\n20,15\n30,20\n")
  }

  test("CSV_CSV literal source with empty fields and lines") {
    assert(run("CSV(\"1,line1\n2,line2\n3,\n4,line4\")\nCSV( heading(true) )\n")
      == "column0,column1\n1,line1\n2,line2\n3,\n4,line4\n")
    assert(run("CSV(\"line1\nline2\n\nline4\")\nCSV( heading(true) )\n")
      == "column0\nline1\nline2\nline4\n")
  }

  test("CSV_payload_CSV with typed fields and epoch timeformat") {
    val c = graft.tql.Compiler.compile(spark,
      """CSV(payload(),
        |  field(0, stringType(), "name"),
        |  field(1, datetimeType("s"), "time"),
        |  field(2, doubleType(), "value"),
        |  field(3, stringType(), "active")
        |)
        |CSV(timeformat("s"), heading(true))
        |""".stripMargin,
      params = Map("payload" -> Seq("temp.name,1691662156,123.456789,true\n")))
    val out = trimClose(graft.sinks.Codecs.render(c.output, c.sink.format, c.sink.options))
    assert(out == "name,time,value,active\ntemp.name,1691662156,123.456789,true\n")
  }

  test("UTIL_sqlTimeformat_csv with tz('Asia/Seoul')") {
    val out = run(
      """FAKE( json({
        |  [1701345032123456789, 10],
        |  [1701345043219876543, 11]
        |}))
        |MAPVALUE(0, time(value(0)))
        |CSV(sqlTimeformat("YYYY-MM-DD HH24:MI:SS.nnnnnn"), tz("Asia/Seoul"))
        |""".stripMargin)
    assert(out == "2023-11-30 20:50:32.123456,10\n2023-11-30 20:50:43.219876,11\n")
  }

  test("UTIL_ansiTimeformat_csv in UTC") {
    val out = run(
      """FAKE( json({
        |  [1701345032123456789, 10],
        |  [1701345043219876543, 11]
        |}))
        |MAPVALUE(0, time(value(0)))
        |CSV(ansiTimeformat("yyyy-mm-dd hh:nn:ss.ffffff"), tz("UTC"))
        |""".stripMargin)
    assert(out == "2023-11-30 11:50:32.123456,10\n2023-11-30 11:50:43.219876,11\n")
  }

  test("CSV_MARKDOWN: payload with header consumed as column names") {
    val payload = Seq(
      "NAME,TIME,VALUE",
      "wave.sin,1676432361,0.000000",
      "wave.cos,1676432361,1.000000",
      "wave.sin,1676432362,0.406736").mkString("\n")
    val c = graft.tql.Compiler.compile(spark,
      "CSV(payload(), header(true))\nMARKDOWN()\n", params = Map("payload" -> Seq(payload)))
    val out = trimClose(graft.sinks.Codecs.render(c.output, c.sink.format, c.sink.options))
    assert(out == Seq(
      "|NAME|TIME|VALUE|",
      "|:-----|:-----|:-----|",
      "|wave.sin|1676432361|0.000000|",
      "|wave.cos|1676432361|1.000000|",
      "|wave.sin|1676432362|0.406736|").mkString("", "\n", "\n"))
  }

  test("SQL_select-from-table-rownum_BOX") {
    mkTagSimple()
    val out = run(
      """SQL("select TIME, VALUE from tag_simple where name = 'tag1'")
        |PUSHKEY('test')
        |BOX( precision(3), header(true) )
        |""".stripMargin)
    assert(out == Seq(
      "+--------+---------------------+-------+",
      "| ROWNUM | TIME                | VALUE |",
      "+--------+---------------------+-------+",
      "| 1      | 1692686707380411000 | 0.100 |",
      "| 2      | 1692686708380411000 | 0.200 |",
      "+--------+---------------------+-------+").mkString("", "\n", "\n"))
  }

  test("QUERY_JSON-rows-flatten (and rownum variant)") {
    mkTagSimple()
    val out = run(
      """QUERY('VALUE', from('tag_simple', 'tag1', "TIME"), between(1692686707000000000, 1692686709000000000))
        |JSON( precision(3), rowsFlatten(true) )
        |""".stripMargin)
    assert(out.contains("\"columns\":[\"TIME\",\"VALUE\"]"), out)
    assert(out.contains("\"types\":[\"datetime\",\"double\"]"), out)
    assert(out.contains("\"rows\":[1692686707380411000,0.1,1692686708380411000,0.2]"), out)

    val out2 = run(
      """QUERY('VALUE', from('tag_simple', 'tag1', "TIME"), between(1692686707000000000, 1692686709000000000))
        |JSON( precision(3), rowsFlatten(true), rownum(true) )
        |""".stripMargin)
    assert(out2.contains("\"columns\":[\"ROWNUM\",\"TIME\",\"VALUE\"]"), out2)
    assert(out2.contains("\"types\":[\"int64\",\"datetime\",\"double\"]"), out2)
    assert(out2.contains("\"rows\":[1,1692686707380411000,0.1,2,1692686708380411000,0.2]"), out2)
  }

  test("SQL_NDJSON with timeformat('default')") {
    mkTagSimple()
    val c = graft.tql.Compiler.compile(spark,
      """SQL("select TIME, VALUE from tag_simple where name = 'tag1'")
        |MAPVALUE(0, time(value(0)))
        |NDJSON( timeformat('default'), tz('UTC') )
        |""".stripMargin)
    val out = trimClose(graft.sinks.Codecs.render(c.output, c.sink.format, c.sink.options))
    assert(out ==
      "{\"TIME\":\"2023-08-22 06:45:07.38\",\"VALUE\":0.1}\n" +
      "{\"TIME\":\"2023-08-22 06:45:08.38\",\"VALUE\":0.2}\n")
  }

  test("FAKE_meshgrid_manual: x-major cartesian order") {
    assert(run("FAKE( meshgrid(linspace(1, 2, 2), linspace(10, 20, 2)) )\nCSV()\n") ==
      "1,10\n1,20\n2,10\n2,20\n")
  }

  // tql_test.go:1939-1951 FAKE_oscillator_1 — JSON(precision(16)) is
  // fixed-width 'f' with trailing zeros kept ("0.6628509149282410");
  // clock pinned so time('now-1s') reproduces their row times exactly.
  private val OscNow = 1692329338315327000L
  private val OscRows = "[[1692329337315327000,0.9169371548618853]," +
    "[1692329337515327000,-0.0961529923781393]," +
    "[1692329337715327000,-0.9763628786653529]," +
    "[1692329337915327000,-0.5072715014883364]," +
    "[1692329338115327000,0.6628509149282410]]"

  test("FAKE_oscillator_1: forward range from time('now-1s')") {
    val out = runTrim(
      """FAKE( oscillator(freq(1.0, 1.0), range(time('now-1s'), '1s', '200ms')) )
        |JSON(precision(16))
        |""".stripMargin, OscNow)
    assert(out.contains(s""""rows":$OscRows"""), out)
  }

  test("FAKE_oscillator_2: negative duration runs backward from time('now')") {
    val out = runTrim(
      """FAKE( oscillator(freq(1.0, 1.0), range(time('now'), '-1s', '200ms')) )
        |JSON(precision(16))
        |""".stripMargin, OscNow)
    assert(out.contains(s""""rows":$OscRows"""), out)
  }

  // task_test.go TestQuerySql / TestSqlSelect — dump(true) emits the
  // generator's SQL text instead of executing it; goldens are the
  // reference's own expected strings (CSV-quoted: the text has commas).
  private def q(s: String) = "\"" + s + "\"\n"

  test("QUERY_dump: golden SQL text (task_test.go:2678-2802)") {
    assert(run("QUERY('value', between('last-10s', 'last'), from(\"table\", \"tag\", \"time\"), dump(true))\nCSV()\n") ==
      q("SELECT time, value FROM TABLE WHERE name = 'tag' AND time BETWEEN (SELECT MAX_TIME-10000000000 FROM V$TABLE_STAT WHERE name = 'tag') AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') LIMIT 0, 1000000"))
    // defaults: between('last-1s','last'), limit(0, 1000000)
    assert(run("QUERY('value', from('table', 'tag'), dump(true))\nCSV()\n") ==
      q("SELECT time, value FROM TABLE WHERE name = 'tag' AND time BETWEEN (SELECT MAX_TIME-1000000000 FROM V$TABLE_STAT WHERE name = 'tag') AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') LIMIT 0, 1000000"))
    // expression columns pass through verbatim; offset+limit
    assert(run("QUERY('(val + val2/2)', from('table', 'tag'), between('last-2.34s', 'last'), limit(10, 2000), dump(true))\nCSV()\n") ==
      q("SELECT time, (val + val2/2) FROM TABLE WHERE name = 'tag' AND time BETWEEN (SELECT MAX_TIME-2340000000 FROM V$TABLE_STAT WHERE name = 'tag') AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') LIMIT 10, 2000"))
    // now-relative bounds render as now / (now-offset)
    assert(run("QUERY('val', from('table', 'tag'), between('now -2.34s', 'now'), limit(5, 100), dump(true))\nCSV()\n") ==
      q("SELECT time, val FROM TABLE WHERE name = 'tag' AND time BETWEEN (now-2340000000) AND now LIMIT 5, 100"))
    // constant ns arithmetic folds exactly
    assert(run("QUERY('value', from('table', 'tag'), between(123456789000-2.34*1000000000, 123456789000), dump(true))\nCSV()\n") ==
      q("SELECT time, value FROM TABLE WHERE name = 'tag' AND time BETWEEN 121116789000 AND 123456789000 LIMIT 0, 1000000"))
  }

  test("QUERY_dump: period → GROUP BY bucket SQL (task_test.go:2792-2812)") {
    assert(run("QUERY('STDDEV(val)', from('table', 'tag'), between(123456789000 - 3.45*1000000000, 123456789000, '1ms'), limit(1, 100), dump(true))\nCSV()\n") ==
      q("SELECT from_timestamp(round(to_timestamp(time)/1000000)*1000000) time, STDDEV(val) FROM TABLE WHERE name = 'tag' AND time BETWEEN 120006789000 AND 123456789000 GROUP BY time ORDER BY time LIMIT 1, 100"))
    assert(run("QUERY('STDDEV(val)', 'zval', from('table', 'tag'), between('last-2.34s', 'last', '0.5ms'), limit(2, 100), dump(true))\nCSV()\n") ==
      q("SELECT from_timestamp(round(to_timestamp(time)/500000)*500000) time, STDDEV(val), zval FROM TABLE WHERE name = 'tag' AND time BETWEEN (SELECT MAX_TIME-2340000000 FROM V$TABLE_STAT WHERE name = 'tag') AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') GROUP BY time ORDER BY time LIMIT 2, 100"))
  }

  test("SQL_SELECT_dump: no time prefix (task_test.go TestSqlSelect)") {
    assert(run("SQL_SELECT('value', between('last-10s', 'last'), from(\"table\", \"tag\", \"time\"), dump(true))\nCSV()\n") ==
      q("SELECT value FROM TABLE WHERE name = 'tag' AND time BETWEEN (SELECT MAX_TIME-10000000000 FROM V$TABLE_STAT WHERE name = 'tag') AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') LIMIT 0, 1000000"))
  }

  test("MAP_DISTANCE: per-leg meters, invalid points emit 0 and hold prev") {
    // (0,0) is the reference's "no fix" sentinel (fm_monad.go:2119-2121):
    // emits 0 and does NOT advance the previous point, so the next leg
    // measures from the last valid fix. 1 degree of latitude with the
    // reference's EarthRadius=6378137 (geography.go:15) is 111319 m.
    val out = run(
      """FAKE( json({
        |  [1, 37.0, 127.0], [2, 0, 0], [3, 38.0, 127.0], [4, 38.0, 127.0]
        |}))
        |MAP_DISTANCE(3, latlon(value(1), value(2)))
        |POPVALUE(1, 2)
        |CSV( precision(0) )
        |""".stripMargin)
    assert(out == "1,0\n2,0\n3,111319\n4,0\n", out)
  }

  test("MAP_KALMAN: converges toward a constant signal; THROTTLE no-ops") {
    val out = run(
      """FAKE( json({ [1, 10.0], [2, 10.0], [3, 10.0] }))
        |MAP_KALMAN(2, value(1), model('simple', 1.0, 0.01, 4.0))
        |THROTTLE(100)
        |POPVALUE(1)
        |CSV( precision(2) )
        |""".stripMargin)
    assert(out == "1.00,10.00\n2.00,10.00\n3.00,10.00\n", out)
  }

  test("QUERY_period_execution: bucket aggregation matches the dumped SQL") {
    // the same round(time/period)*period bucketing the dump SQL declares,
    // executed: 4 points 0.4s apart → two 1s buckets (half-up rounding)
    Seq(("t1", 1000000000L, 1.0), ("t1", 1400000000L, 3.0),
        ("t1", 1800000000L, 5.0), ("t1", 2200000000L, 7.0),
        ("t2", 1000000000L, 99.0))
      .toDF("name", "time", "value").createOrReplaceTempView("qp_tag")
    val out = run(
      """QUERY('AVG(value)', from('qp_tag', 't1'), between(time(500000000), time(2500000000), '1s'))
        |MAPVALUE(0, timeUnixNano(value(0)))
        |CSV( precision(0) )
        |""".stripMargin)
    // 1.0s,1.4s → bucket 1s (avg 2); 1.8s,2.2s → bucket 2s (avg 6)
    assert(out == "1000000000,2\n2000000000,6\n", out)
    spark.catalog.dropTempView("qp_tag")
  }

  test("FILTER_CHANGED_time: retain emits the stabilization record (tql_test.go)") {
    val out = run(
      """FAKE(json({
        |  ["A", 1692329338, 1.0],
        |  ["A", 1692329339, 2.0],
        |  ["B", 1692329340, 3.0],
        |  ["B", 1692329341, 4.0],
        |  ["B", 1692329342, 5.0],
        |  ["B", 1692329343, 6.0],
        |  ["B", 1692329344, 7.0],
        |  ["B", 1692329345, 8.0],
        |  ["C", 1692329346, 9.0],
        |  ["D", 1692329347, 9.1],
        |  ["D", 1692329348, 9.2],
        |  ["D", 1692329349, 9.3]
        |}))
        |MAPVALUE(1, parseTime(value(1), "s", tz("UTC")))
        |FILTER_CHANGED(value(0), retain(value(1), "2s"))
        |CSV(timeformat("s"))
        |""".stripMargin)
    assert(out == "A,1692329338,1\nB,1692329342,5\nD,1692329349,9.3\n", out)
  }

  test("FILTER_CHANGED_bool (tql_test.go)") {
    val out = run(
      """FAKE(json({
        |  ["A", true, 1.0],
        |  ["A", false, 2.0],
        |  ["B", false, 3.0],
        |  ["B", true, 4.0]
        |}))
        |FILTER_CHANGED(value(1))
        |CSV()
        |""".stripMargin)
    assert(out == "A,true,1\nA,false,2\nB,true,4\n", out)
  }

  test("FAKE error battery: reference diagnostics (tql_test.go FAKE_*)") {
    def err(script: String): String =
      intercept[IllegalArgumentException] { run(script) }.getMessage
    assert(err("FAKE( 123 )\nCSV()\n") ==
      "f(FAKE) arg(0) should be fakeSource, but float64")
    assert(err("FAKE( arrange(10, 30, 0) )\nCSV()\n") ==
      "FUNCTION \"arrange\" step can not be 0")
    assert(err("FAKE( arrange(10, 10, 10) )\nCSV()\n") ==
      "FUNCTION \"arrange\" start, stop can not be equal")
    assert(err("FAKE( arrange(10, 30, -10) )\nCSV()\n") ==
      "FUNCTION \"arrange\" step can not be less than 0")
    assert(err("FAKE( arrange(30, 10, 10) )\nCSV()\n") ==
      "FUNCTION \"arrange\" step can not be greater than 0")
    assert(err("FAKE( oscillator() )\nJSON()\n") ==
      "f(oscillator) no time range is defined")
    assert(err("FAKE( oscillator(123) )\nJSON()\n") ==
      "f(oscillator) invalid arg type 'float64'")
    assert(err("FAKE( oscillator(freq(1.0, 1.0)) )\nJSON()\n") ==
      "f(oscillator) no time range is defined")
    assert(err("FAKE( oscillator(freq(1.0, 1.0), range(time('now-1s'), '1s', '200ms'), range(time('now-1s'), '1s', '200ms')) )\nJSON()\n") ==
      "f(oscillator) duplicated time range")
  }

  test("tz_aliases: KST/EEST/GMT resolve like util/time_locations_test.go") {
    val ns = "\"1709649045123456789\"" // 2024-03-05 14:30:45 UTC
    def hourIn(z: String) = run(
      s"""FAKE( json({ [$ns] }))
         |MAPVALUE(0, timeHour(value(0), tz("$z")))
         |CSV()
         |""".stripMargin)
    assert(hourIn("KST") == "23\n")  // Asia/Seoul +9
    assert(hourIn("EEST") == "16\n") // Africa/Cairo, +2 on this date
    assert(hourIn("GMT") == "14\n")  // Africa/Abidjan +0
  }

  test("value('0') string index; out-of-range uses the reference message") {
    // fm_context_test.go:47-55
    assert(run("FAKE( json({ [7, 8] }))\nMAPVALUE(0, value(\"1\"))\nPOPVALUE(1)\nCSV()\n") == "8\n")
    val err = intercept[IllegalArgumentException] {
      run("FAKE( json({ [7, 8] }))\nMAPVALUE(0, value(2))\nCSV()\n")
    }
    assert(err.getMessage ==
      "f(value) arg(0) 2 is out of range of the value(len:2) in ")
  }

  test("cache() is row-encoder-only (fm_encoder.go:21-27)") {
    val err = intercept[IllegalArgumentException] {
      run("FAKE( linspace(1, 1, 1) )\nMARKDOWN( cache('k', '60s') )\n")
    }
    // the compile surface position-decorates encoder errors (the bare
    // message is the newEncoder-level form, fm_encoder_test.go:73)
    assert(err.getMessage ==
      "line 2, column 1: encoder 'markdown' does not support cache [statement: MARKDOWN( cache('k', '60s') )]")
  }

  test("escapeParam: Go url.QueryEscape byte-compat (func_test.go:55)") {
    val out = run(
      """FAKE( json({ ["a b/c*d~e&f=g"] }))
        |MAPVALUE(0, escapeParam(value(0)))
        |CSV()
        |""".stripMargin)
    assert(out == "a+b%2Fc%2Ad~e%26f%3Dg\n", out)
  }
}
