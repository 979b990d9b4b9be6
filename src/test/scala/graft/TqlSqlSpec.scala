package graft


/** The reference's TestTqlSql battery (fm_dbsrc_test.go:46-145) —
  * SCRIPT-yielded wide row → SQL insert sink with ? binds into the
  * tag_data fixture table → SELECT rendered through each wire format with
  * machbase type names and binary/json/ip formatting. Expectations are the
  * reference's own ExpectCSV/ExpectText/ExpectFunc literals (their test
  * runs with tz Local; ours pins UTC, and the zone-less JS date parses as
  * UTC, so the rendered wall-clock text is identical).
  */
class TqlSqlSpec extends SparkSpec {

  private def insertWideRow(): String = runTrim(
    """SCRIPT({
      |  const dt = new Date('2026-07-10T17:10:20');
      |  $.yield(
      |    'sql_test', dt, 3.142,
      |    -123, 123,
      |    -1234, 1234,
      |    -12345, 12345,
      |    'STR', '{"json":true}',
      |    '192.168.0.1', '2001:db8::1',
      |    new Uint8Array([1,2,3])
      |)})
      |SQL('insert into tag_data (name,time,value, ' +
      |  'short_value,ushort_value,int_value,uint_value, ' +
      |  'long_value,ulong_value,str_value,json_value,ipv4_value,ipv6_value,bin_value) ' +
      |  'values(?,?,?,?,?,?,?,?,?,?,?,?,?,?)',
      |    value(0), value(1), value(2),
      |    value(3), value(4), value(5), value(6),
      |    value(7), value(8), value(9), value(10), value(11), value(12), value(13)
      |)
      |""".stripMargin)

  test("SQL_sink: insert with binds reports the DML message") {
    graft.server.TagTables.dropAll(spark)
    val out = insertWideRow()
    assert(out.contains(""""message":"a row inserted.""""), out)
    assert(out.contains(""""success":true"""), out)
  }

  test("SQL_FLUSH: exec table_flush reports executed") {
    val out = runTrim(
      """FAKE(once(1))
        |SQL('exec table_flush(tag_data)')
        |""".stripMargin)
    assert(out.contains(""""message":"executed.""""), out)
  }

  private def freshRow(): Unit = {
    graft.server.TagTables.dropAll(spark)
    insertWideRow()
  }

  test("SQL_csv: full wide row through CSV with type formatting") {
    freshRow()
    val out = runTrim(
      """SQL('select * from tag_data where name = ?', 'sql_test')
        |CSV(header(true), timeformat('default'), tz('Local'))
        |""".stripMargin)
    assert(out ==
      "NAME,TIME,VALUE,SHORT_VALUE,USHORT_VALUE,INT_VALUE,UINT_VALUE,LONG_VALUE,ULONG_VALUE,STR_VALUE,JSON_VALUE,IPV4_VALUE,IPV6_VALUE,BIN_VALUE\n" +
      "sql_test,2026-07-10 17:10:20,3.142,-123,123,-1234,1234,-12345,12345,STR,\"{\"\"json\"\":true}\",192.168.0.1,2001:db8::1,0x010203\n")
  }

  test("SQL_markdown: %f floats and raw cells") {
    freshRow()
    val out = runTrim(
      """SQL('select * from tag_data where name = ?', 'sql_test')
        |MARKDOWN(timeformat('default'), tz('Local'))
        |""".stripMargin)
    assert(out.contains(
      "|sql_test|2026-07-10 17:10:20|3.142000|-123|123|-1234|1234|-12345|12345|STR|{\"json\":true}|192.168.0.1|2001:db8::1|0x010203|"), out)
  }

  test("SQL_json: machbase type names in the envelope") {
    freshRow()
    val out = runTrim(
      """SQL('select * from tag_data where name = ?', 'sql_test')
        |JSON(timeformat('default'), tz('Local'))
        |""".stripMargin)
    assert(out.contains(
      """"columns":["NAME","TIME","VALUE","SHORT_VALUE","USHORT_VALUE","INT_VALUE","UINT_VALUE","LONG_VALUE","ULONG_VALUE","STR_VALUE","JSON_VALUE","IPV4_VALUE","IPV6_VALUE","BIN_VALUE"]"""), out)
    assert(out.contains(
      """"types":["string","datetime","double","int16","uint16","int32","uint32","int64","uint64","string","json","ipv4","ipv6","binary"]"""), out)
    assert(out.contains(
      """["sql_test","2026-07-10 17:10:20",3.142,-123,123,-1234,1234,-12345,12345,"STR","{\"json\":true}","192.168.0.1","2001:db8::1","0x010203"]"""), out)
  }

  test("SQL_insert-tag1 + show-tags: typed CSV insert then V$T_STAT shape (tql_test.go:288-330)") {
    graft.server.TagTables.dropAll(spark)
    val out = runTrim(
      """CSV("tag1,1692686707380411000,0.100\ntag1,1692686708380411000,0.200\n",
        |  header(false),
        |  field(0, stringType(), "name"),
        |  field(1, datetimeType("ns"), "time"),
        |  field(2, doubleType(), "value")
        |)
        |INSERT('name', 'time', 'value', table('tag_simple'))
        |""".stripMargin)
    assert(out.contains(""""data":{"message":"2 rows inserted."}"""), out)

    val flush = runTrim(
      "SQL(\"EXEC table_flush(tag_simple)\")\nMARKDOWN()\n")
    assert(flush == "|MESSAGE|\n|:-----|\n|executed.|\n", flush)

    val tags = runTrim(
      "SQL(\"show tags tag_simple\")\nCSV(header(true))\n")
    assert(tags ==
      "ID,NAME,ROW_COUNT,MIN_TIME,MAX_TIME,RECENT_ROW_TIME,MIN_VALUE,MIN_VALUE_TIME,MAX_VALUE,MAX_VALUE_TIME\n" +
      "1,tag1,2,1692686707380411000,1692686708380411000,1692686708380411000,NULL,NULL,NULL,NULL\n", tags)
  }

  test("FAKE_INSERT with tag() + delete cleanup (tql_test.go:523-549)") {
    graft.server.TagTables.dropAll(spark)
    val out = runTrim(
      """FAKE( linspace(0, 1, 3) )
        |PUSHVALUE(0, timeAdd('now', value(0)*2000000000))
        |INSERT('TIME', 'VALUE', table('tag_simple'), tag('signal.3'))
        |""".stripMargin, 1700000000000000000L)
    assert(out.contains(""""data":{"message":"3 rows inserted."}"""), out)
    val del = runTrim(
      "SQL(\"delete from tag_simple where name = 'signal.3'\")\nMARKDOWN()\n")
    assert(del == "|MESSAGE|\n|:-----|\n|3 rows deleted.|\n", del)
  }

  test("DELETE with arbitrary WHERE predicate (time-based, machbase form)") {
    graft.server.TagTables.dropAll(spark)
    val out = runTrim(
      """FAKE( linspace(0, 1, 3) )
        |PUSHVALUE(0, timeAdd('now', value(0)*2000000000))
        |INSERT('TIME', 'VALUE', table('tag_simple'), tag('signal.t'))
        |""".stripMargin, 1700000000000000000L)
    assert(out.contains(""""data":{"message":"3 rows inserted."}"""), out)
    // delete the first two samples by time bound (now, now+1s); third stays
    val del = runTrim(
      "SQL(\"delete from tag_simple where time < 1700000002000000000\")\nMARKDOWN()\n")
    assert(del == "|MESSAGE|\n|:-----|\n|2 rows deleted.|\n", del)
    val left = runTrim(
      "SQL(\"select name, time from tag_simple\")\nCSV(timeformat('ns'))\n")
    assert(left == "signal.t,1700000002000000000\n", left)
  }

  test("FAKE_APPEND: full-schema append (tql_test.go:550-579)") {
    graft.server.TagTables.dropAll(spark)
    val out = runTrim(
      """FAKE( linspace(0, 1, 3) )
        |PUSHVALUE(0, timeAdd('now', value(0)*2000000000))
        |PUSHVALUE(0, 'signal.append')
        |APPEND( table('tag_simple') )
        |""".stripMargin, 1700000000000000000L)
    assert(out.contains(""""data":{"message":"append 3 rows (success 3, fail 0)"}"""), out)
    val del = runTrim(
      "SQL(\"delete from tag_simple where name = 'signal.append'\")\nMARKDOWN()\n")
    assert(del == "|MESSAGE|\n|:-----|\n|3 rows deleted.|\n", del)
  }

  test("SQL_show_tables[-all]: machbase catalog shape (fm_dbsrc_test.go:262-295)") {
    graft.server.TagTables.dropAll(spark)
    // dynamic catalog entries survive dropAll (NOTES r4) — reset them so
    // this golden is order-independent of any table-creating suite
    graft.server.TagTables.resetDynamicForTest(spark)
    val out = runTrim("SQL('show tables')\nCSV(header(true))\n")
    val lines = out.stripLineEnd.split("\n")
    assert(lines(0) == "DATABASE_NAME,USER_NAME,TABLE_NAME,TABLE_ID,TABLE_TYPE,TABLE_FLAG")
    assert(lines(1).matches("MACHBASEDB,SYS,LOG_DATA,[0-9]+,Log,"), lines(1))
    assert(lines(2).matches("MACHBASEDB,SYS,TAG_DATA,[0-9]+,Tag,"), lines(2))
    assert(lines(3).matches("MACHBASEDB,SYS,TAG_SIMPLE,[0-9]+,Tag,"), lines(3))

    val all = runTrim("SQL('show tables --all')\nCSV(header(true))\n")
      .stripLineEnd.split("\n")
    assert(all(4).matches("MACHBASEDB,SYS,_TAG_DATA_DATA_0,[0-9]+,KeyValue,Data"), all(4))
    assert(all(5).matches("MACHBASEDB,SYS,_TAG_DATA_META,[0-9]+,Lookup,Meta"), all(5))
    assert(all(6).matches("MACHBASEDB,SYS,_TAG_SIMPLE_DATA_0,[0-9]+,KeyValue,Data"), all(6))
    assert(all(7).matches("MACHBASEDB,SYS,_TAG_SIMPLE_META,[0-9]+,Lookup,Meta"), all(7))
  }

  test("SQL_show_table_log_data[-all]: column catalog (fm_dbsrc_test.go:305-360)") {
    val out = runTrim("SQL('show table log_data')\nCSV(header(true))\n")
    assert(out ==
      """COLUMN,TYPE,LENGTH,FLAG,INDEX
        |TIME,datetime,31,,
        |SHORT_VALUE,short,6,,
        |USHORT_VALUE,ushort,5,,
        |INT_VALUE,integer,11,,
        |UINT_VALUE,uinteger,10,,
        |LONG_VALUE,long,20,,
        |ULONG_VALUE,ulong,20,,
        |DOUBLE_VALUE,double,17,,
        |FLOAT_VALUE,float,17,,
        |STR_VALUE,varchar,400,,
        |JSON_VALUE,json,32767,,
        |IPV4_VALUE,ipv4,15,,
        |IPV6_VALUE,ipv6,45,,
        |TEXT_VALUE,text,67108864,,
        |BIN_VALUE,binary,67108864,,
        |""".stripMargin)
    val all = runTrim("SQL('show table log_data --all')\nCSV(header(true))\n")
    assert(all.startsWith("COLUMN,TYPE,LENGTH,FLAG,INDEX\n_ARRIVAL_TIME,datetime,31,,\nTIME,datetime,31,,"), all)
    assert(all.stripLineEnd.endsWith("_RID,long,20,,"), all)
  }

  test("SQL_desc_tag_data[-all]: tag flags (fm_dbsrc_test.go:361-410)") {
    val out = runTrim("SQL('desc tag_data')\nCSV(header(true))\n")
    assert(out ==
      """COLUMN,TYPE,LENGTH,FLAG,INDEX
        |NAME,varchar,100,tag name,
        |TIME,datetime,31,base time,
        |VALUE,double,17,summarized,
        |SHORT_VALUE,short,6,,
        |USHORT_VALUE,ushort,5,,
        |INT_VALUE,integer,11,,
        |UINT_VALUE,uinteger,10,,
        |LONG_VALUE,long,20,,
        |ULONG_VALUE,ulong,20,,
        |STR_VALUE,varchar,400,,
        |JSON_VALUE,json,32767,,
        |IPV4_VALUE,ipv4,15,,
        |IPV6_VALUE,ipv6,45,,
        |BIN_VALUE,binary,32767,,
        |""".stripMargin)
    val all = runTrim("SQL('describe tag_data --all')\nCSV(header(true))\n")
    assert(all.stripLineEnd.endsWith("BIN_VALUE,binary,32767,,\n_RID,long,20,,"), all)
  }

  test("binary round trip: create-tqlbin via $.db(), insert hex, select hex/preview/base64 (tql_test.go:756-880)") {
    val created = runTrim(
      """SCRIPT("js", {
        |  var ret = $.db().exec("create tag table tqlbin (name varchar(40) primary key, time datetime basetime, value binary)");
        |  if (ret instanceof Error) {
        |    $.yield(ret.message);
        |  } else {
        |    $.yield("create-tqlbin done");
        |  }
        |})
        |CSV()
        |""".stripMargin)
    assert(created == "create-tqlbin done\n", created)

    val ins = runTrim(
      """SCRIPT({
        |  $.yield('bin1', 1692686707380411000, '0x0102030405060708090a');
        |})
        |INSERT('name', 'time', 'value', table('tqlbin'))
        |""".stripMargin)
    assert(ins.contains("a row inserted."), ins)

    val hex = runTrim(
      "SQL(\"select NAME, VALUE from tqlbin where name = 'bin1'\")\nCSV(header(true))\n")
    assert(hex == "NAME,VALUE\nbin1,0x0102030405060708090a\n", hex)

    val preview = runTrim(
      "SQL(\"select NAME, VALUE from tqlbin where name = 'bin1'\")\nCSV(header(true), binaryformat('preview'))\n")
    assert(preview == "NAME,VALUE\nbin1,0x0102030405..\n", preview)

    val b64 = runTrim(
      "SQL(\"select NAME, VALUE from tqlbin where name = 'bin1'\")\nCSV(header(true), binaryformat('base64'))\n")
    assert(b64 == "NAME,VALUE\nbin1,AQIDBAUGBwgJCg==\n", b64)
  }

  test("$.db().query(): yield() and forEach() over tag rows") {
    graft.server.TagTables.dropAll(spark)
    insertWideRow()
    val out = runTrim(
      """SCRIPT({
        |  rows = $.db().query("select NAME, VALUE from tag_data where name = 'sql_test'");
        |  rows.yield();
        |  rows.forEach((r) => { $.yield(r[0] + "-again", r[1] * 2); });
        |})
        |CSV()
        |""".stripMargin)
    assert(out == "sql_test,3.142\nsql_test-again,6.284\n", out)
  }

  test("CSV_payload_MAPVALUE_MARKDOWN_TEMPLATE (tql_test.go:1056-1085)") {
    val payload = Seq(
      "NAME,TIME,VALUE,BOOL",
      "wave.sin,1676432361,0.000000,true",
      "wave.cos,1676432361,1.0000000,false",
      "wave.sin,1676432362,0.406736,true",
      "wave.cos,1676432362,0.913546,false",
      "wave.sin,1676432363,0.743144,true").mkString("\n") + "\n"
    val out = runTrim(
      """CSV(payload(), header(false))
        |MAPVALUE(2, value(2) != "VALUE" ? parseFloat(value(2))*10 : value(2))
        |MARKDOWN({
        |{{ if .IsFirst }}## demo
        |{{ end }}{{ .Value 0 }},{{ .Value 2 }}
        |{{ if .IsLast }}--------
        |{{ end }}
        |})
        |""".stripMargin, 0L, Map("payload" -> Seq(payload)))
    assert(out.contains("## demo"), out)
    assert(out.contains("NAME,VALUE"), out)
    assert(out.contains("wave.sin,0"), out)
    assert(out.contains("wave.cos,10"), out)
    assert(out.contains("wave.sin,4.067"), out)
    assert(out.contains("wave.cos,9.135"), out)
    assert(out.contains("--------"), out)
  }

  test("FAKE_statz: metrics timeseries with NULL-aware FILTER (tql_test.go:1829-1888)") {
    graft.server.Metrics.clear()
    graft.server.Metrics.send("cpu:usage", 1d, 1718093662000000000L)
    graft.server.Metrics.send("cpu:usage", 2d, 1718093663000000000L)
    val out = runTrim(
      """FAKE( statz(0, 'cpu:usage') )
        |FILTER( value(1) != NULL )
        |CSV(timeformat('15:04:05'), heading(true), precision(0))
        |""".stripMargin)
    val lines = out.split("\n")
    assert(lines(0) == "time,cpu:usage", out)
    assert(lines(1).matches("[0-9]{2}:[0-9]{2}:[0-9]{2},1"), out)
    assert(lines(2).matches("[0-9]{2}:[0-9]{2}:[0-9]{2},2"), out)
  }

  test("SQL sink rejects fetch verbs (fm_dbsink_sql_test.go:9-18)") {
    val err = intercept[IllegalArgumentException] {
      runTrim(
        """FAKE( linspace(1, 1, 1) )
          |SQL('select * from t')
          |""".stripMargin)
    }
    assert(err.getMessage.contains("""f(SQL) sink does not allow fetch verb "SELECT""""))
  }

  test("SQL_ndjson: one object with formatted values") {
    freshRow()
    val out = runTrim(
      """SQL('select * from tag_data where name = ?', 'sql_test')
        |NDJSON( timeformat('default'), tz('Local') )
        |""".stripMargin)
    assert(out ==
      """{"NAME":"sql_test","TIME":"2026-07-10 17:10:20","VALUE":3.142,"SHORT_VALUE":-123,"USHORT_VALUE":123,"INT_VALUE":-1234,"UINT_VALUE":1234,"LONG_VALUE":-12345,"ULONG_VALUE":12345,"STR_VALUE":"STR","JSON_VALUE":"{\"json\":true}","IPV4_VALUE":"192.168.0.1","IPV6_VALUE":"2001:db8::1","BIN_VALUE":"0x010203"}""" + "\n")
  }
}
