package graft

import graft.server.{Catalog, TagTables}

/** TQL-level SHOW wire formats — reproduces fm_dbsrc_test.go's SHOW
  * battery (SQL('show …') → CSV) with the reference's own expectations,
  * including its exact error texts. */
class TqlShowSpec extends SparkSpec {

  private def lines(out: String): Seq[String] =
    out.stripSuffix("\n\n").split("\n").toSeq

  test("SQL_show_wrong: reference error text (fm_dbsrc_test.go:151-157)") {
    val ex = intercept[IllegalArgumentException] {
      runTrim("SQL('show wrong')\nCSV(header(true))\n")
    }
    assert(ex.getMessage == """f(SQL) unsupported show command "wrong"""")
  }

  test("SQL_show_info (fm_dbsrc_test.go:159-169)") {
    val saved = Catalog.serverInfoProvider
    try {
      Catalog.serverInfoProvider = () => Seq("purpose" -> "test")
      val out = runTrim("SQL('show info')\nCSV(header(true))\n")
      assert(out == "NAME,VALUE\npurpose,test\n")
    } finally Catalog.serverInfoProvider = saved
  }

  test("SQL_show_license (fm_dbsrc_test.go:171-183)") {
    val out = lines(runTrim("SQL('show license')\nCSV(header(true))\n"))
    assert(out.length == 2)
    assert(out(0) == "ID,TYPE,CUSTOMER,PROJECT,COUNTRY_CODE,INSTALL_DATE,ISSUE_DATE,STATUS")
    assert(out(1).matches(
      "^[0-9]+,[A-Z]+,[A-Z0-9]+,[A-Z0-9]+,[A-Z]{2},[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2},[0-9]{8},[A-Za-z]+$"),
      out(1))
  }

  test("SQL_show_ports[/mqtt] (fm_dbsrc_test.go:192-238)") {
    val saved = Catalog.serverPortsProvider
    try {
      Catalog.serverPortsProvider = { svc =>
        val all = Seq("http" -> "tcp://127.0.0.1:5654", "mqtt" -> "tcp://127.0.0.1:1883")
        if (svc == null || svc.isEmpty) all else all.filter(_._1 == svc.toLowerCase)
      }
      assert(runTrim("SQL('show ports')\nCSV(header(true))\n") ==
        "PORT,ADDRESS\nhttp,tcp://127.0.0.1:5654\nmqtt,tcp://127.0.0.1:1883\n")
      assert(runTrim("SQL('show ports mqtt')\nCSV(header(true))\n") ==
        "PORT,ADDRESS\nmqtt,tcp://127.0.0.1:1883\n")
    } finally Catalog.serverPortsProvider = saved
  }

  test("SQL_show_users (fm_dbsrc_test.go:240-259)") {
    assert(runTrim("SQL('show users')\nCSV(header(true))\n") ==
      "USER_ID,NAME\n1,SYS\n")
  }

  test("SQL_show_indexes: fixture meta indexes (fm_dbsrc_test.go:422-470)") {
    val out = lines(runTrim("SQL('show indexes')\nCSV(header(true))\n"))
    assert(out.head ==
      "ID,DATABASE,USER,TABLE,COLUMN,INDEX_NAME,INDEX_TYPE,KEY_COMPRESS,MAX_LEVEL,PART_VALUE_COUNT,BITMAP_ENCODE")
    val required = Map(
      "__PK_IDX__TAG_DATA_META_1" -> ("_TAG_DATA_META", "_ID"),
      "_TAG_DATA_META_NAME" -> ("_TAG_DATA_META", "NAME"),
      "__PK_IDX__TAG_SIMPLE_META_1" -> ("_TAG_SIMPLE_META", "_ID"),
      "_TAG_SIMPLE_META_NAME" -> ("_TAG_SIMPLE_META", "NAME"))
    val seen = scala.collection.mutable.Set.empty[String]
    out.tail.foreach { line =>
      val f = line.split(",")
      assert(f.length >= 11, line)
      required.get(f(5)).foreach { case (table, column) =>
        assert(f(1) == "MACHBASEDB" && f(2) == "SYS")
        assert(f(3) == table && f(4) == column && f(6) == "REDBLACK", line)
        seen += f(5)
      }
    }
    assert(seen == required.keySet)
  }

  test("SQL_show_index: _TAG_DATA_META_NAME is id 4 (fm_dbsrc_test.go:473-487)") {
    assert(runTrim("SQL('show index _TAG_DATA_META_NAME')\nCSV(header(true))\n") ==
      "ID,DATABASE,USER,TABLE,COLUMN,INDEX_NAME,INDEX_TYPE,KEY_COMPRESS,MAX_LEVEL,PART_VALUE_COUNT,BITMAP_ENCODE\n" +
      "4,MACHBASEDB,SYS,_TAG_DATA_META,NAME,_TAG_DATA_META_NAME,REDBLACK,UNCOMPRESSED,0,100000,EQUAL\n")
  }

  test("SQL_show_indexgap / show_lsm: header-only (fm_dbsrc_test.go:491-533)") {
    assert(runTrim("SQL('show indexgap')\nCSV(header(true))\n") ==
      "INDEX_ID,TABLE_NAME,INDEX_NAME,GAP\n")
    assert(runTrim("SQL('show lsm')\nCSV(header(true))\n") ==
      "TABLE_NAME,INDEX_NAME,LEVEL,COUNT\n")
  }

  test("SQL_insert(now) + flush + show tags battery (fm_dbsrc_test.go:535-633)") {
    TagTables.resetDynamicForTest(spark)
    graft.server.TagTables.delete(spark, "tag_data", None)
    val nowNs = 1704067200123456000L

    // insert with a `now` literal mixed into the binds
    val ins = runTrim(
      "SCRIPT({$.yield('show_test', 1.234)})\n" +
        "SQL('insert into tag_data (name,time,value) values(?,now,?)', value(0), value(1))\n",
      nowNs)
    assert(ins.contains(""""message":"a row inserted.""""), ins)

    val flush = runTrim("SQL('exec table_flush(tag_data)')\nMARKDOWN()\n")
    assert(flush.contains("executed."), flush)

    // show tags without arguments: reference error text
    val exNoArgs = intercept[IllegalArgumentException] {
      runTrim("SQL('show tags')\nCSV(header(true))\n")
    }
    assert(exNoArgs.getMessage == "f(SQL) show tags expects at least 1 argument, got 0")

    // tag_data has a summarized value column → stats visible after flush
    val tags = lines(runTrim("SQL('show tags tag_data')\nCSV(header(true))\n"))
    assert(tags.head ==
      "ID,NAME,ROW_COUNT,MIN_TIME,MAX_TIME,RECENT_ROW_TIME,MIN_VALUE,MIN_VALUE_TIME,MAX_VALUE,MAX_VALUE_TIME")
    assert(tags.tail.exists(_.contains("show_test")), tags.mkString("|"))
    assert(tags.tail.exists(_.contains("1.234")), tags.mkString("|"))

    // show tags on a log table: reference error text
    val exLog = intercept[IllegalArgumentException] {
      runTrim("SQL('show tags log_data')\nCSV(header(true))\n")
    }
    assert(exLog.getMessage == "table 'LOG_DATA' is not a tag table")

    // gap views keep the machbase headers
    assert(lines(runTrim("SQL('show tagindexgap')\nCSV(header(true))\n")).head ==
      "TABLE_ID,TABLE_NAME,STATUS,DISK_GAP,MEMORY_GAP")
    assert(lines(runTrim("SQL('show rollupgap')\nCSV(header(true))\n")).head ==
      "USER_NAME,ROLLUP_NAME,SRC_TABLE,ROLLUP_TABLE,SRC_END_RID,ROLLUP_END_RID,GAP,RUN_STATE,LAST_ELAPSED_MSEC,LAST_WAKEUP_TIME,NEXT_WAKEUP_TIME")

    graft.server.TagTables.delete(spark, "tag_data", None)
  }

  test("SQL_explain / explain full: mach access path + executed trace (fm_dbsrc_test.go:14-44, machsvr_test.go:1236-1243)") {
    val plain = runTrim("SQL('explain select * from tag_data')\nCSV(header(false))\n")
    assert(plain.length > 50, plain)
    assert(plain.contains("TAG READ (RAW)"), plain)

    // deviation: the reference pins len>5000 (its trace verbosity); ours
    // carries the same sections — EXECUTE trace + extended plan
    val full = runTrim("SQL('explain full select * from tag_data')\nCSV(header(false))\n")
    assert(full.length > 500, full.length.toString)
    assert(full.contains("EXECUTE"), full)
    assert(full.contains("********"), full)
    assert(full.contains(" NAME           COUNT   ACCUMULATE(ms)  AVERAGE(ms)"), full)
  }

  test("SQL_show_sessions / statements / storage / table-usage shapes (fm_dbsrc_test.go:637-723)") {
    val sess = lines(runTrim("SQL('show sessions')\nCSV(header(true))\n"))
    assert(sess.head == "ID,USER_NAME,USER_ID,LOGIN_TIME,TYPE,USER_IP,MAX_QPX_MEM")
    assert(sess(1).matches("^[0-9]+,[A-Z]+,[0-9]+,[0-9]+,CLI,127.0.0.1,[0-9]+([.][0-9]+)?[KMG]?B$"), sess(1))

    val stmts = lines(runTrim("SQL('show statements')\nCSV(header(true))\n"))
    assert(stmts.head == "ID,SESSION_ID,STATE,RECORD_SIZE,QUERY")
    assert(stmts.length >= 2)
    assert(stmts(1).matches("^[0-9]+,[0-9]+,.+,[0-9]+,.+$"), stmts(1))

    val stor = lines(runTrim("SQL('show storage')\nCSV(header(true))\n"))
    assert(stor.head == "DATABASE_NAME,TABLE_NAME,DATA_SIZE,INDEX_SIZE,TOTAL_SIZE")
    assert(stor(1).matches(".*[A-Z_]+,[A-Z0-9_]+,[0-9]+,[0-9]+,[0-9]+$"), stor(1))

    val usage = lines(runTrim("SQL('show table-usage')\nCSV(header(true))\n"))
    assert(usage.head == "DATABASE,USER,TABLE,STORAGE_USAGE")
    assert(usage(1).matches("^.+,.+,.+,[0-9]+$"), usage(1))
  }
}
