package graft


/** Round-7 verbatim task_test.go batteries not yet mirrored elsewhere:
  * SET variable redefinition (TestSetVariables), PUSHKEY/POPKEY stack
  * traversal (TestPushKey/TestPushAndPopMonad), GROUPBYKEY+FLATTEN
  * round-trip (TestGroupByKey), MAPKEY with key() (TestMapKey),
  * POPVALUE column dropping (TestPushPopValue), and ARGS as an
  * empty-source generator (TestArgs). */
class ReferenceCases3Spec extends SparkSpec {

  private def run(script: String): String = runTrim(script)

  test("SET redefinition sees the prior binding (task_test.go:1008-1025)") {
    val out = run(
      """FAKE( linspace(0, 1, 3))
        |SET(x10, value(0) * 10)
        |SET(x10, $x10 + 1)
        |MAPVALUE(1, $x10)
        |CSV(header(true))
        |""".stripMargin)
    assert(out == "x,column\n0,1\n0.5,6\n1,11\n", out)
  }

  test("SET boolean flag with mod() (task_test.go:1026-1040)") {
    val out = run(
      """FAKE( arrange(0, 3, 1))
        |SET(flag, value(0) != 0 && mod(value(0), 2) == 0 )
        |MAPVALUE(1, !$flag)
        |CSV(header(true))
        |""".stripMargin)
    assert(out == "x,column\n0,true\n1,true\n2,false\n3,true\n", out)
  }

  test("SET on a STRING source row (task_test.go:1041-1055)") {
    val out = run(
      "STRING(\"temp\")\nSET(temp, 11)\nMAPVALUE(0, 1.234)\nMAPVALUE(1, $temp)\nCSV()\n")
    assert(out == "1.234,11\n", out)
  }

  test("double PUSHKEY stacks prior keys into values (task_test.go:1160-1174)") {
    val out = run(
      "FAKE( linspace(0, 1, 2))\nPUSHKEY('sample')\nPUSHKEY('test')\nCSV(header(true))\n")
    assert(out == "key,ROWNUM,x\nsample,1,0\nsample,2,1\n", out)
  }

  test("PUSHKEY then POPKEY round-trips (task_test.go:1176-1193)") {
    val out = run(
      "FAKE( linspace(0, 1, 3))\nPUSHKEY('sample')\nPOPKEY()\nCSV(precision(1))\n")
    assert(out == "0.0\n0.5\n1.0\n", out)
  }

  test("POPKEY(1) selects the indexed value as key (task_test.go:1195-1211)") {
    val out = run(
      """FAKE( linspace(0, 3.141592/2, 5) )
        |PUSHKEY(sin(value(0)))
        |PUSHKEY(value(0))
        |POPKEY(1)
        |POPKEY(1)
        |PUSHKEY('test')
        |CSV(precision(3))
        |""".stripMargin)
    assert(out ==
      "0.000,0.000\n0.393,0.383\n0.785,0.707\n1.178,0.924\n1.571,1.000\n", out)
  }

  test("GROUPBYKEY + FLATTEN + PUSHKEY re-enumerates (task_test.go:1212-1228)") {
    val out = run(
      """FAKE( linspace(0, 2, 3))
        |PUSHKEY('sample')
        |GROUPBYKEY()
        |FLATTEN()
        |PUSHKEY('test')
        |CSV(precision(6))
        |""".stripMargin)
    assert(out == "sample,1,0.000000\nsample,2,1.000000\nsample,3,2.000000\n", out)
  }

  test("MAPKEY computed / key() / key()+100 (task_test.go:1230-1274)") {
    assert(run("FAKE( linspace(0, 2, 3))\nMAPKEY(value(0)*2)\nPUSHKEY('test')\nCSV(precision(0))\n")
      == "0,0\n2,1\n4,2\n")
    assert(run("FAKE( linspace(0, 2, 3))\nMAPKEY(key())\nPUSHKEY('test')\nCSV(precision(0))\n")
      == "1,0\n2,1\n3,2\n")
    assert(run("FAKE( linspace(0, 2, 3))\nMAPKEY( key() + 100 )\nPUSHKEY('test')\nCSV(precision(1))\n")
      == "101.0,0.0\n102.0,1.0\n103.0,2.0\n")
  }

  test("POPVALUE drops the indexed columns (task_test.go:1358-1377)") {
    val out = run(
      """FAKE( linspace(0, 2, 3))
        |PUSHVALUE(1, value(0)*1.5, 'x1.5')
        |PUSHVALUE(2, value(1)+10, 'add')
        |PUSHVALUE(3, value(2)+0.5, 'add2')
        |POPVALUE(0,1,2)
        |CSV(precision(1), heading(true), rownum(true))
        |""".stripMargin)
    assert(out == "ROWNUM,add2\n1,10.5\n2,12.0\n3,13.5\n", out)
  }

  test("ARGS with no parameters emits one empty record (task_test.go:1620-1636)") {
    val out = run(
      """ARGS()
        |MAPVALUE(0, 'tag-1', 'name')
        |MAPVALUE(1, 123.4, 'value')
        |CSV(heading(true))
        |""".stripMargin)
    assert(out == "name,value\ntag-1,123.4\n", out)
  }

  test("MARKDOWN(html(false)) renders the pipe table (task_test.go:2623-2655)") {
    val out = run(
      "STRING(`line1\nline2\n\nline4`, separator('\\n'))\nMARKDOWN(html(false))\n")
    assert(out == "|STRING|\n|:-----|\n|line1|\n|line2|\n||\n|line4|\n", out)
  }

  test("MARKDOWN(html(true)) converts the table to XHTML (test/markdown_xhtml.txt)") {
    val out = run(
      "STRING(`line1\nline2\n\nline4`, separator('\\n'))\nPUSHKEY('test')\nMARKDOWN(html(true))\n")
    assert(out ==
      """<div>
        |<table>
        |<thead>
        |<tr>
        |<th align="left">ROWNUM</th>
        |<th align="left">STRING</th>
        |</tr>
        |</thead>
        |<tbody>
        |<tr>
        |<td align="left">1</td>
        |<td align="left">line1</td>
        |</tr>
        |<tr>
        |<td align="left">2</td>
        |<td align="left">line2</td>
        |</tr>
        |<tr>
        |<td align="left">3</td>
        |<td></td>
        |</tr>
        |<tr>
        |<td align="left">4</td>
        |<td align="left">line4</td>
        |</tr>
        |</tbody>
        |</table>
        |</div>""".stripMargin, out)
  }

  test("statement-role compile errors carry position (task_test.go TestSrcError)") {
    val e1 = intercept[graft.tql.ScriptStructure.ScriptError](run(
      "FAKE( arrange(0, 1, 1) )\nINSERT(table('example'))\nJSON()\n"))
    assert(e1.getMessage ==
      "line 2, column 1: \"INSERT()\" is not applicable for MAP [statement: INSERT(table('example'))]")
    assert(e1.kind == "invalid_map")

    val e2 = intercept[graft.tql.ScriptStructure.ScriptError](run(
      "MAPVALUE(0, 1)\nSQL('select * from example')\nJSON()\n"))
    assert(e2.getMessage ==
      "line 1, column 1: \"MAPVALUE()\" is not applicable for SRC [statement: MAPVALUE(0, 1)]")
    assert(e2.kind == "invalid_source")

    val e3 = intercept[graft.tql.ScriptStructure.ScriptError](run(
      "FAKE( arrange(0, 1, 1) )\nSQL('select * from example')\n"))
    assert(e3.getMessage ==
      "line 2, column 1: f(SQL) sink does not allow fetch verb \"SELECT\" [statement: SQL('select * from example')]")
    assert(e3.kind == "sink_compile_error")
  }

  test("GROUP relation aggregators incl. weight() (fm_monad_test.go:261-291)") {
    // covariance with a per-row weight: gonum stat.Covariance
    // ((1,2,w1),(2,4,w2)) = 2/3
    assert(run(
      """FAKE( json({[1.0, 2.0, 1], [2.0, 4.0, 2]}) )
        |GROUP( covariance(value(0), value(1), weight(value(2)), 'cov') )
        |CSV(precision(4))
        |""".stripMargin) == "0.6667\n")
    // perfectly-correlated pair → 1.0
    assert(run(
      """FAKE( json({[1.0, 2.0], [2.0, 4.0]}) )
        |GROUP( correlation(value(0), value(1), 'corr') )
        |CSV(precision(4))
        |""".stripMargin) == "1.0000\n")
    // lrs = OLS slope of y on x: (1,3),(2,5),(3,7) → 2
    assert(run(
      """FAKE( json({[1.0, 3.0], [2.0, 5.0], [3.0, 7.0]}) )
        |GROUP( lrs(value(0), value(1), 'slope') )
        |CSV(precision(4))
        |""".stripMargin) == "2.0000\n")
    // weighted moment: stat.Moment(2, [2,4], w=[1,2]) — mean=10/3,
    // Σw(v-μ)²/Σw = (16/9 + 2·4/9)/3 = 8/9
    assert(run(
      """FAKE( json({[2.0, 1], [4.0, 2]}) )
        |GROUP( moment(value(0), 2, weight(value(1)), 'm2') )
        |CSV(precision(4))
        |""".stripMargin) == "0.8889\n")
  }

  test("missing template file uses the reference message (fm_encoder.go:44-52)") {
    val e = intercept[IllegalArgumentException](run(
      "FAKE( linspace(0, 1, 2) )\nTEXT(file('/definitely-missing.txt'))\n"))
    assert(e.getMessage.contains("template file '/definitely-missing.txt' not found"),
      e.getMessage)
  }

  test("encoder rejects invalid bare options (TestCompileErrorIsScriptErrorForSink)") {
    val e = intercept[graft.tql.ScriptStructure.ScriptError](run(
      "STRING(`line1`, separator('\\n'))\nMARKDOWN(true)\n"))
    assert(e.getMessage ==
      "line 2, column 1: encoder 'markdown' invalid option true (bool) [statement: MARKDOWN(true)]")
    assert(e.kind == "sink_compile_error")
    assert(e.line == 2)
  }

  test("MARKDOWN(html+rownum+brief) DDL golden (tql_test.go SQL_create-tag-table)") {
    graft.server.TagTables.resetDynamicForTest(spark)
    try {
      val out = run(
        """SQL({create tag table if not exists tag_ddl_md(
          |  name varchar(40) primary key, time datetime basetime, value double summarized )})
          |MARKDOWN(html(true), rownum(true), heading(true), brief(true))
          |""".stripMargin)
      val want = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "/root/reference/mods/tql/test/sql_ddl_executed.txt")), "UTF-8")
      assert(out.trim == want.trim, out)
    } finally {
      run("SQL({drop table tag_ddl_md})\nDISCARD()\n")
      graft.server.TagTables.resetDynamicForTest(spark)
    }
  }

  test("MARKDOWN brief truncates with an ellipsis row and Total marker (md_encode.go Close)") {
    val out = run(
      "FAKE( linspace(1, 8, 8) )\nMARKDOWN( briefCount(2) )\n")
    assert(out ==
      "|x|\n|:-----|\n|1.000000|\n|2.000000|\n| ... |\n\n> *Total* 8 *records*\n", out)
  }
}
