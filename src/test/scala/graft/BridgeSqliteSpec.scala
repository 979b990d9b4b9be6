package graft

import graft.server.Bridge
import graft.tql.Compiler

/** Reproduces the reference's SQLite-bridge battery
  * (TestBridgeSqlite, tql_test.go:2258-2572) against the in-session
  * bridge store: DDL, inserts from CSV and from a bridged SELECT,
  * updates/deletes with binds and params, template sinks over bridged
  * rows, and the `$.db({bridge})` JS surface. */
class BridgeSqliteSpec extends SparkSpec {

  private def run(script: String): String = runTrim(script)
  private def runP(script: String, params: (String, String)*): String =
    runTrim(script, 1704067200000000000L,
      params.map { case (k, v) => k -> Seq(v) }.toMap)

  test("sqlite bridge battery (tql_test.go:2258-2572)") {
    Bridge.resetForTest()

    // table-not-exist: sqlite's error text
    val ex = intercept[IllegalArgumentException] {
      run("SQL(bridge('sqlite'), \"select * from example_sql\")\nCSV(heading(true))\n")
    }
    assert(ex.getMessage == "no such table: example_sql")

    // create-table
    assert(run(
      """SQL(bridge('sqlite'), "create table example_sql (	id INTEGER NOT NULL PRIMARY KEY,	name TEXT,	age INTEGER,	address TEXT,	weight REAL,	memo BLOB,	UNIQUE(name))")
        |MARKDOWN()
        |""".stripMargin) ==
      "|MESSAGE|\n|:-----|\n|Created successfully.|\n")

    // insert from an untyped CSV source; the reference's bridge INSERT
    // reports only the last statement's rowsAffected
    val ins = run(
      """CSV("100,alpha,10,street-100\n200,bravo,20,street-200\n")
        |INSERT(bridge('sqlite'), "id", "name", "age", "address", table("example_sql"))
        |""".stripMargin)
    assert(ins.contains(""""message":"1 row inserted.""""), ins)

    // select
    assert(run(
      """SQL(bridge('sqlite'), "select id, name, age, address from example_sql")
        |CSV(heading(true))
        |""".stripMargin) ==
      "id,name,age,address\n100,alpha,10,street-100\n200,bravo,20,street-200\n")

    // params + format in an HTML template
    assert(runP(
      """SQL(bridge('sqlite'), "select id, name, age, address from example_sql")
        |HTML({
        |{{- .V.name }}: {{ .V.age | format (param "f") }}, {{ .V.address }}{{ "\n" -}}
        |})
        |""".stripMargin, "f" -> "age=%d") ==
      "alpha: age=10, street-100\nbravo: age=20, street-200\n")

    // HTML list template with IsFirst/IsLast
    assert(run(
      """SQL(bridge('sqlite'), "select id, name, age, address from example_sql")
        |HTML({
        |{{- if .IsFirst }}<ul>{{ end }}
        |<li>{{ .V.id }}: {{ .V.name }}, {{ .V.age }}, {{ .V.address }}
        |{{ if .IsLast }}</ul>{{ end -}}
        | })
        |""".stripMargin) ==
      "<ul>\n<li>100: alpha, 10, street-100\n\n<li>200: bravo, 20, street-200\n</ul>")

    // HTML from template FILES using define/template across files
    val saved = Compiler.templateRoot
    try {
      Compiler.templateRoot = "/root/reference/mods/tql/test"
      assert(run(
        """SQL(bridge('sqlite'), "select id, name, age, address from example_sql")
          |HTML(file("/html_template_item.html"), file("/html_template_list.html"))
          |""".stripMargin) ==
        "<ul>\n<li>100: alpha, 10, street-100\n\n<li>200: bravo, 20, street-200\n</ul>")
    } finally Compiler.templateRoot = saved

    // TEXT template
    assert(run(
      """SQL(bridge('sqlite'), "select id, name, age, address from example_sql")
        |TEXT({
        |{{- if .IsFirst }}--begin--{{ end }}
        |- {{ .V.id }}: {{ .V.name }}, {{ .V.age }}, {{ .V.address }}
        |{{ if .IsLast }}--end--{{ end -}}
        |})
        |""".stripMargin) ==
      "--begin--\n- 100: alpha, 10, street-100\n\n- 200: bravo, 20, street-200\n--end--")

    // updates with binds
    assert(run(
      "SQL(bridge('sqlite'), 'update example_sql set weight=? where id = ?', 45.67, 100)\nCSV(heading(false))\n")
      .startsWith("a row updated."))
    assert(run(
      "SQL(bridge('sqlite'), 'update example_sql set weight=? where id = ?', 56.789, 200)\nCSV(heading(false))\n")
      .startsWith("a row updated."))

    // bridged source → bridged sink insert (accumulates: 2 rows)
    val s2s = run(
      """SQL(bridge('sqlite'), "select 400 as id, 'delta' as name, 40 as age, 'street-400' as address union all select 500, 'echo' as name, 50 as age, 'street-500' as address")
        |SQL(bridge('sqlite'), "insert into example_sql(id,name,age,address) values(?,?,?,?)", value(0), value(1), value(2), value(3))
        |""".stripMargin)
    assert(s2s.contains(""""message":"2 rows inserted.""""), s2s)

    val cnt = run(
      "SQL(bridge('sqlite'), \"select count(*) as cnt from example_sql where id in (400,500)\")\nJSON()\n")
    assert(cnt.contains(""""rows":[[2]]"""), cnt)

    assert(run(
      "SQL(bridge('sqlite'), \"delete from example_sql where id in (400,500)\")\nCSV(heading(false))\n")
      .startsWith("2 rows deleted."))

    // DELETE without FROM: sqlite's parser error
    val exDel = intercept[IllegalArgumentException] {
      run("SQL(bridge('sqlite'), 'delete example_sql where id = ?', 100)\nCSV(heading(false))\n")
    }
    assert(exDel.getMessage == """near "example_sql": syntax error""")

    // count with param binds; the reference pins the sqlite driver quirk
    // that expression columns report type "string" (value stays numeric)
    val before = runP(
      "SQL(bridge('sqlite'), 'select count(*) from example_sql where id = ?', param('id'))\nJSON()\n",
      "id" -> "100")
    assert(before.contains(
      """"columns":["count(*)"],"types":["string"],"rows":[[1]]"""), before)

    assert(runP(
      "SQL(bridge('sqlite'), 'delete from example_sql where id = ?', param('id'))\nCSV(heading(false))\n",
      "id" -> "100").startsWith("a row deleted."))

    val after = runP(
      "SQL(bridge('sqlite'), 'select count(*) from example_sql where id = ?', param('id'))\nJSON()\n",
      "id" -> "100")
    assert(after.contains(""""rows":[[0]]"""), after)

    // select-no-rows keeps the header; no header → empty
    assert(runP(
      "SQL(bridge('sqlite'), \"select * from example_sql where id = ?\", param('id'))\nCSV(heading(true))\n",
      "id" -> "-1") == "id,name,age,address,weight,memo\n")
    assert(runP(
      "SQL(bridge('sqlite'), \"select * from example_sql where id = ?\", param('id'))\nCSV(heading(false))\n",
      "id" -> "-1") == "")

    // $.db({bridge}) JS surface: exec with binds, then query with binds
    run(
      """SCRIPT("js", {
        |  err = $.db({bridge: 'sqlite'})
        |    .exec("insert into example_sql values(?, ?, ?, ?, ?, ?)", 300, "charlie", 30, "street-300", 67.89, null)
        |  if (err instanceof Error) {
        |    $.yield(err.message);
        |  }
        |})
        |DISCARD()
        |""".stripMargin)
    val js = runP(
      """SCRIPT("js", {
        |  err = $.db({bridge: 'sqlite'}).query("select * from example_sql where id = ?", $.params.id)
        |      .forEach(function(row) {
        |      id = row[0];
        |      name = row[1];
        |      age = row[2];
        |      address = row[3];
        |      $.yield(id, name, age, address);
        |    })
        |  if (err instanceof Error) {
        |    $.yield(err.message);
        |  }
        |})
        |JSON()
        |""".stripMargin, "id" -> "300")
    assert(js.contains(""""columns":["column0","column1","column2","column3"]"""), js)
    assert(js.contains(""""types":["int64","string","int64","string"]"""), js)
    assert(js.contains("""[300,"charlie",30,"street-300"]"""), js)
  }
  test("rewrites skip string literals; paren-aware lists; any-case AS alias") {
    Bridge.resetForTest()
    // NUMERIC(10,2) must stay ONE column def (top-level comma split)
    run("""SQL(bridge('sqlite'), "create table paren_t (id INTEGER NOT NULL PRIMARY KEY, price NUMERIC(10,2), tag TEXT)")
        |DISCARD()
        |""".stripMargin)
    run("""CSV("1,12.5,paren_t\n")
        |INSERT(bridge('sqlite'), "id", "price", "tag", table("paren_t"))
        |""".stripMargin)
    // the literal 'paren_t' below equals the table name: the view rewrite
    // must NOT touch it (it is data, not an identifier)
    val lit = run(
      """SQL(bridge('sqlite'), "select id from paren_t where tag = 'paren_t'")
        |CSV(heading(true))
        |""".stripMargin)
    assert(lit == "id\n1\n", lit)
    // multi-arg select item keeps its full text as the column name
    val multi = run(
      """SQL(bridge('sqlite'), "select round(price,2) from paren_t")
        |CSV(heading(true))
        |""".stripMargin)
    assert(multi.startsWith("round(price,2)\n"), multi)
    // mixed-case AS alias is detected (not treated as an unaliased expr)
    val alias = run(
      """SQL(bridge('sqlite'), "select count(*) As CNT from paren_t")
        |CSV(heading(true))
        |""".stripMargin)
    assert(alias == "CNT\n1\n", alias)
  }
}
