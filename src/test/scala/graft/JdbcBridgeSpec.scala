package graft

import graft.server.Bridge

/** JDBC bridge passthrough (reference mods/bridge/connector/sql_bridge.go
  * shape): dialect registry, url builders, and a real round-trip through
  * Derby (the only JDBC engine in /opt/spark/jars) — exec over a JDBC
  * connection, SELECT coming back as a Spark JDBC scan, including the
  * `SQL(bridge('x'), …)` TQL route. */
class JdbcBridgeSpec extends SparkSpec {

  test("dialect registry: parameter markers and url builders") {
    val pg = Bridge.dialects("postgres")
    assert(pg.marker(0) == "$1" && pg.marker(2) == "$3")
    assert(pg.urlOf("host=db.local port=5433 dbname=metrics user=u password=w")
      == "jdbc:postgresql://db.local:5433/metrics?user=u&password=w")
    assert(pg.urlOf("dbname=d") == "jdbc:postgresql://127.0.0.1:5432/d")

    val my = Bridge.dialects("mysql")
    assert(my.marker(5) == "?")
    assert(my.urlOf("root:secret@tcp(10.0.0.5:3307)/inventory")
      == "jdbc:mysql://10.0.0.5:3307/inventory?user=root&password=secret")
    assert(my.urlOf("scott@tcp(h)/db") == "jdbc:mysql://h:3306/db?user=scott")

    val ms = Bridge.dialects("mssql")
    assert(ms.marker(0) == "@p1")
    assert(ms.urlOf("server=sql.local database=erp user id=sa password=pw")
      == "jdbc:sqlserver://sql.local;databaseName=erp;user=sa;password=pw")

    assert(Bridge.define("nope", "oracle", "x")
      == Left("undefined bridge type: oracle"))
  }

  test("marker normalization for prepared statements") {
    Bridge.define("pgx", "postgres", "dbname=d")
    val db = Bridge("pgx").asInstanceOf[Bridge.JdbcDb]
    assert(db.toJdbcMarkers("INSERT INTO t(a,b) VALUES($1,$2)")
      == "INSERT INTO t(a,b) VALUES(?,?)")
    Bridge.define("msx", "mssql", "server=h")
    val ms = Bridge("msx").asInstanceOf[Bridge.JdbcDb]
    assert(ms.toJdbcMarkers("update t set a=@p1 where b=@p2")
      == "update t set a=? where b=?")
    Bridge.resetForTest()
  }

  test("derby round-trip: exec DDL/DML, SELECT as a Spark JDBC scan") {
    Bridge.resetForTest()
    assert(Bridge.define("dwh", "jdbc", "jdbc:derby:memory:graftdb;create=true").isRight)
    val db = Bridge("dwh")
    assert(db.typ == "jdbc")

    db.exec(spark, "CREATE TABLE metrics (name VARCHAR(40), val DOUBLE)", Nil)
    assert(db.exec(spark, "INSERT INTO metrics VALUES(?, ?)",
      Seq("cpu", Double.box(0.5))).rowsAffected == 1)
    db.exec(spark, "INSERT INTO metrics VALUES(?, ?)", Seq("mem", Double.box(0.75)))

    val df = db.query(spark, "SELECT name, val FROM metrics", Nil)
    // the data plane is a real JDBC relation, not a local collect
    assert(df.queryExecution.analyzed.toString.toLowerCase.contains("relation"))
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("cpu" -> 0.5, "mem" -> 0.75))

    val upd = db.exec(spark, "UPDATE metrics SET val = ? WHERE name = ?",
      Seq(Double.box(0.9), "cpu"))
    assert(upd.message == "a row updated.")
  }

  test("TQL SQL(bridge) source and sink route through the JDBC bridge") {
    Bridge.resetForTest()
    Bridge.define("dwh", "jdbc", "jdbc:derby:memory:graftdb2;create=true")
    Bridge("dwh").exec(spark,
      "CREATE TABLE readings (tag VARCHAR(10), v DOUBLE)", Nil)

    // sink: per-row INSERT through the bridge
    val sunk = runTrim(
      """FAKE(linspace(1, 3, 3))
        |MAPVALUE(0, value(0), 'v')
        |PUSHVALUE(0, 'a', 'tag')
        |SQL(bridge('dwh'), 'insert into readings values(?, ?)', value(0), value(1))
        |""".stripMargin)
    assert(sunk.contains("3 rows inserted."), sunk)

    // source: SELECT back out through spark.read.jdbc
    val out = runTrim(
      """SQL(bridge('dwh'), 'select tag, v from readings order by v')
        |CSV(header(true))
        |""".stripMargin)
    assert(out == "TAG,V\na,1\na,2\na,3\n", out) // Go shortest-repr doubles

    // bridge listing carries (name, type, path)
    assert(Bridge.list.exists { case (n, t, _) => n == "dwh" && t == "jdbc" })
    Bridge.resetForTest()
  }

  test("bridge management: add/del/test with the reference reasons") {
    Bridge.resetForTest()
    assert(Bridge.addBridge("x" * 41, "sqlite", "p").reason
      == "name is too long, should be shorter than 40 characters")
    assert(Bridge.addBridge("b1", "oracle", "p").reason
      == "unsupported bridge type: oracle")
    assert(Bridge.addBridge("b1", "sqlite", "").reason
      == "path is empty, it should be specified")
    assert(Bridge.addBridge("b1", "sqlite3", "file:mem.db").success) // alias
    assert(Bridge.addBridge("mq", "mqtt", "tcp://127.0.0.1:1883").success)
    assert(Bridge.exists("mq")) // broker defs satisfy subscriber lookups

    // in-session store answers the test ping; brokers are unreachable
    assert(Bridge.testBridge("b1").success)
    assert(Bridge.testBridge("mq").reason
      == "bridge 'mq' (mqtt) connection unavailable")
    assert(Bridge.testBridge("ghost").reason == "undefined bridge name 'ghost'")

    // derby round-trips the JDBC test ping
    Bridge.addBridge("dwh2", "jdbc", "jdbc:derby:memory:graftdb3;create=true")
    assert(Bridge.testBridge("dwh2").success)

    val shown = graft.server.QueryDoor.execute(spark, "show bridges").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(shown.toSeq.contains(("mq", "mqtt", "tcp://127.0.0.1:1883")))
    assert(shown.map(_._1).toSeq == shown.map(_._1).toSeq.sorted)

    assert(Bridge.delBridge("mq").success)
    assert(!Bridge.exists("mq"))
    Bridge.resetForTest()
  }
}
