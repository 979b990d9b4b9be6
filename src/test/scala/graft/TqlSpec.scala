package graft

import graft.tql.{Expr, Parser}

class TqlSpec extends SparkSpec {

  test("expression parser: precedence, ternary, coalesce, in, regex") {
    import Expr._
    assert(Parser.parseExpression("1 + 2 * 3") ==
      Bin("+", Num(1), Bin("*", Num(2), Num(3))))
    assert(Parser.parseExpression("2 ** 3 ** 2") == // right-assoc
      Bin("**", Num(2), Bin("**", Num(3), Num(2))))
    assert(Parser.parseExpression("a > 1 ? 'x' : 'y'") ==
      Ternary(Bin(">", Ident("a"), Num(1)), Str("x"), Str("y")))
    assert(Parser.parseExpression("a ?? 0") == Bin("??", Ident("a"), Num(0)))
    assert(Parser.parseExpression("x in (1, 2)") == In(Ident("x"), List(Num(1), Num(2))))
    assert(Parser.parseExpression("value(0) =~ 'ab.*'") ==
      Bin("=~", Call("value", List(Num(0))), Str("ab.*")))
  }

  test("statement splitter handles multi-line calls and comments") {
    val script =
      """// comment line
        |FAKE(linspace(0,
        |  10, 5))
        |MAPVALUE(0, value(0) * 2) // trailing comment
        |CSV()
        |""".stripMargin
    val stmts = Parser.splitStatements(script)
    assert(stmts.size == 3)
    assert(stmts.head.startsWith("FAKE"))
  }

  test("linspace → MAPVALUE → FILTER → CSV end-to-end") {
    val out = runTrim(
      """FAKE(linspace(0, 10, 11))
        |MAPVALUE(0, value(0) * 2)
        |FILTER(value(0) >= 10)
        |CSV()
        |""".stripMargin)
    assert(out == "10\n12\n14\n16\n18\n20\n")
  }

  test("TAKE / DROP respect record order") {
    val out = runTrim(
      """FAKE(linspace(1, 5, 5))
        |TAKE(1, 2)
        |CSV()
        |""".stripMargin)
    assert(out == "2\n3\n")
    val out2 = runTrim(
      """FAKE(linspace(1, 5, 5))
        |DROP(3)
        |CSV()
        |""".stripMargin)
    assert(out2 == "4\n5\n")
  }

  test("GROUP(by, avg/count) emits key-sorted groups") {
    val out = runTrim(
      """FAKE(linspace(0, 9, 10))
        |MAPVALUE(1, value(0) % 2, 'parity')
        |GROUP(by(value(1), 'parity'), avg(value(0)), count(value(0)))
        |CSV(header())
        |""".stripMargin)
    // default aggregator names are UPPERCASE (reference TestGroup header)
    assert(out == "parity,AVG,COUNT\n0,4,5\n1,5,5\n")
  }

  test("oscillator source through TQL with sink options") {
    val out = runTrim(
      """FAKE(oscillator(freq(1, 1), range(time(0), '1s', '250ms')))
        |MAPVALUE(1, round(value(1) * 1000) / 1000)
        |CSV(header())
        |""".stripMargin)
    val lines = out.split("\n")
    assert(lines.head == "time,value")
    assert(lines.length == 5)
    assert(lines(1) == "0,0") // sin(0) = 0
  }

  test("SQL source with rownum key and PUSHKEY/POPKEY") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation")
    val out = runTrim(
      """SQL('select n_name, n_regionkey from nation order by n_name limit 3')
        |FILTER(value(1) >= 0)
        |CSV()
        |""".stripMargin)
    assert(out.split("\n").length == 3)
  }

  test("ternary and string functions inside the pipeline") {
    val out = runTrim(
      """FAKE(linspace(1, 3, 3))
        |MAPVALUE(1, value(0) > 1.5 ? strToUpper('big') : 'small', 'size')
        |CSV()
        |""".stripMargin)
    assert(out == "1,small\n2,BIG\n3,BIG\n")
  }
}
