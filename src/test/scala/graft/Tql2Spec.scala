package graft


class Tql2Spec extends SparkSpec {

  test("SET statement creates a $var usable downstream") {
    val out = runTrim(
      """FAKE(linspace(1, 4, 4))
        |SET doubled = value(0) * 2
        |MAPVALUE(1, $doubled + 1, 'd1')
        |CSV()
        |""".stripMargin)
    assert(out == "1,3\n2,5\n3,7\n4,9\n")
  }

  test("GROUP where() filters per aggregator") {
    val out = runTrim(
      """FAKE(linspace(0, 9, 10))
        |MAPVALUE(1, value(0) % 2, 'parity')
        |GROUP(by(value(1), 'parity'),
        |      sum(value(0), 'all_sum'),
        |      sum(value(0), where(value(0) > 4), 'big_sum'))
        |CSV(header())
        |""".stripMargin)
    assert(out == "parity,all_sum,big_sum\n0,20,14\n1,25,21\n")
  }

  test("MAP_DIFF over record order") {
    val out = runTrim(
      """FAKE(linspace(1, 4, 4))
        |MAPVALUE(0, value(0) * value(0))
        |MAP_DIFF(1, value(0), 'diff')
        |CSV()
        |""".stripMargin)
    assert(out == "1,NULL\n4,3\n9,5\n16,7\n")
  }

  test("MAP_MOVAVG with warm-up and noWait") {
    val out = runTrim(
      """FAKE(linspace(1, 5, 5))
        |MAP_MOVAVG(1, value(0), 3, 'ma')
        |CSV()
        |""".stripMargin)
    assert(out == "1,NULL\n2,NULL\n3,2\n4,3\n5,4\n")
    val out2 = runTrim(
      """FAKE(linspace(1, 5, 5))
        |MAP_MOVAVG(1, value(0), 3, noWait(), 'ma')
        |CSV()
        |""".stripMargin)
    assert(out2 == "1,1\n2,1.5\n3,2\n4,3\n5,4\n")
  }

  test("FILTER_CHANGED with and without retain") {
    val out = runTrim(
      """FAKE(linspace(1, 6, 6))
        |MAPVALUE(1, value(0) <= 3 ? 'lo' : 'hi', 'band')
        |FILTER_CHANGED(value(1))
        |CSV()
        |""".stripMargin)
    assert(out == "1,lo\n4,hi\n")
  }
}
