package graft

import java.nio.file.{Files, Paths}

/** Runs the reference's own TQL golden fixtures (read at test time from
  * the read-only checkout — nothing copied) through our compiler and
  * compares byte-for-byte with the expected CSV the reference ships
  * (mods/tql/test/TestLoader_*.tql/.csv pairs, driven there by
  * mods/tql/task_test.go runTest).
  */
class GoldenSpec extends SparkSpec {
  private val fixtures = "/root/reference/mods/tql/test"

  private def read(name: String): String =
    new String(Files.readAllBytes(Paths.get(s"$fixtures/$name")), "UTF-8")

  private def normalize(s: String): String = s.stripLineEnd + "\n"

  private def runGolden(tql: String, csv: String,
                        rewrite: String => String = identity): Unit = {
    val script = rewrite(read(tql))
    val expected = normalize(read(csv))
    val got = normalize(runTrim(script))
    assert(got == expected, s"\n--- got ---\n$got--- want ---\n$expected")
  }

  test("TestLoader: FAKE(linspace) → CSV") {
    runGolden("TestLoader.tql", "TestLoader.csv")
  }

  test("TestLoader_Pi: MAPVALUE trig over linspace with precision(4)") {
    runGolden("TestLoader_Pi.tql", "TestLoader_Pi.csv")
  }

  test("TestLoader_group: json literal rows → GROUP sum/avg/mean") {
    runGolden("TestLoader_group.tql", "TestLoader_group.csv")
  }

  test("TestLoader_groupbykey: 15 aggregators incl. median conventions") {
    runGolden("TestLoader_groupbykey.tql", "TestLoader_groupbykey.csv")
  }

  test("TestLoader_iris: typed CSV file + GROUP min/max/median/avg") {
    runGolden("TestLoader_iris.tql", "TestLoader_iris.csv",
      _.replace("\"/iris.data\"", s"'$fixtures/iris.data'"))
  }

  test("transpose_nohdr: csv literal + TRANSPOSE(i..) + parseTime") {
    runGolden("transpose_nohdr.tql", "transpose_nohdr.csv")
  }

  test("transpose_hdr: TRANSPOSE(header(true), i..) labels from first record") {
    runGolden("transpose_hdr.tql", "transpose_hdr.csv")
  }

  test("FAKE(sphere(4,4)) matches the sphere_4_4 golden") {
    val expected = normalize(read("sphere_4_4.csv"))
    val got = normalize(runTrim(
      """FAKE( sphere(4, 4) )
        |PUSHKEY('test')
        |CSV( header(true), precision(6) )
        |""".stripMargin))
    assert(got == expected, s"\n--- got ---\n$got--- want ---\n$expected")
  }

  test("MAP_MOVAVG noWait golden (movavg_result_nowait.csv)") {
    val expected = normalize(read("movavg_result_nowait.csv"))
    val got = normalize(runTrim(
      """FAKE( linspace(0, 100, 100) )
        |MAP_MOVAVG(1, value(0), 10, noWait(true))
        |CSV( precision(4) )
        |""".stripMargin))
    assert(got == expected, s"\n--- got ---\n$got--- want ---\n$expected")
  }

  test("MAP_ABSDIFF renders NULL for the seed record (tql_test.go)") {
    val got = runTrim(
      "FAKE( csv(\"1\\n3\\n2\\n7\") )\nMAP_ABSDIFF(0, value(0))\nCSV()\n")
    assert(got == "NULL\n2\n1\n5\n", got)
  }

  test("MAP_DIFF coerces string CSV input to float (tql_test.go MAP_DIFF)") {
    val got = runTrim(
      "FAKE( csv(\"1\\n3\\n2\\n7\") )\nMAP_DIFF(0, value(0))\nCSV()\n")
    assert(got == "NULL\n2\n-1\n5\n", got)
  }

  test("MAP_NONEGDIFF clamps negative diffs to 0 (tql_test.go MAP_NONEGDIFF)") {
    val got = runTrim(
      "FAKE( csv(\"1\\n3\\n2\\n7\") )\nMAP_NONEGDIFF(0, value(0))\nCSV()\n")
    assert(got == "NULL\n2\n0\n5\n", got)
  }

  test("MAP_DIFF on a time column yields ns-duration longs (fm_monad.go time_diff)") {
    val got = runTrim(
      """FAKE(json({[1692329338], [1692329340], [1692329345]}))
        |MAPVALUE(0, parseTime(value(0), "s", tz("UTC")))
        |MAP_DIFF(0, value(0))
        |CSV()
        |""".stripMargin)
    assert(got == "NULL\n2000000000\n5000000000\n", got)
  }

  test("FILTER_CHANGED on a string value (tql_test.go FILTER_CHANGED_string)") {
    val got = runTrim(
      """FAKE(json({["A", 1.0], ["A", 2.0], ["B", 3.0], ["B", 4.0]}))
        |FILTER_CHANGED(value(0))
        |CSV()
        |""".stripMargin)
    assert(got == "A,1\nB,3\n", got)
  }

  test("FILTER_CHANGED on a bool value (tql_test.go FILTER_CHANGED_bool)") {
    val got = runTrim(
      """FAKE(json({["A", true, 1.0], ["A", false, 2.0], ["B", false, 3.0], ["B", true, 4.0]}))
        |FILTER_CHANGED(value(1))
        |CSV()
        |""".stripMargin)
    assert(got == "A,true,1\nA,false,2\nB,true,4\n", got)
  }

  test("FILTER_CHANGED useFirstWithLast(false) equals plain form (tql_test.go)") {
    val body = """FILTER_CHANGED(value(0), useFirstWithLast(false))"""
    val got = runTrim(
      s"""FAKE(json({["A", 1.0], ["A", 2.0], ["B", 3.0], ["B", 4.0], ["B", 5.0], ["C", 6.0], ["C", 7.0], ["D", 8.0], ["D", 9.0]}))
         |$body
         |CSV()
         |""".stripMargin)
    assert(got == "A,1\nB,3\nC,6\nD,8\n", got)
  }

  test("FILTER_CHANGED useFirstWithLast(true) emits openers and closers (tql_test.go)") {
    val got = runTrim(
      """FAKE(json({["A", 1.0], ["A", 2.0], ["B", 3.0], ["B", 4.0], ["B", 5.0], ["C", 6.0], ["C", 7.0], ["D", 8.0], ["D", 9.0]}))
        |FILTER_CHANGED(value(0), useFirstWithLast(true))
        |CSV()
        |""".stripMargin)
    assert(got == "A,1\nA,2\nB,3\nB,5\nC,6\nC,7\nD,8\nD,9\n", got)
  }

  test("FILTER_CHANGED useFirstWithLast(true) duplicates a single-record run (task_test.go)") {
    val got = runTrim(
      """FAKE(json({
        |  ["A", 1692329338, 1.0], ["A", 1692329339, 2.0],
        |  ["B", 1692329340, 3.0], ["B", 1692329341, 4.0], ["B", 1692329342, 5.0],
        |  ["B", 1692329343, 6.0], ["B", 1692329344, 7.0], ["B", 1692329345, 8.0],
        |  ["C", 1692329346, 9.0],
        |  ["D", 1692329347, 9.1], ["D", 1692329348, 9.2], ["D", 1692329349, 9.3]
        |}))
        |MAPVALUE(1, parseTime(value(1), "s", tz("UTC")))
        |FILTER_CHANGED(value(0), useFirstWithLast(true))
        |CSV(timeformat("s"))
        |""".stripMargin)
    assert(got == Seq(
      "A,1692329338,1", "A,1692329339,2", "B,1692329340,3", "B,1692329345,8",
      "C,1692329346,9", "C,1692329346,9", "D,1692329347,9.1", "D,1692329349,9.3")
      .mkString("", "\n", "\n"), got)
  }

  test("FILTER_CHANGED retain + useFirstWithLast(false) emits run openers (task_test.go)") {
    val got = runTrim(
      """FAKE(json({
        |  ["A", 1692329338, 1.0], ["A", 1692329339, 2.0],
        |  ["B", 1692329340, 3.0], ["B", 1692329341, 4.0], ["B", 1692329342, 5.0],
        |  ["B", 1692329343, 6.0], ["B", 1692329344, 7.0], ["B", 1692329345, 8.0],
        |  ["C", 1692329346, 9.0],
        |  ["D", 1692329347, 9.1], ["D", 1692329348, 9.2], ["D", 1692329349, 9.3]
        |}))
        |MAPVALUE(1, parseTime(value(1), "s", tz("UTC")))
        |FILTER_CHANGED(value(0), retain(value(1), "2s"), useFirstWithLast(false))
        |CSV(timeformat("s"))
        |""".stripMargin)
    assert(got == "A,1692329338,1\nB,1692329340,3\nD,1692329347,9.1\n", got)
  }

  test("FILTER_CHANGED retain + useFirstWithLast(true) adds per-run closers (task_test.go)") {
    val got = runTrim(
      """FAKE(json({
        |  ["A", 1692329338, 1.0], ["A", 1692329339, 2.0],
        |  ["B", 1692329340, 3.0], ["B", 1692329341, 4.0], ["B", 1692329342, 5.0],
        |  ["B", 1692329343, 6.0], ["B", 1692329344, 7.0], ["B", 1692329345, 8.0],
        |  ["C", 1692329346, 9.0],
        |  ["D", 1692329347, 9.1], ["D", 1692329348, 9.2], ["D", 1692329349, 9.3]
        |}))
        |MAPVALUE(1, parseTime(value(1), "s", tz("UTC")))
        |FILTER_CHANGED(value(0), retain(value(1), "2s"), useFirstWithLast(true))
        |CSV(timeformat("s"))
        |""".stripMargin)
    assert(got == Seq(
      "A,1692329338,1", "A,1692329339,2", "B,1692329340,3", "B,1692329345,8",
      "D,1692329347,9.1", "D,1692329349,9.3").mkString("", "\n", "\n"), got)
  }

  test("FILTER_CHANGED composite strSprintf key (task_test.go)") {
    val got = runTrim(
      """FAKE(json({
        |  ["A", 1692329338, 1.0], ["A", 1692329341, 2.0], ["A", 1692329344, 2.0],
        |  ["B", 1692329339, 1.0], ["B", 1692329342, 2.0], ["B", 1692329345, 1.0],
        |  ["C", 1692329340, 1.0], ["C", 1692329343, 1.0], ["C", 1692329346, 1.0]
        |}))
        |MAPVALUE(1, parseTime(value(1), "s", tz("UTC")))
        |FILTER_CHANGED(strSprintf("%s.%.f", value(0),value(2)), useFirstWithLast(true))
        |CSV(timeformat("s"))
        |""".stripMargin)
    assert(got == Seq(
      "A,1692329338,1", "A,1692329338,1", "A,1692329341,2", "A,1692329344,2",
      "B,1692329339,1", "B,1692329339,1", "B,1692329342,2", "B,1692329342,2",
      "B,1692329345,1", "B,1692329345,1",
      "C,1692329340,1", "C,1692329346,1").mkString("", "\n", "\n"), got)
  }

  test("MAP_MOVAVG warm-up golden (movavg_result.csv)") {
    val expected = normalize(read("movavg_result.csv"))
    val got = normalize(runTrim(
      """FAKE( linspace(0, 100, 100) )
        |MAP_MOVAVG(1, value(0), 10)
        |CSV( precision(4) )
        |""".stripMargin))
    assert(got == expected, s"\n--- got ---\n${got.take(300)}--- want ---\n${expected.take(300)}")
  }

  test("FFT shape guards: 1-wide drops all, 3-wide errors (tql_test.go FFT_not_enough_samples)") {
    val empty = runTrim(
      "FAKE( linspace(0, 10, 100) )\nFFT()\nCSV()\n")
    assert(empty == "", s"expected empty CSV, got: $empty")
    val e = intercept[IllegalArgumentException](runTrim(
      "FAKE(json({[1, 2, 3]}))\nFFT()\nCSV()\n"))
    assert(e.getMessage == "f(FFT) sample should be a tuple of (time, value), but len=3", e.getMessage)
  }

  test("FFT amplitude spectrum golden (fft2d.csv, 10Hz+50Hz)") {
    val expected = normalize(read("fft2d.csv"))
    val got = normalize(runTrim(
      """FAKE( oscillator( range(timeAdd(1685714509*1000000000,'1s'), '1s', '100us'), freq(10, 1.0), freq(50, 2.0)))
        |MAPKEY('samples')
        |GROUPBYKEY(lazy(false))
        |FFT(minHz(0), maxHz(60))
        |CSV(precision(6))
        |""".stripMargin))
    assert(got == expected, s"\n--- got ---\n${got.take(400)}--- want ---\n${expected.take(400)}")
  }

  test("oscillator 1Hz+2Hz+3Hz samples golden") {
    val expected = normalize(read("oscillator_1Hz_2Hz_3Hz.csv"))
    val got = normalize(runTrim(
      """FAKE(
        |  oscillator(
        |    range(timeAdd(1685714509*1000000000,'1s'), '1s', '1ms'),
        |    freq(1, 1.0), freq(2, 2.0), freq(3, 3.0)))
        |PUSHKEY('test')
        |CSV( header(true), precision(6) )
        |""".stripMargin))
    assert(got == expected, s"\n--- got ---\n${got.take(300)}--- want ---\n${expected.take(300)}")
  }

  test("windowed FFT golden (fft3d.csv, two 500ms buckets)") {
    val expected = normalize(read("fft3d.csv"))
    val got = normalize(runTrim(
      """FAKE( oscillator( range(timeAdd(1685714509*1000000000,'1s'), '1s', '100us'), freq(10, 1.0), freq(50, 2.0)))
        |MAPKEY( roundTime(value(0), '500ms') )
        |GROUPBYKEY()
        |FFT(maxHz(60))
        |FLATTEN()
        |PUSHKEY('fft3d')
        |CSV(precision(6))
        |""".stripMargin))
    assert(got == expected, s"\n--- got ---\n${got.take(400)}--- want ---\n${expected.take(400)}")
  }

  test("CSV charset('EUC-JP') decodes the euc-jp fixture") {
    // expectation from the reference's CSV_charset_jp test case
    val got = runTrim(
      s"""CSV(file('$fixtures/euc-jp.csv'), charset('EUC-JP'))
         |CSV()
         |""".stripMargin)
    assert(got == "\u5229\u7528\u3055\u308c\u3066\u304d\u305f\u6587\u5b57\u30b3\u30fc,1701913182,3.141592\n", got)
  }

  test("strSprintf constant folding into FAKE(json(...)) (reference case)") {
    // expectation from the reference's strSprintf test case
    val got = runTrim(
      """FAKE(json(strSprintf('[%.f, %q]', 123, "hello")))
        |CSV( heading(false) )
        |""".stripMargin)
    assert(got == "123,hello\n", got)
  }

  test("TestLoader_qq: STRING payload pipeline with pinned clock") {
    // the reference harness pins now = 1692329338315327000 for this case
    val expected = normalize(read("TestLoader_qq.csv"))
    val c = graft.tql.Compiler.compile(spark, read("TestLoader_qq.tql"),
      nowNs = 1692329338315327000L)
    val got = normalize(trimClose(graft.sinks.Codecs.render(c.output, c.sink.format, c.sink.options)))
    assert(got == expected, s"\n--- got ---\n$got--- want ---\n$expected")
  }

  test("TestLoader_simplex: seeded OpenSimplex field over a meshgrid") {
    runGolden("TestLoader_simplex.tql", "TestLoader_simplex.csv")
  }

  test("MAP_LOWPASS over a simplex-jittered ramp (inline case)") {
    val out = runTrim(
      """FAKE(arrange(1, 10, 1))
        |MAPVALUE(1, value(0) + simplex(1, value(0))*3)
        |MAP_LOWPASS(2, value(1), 0.3)
        |CSV(precision(2))
        |""".stripMargin)
    assert(out.startsWith("1.00,1.48,1.48\n2.00,0.40,1.15\n3.00,3.84,1.96\n4.00,2.89,2.24\n"), out)
  }

  test("TestLoader_iris_setosa: untyped CSV + string filter + stats") {
    runGolden("TestLoader_iris_setosa.tql", "TestLoader_iris_setosa.csv",
      _.replace("\"/iris.data\"", s"'$fixtures/iris.data'"))
  }
}
