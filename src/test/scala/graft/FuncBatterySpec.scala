package graft


/** func_test.go battery — the expression-level cases not previously
  * mirrored: strTime named Go formats + epoch modes (TestStrTime,
  * util/time_formats.go), time()/timeAdd diagnostics (TestTime),
  * tz/parseTime (TestParseTime), element coercions + diagnostics
  * (TestElement), math-fn diagnostics (TestMathFunctions), parseBool
  * (TestParseBool), regexp parse errors (TestRegexp).
  *
  * Each expectation string is the reference's own.
  */
class FuncBatterySpec extends SparkSpec {
  private def run(script: String): String = runTrim(script)
  private def err(script: String): String =
    intercept[IllegalArgumentException](runTrim(script)).getMessage

  // func_test.go:90 — now := time.Unix(0, 1704871917655327000)
  // = 2024-01-10 07:31:57.655327 UTC (a Wednesday)
  // µs literal keeps exact long precision through the Num(Double) lexer
  private def strTimeCsv(fmtExpr: String): String = run(
    s"""FAKE( json({ [1] }))
       |MAPVALUE(0, strTime(parseTime(1704871917655327, 'us'), $fmtExpr))
       |CSV()
       |""".stripMargin).trim

  test("strTime named formats (TestStrTime + util/time_formats.go table)") {
    assert(strTimeCsv("'RFC822', tz('UTC')") == "10 Jan 24 07:31 UTC")
    assert(strTimeCsv("'RFC822Z', tz('UTC')") == "10 Jan 24 07:31 +0000")
    assert(strTimeCsv("'RFC850', tz('UTC')") == "\"Wednesday, 10-Jan-24 07:31:57 UTC\"")
    assert(strTimeCsv("'RFC1123', tz('UTC')") == "\"Wed, 10 Jan 2024 07:31:57 UTC\"")
    assert(strTimeCsv("'RFC1123Z', tz('UTC')") == "\"Wed, 10 Jan 2024 07:31:57 +0000\"")
    assert(strTimeCsv("'ANSIC', tz('UTC')") == "Wed Jan 10 07:31:57 2024")
    assert(strTimeCsv("'UNIX', tz('UTC')") == "Wed Jan 10 07:31:57 UTC 2024")
    assert(strTimeCsv("'RUBY', tz('UTC')") == "Wed Jan 10 07:31:57 +0000 2024")
    assert(strTimeCsv("'KITCHEN', tz('UTC')") == "7:31:57AM")
    assert(strTimeCsv("'STAMP', tz('UTC')") == "Jan 10 07:31:57")
    assert(strTimeCsv("'STAMPMILLI', tz('UTC')") == "Jan 10 07:31:57.655")
    assert(strTimeCsv("'STAMPMICRO', tz('UTC')") == "Jan 10 07:31:57.655327")
    assert(strTimeCsv("'STAMPNANO', tz('UTC')") == "Jan 10 07:31:57.655327000")
    assert(strTimeCsv("'DATETIME', tz('UTC')") == "2024-01-10 07:31:57")
    assert(strTimeCsv("'DEFAULT', tz('UTC')") == "2024-01-10 07:31:57.655")
    // Go ".999" trims the trailing zeros of .655327000 → .655327
    assert(strTimeCsv("'DEFAULT_NS', tz('UTC')") == "2024-01-10 07:31:57.655327")
    assert(strTimeCsv("'S_NS', tz('UTC')") == "57.655327")
    assert(strTimeCsv("'S.MS', tz('UTC')") == "57.655")
    assert(strTimeCsv("'RFC3339', tz('UTC')") == "2024-01-10T07:31:57Z")
    assert(strTimeCsv("'RFC3339NANO', tz('UTC')") == "2024-01-10T07:31:57.655327Z")
    assert(strTimeCsv("'NUMERIC', tz('UTC')") == "01/10 07:31:57AM '24 +0000")
  }

  test("strTime Go layout + sqlTimeformat + epoch modes (func_test.go:91-123)") {
    assert(strTimeCsv("'2006/01/02 15:04:05.999999', tz('UTC')")
      == "2024/01/10 07:31:57.655327")
    assert(strTimeCsv("sqlTimeformat('YYYY/MM/DD HH24:MI:SS.nnnnnn'), tz('UTC')")
      == "2024/01/10 07:31:57.655327")
    assert(strTimeCsv("'ns', tz('UTC')") == "1704871917655327000")
    assert(strTimeCsv("'us'") == "1704871917655327")
    assert(strTimeCsv("'ms', tz('UTC')") == "1704871917655")
    assert(strTimeCsv("'s'") == "1704871917")
  }

  test("strTime non-UTC zone tokens (KST wall clock + abbreviation)") {
    assert(strTimeCsv("'RFC822', tz('KST')") == "10 Jan 24 16:31 KST")
    assert(strTimeCsv("'RFC1123Z', tz('Asia/Seoul')") == "\"Wed, 10 Jan 2024 16:31:57 +0900\"")
  }

  test("time()/timeAdd diagnostics (func_test.go TestTime)") {
    def mv(expr: String) = s"FAKE( json({ [1] }))\nMAPVALUE(0, $expr)\nCSV()\n"
    assert(err(mv("time()"))
      == "f(time) invalid number of args; expect:1, actual:0")
    assert(err(mv("time('last')"))
      == "invalid time expression: incompatible conv 'last' (string) to time.Time")
    assert(err(mv("time(true)"))
      == "invalid time expression: incompatible conv 'true' (bool) to time.Time")
    assert(err(mv("time('oned2h')"))
      == "invalid time expression: incompatible conv 'oned2h' (string) to time.Time")
    assert(err(mv("time('1d27h')"))
      == "invalid time expression: incompatible conv '1d27h' (string) to time.Time")
    assert(err(mv("timeAdd(time('now'), '-2x')"))
      == "invalid time expression: time: unknown unit \"x\" in duration \"-2x\"")
    assert(err(mv("timeAdd('now-1x', 1000000000)"))
      == "invalid time expression: incompatible conv 'now-1x', time: unknown unit \"x\" in duration \"1x\"")
  }

  test("timeAdd now±dur composition on the pinned clock (func_test.go:371-407)") {
    // sink in epoch-ns so each offset is exact; now is the injected clock
    val out = run(
      """FAKE( json({ [1] }))
        |MAPVALUE(0, timeAdd('now', '1s') - timeAdd('now', '0s'))
        |PUSHVALUE(1, timeAdd('now', '1d') - timeAdd('now', '0s'))
        |PUSHVALUE(2, timeAdd('now', '-2d') - timeAdd('now', '0s'))
        |PUSHVALUE(3, timeAdd('now', '-1d12h') - timeAdd('now', '0s'))
        |PUSHVALUE(4, timeAdd('now', '-1d2h3m4s') - timeAdd('now', '0s'))
        |PUSHVALUE(5, timeAdd('now-1s', 1000000000) - timeAdd('now', '0s'))
        |CSV()
        |""".stripMargin)
    val secNs = 1000000000L; val dayNs = 86400L * secNs
    assert(out == Seq(
      secNs, dayNs, -2 * dayNs, -(dayNs * 3 / 2),
      -(dayNs + 2 * 3600 * secNs + 3 * 60 * secNs + 4 * secNs), 0L).mkString(",") + "\n")
  }

  test("tz()/parseTime (func_test.go TestParseTime + conv_test.go zone aliases)") {
    assert(err("FAKE( json({ [1] }))\nMAPVALUE(0, strTime(time(value(0)), 'DEFAULT', tz('wrong/place')))\nCSV()\n")
      == "unknown time zone wrong/place")
    def pt(tzExpr: String) = run(
      s"""FAKE( json({ ["2023-03-01 14:01:02"] }))
         |MAPVALUE(0, parseTime(value(0), "DEFAULT"$tzExpr))
         |CSV( timeformat('ns') )
         |""".stripMargin).trim
    // DEFAULT's .999 fraction is optional on input; UTC is the default zone
    assert(pt(", tz('utc')") == "1677679262000000000")
    assert(pt("") == "1677679262000000000")
    // KST wall clock is 9h ahead → epoch 9h earlier
    assert(pt(", tz('KST')") == (1677679262000000000L - 9L * 3600 * 1000000000L).toString)
  }

  test("element() coercions + diagnostics (func_test.go TestElement)") {
    def mv(expr: String) = s"FAKE( json({ [1] }))\nMAPVALUE(0, $expr)\nCSV()\n"
    assert(err(mv("element(1, 2)")) == "f(element) invalud number of args (n:2)")
    assert(err(mv("element(0.0, 1.0, 2.0, 3.0, 4.0, 5.0)"))
      == "f(element) out of index 5 / 5")
    assert(err(mv("element(0.0, 1.0, 2.0, 3.0, 4.0, '4')"))
      == "f(element) index of element should be int, but string")
    // time element coerces to float64 epoch-ns: 123.456s → 123456000000
    val out = run(
      """FAKE( json({ [1] }))
        |MAPVALUE(0, element(0.0, 1.0, 2.0, 3.0, parseTime(123456, 'ms'), 4))
        |PUSHVALUE(1, element("abc", "bcd", "cde", "def", true, 4))
        |PUSHVALUE(2, element("abc", "bcd", "cde", "def", 12345, 4))
        |CSV()
        |""".stripMargin)
    assert(out == "123456000000,true,12345\n", out)
  }

  test("element(value(), i) / len(value()) spread the record tuple (TestMapFunc_FILTER)") {
    val kept = run(
      """FAKE( json({ [1, 2, 3] }))
        |FILTER( len(value()) > 2 )
        |FILTER( element(value(), 0) >= 1 )
        |CSV()
        |""".stripMargin)
    assert(kept == "1,2,3\n")
    val dropped = run(
      """FAKE( json({ [1, 2, 3] }))
        |FILTER( len(value()) > 4 )
        |CSV()
        |""".stripMargin)
    assert(dropped == "")
  }

  test("math fn diagnostics + nil propagation + mod sign (TestMathFunctions)") {
    def mv(expr: String) = s"FAKE( json({ [1] }))\nMAPVALUE(0, $expr)\nCSV()\n"
    assert(err(mv("round()")) == "f(round) invalid number of args; expect:1, actual:0")
    assert(err(mv("round('not_a_number')")) == "f(round) arg(0) should be float64, but string")
    assert(err(mv("pow10()")) == "f(pow10) invalid number of args; expect:1, actual:0")
    assert(err(mv("pow10('not_a_number')")) == "f(pow10) arg(0) should be int, but string")
    assert(err(mv("pow()")) == "f(pow) invalid number of args; expect:2, actual:0")
    assert(err(mv("pow(1.0)")) == "f(pow) invalid number of args; expect:2, actual:1")
    assert(err(mv("pow('not_a_number', '2.0')")) == "f(pow) arg(0) should be float64, but string")
    val out = run(
      """FAKE( json({ [1] }))
        |MAPVALUE(0, round(123.4567))
        |PUSHVALUE(1, round(234.5678))
        |PUSHVALUE(2, mod(5.0, 2.0))
        |PUSHVALUE(3, mod(0.0-5.0, 2.0))
        |PUSHVALUE(4, remainder(5.0, 2.0))
        |PUSHVALUE(5, pow10(3.0))
        |CSV()
        |""".stripMargin)
    // math.Round away from zero; math.Mod keeps the dividend's sign
    assert(out == "123,235,1,-1,1,1000\n", out)
  }

  test("parseBool diagnostics (TestParseBool) + regexp parse error (TestRegexp)") {
    def mv(expr: String) = s"FAKE( json({ [1] }))\nMAPVALUE(0, $expr)\nCSV()\n"
    assert(run(mv("parseBool('true')")) == "true\n")
    assert(run(mv("parseBool('0')")) == "false\n")
    assert(err(mv("parseBool('some other text')"))
      == "parseBool: parsing \"some other text\": invalid syntax")
    assert(err(mv("regexp('^test[0-9$', 'test123')"))
      == "error parsing regexp: missing closing ]: `[0-9$`")
    assert(run(mv("regexp('^test[0-9]{3}$', 'test123')")) == "true\n")
    assert(run(mv("regexp('^test\\\\d{3}$', 'test12345x')")) == "false\n")
  }

  test("CSV nullValue/substituteNull with non-string substitutes (TestJsonToCsv)") {
    val src = "FAKE(json({ [\"A\", 123], [\"B\", null], [\"C\", 234] }))\n"
    assert(run(src + "CSV( nullValue(\"<NULL>\") )\n") == "A,123\nB,<NULL>\nC,234\n")
    assert(run(src + "CSV( substituteNull(\"<NULL>\") )\n") == "A,123\nB,<NULL>\nC,234\n")
    assert(run(src + "CSV( nullValue(false) )\n") == "A,123\nB,false\nC,234\n")
    assert(run(src + "CSV( nullValue(3.14) )\n") == "A,123\nB,3.14\nC,234\n")
  }

  test("STRING/BYTES separator batteries: labels and hex rendering (TestString/TestBytes)") {
    // PUSHKEY demotes the rownum key under its ROWNUM label
    assert(run(
      "STRING(\"line1\\nline2\\n\\nline4\", separator(\"\\n\"))\nPUSHKEY('test')\nCSV( heading(true) )\n")
      == "ROWNUM,STRING\n1,line1\n2,line2\n3,\n4,line4\n")
    assert(run(
      "BYTES(\"line1\\nline2\\n\\nline4\", separator(\"\\n\"))\nCSV( heading(true), binaryformat(\"hex\") )\n")
      == "BYTES\n0x6c696e6531\n0x6c696e6532\n\n0x6c696e6534\n")
  }

  test("sink timeformat named formats (util/time_formats.go through CSV options)") {
    // 2024-01-10 07:31:57.655327 UTC rendered by the SINK's formatter
    val src = "FAKE( json({ [1] }))\nMAPVALUE(0, parseTime(1704871917655327, 'us'))\n"
    assert(run(src + "CSV( timeformat('RFC822'), tz('UTC') )\n") == "10 Jan 24 07:31 UTC\n")
    assert(run(src + "CSV( timeformat('RFC3339NANO'), tz('UTC') )\n")
      == "2024-01-10T07:31:57.655327Z\n")
    assert(run(src + "CSV( timeformat('STAMPMICRO'), tz('UTC') )\n")
      == "Jan 10 07:31:57.655327\n")
    assert(run(src + "CSV( timeformat('KITCHEN'), tz('Asia/Seoul') )\n") == "4:31:57PM\n")
  }
}
