package graft


/** Round-4 verbatim task_test.go cases: DROP/TAKE offset forms and
  * validation errors (TestDropTake), the unpredicted-bins streaming
  * histogram (TestHistogramUnpredictedBins), and the millisecond-grid
  * TIMEWINDOW under a pinned clock (TestTimeWindowHighDef). */
class ReferenceCases2Spec extends SparkSpec {

  private def run(script: String): String = runTrim(script)

  test("DROP/TAKE offset forms (task_test.go TestDropTake)") {
    assert(run("FAKE( linspace(0, 2, 100))\nDROP(50)\nTAKE(3)\nPUSHKEY('test')\nCSV(precision(6))\n")
      == "51,1.010101\n52,1.030303\n53,1.050505\n")
    assert(run("FAKE( linspace(0, 2, 100))\nDROP(0)\nTAKE(2)\nPUSHKEY('test')\nCSV(precision(6))\n")
      == "1,0.000000\n2,0.020202\n")
    assert(run("FAKE( linspace(0, 2, 100))\nDROP(0)\nTAKE(0)\nPUSHKEY('test')\nCSV(precision(6))\n")
      == "")
    assert(run("FAKE( linspace(0, 2, 100))\nDROP(5, 45)\nTAKE(5, 3)\nPUSHKEY('test')\nCSV(precision(6))\n")
      == "51,1.010101\n52,1.030303\n53,1.050505\n")
  }

  test("TAKE/DROP reject non-positive two-arg limits (fm_monad.go)") {
    val e1 = intercept[IllegalArgumentException](
      run("FAKE( linspace(0, 2, 100) )\nTAKE(5, -1)\nCSV(precision(6))\n"))
    assert(e1.getMessage == "f(TAKE) arg(1) limit should be larger than 0")
    val e2 = intercept[IllegalArgumentException](
      run("FAKE( linspace(0, 2, 100) )\nDROP(5, -1)\nCSV(precision(6))\n"))
    assert(e2.getMessage == "f(DROP) arg(1) limit should be larger than 0")
  }

  test("HISTOGRAM fixed bins incl. empty (task_test.go:242-263)") {
    val out = run(
      """FAKE( arrange(1, 100, 1) )
        |MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
        |HISTOGRAM(value(0), bins(0, 200, 20))
        |CSV( precision(0) )
        |""".stripMargin)
    assert(out ==
      "0,20,0\n20,40,2\n40,60,12\n60,80,19\n80,100,25\n100,120,22\n" +
        "120,140,8\n140,160,8\n160,180,4\n180,200,0\n", out)
  }

  test("HISTOGRAM out-of-range values land in ±Inf edge bins (task_test.go:265-280)") {
    val out = run(
      """FAKE( arrange(1, 100, 1) )
        |MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
        |HISTOGRAM(value(0), bins(80, 120, 13))
        |CSV( precision(0), header(true) )
        |""".stripMargin)
    assert(out ==
      "low,high,count\n-Inf,80,19\n80,93,28\n93,106,19\n106,119,14\n119,+Inf,20\n", out)
  }

  test("HISTOGRAM bins(10): unpredicted streaming bins (task_test.go:326-348)") {
    val out = run(
      """FAKE( arrange(1, 100, 1) )
        |MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
        |HISTOGRAM(value(0), bins(10))
        |CSV( header(true), precision(0) )
        |""".stripMargin)
    assert(out ==
      "value,count\n23,1\n44,6\n59,12\n80,26\n99,20\n113,18\n129,5\n141,2\n153,7\n170,3\n", out)
  }

  test("HISTOGRAM bins(n) driver stream is row-capped (plan-limit guard)") {
    // the merge-closest sketch is order-dependent (cannot distribute
    // without changing reference semantics) — over-cap input must fail
    // fast with the limit message, like graft.timewindow.maxBuckets
    spark.conf.set("graft.histogram.maxStreamRows", "50")
    try {
      val e = intercept[IllegalArgumentException](runTrim(
        "FAKE(linspace(0, 10, 100))\nHISTOGRAM(value(0), bins(5))\nCSV()\n"))
      assert(e.getMessage == "HISTOGRAM limit over. (rows:>50, Available:50)")
      // at exactly the cap: runs fine
      assert(runTrim(
        "FAKE(linspace(0, 10, 50))\nHISTOGRAM(value(0), bins(3))\nCSV()\n").nonEmpty)
    } finally spark.conf.unset("graft.histogram.maxStreamRows")
  }

  test("arrange/linspace CSV goldens (task_test.go TestArrange/TestLinspace)") {
    assert(run("FAKE( arrange(0, 2, 1) )\nCSV( heading(true), precision(1) )\n")
      == "x\n0.0\n1.0\n2.0\n")
    assert(run("FAKE( arrange(2, 0, -1) )\nCSV( heading(true), precision(1) )\n")
      == "x\n2.0\n1.0\n0.0\n")
    assert(run("FAKE( linspace(0, 2, 3))\nCSV( heading(true), precision(1) )\n")
      == "x\n0.0\n1.0\n2.0\n")
  }

  test("CSV to JSON envelope: columnN naming, machbase types (TestCsvToJson)") {
    val out = run("CSV(\"A,123\\nB,456\\nC,789\")\nJSON()\n")
    assert(out.contains(""""columns":["column0","column1"]"""), out)
    assert(out.contains(""""types":["string","string"]"""), out)
    assert(out.contains(""""rows":[["A","123"],["B","456"],["C","789"]]"""), out)
  }

  test("dict() renders JSON objects, keeps the declared column type (TestDict)") {
    val out = run(
      """FAKE( arrange(0, 1, 1) )
        |MAPVALUE(0, dict("key", value(0)) )
        |JSON(precision(0))
        |""".stripMargin)
    assert(out.contains(""""columns":["x"]"""), out)
    assert(out.contains(""""types":["double"]"""), out)
    assert(out.contains(""""rows":[[{"key":0}],[{"key":1}]]"""), out)

    val err = intercept[IllegalArgumentException](run(
      """FAKE( arrange(0, 1, 1) )
        |MAPVALUE(0, dict("key", value(0), "value") )
        |JSON(precision(0))
        |""".stripMargin))
    assert(err.getMessage == "dict() name \"value\" doesn't match with any value")
  }

  test("PUSHKEY/POPKEY sin/cos chains (task_test.go TestMath)") {
    assert(run("FAKE( linspace(0, 3.141592/2, 3))\nPUSHKEY(sin(value(0)))\nPUSHKEY(0)\nPOPKEY(1)\nPOPKEY(1)\nPUSHKEY('test')\nCSV(precision(6))\n")
      == "0.000000,0.000000\n0.785398,0.707107\n1.570796,1.000000\n")
    assert(run("FAKE( linspace(0, 3.141592/2, 3))\nPUSHKEY(cos(value(0)))\nPUSHKEY(0)\nPOPKEY(1)\nPOPKEY(1)\nPUSHKEY('test')\nCSV(precision(6))\n")
      == "0.000000,1.000000\n0.785398,0.707107\n1.570796,0.000000\n")
  }

  test("MARKDOWN: pushed key renders as ROWNUM; empty frame says No record (task_test.go:1056-1093)") {
    assert(run("FAKE( linspace(0, 1, 2))\nPUSHKEY('signal.md')\nMARKDOWN()\n")
      == "|ROWNUM|x|\n|:-----|:-----|\n|1|0.000000|\n|2|1.000000|\n")
    assert(run("FAKE( linspace(0, 1, 2))\nMARKDOWN()\n")
      == "|x|\n|:-----|\n|0.000000|\n|1.000000|\n")
    assert(run("FAKE( linspace(0, 1, -1))\nMARKDOWN()\n")
      == "|x|\n|:-----|\n\n> *No record*\n")
  }

  test("CSV(cache(key, ttl)): second run returns identical bytes despite random() (tqlcache_test.go)") {
    val script =
      """FAKE( linspace(
        |        parseFloat(param("begin")),
        |        parseFloat(param("end")),
        |        parseFloat(param("count"))) )
        |MAPVALUE(0, value(0)*random()*10)
        |CSV(
        |    cache(param("begin") + "-" + param("end") + "-" +  param("count"), "5s")
        |)""".stripMargin
    val params = Map("begin" -> Seq("1"), "end" -> Seq("10"), "count" -> Seq("10"))
    val first = runTrim(script, 0L, params)
    assert(first.nonEmpty && first.split("\n").length == 10)
    val second = runTrim(script, 0L, params)
    assert(second == first) // cache hit: random() never re-evaluated
    // a different key computes fresh
    val other = runTrim(script, 0L,
      Map("begin" -> Seq("1"), "end" -> Seq("10"), "count" -> Seq("5")))
    assert(other != first && other.split("\n").length == 5)
  }

  test("cache() keys are namespaced per script source (tqlcache.go:142)") {
    // two different scripts sharing the user key 'shared' must never serve
    // each other's bytes — the reference prefixes sourcePath:sourceHash
    val a = runTrim("FAKE( linspace(0, 1, 2))\nCSV( cache('shared', '30s') )\n")
    val b = runTrim("FAKE( linspace(0, 9, 3))\nCSV( cache('shared', '30s') )\n")
    assert(a == "0\n1\n")
    assert(b == "0\n4.5\n9\n") // contaminated cache would echo a's bytes
    // an edited script is a different source hash → fresh compute, and the
    // original still hits its own entry
    assert(runTrim("FAKE( linspace(0, 1, 2))\nCSV( cache('shared', '30s') )\n") == a)
  }

  private val boxplotSrc =
    """FAKE(json({
      |    ["A", 850, 740, 900, 1070, 930, 850, 950, 980, 980, 880, 1000, 980, 930, 650, 760, 810, 1000, 1000, 960, 960],
      |    ["B", 960, 940, 960, 940, 880, 800, 850, 880, 900, 840, 830, 790, 810, 880, 880, 830, 800, 790, 760, 800],
      |    ["C", 880, 880, 880, 860, 720, 720, 620, 860, 970, 950, 880, 910, 850, 870, 840, 840, 850, 840, 840, 840],
      |    ["D", 890, 810, 810, 820, 800, 770, 760, 740, 750, 760, 910, 920, 890, 860, 880, 720, 840, 850, 850, 780],
      |    ["E", 890, 840, 780, 810, 760, 810, 790, 810, 820, 850, 870, 870, 810, 740, 810, 940, 950, 800, 810, 870]
      |}))
      |TRANSPOSE(fixed(0))
      |""".stripMargin

  test("BOXPLOT standard format with order() and interp (task_test.go:350-379)") {
    val out = run(boxplotSrc +
      """BOXPLOT(value(1), category(value(0)), order("A", "D","C","B","E"), boxplotInterp(true, false, true))
        |FILTER(value(0) != "OUTLIER")
        |CSV( header(true), precision(0) )
        |""".stripMargin)
    assert(out ==
      """CATEGORY,A,D,C,B,E
        |MIN,650,720,620,760,740
        |LOWER,655,610,780,680,695
        |Q1,850,760,840,800,800
        |Q2,930,810,850,840,810
        |Q3,980,860,880,880,870
        |UPPER,1175,1010,940,1000,975
        |MAX,1070,920,970,960,950
        |IQR,130,100,40,80,70
        |""".stripMargin, out)
  }

  test("BOXPLOT dict format (task_test.go:380-441)") {
    val out = run(boxplotSrc +
      """BOXPLOT(value(1), category(value(0)), order("A", "D","C","B","E"), boxplotInterp(true, false, true), boxplotOutput("dict"))
        |JSON()
        |""".stripMargin)
    assert(out.contains(""""columns":["A","D","C","B","E"]"""), out)
    assert(out.contains(""""types":["dict","dict","dict","dict","dict"]"""), out)
    // A: iqr 130, lower 655, outlier [650]
    assert(out.contains(""""iqr":130"""), out)
    assert(out.contains(""""lower":655"""), out)
    assert(out.contains(""""outlier":[650]"""), out)
    // C: outliers [620,720,720,950,970]
    assert(out.contains(""""outlier":[620,720,720,950,970]"""), out)
    assert(out.contains(""""upper":1175"""), out)
  }

  test("BOXPLOT chart format renders list cells as Go type tokens (task_test.go:443-458)") {
    val out = run(boxplotSrc +
      """BOXPLOT(value(1), category(value(0)), order("A", "D","C","B","E"), boxplotInterp(true, false, true), boxplotOutput("chart"))
        |CSV(header(true))
        |""".stripMargin)
    assert(out ==
      """CATEGORY,BOXPLOT,OUTLIER
        |A,[]interface {},[]interface {}
        |D,[]interface {},[]interface {}
        |C,[]interface {},[]interface {}
        |B,[]interface {},[]interface {}
        |E,[]interface {},[]interface {}
        |""".stripMargin, out)
  }

  test("TIMEWINDOW 5s avg over ms payload with NULL-filled windows (task_test.go:2413-2458)") {
    val payload = Seq(
      "1700256261001,1", "1700256262010,2", "1700256263100,3", "1700256264010,4",
      "1700256265002,5", "1700256266020,6", "1700256267200,7", "1700256268020,8",
      "1700256269002,9", "1700256276300,10").mkString("\n")
    val out = runTrim(
      """CSV(payload(),
        |    field(0, datetimeType("ms"), "time"),
        |    field(1, doubleType(), "value"))
        |TIMEWINDOW(
        |    time(1700256250 * 1000000000),
        |    time(1700256285 * 1000000000),
        |    period('5s'),
        |    'time', 'avg')
        |CSV(timeformat("ms"), heading(true))
        |""".stripMargin, 0L, Map("payload" -> Seq(payload)))
    assert(out ==
      """time,value
        |1700256250000,NULL
        |1700256255000,NULL
        |1700256260000,2.5
        |1700256265000,7
        |1700256270000,NULL
        |1700256275000,10
        |1700256280000,NULL
        |""".stripMargin, out)
  }

  test("GROUP basic battery: uppercase defaults, float64 counts, errors (task_test.go:1637-1692)") {
    val p3 = Map("payload" -> Seq("A,1\nB,3\nC,6"))
    def src = """CSV(payload(), field(0, stringType(), "name"), field(1, doubleType(), "value"))"""
    val e1 = intercept[IllegalArgumentException](
      runTrim(s"$src\nGROUP( )\nCSV()\n", 0L, p3))
    assert(e1.getMessage == "GROUP() has no aggregator")
    val e2 = intercept[IllegalArgumentException](
      runTrim(s"$src\nSET(ErrKey, NULL)\nGROUP( by($$ErrKey, \"NAME\"), avg(value(1)))\nCSV()\n", 0L, p3))
    assert(e2.getMessage == "GROUP() has by() with NULL")
    val e3 = intercept[IllegalArgumentException](
      runTrim(s"$src\nGROUP( by(value(0), \"NAME\"), avg(value(1)), true)\nCSV()\n", 0L, p3))
    assert(e3.getMessage == "GROUP() unknown type 'bool' in arguments")

    val p9 = Map("payload" -> Seq("A,1\nA,2\nB,3\nB,4\nB,5\nC,6\nC,7\nC,8\nC,9"))
    val out = runTrim(
      s"""$src
         |GROUP(by(value(0)), first(value(1)), last(value(1)), avg(value(1)), sum(value(1)), count(value(1)) )
         |CSV(heading(true), precision(2))
         |""".stripMargin, 0L, p9)
    assert(out ==
      """GROUP,FIRST,LAST,AVG,SUM,COUNT
        |A,1.00,2.00,1.50,3.00,2.00
        |B,3.00,5.00,4.00,12.00,3.00
        |C,6.00,9.00,7.50,30.00,4.00
        |""".stripMargin, out)
  }

  test("GROUP stat battery: rss/rms, median-as-QUANTILE, weighted forms (task_test.go:1696-1800)") {
    val p9 = Map("payload" -> Seq("A,1\nA,2\nB,3\nB,4\nB,5\nC,6\nC,7\nC,8\nC,9"))
    def src = """CSV(payload(), field(0, stringType(), "name"), field(1, doubleType(), "value"))"""
    def g(aggLine: String): String = runTrim(
      s"$src\nGROUP(by(value(0)), $aggLine )\nCSV(heading(true), precision(2))\n", 0L, p9)

    assert(g("min(value(1)), max(value(1)), rss(value(1)), rms(value(1))") ==
      "GROUP,MIN,MAX,RSS,RMS\nA,1.00,2.00,2.24,1.58\nB,3.00,5.00,7.07,4.08\nC,6.00,9.00,15.17,7.58\n")
    assert(g("mean(value(1)), median(value(1)), stddev(value(1)), stderr(value(1)), entropy(value(1))") ==
      "GROUP,MEAN,QUANTILE,STDDEV,STDERR,ENTROPY\nA,1.50,1.00,0.71,0.50,-1.39\nB,4.00,4.00,1.00,0.58,-16.89\nC,7.50,7.00,1.29,0.65,-60.78\n")
    assert(g("mean(value(1)), mean(value(1), weight(value(1))), variance(value(1))") ==
      "GROUP,MEAN,MEAN,VARIANCE\nA,1.50,1.67,0.50\nB,4.00,4.17,1.00\nC,7.50,7.67,1.67\n")
    assert(g("stddev(value(1)), stddev(value(1), weight(value(1)))") ==
      "GROUP,STDDEV,STDDEV\nA,0.71,0.58\nB,1.00,0.83\nC,1.29,1.12\n")
    assert(g("stderr(value(1)), stderr(value(1), weight(value(1)))") ==
      "GROUP,STDERR,STDERR\nA,0.50,0.41\nB,0.58,0.48\nC,0.65,0.56\n")
    assert(g("""quantile(value(1), 0.99, "P99"), quantile(value(1), 0.5, "P50"), median(value(1), "MEDIAN")""") ==
      "GROUP,P99,P50,MEDIAN\nA,2.00,1.00,1.00\nB,5.00,4.00,4.00\nC,9.00,7.00,7.00\n")
    assert(g("""quantile(value(1), 0.99, weight(value(1)), "P99"), quantile(value(1), 0.5, "P50"), median(value(1), "MEDIAN")""") ==
      "GROUP,P99,P50,MEDIAN\nA,2.00,1.00,1.00\nB,5.00,4.00,4.00\nC,9.00,7.00,7.00\n")
  }

  test("GROUP where() filters with roundTime key and string nullValue (task_test.go:1996-2081)") {
    val payload = Seq(
      "1700256261,dry,1", "1700256262,dry,2", "1700256262,wet,2",
      "1700256263,dry,3", "1700256264,dry,4", "1700256264,wet,4",
      "1700256265,wet,5", "1700256265,dry,5", "1700256266,dry,6",
      "1700256267,dry,7", "1700256268,dry,8", "1700256269,dry,9",
      "1700256276,dry,10").mkString("\n")
    val pm = Map("payload" -> Seq(payload))
    def g(timeType: String, valType: String, wetTail: String): String = runTrim(
      s"""CSV(payload(), field(0, $timeType("s"), "time"), field(2, $valType(), "value"))
         |GROUP(
         |  by( roundTime(value(0), "2s")),
         |  avg(value(2), where(value(1) == "dry"), "DRY"),
         |  last(value(2), where(value(1) == "wet"), $wetTail"WET") )
         |CSV(timeformat("s"), heading(true), precision(2))
         |""".stripMargin, 0L, pm)
    val plain =
      """GROUP,DRY,WET
        |1700256260,1.00,NULL
        |1700256262,2.50,2.00
        |1700256264,4.50,5.00
        |1700256266,6.50,NULL
        |1700256268,8.50,NULL
        |1700256276,10.00,NULL
        |""".stripMargin
    assert(g("datetimeType", "doubleType", "") == plain)
    assert(g("timeType", "floatType", "") == plain)
    assert(g("datetimeType", "doubleType", "nullValue(\"1\"), ") ==
      """GROUP,DRY,WET
        |1700256260,1.00,1
        |1700256262,2.50,2.00
        |1700256264,4.50,5.00
        |1700256266,6.50,1
        |1700256268,8.50,1
        |1700256276,10.00,1
        |""".stripMargin)
  }

  test("GROUP with no by(): aggregate-all single row (task_test.go:1926-1995)") {
    // weighted correlation
    val pCorr = Map("payload" -> Seq("8,10,2\n-3,5,1.5\n7,6,3\n8,3,3\n-4,-1,2"))
    val corr = runTrim(
      """CSV(payload(), field(0, doubleType(), "x"), field(1, doubleType(), "y"), field(2, doubleType(), "w"))
        |GROUP(correlation(value(0), value(1), weight(value(2)), "CORR") )
        |CSV(heading(true), precision(5))
        |""".stripMargin, 0L, pCorr)
    assert(corr == "CORR\n0.59915\n", corr)

    // weighted central moments
    val pMom = Map("payload" -> Seq("8,10,1\n-3,2,2\n7,2,3\n8,4,4\n-4,1,5"))
    val mom = runTrim(
      """CSV(payload(), field(0, doubleType(), "x"), field(1, doubleType(), "y1"), field(2, doubleType(), "y2"))
        |GROUP(
        |  moment(value(0), 2, weight(2.0), "N1"),
        |  moment(value(2), 2, weight(1.0), "N2"),
        |  moment(value(2), 1, "N3")
        |)
        |CSV(heading(true), precision(2))
        |""".stripMargin, 0L, pMom)
    assert(mom == "N1,N2,N3\n30.16,2.00,0.00\n", mom)

    // plain + weighted variance
    val pVar = Map("payload" -> Seq("8,2\n2,2\n-9,6\n15,7\n4,1"))
    val vr = runTrim(
      """CSV(payload(), field(0, doubleType(), "x"), field(1, doubleType(), "w") )
        |GROUP(
        |  variance(value(0), "VARIANCE"),
        |  variance(value(0), weight(value(1)), "VARIANCE-WEIGHTED")
        |)
        |CSV(heading(true), precision(4))
        |""".stripMargin, 0L, pVar)
    assert(vr == "VARIANCE,VARIANCE-WEIGHTED\n77.5000,111.7941\n", vr)
  }

  test("GROUP count() counts null values; numeric aggregators skip them (fm_monad.go:1433, push discards Append errors)") {
    val out = runTrim(
      """FAKE(json({[10.0], [null], [3.0]}))
        |GROUP(count(value(0), 'CNT'), avg(value(0), 'AVG'))
        |CSV(heading(true), precision(2))
        |""".stripMargin)
    assert(out == "CNT,AVG\n3.00,6.50\n", out)
  }

  test("CSV sink nullValue/substituteNull token; logProgress() tolerated (task_test.go:753-795)") {
    val nv = runTrim(
      """FAKE(json({ ["A", 123], ["B", null], ["C", 234] }))
        |CSV( nullValue("<NULL>") )
        |""".stripMargin)
    assert(nv == "A,123\nB,<NULL>\nC,234\n", nv)
    val sn = runTrim(
      """FAKE(json({ ["A", 123], ["B", null], ["C", 234] }))
        |CSV( substituteNull("<NULL>") )
        |""".stripMargin)
    assert(sn == "A,123\nB,<NULL>\nC,234\n", sn)
    val (lp, lpLog) = graft.tql.TqlLog.capture(runTrim(
      "CSV(\"1,line1\\n2,line2\\n3,\\n4,line4\", logProgress(2))\nCSV( heading(true) )\n"))
    assert(lp == "column0,column1\n1,line1\n2,line2\n3,\n4,line4\n", lp)
    // every 2nd row logs a grouped-count progress line (fm_csv.go:231)
    assert(lpLog.count(_.contains("Loading 2 records")) == 1, lpLog)
    assert(lpLog.count(_.contains("Loading 4 records")) == 1, lpLog)
  }

  test("logProgress() arg battery: default 500K, int cadence, non-int error (fm_csv_test.go:18-26)") {
    // no-arg default is 500,000 — far beyond 4 rows, so nothing logs
    val (_, defLog) = graft.tql.TqlLog.capture(runTrim(
      "CSV(\"1,a\\n2,b\\n3,c\\n4,d\", logProgress())\nCSV()\n"))
    assert(!defLog.exists(_.contains("Loading")), defLog)
    // grouped formatting at the 1,000 boundary
    assert(graft.tql.Compiler.csvProgressMsg(500000L) == "Loading 500,000 records")
    val e = intercept[IllegalArgumentException](runTrim(
      "CSV(\"1,a\\n2,b\", logProgress(\"bad\"))\nCSV()\n"))
    assert(e.getMessage == "f(printProgressCount) argument should be int")
  }

  test("context() is the node-context accessor: empty object value, arity-checked (fm_context.go:22)") {
    val out = runTrim("FAKE(once(1))\nMAPVALUE(0, context())\nJSON()\n")
    assert(out.contains("{}"), out) // NodeContext has no exported fields
    val e = intercept[IllegalArgumentException](runTrim(
      "FAKE(once(1))\nMAPVALUE(0, context(1))\nCSV()\n"))
    assert(e.getMessage == "f(context) invalid number of args; expect:0, actual:1")
  }

  test("HISTOGRAM bins() arity contract (fm_stat_test.go:25)") {
    val e = intercept[IllegalArgumentException](runTrim(
      "FAKE(linspace(0,10,11))\nHISTOGRAM(value(0), bins())\nCSV()\n"))
    assert(e.getMessage == "f(bins) invalid number of args; expected 1 or 3, got 0")
    val e2 = intercept[IllegalArgumentException](runTrim(
      "FAKE(linspace(0,10,11))\nHISTOGRAM(value(0), bins(1, 2))\nCSV()\n"))
    assert(e2.getMessage == "f(bins) invalid number of args; expected 1 or 3, got 2")
  }

  test("GROUP mode and weighted mode (task_test.go:1800-1827)") {
    val p = Map("payload" -> Seq("A,1.1\nA,1.1\nB,2.1\nB,2.2\nB,2.1\nC,3.1\nC,3.2\nC,3.3\nC,3.3"))
    val out = runTrim(
      """CSV(payload(), field(0, stringType(), "name"), field(1, doubleType(), "value"))
        |GROUP(by(value(0)), mode(value(1)), mode(value(1), weight(value(1))) )
        |CSV(heading(true), precision(2))
        |""".stripMargin, 0L, p)
    assert(out ==
      "GROUP,MODE,MODE\nA,1.10,1.10\nB,2.10,2.10\nC,3.30,3.30\n", out)
  }

  test("GROUP(by(time, timewindow)) causal per-agg fills (task_test.go:2083-2180)") {
    val payload = Seq(
      "1700256261,1", "1700256262,2", "1700256263,3", "1700256264,4",
      "1700256266,5", "1700256267,6", "1700256268,7", "1700256269,8",
      "1700256276,9").mkString("\n")
    def g(from: Long, until: Long, period: String, aggLines: String): String =
      runTrim(
        s"""CSV(payload(), field(0, datetimeType("s"), "time"), field(1, doubleType(), "value"))
           |GROUP( by( value(0), timewindow(
           |           time($from * 1000000000),
           |           time($until * 1000000000),
           |           period("$period"))),
           |$aggLines
           | )
           |CSV(timeformat("s"), heading(true), precision(2))
           |""".stripMargin, 0L, Map("payload" -> Seq(payload)))

    val out1 = g(1700256255L, 1700256282L, "2s",
      """      avg(value(1)),
        |      last(value(1), nullValue(0)),
        |      last(value(1), predict("linearregression"), "PREDICT"),
        |      last(value(1), predict("akimaspline"), nullValue(100), "PREDICT")""".stripMargin)
    assert(out1 ==
      """GROUP,AVG,LAST,PREDICT,PREDICT
        |1700256256,NULL,0.00,NULL,100.00
        |1700256258,NULL,0.00,NULL,100.00
        |1700256260,1.00,1.00,1.00,1.00
        |1700256262,2.50,3.00,3.00,3.00
        |1700256264,4.00,4.00,4.00,4.00
        |1700256266,5.50,6.00,6.00,6.00
        |1700256268,7.50,8.00,8.00,8.00
        |1700256270,NULL,0.00,9.50,8.00
        |1700256272,NULL,0.00,11.20,8.00
        |1700256274,NULL,0.00,12.90,8.00
        |1700256276,9.00,9.00,9.00,9.00
        |1700256278,NULL,0.00,11.17,9.00
        |1700256280,NULL,0.00,12.17,9.00
        |""".stripMargin, out1)

    val out2 = g(1700256255L, 1700256282L, "4s",
      """      avg(value(1)),
        |      sum(value(1)),
        |      last(value(1))""".stripMargin)
    assert(out2 ==
      """GROUP,AVG,SUM,LAST
        |1700256256,NULL,NULL,NULL
        |1700256260,2.00,6.00,3.00
        |1700256264,5.00,15.00,6.00
        |1700256268,7.50,15.00,8.00
        |1700256272,NULL,NULL,NULL
        |1700256276,9.00,9.00,9.00
        |1700256280,NULL,NULL,NULL
        |""".stripMargin, out2)

    // src data wider than the window: clipped to [from, until)
    val out3 = g(1700256262L, 1700256276L, "4s",
      """      avg(value(1)),
        |      sum(value(1)),
        |      last(value(1))""".stripMargin)
    assert(out3 ==
      """GROUP,AVG,SUM,LAST
        |1700256264,5.00,15.00,6.00
        |1700256268,7.50,15.00,8.00
        |1700256272,NULL,NULL,NULL
        |""".stripMargin, out3)
  }

  test("TIMEWINDOW aggregator battery with nullValue and predictors (task_test.go:2185-2411)") {
    val payload = Seq(
      "1700256261,1", "1700256262,2", "1700256263,3", "1700256264,4",
      "1700256265,5", "1700256266,6", "1700256267,7", "1700256268,8",
      "1700256269,9", "1700256276,10").mkString("\n")
    def tw(agg: String): String = runTrim(
      s"""CSV(payload(),
         |    field(0, datetimeType("s"), "time"),
         |    field(1, doubleType(), "value"))
         |TIMEWINDOW(
         |    time(1700256250 * 1000000000),
         |    time(1700256285 * 1000000000),
         |    period('5s'),
         |    nullValue(0),
         |    'time', '$agg')
         |CSV(timeformat("s"), heading(true), precision(2))
         |""".stripMargin, 0L, Map("payload" -> Seq(payload)))
    def expectVals(vs: String*): String =
      "time,value\n" + Seq("1700256250", "1700256255", "1700256260",
        "1700256265", "1700256270", "1700256275", "1700256280")
        .zip(vs).map { case (t, v) => s"$t,$v" }.mkString("", "\n", "\n")
    assert(tw("avg") == expectVals("0.00", "0.00", "2.50", "7.00", "0.00", "10.00", "0.00"))
    assert(tw("mean") == expectVals("0.00", "0.00", "2.50", "7.00", "0.00", "10.00", "0.00"))
    assert(tw("median") == expectVals("0.00", "0.00", "2.00", "7.00", "0.00", "10.00", "0.00"))
    assert(tw("median-interpolated") == expectVals("0.00", "0.00", "2.00", "6.50", "0.00", "10.00", "0.00"))
    assert(tw("stddev") == expectVals("0.00", "0.00", "1.29", "1.58", "0.00", "0.00", "0.00"))
    assert(tw("stderr") == expectVals("0.00", "0.00", "0.65", "0.71", "0.00", "0.00", "0.00"))
    assert(tw("entropy") == expectVals("0.00", "0.00", "-10.23", "-68.83", "0.00", "-23.03", "0.00"))
    assert(tw("sum") == expectVals("0.00", "0.00", "10.00", "35.00", "0.00", "10.00", "0.00"))
    assert(tw("first") == expectVals("0.00", "0.00", "1.00", "5.00", "0.00", "10.00", "0.00"))
    assert(tw("min") == expectVals("0.00", "0.00", "1.00", "5.00", "0.00", "10.00", "0.00"))
    assert(tw("last") == expectVals("0.00", "0.00", "4.00", "9.00", "0.00", "10.00", "0.00"))
    assert(tw("max") == expectVals("0.00", "0.00", "4.00", "9.00", "0.00", "10.00", "0.00"))
    assert(tw("rss") == expectVals("0.00", "0.00", "5.48", "15.97", "0.00", "10.00", "0.00"))
    assert(tw("rms") == expectVals("0.00", "0.00", "2.74", "7.14", "0.00", "10.00", "0.00"))
    assert(tw("rss:LinearRegression") == expectVals("7.60", "8.46", "5.48", "15.97", "11.06", "10.00", "12.79"))
    assert(tw("rss:PiecewiseConstant") == expectVals("5.48", "5.48", "5.48", "15.97", "10.00", "10.00", "10.00"))
    assert(tw("rss:PiecewiseLinear") == expectVals("5.48", "5.48", "5.48", "15.97", "12.98", "10.00", "10.00"))
  }

  test("TIMEWINDOW 1s grid over 1ms oscillator, first agg (task_test.go:2460)") {
    val tick = 1692329338315327000L
    val out = runTrim(
      """FAKE(
        |    oscillator(
        |      freq(15, 1.0), freq(24, 1.5),
        |      range('now', '10s', '1ms'))
        |  )
        |TIMEWINDOW(
        |    time('now'),
        |    time('now+10s'),
        |    period('1s'),
        |    'time', 'first')
        |CSV(timeformat("ns"), heading(true), precision(7))
        |""".stripMargin, tick)
    assert(out ==
      """time,value
        |1692329339000000000,0.1046705
        |1692329340000000000,0.1046637
        |1692329341000000000,0.1046874
        |1692329342000000000,0.1046806
        |1692329343000000000,0.1046738
        |1692329344000000000,0.1046670
        |1692329345000000000,0.1046906
        |1692329346000000000,0.1046838
        |1692329347000000000,0.1046770
        |1692329348000000000,0.1046702
        |""".stripMargin, out)
  }

  test("PUSHVALUE where() nulls the pushed cell (task_test.go:1343-1355)") {
    val out = run(
      """FAKE( linspace(0, 2, 3))
        |PUSHVALUE(1, value(0)*1.5, 'x1.5')
        |PUSHVALUE(2, value(1)+10, 'add', where(value(0) != 1.0 ))
        |CSV(precision(1), heading(true), rownum(false))
        |""".stripMargin)
    assert(out ==
      """x,x1.5,add
        |0.0,0.0,10.0
        |1.0,1.5,NULL
        |2.0,3.0,13.0
        |""".stripMargin, out)
  }

  test("MAPVALUE nullValue() fills null inputs (task_test.go:1446-1457)") {
    val out = run(
      "FAKE( json({[1],[null],[3]}) )\nMAPVALUE(0, value(0), nullValue(2))\nCSV()\n")
    assert(out == "1\n2\n3\n", out)
  }

  test("MAPVALUE where() keeps the original value when false (task_test.go:1459-1471)") {
    val out = run(
      """FAKE( json({[1],[null],[3]}) )
        |MAPVALUE(0, value(0), nullValue(2))
        |MAPVALUE(0, value(0) * 10, where( value(0) % 2 == 0) )
        |CSV()
        |""".stripMargin)
    assert(out == "1\n20\n3\n", out)
  }

  test("PUSHVALUE default column name is 'column' (fm_monad.go:1613)") {
    val out = run(
      "FAKE( linspace(0, 1, 2))\nPUSHVALUE(1, value(0)+1)\nCSV(precision(1), heading(true), rownum(false))\n")
    assert(out == "x,column\n0.0,1.0\n1.0,2.0\n", out)
  }
}
