package graft

import java.nio.file.Files

class Tql3Spec extends SparkSpec {
  import spark.implicits._

  test("TRANSPOSE statement unpivots non-fixed values") {
    val out = runTrim(
      """FAKE(linspace(1, 2, 2))
        |MAPVALUE(1, value(0) * 10, 'tens')
        |MAPVALUE(2, value(0) * 100, 'hundreds')
        |TRANSPOSE(fixed(0))
        |CSV(header())
        |""".stripMargin)
    // reference TRANSPOSE renames output columns positionally and drops
    // the melted-name column unless header(true) is given
    assert(out ==
      "column0,column1\n1,10\n1,100\n2,20\n2,200\n")
  }

  test("HISTOGRAM statement bins values with empty bins") {
    val out = runTrim(
      """FAKE(linspace(0, 9, 10))
        |HISTOGRAM(value(0), bins(0, 10, 2.5))
        |CSV(header())
        |""".stripMargin)
    assert(out ==
      "low,high,count\n0,2.5,3\n2.5,5,2\n5,7.5,3\n7.5,10,2\n")
  }

  test("CSV file source with typed pipeline end-to-end") {
    val f = tempFile("graft_tql", ".csv")
    Files.writeString(f, "alpha,1,10.5\nbeta,2,20.25\ngamma,3,30.125\n")
    val out = runTrim(
      s"""CSV(file('${f.toString}'))
         |FILTER(parseFloat(value(2)) > 15)
         |MAPVALUE(1, parseFloat(value(1)) * 100, 'scaled')
         |CSV()
         |""".stripMargin)
    assert(out == "beta,200,20.25\ngamma,300,30.125\n")
  }

  test("GROUP(timewindow) synthesizes buckets with fills") {
    Seq((5L, 10.0), (15L, 20.0), (45L, 50.0))
      .toDF("t", "v").createOrReplaceTempView("tw_src")
    val out = runTrim(
      """SQL('SELECT t, v FROM tw_src')
        |GROUP(timewindow(0, 60, 10), avg(value(1), 'avg_v'), nullValue(-1))
        |CSV(header())
        |""".stripMargin)
    assert(out ==
      "time,avg_v\n0,10\n10,20\n20,-1\n30,-1\n40,50\n50,-1\n")
    val pwc = runTrim(
      """SQL('SELECT t, v FROM tw_src')
        |GROUP(timewindow(0, 60, 10), avg(value(1), 'avg_v'), predict('piecewiseconstant'))
        |CSV()
        |""".stripMargin)
    // right-continuous step: gaps 20/30 take the NEXT knot (50); the
    // trailing gap holds the last observation
    assert(pwc == "0,10\n10,20\n20,50\n30,50\n40,50\n50,50\n")
  }

  test("param() binds request parameters into the pipeline") {
    val c = graft.tql.Compiler.compile(spark,
      """FAKE(linspace(1, 5, 5))
        |FILTER(value(0) >= parseFloat(param('threshold')))
        |MAPVALUE(1, param('label'), 'tag')
        |CSV()
        |""".stripMargin, params = Map("threshold" -> Seq("3"), "label" -> Seq("prod")))
    val out = trimClose(graft.sinks.Codecs.render(c.output, "CSV"))
    assert(out == "3,prod\n4,prod\n5,prod\n")
  }

  test("STRING source with payload ?? literal, MAPVALUE(-1) prepend, key()") {
    val out = trimClose(graft.sinks.Codecs.render(graft.tql.Compiler.compile(spark,
      """STRING(payload() ?? ` 123
        |       456
        |    `, separator('\n'), trimspace(true))
        |FILTER( len(value(0)) > 0 )
        |MAPVALUE(-1, 'text_' + key())
        |CSV()
        |""".stripMargin).output, "CSV"))
    assert(out == "text_1,123\ntext_2,456\n")
    // payload param overrides the literal
    val out2 = trimClose(graft.sinks.Codecs.render(graft.tql.Compiler.compile(spark,
      """STRING(payload() ?? `zzz`, separator('\n'))
        |CSV()
        |""".stripMargin, params = Map("payload" -> Seq("a\nb"))).output, "CSV"))
    assert(out2 == "a\nb\n")
  }

  test("BYTES source: binary chunks with separator, label BYTES") {
    val c = graft.tql.Compiler.compile(spark,
      """BYTES('ab;cd;ef', separator(';'))
        |CSV()
        |""".stripMargin)
    assert(c.pipe.values == Seq("BYTES"))
    assert(c.output.schema.fields.head.dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(c.output.collect().map(r =>
      new String(r.getAs[Array[Byte]](0), "UTF-8")).toSeq == Seq("ab", "cd", "ef"))
  }

  test("STRING source reads file() content") {
    val f = tempFile("graft_str", ".txt")
    java.nio.file.Files.writeString(f, "l1\nl2\nl3")
    val out = runTrim(
      s"""STRING(file('$f'), separator('\\n'))
         |CSV()
         |""".stripMargin)
    assert(out == "l1\nl2\nl3\n")
  }

  test("ARGS source binds the args request param") {
    val out = runTrim(
      """ARGS()
        |CSV()
        |""".stripMargin, 0L, Map("args" -> Seq("10", "abc")))
    assert(out == "10,abc\n")
  }

  test("JSON sink through TQL emits the envelope") {
    val out = runTrim(
      """FAKE(linspace(1, 2, 2))
        |JSON()
        |""".stripMargin)
    assert(out.startsWith("""{"data":{"columns":["x"]"""))
    // default JSON float = 'f' 6-decimals, zeros trimmed (float.go:23-36)
    assert(out.contains(""""rows":[[1],[2]]"""))
  }
}
