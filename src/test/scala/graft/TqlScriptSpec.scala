package graft

import java.nio.file.{Files, Paths}
import graft.tql.Tql

/** SCRIPT("js") inside TQL pipelines — the reference's own test cases from
  * mods/tql/fm_script_test.go reproduced verbatim (expected CSV/JSON
  * literals copied from the Go test expectations; the js-fft golden reads
  * the shipped fft2d.csv fixture at test time).
  */
class TqlScriptSpec extends SparkSpec {
  private val NOW = 1700000000000000000L

  private def normalize(s: String): String = s.stripLineEnd + "\n"

  test("js-finalize: per-record square + finalize yieldKey (fm_script_test.go:34-48)") {
    val out = runTrim(
      """FAKE( linspace(1,3,3))
        |SCRIPT("js", {
        |  function finalize(){ $.yieldKey("last", 1.234); }
        |  function square(x) { return x * x };
        |  $.yield(square($.values[0]));
        |})
        |CSV(header(false))
        |""".stripMargin)
    assert(normalize(out) == "1\n4\n9\n1.234\n")
  }

  test("js-timeformat: epoch seconds → ISO (fm_script_test.go:49-60)") {
    val out = runTrim(
      """STRING(param("format_time") ?? "808210800", separator('\n'))
        |SCRIPT("js", {
        |  epoch = parseInt($.values[0])
        |  time = new Date(epoch * 1000)
        |  $.yield(epoch, time.toISOString())
        |})
        |CSV()
        |""".stripMargin)
    assert(normalize(out) == "808210800,1995-08-12T07:00:00.000Z\n")
  }

  test("js-timeformat-parse: ISO → epoch (fm_script_test.go:61-72)") {
    val out = runTrim(
      """STRING(param("timestamp") ?? "1995-08-12T00:00:00.000Z", separator('\n'))
        |SCRIPT("js", {
        |  ts = new Date( Date.parse($.values[0]) );
        |  epoch = ts / 1000;
        |  $.yield(epoch, ts.toISOString());
        |})
        |CSV()
        |""".stripMargin)
    assert(normalize(out) == "808185600,1995-08-12T00:00:00.000Z\n")
  }

  test("js-yieldArray-string: envelope keeps input-node columns (fm_script_test.go:73-88)") {
    val out = runTrim(
      """STRING('1,2,3,4,5', separator('\n'))
        |SCRIPT("js", {
        |  $.yieldArray($.values[0].split(','))
        |})
        |JSON()
        |""".stripMargin)
    assert(out.contains(""""columns":["STRING"]"""), out)
    assert(out.contains(""""types":["string"]"""), out)
    assert(out.contains(""""rows":[["1","2","3","4","5"]]"""), out)
  }

  test("js-yieldArray-bool (fm_script_test.go:89-104)") {
    val out = runTrim(
      """STRING('true,true,false,true,false', separator('\n'))
        |SCRIPT("js", {
        |  $.yieldArray($.values[0].split(',').map(function(v){ return v === 'true'}))
        |})
        |JSON()
        |""".stripMargin)
    assert(out.contains(""""rows":[[true,true,false,true,false]]"""), out)
  }

  test("js-yieldArray-number (fm_script_test.go:105-120)") {
    val out = runTrim(
      """STRING('1.2,2.3,3.4,5.6', separator('\n'))
        |SCRIPT("js", {
        |  $.yieldArray($.values[0].split(',').map( (v) => { return parseFloat(v) }))
        |})
        |JSON()
        |""".stripMargin)
    assert(out.contains(""""rows":[[1.2,2.3,3.4,5.6]]"""), out)
  }

  test("js-yieldArray-number-int64 (fm_script_test.go:121-136)") {
    val out = runTrim(
      """STRING('1,2,3,4,5', separator('\n'))
        |SCRIPT("js", {
        |  $.yieldArray($.values[0].split(',').map( (v) => { return parseInt(v) }))
        |})
        |JSON()
        |""".stripMargin)
    assert(out.contains(""""rows":[[1,2,3,4,5]]"""), out)
  }

  test("js-yieldArray-number-mixed: $.result declares columns (fm_script_test.go:137-156)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  $.result = {
        |    columns: ["a", "b", "c", "d"],
        |    types: ["int64", "double", "string", "bool"]
        |  };
        |  var arr = [1, 2.3, '3.4', true];
        |  $.yield(...arr);
        |})
        |JSON()
        |""".stripMargin)
    assert(out.contains(""""columns":["a","b","c","d"]"""), out)
    assert(out.contains(""""types":["int64","double","string","bool"]"""), out)
    assert(out.contains(""""rows":[[1,2.3,"3.4",true]]"""), out)
  }

  test("js-yield-object: any-typed object rows, sorted keys (fm_script_test.go:177-193)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  $.yield({name:"John", age: 30, flag: true});
        |  $.yield({name:"Jane", age: 25, flag: false});
        |})
        |JSON(rowsFlatten(true))
        |""".stripMargin)
    assert(out.contains(""""columns":["column0"]"""), out)
    assert(out.contains(""""types":["any"]"""), out)
    assert(out.contains("""{"age":30,"flag":true,"name":"John"}"""), out)
    assert(out.contains("""{"age":25,"flag":false,"name":"Jane"}"""), out)
  }

  test("js-payload-csv: $.payload in source mode (fm_script_test.go:235-246)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  $.payload.split(",").forEach((v) => {
        |    $.yield(parseInt(v));
        |  });
        |})
        |CSV()
        |""".stripMargin, NOW, Map("payload" -> Seq("1,2,3,4,5")))
    assert(normalize(out) == "1\n2\n3\n4\n5\n")
  }

  test("js-params: multi-valued request params (fm_script_test.go:269-280)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  var1 = $.params.p1;
        |  var2 = $.params["p2"];
        |  $.yield(...var1, var2);
        |})
        |CSV()
        |""".stripMargin, NOW, Map("p1" -> Seq("1", "2"), "p2" -> Seq("abc")))
    assert(normalize(out) == "1,2,abc\n")
  }

  test("js-set-value: $.inflight().set feeds MAPVALUE($var) (fm_script_test.go:406-422)") {
    val out = runTrim(
      """FAKE( linspace(1,2,1))
        |SCRIPT("js", {
        |  $.inflight().set("key1", 123);
        |  $.inflight().set("key2", "abc");
        |  $.yield("");
        |})
        |MAPVALUE(0, $key1)
        |MAPVALUE(1, $key2)
        |CSV()
        |""".stripMargin)
    assert(normalize(out) == "123,abc\n")
  }

  test("js-get-value: SET vars visible via $.inflight().get (fm_script_test.go:423-435)") {
    val out = runTrim(
      """FAKE( linspace(1,2,1))
        |SET(key1, 123)
        |SET(key2, "abc")
        |SCRIPT("js", {
        |  $.yield($.inflight().get("key1"), $.inflight().get("key2"));
        |})
        |CSV()
        |""".stripMargin)
    assert(normalize(out) == "123,abc\n")
  }

  test("js-fft: mathx.fft golden vs the shipped fft2d.csv (fm_script_test.go:471-495)") {
    val expected = normalize(new String(Files.readAllBytes(
      Paths.get("/root/reference/mods/tql/test/fft2d.csv")), "UTF-8"))
    val out = runTrim(
      """FAKE( oscillator( range(timeAdd(1685714509*1000000000,'1s'), '1s', '100us'), freq(10, 1.0), freq(50, 2.0)))
        |SCRIPT("js", {
        |  m = require("mathx");
        |  times = [];
        |  values = [];
        |}, {
        |  times.push($.values[0]);
        |  values.push($.values[1]);
        |}, {
        |  result = m.fft(times, values);
        |  for( i = 0; i < result.length; i++ ) {
        |    if (result[i][0] > 60)
        |      break
        |    $.yield(result[i][0], result[i][1])
        |  }
        |})
        |CSV(precision(6))
        |""".stripMargin)
    assert(normalize(out) == expected)
  }

  test("js-fft-not-enough-samples: linspace x-values are not times (fm_script_test.go:496-523)") {
    val out = runTrim(
      """FAKE( linspace(0, 10, 100) )
        |SCRIPT("js", {
        |  m = require("mathx");
        |  times = [];
        |  values = [];
        |}, {
        |  times.push($.values[0]);
        |  values.push($.values[1]);
        |}, {
        |  try{
        |    result = m.fft(times, values);
        |    for( i = 0; i < result.length; i++ ) {
        |      if (result[i][0] > 60)
        |        break
        |      $.yield(result[i][0], result[i][1])
        |    }
        |  } catch (e) {
        |    console.error(e.message);
        |  }
        |})
        |CSV()
        |""".stripMargin)
    assert(normalize(out) == "\n")
  }

  test("js-exception: catch object member errors (fm_script_test.go:611-638)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  o = {a: 1, other: ()=>{throw "other error";}};
        |  o.a++;
        |  $.yield(o.a)
        |  try {
        |    o.undef_function();
        |  } catch (e) {
        |    console.error(e.message);
        |  }
        |  try {
        |    o.other();
        |  } catch (e) {
        |    console.error(e);
        |  }
        |})
        |CSV()
        |""".stripMargin)
    assert(normalize(out) == "2\n")
  }

  test("js-console-log + DISCARD (fm_script_test.go:18-33)") {
    val out = runTrim(
      """SCRIPT("js", "console.log('Hello, World!'); console.println('Hi Everyone!');")
        |DISCARD()
        |""".stripMargin)
    assert(out.isEmpty || out.trim.isEmpty)
  }

  test("js-array-template: TEXT sink with .Value n (fm_script_test.go:532-546)") {
    val out = runTrim(
      """SCRIPT({
        |  $.yield(1, 2, 3);
        |  $.yield(4, 5, 6);
        |})
        |TEXT('{{- .Value 0 }},{{ .Value 1 }},{{ .Value 2 }}{{"\n"}}')
        |""".stripMargin)
    assert(out == "1,2,3\n4,5,6\n")
  }

  test("js-obj-template: with .V over inferred column names (fm_script_test.go:547-563)") {
    val out = runTrim(
      """SCRIPT({
        |  $.yield("John", 30);
        |  $.yield("Jane", 25);
        |})
        |TEXT({
        |  {{- with .V -}}
        |    {{ .column0 }}:{{ .column1 }}{{"\n"}}
        |  {{- end -}}
        |})
        |""".stripMargin)
    assert(out == "John:30\nJane:25\n")
  }

  test("js-obj-template: with .V over $.result names (fm_script_test.go:564-584)") {
    val out = runTrim(
      """SCRIPT({
        |  $.result = {
        |    columns: ["name", "age"],
        |    types: ["string", "int64"]
        |  };
        |  $.yield("John", 30);
        |  $.yield("Jane", 25);
        |})
        |TEXT({
        |  {{- with .V -}}
        |    {{ .name }}:{{ .age }}{{"\n"}}
        |  {{- end -}}
        |})
        |""".stripMargin)
    assert(out == "John:30\nJane:25\n")
  }

  test("js-obj-template: object value member access (fm_script_test.go:585-601)") {
    val out = runTrim(
      """SCRIPT({
        |  $.yield({name: "John", age: 30});
        |  $.yield({name: "Jane", age: 25});
        |})
        |TEXT({
        |  {{- with .Value 0 -}}
        |    {{ .name }}:{{ .age }}{{"\n"}}
        |  {{- end -}}
        |})
        |""".stripMargin)
    assert(out == "John:30\nJane:25\n")
  }

  test("script_src: yieldKey loop as source (tql_test.go:1990-2002)") {
    val out = runTrim(
      """SCRIPT({
        |  for (i = 0; i < 10; i++) {
        |    $.yieldKey("test", i, i*10)
        |  }
        |})
        |CSV()
        |""".stripMargin)
    assert(out == (0 until 10).map(i => s"$i,${i * 10}").mkString("", "\n", "\n"))
  }

  test("script_src_map: SCRIPT chained into SCRIPT (tql_test.go:2004-2019)") {
    val out = runTrim(
      """SCRIPT({
        |  a = 10*2+1
        |  // comment
        |
        |  $.yield(a)
        |})
        |SCRIPT({
        |  a = $.values[0];
        |  $.yield(a+1, 2, 3, 4)
        |})
        |CSV()
        |""".stripMargin)
    assert(out == "22,2,3,4\n")
  }

  test("script_2: $.key after MAPKEY + absent params (tql_test.go:2021-2041)") {
    val out = runTrim(
      """FAKE( linspace(1,2,2))
        |MAPKEY("hello")
        |SCRIPT("js", {
        |  c = 0;
        |  if ($.params.temp !== undefined) {
        |    c = $.params.temp;
        |  }
        |  $.yield($.key, $.values[0], c)
        |})
        |MAPVALUE(0, value(0), "key")
        |MAPVALUE(1, value(1), "value")
        |MAPVALUE(2, value(2), "parameter")
        |CSV(header(true))
        |""".stripMargin)
    assert(out == "key,value,parameter\nhello,1,0\nhello,2,0\n", out)
  }

  test("CSV_file and CSV_file_gz: untyped file with DROP/TAKE (tql_test.go:1231-1258)") {
    val iris = "/root/reference/mods/tql/test/iris.data"
    // gzip a copy for the gz variant
    val gz = tempFile("iris", ".data.gz")
    val os = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    os.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(iris)))
    os.close()
    Seq(iris, gz.toString).foreach { path =>
      val out = runTrim(
        s"""CSV(file('$path'))
           |DROP(10)
           |TAKE(2)
           |CSV()
           |""".stripMargin)
      assert(out == "5.4,3.7,1.5,0.2,Iris-setosa\n4.8,3.4,1.6,0.2,Iris-setosa\n", s"$path: $out")
    }
    // untyped files name their columns column0..N (JSON envelope case)
    val env = runTrim(
      s"""CSV(file('$iris'))
         |DROP(10)
         |TAKE(2)
         |JSON()
         |""".stripMargin)
    assert(env.contains(""""columns":["column0","column1","column2","column3","column4"]"""), env)
    assert(env.contains("""["5.4","3.7","1.5","0.2","Iris-setosa"]"""), env)
  }

  test("distributed mapScript: per-partition execution with declared schema") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000).toDF("n").repartition(8)
    val outSchema = StructType(Seq(
      StructField("n2", LongType), StructField("label", StringType)))
    val out = graft.script.ScriptOps.mapScript(df, outSchema,
      "count = 0;",
      "count++; $.yield($.values[0] * 2, 'x' + ($.values[0] % 7));",
      "", NOW)
    assert(out.count() == 1000L)
    assert(out.agg(sum("n2")).head.getLong(0) == 999000L)
    // executor-side: the plan must not collect to the driver
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("mapPartitions") || plan.contains("MapPartitions"), plan)
  }

  test("heredoc SCRIPT body: unbalanced brace in a JS string (tqlreader_test.go)") {
    // {<<JS … JS} protects content the brace/paren counters would trip on
    val out = runTrim(
      """SCRIPT({<<JS
        |  // this is a function returning '{'
        |  function a () { return '{' };
        |  $.yield(a() + ')', 1);
        |JS})
        |CSV()
        |""".stripMargin)
    assert(out == "{),1\n", out)
  }

  test("heredoc MARKDOWN body: # and // lines are content, not comments") {
    val out = runTrim(
      """FAKE( linspace(1, 1, 1) )
        |MARKDOWN({<<EOF
        |# this is not a comment but a title
        |// this is not a comment either
        |EOF})
        |""".stripMargin)
    assert(out.contains("# this is not a comment but a title"), out)
    assert(out.contains("// this is not a comment either"), out)
  }
}
