package graft

import graft.core.PlanShape

/** graft.Profile's report: the `best=` line keeps the format
  * dev/bench_sf1.sh parses, the shape line is PlanShape's, and the
  * job and streaming lines appear. */
class ProfileSpec extends SparkSpec {
  private val names = Seq("q_group_basic", "q_stream_avg")

  private lazy val lines: Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    Profile.run(spark, sf, 1, names, out += _)
    out.toSeq
  }

  test("best= lines match the regex dev/bench_sf1.sh parses them with") {
    val script = java.nio.file.Files.readString(
      java.nio.file.Paths.get("dev/bench_sf1.sh"))
    val regex = "re\\.search\\(r\"([^\"]*best=[^\"]*)\"".r
      .findFirstMatchIn(script).map(_.group(1).r)
      .getOrElse(fail("no best= regex in dev/bench_sf1.sh"))
    val timed = lines.flatMap(l => regex.findFirstMatchIn(l).map(_.group(1)))
    assert(timed == names, lines.mkString("\n"))
  }

  test("the shape line is PlanShape.of the same builder") {
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.toRdd.count()
      val at = lines.indexWhere(_.startsWith(name + " "))
      assert(lines(at + 1) == s"  shape ${PlanShape.of(df).json}", lines.mkString("\n"))
    }
  }

  test("a jobs line per query and a stream split line for the streaming gate") {
    assert(lines.count(_.matches("  jobs=[1-9]\\d* stages=\\d+ tasks=\\d+")) == names.size,
      lines.mkString("\n"))
    assert(lines.exists(_.matches("  stream q_stream_avg fixed=[\\d.]+ kernel=[\\d.]+")),
      lines.mkString("\n"))
    assert(lines.exists(_.matches("  batch \\d+: rows=\\d+ durationMs=.*addBatch=\\d+.*")),
      lines.mkString("\n"))
  }

  test("an unknown query name fails before anything runs, listing the known ones") {
    val e = intercept[IllegalArgumentException] {
      Profile.run(spark, sf, 1, Seq("q_group_basic", "q_no_such"), _ => fail("ran"))
    }
    assert(e.getMessage.contains("q_no_such"))
    SparkEntry.queries.keys.foreach(k => assert(e.getMessage.contains(k), k))
  }
}
