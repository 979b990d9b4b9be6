package graft

import org.apache.spark.sql.functions._

class BetweenSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): Unit = {
    Seq(
      ("t1", 1000L, 1.0), ("t1", 2000L, 2.0), ("t1", 3000L, 3.0),
      ("t1", 4000L, 4.0), ("t2", 9000L, 9.0)
    ).toDF("name", "time", "value").createOrReplaceTempView("tag_tbl")
  }

  test("between(last-dur, last) resolves against the tag's max time") {
    mkTable()
    val out = runTrim(
      """SQL_SELECT('time', 'value', from('tag_tbl', 't1'), between('last-1us', 'last'))
        |CSV()
        |""".stripMargin)
    // t1 last=4000ns; window [3000, 4000]
    assert(out == "3000,3\n4000,4\n")
  }

  test("between('now-dur', 'now') resolves against the injected clock") {
    mkTable()
    val c = graft.tql.Compiler.compile(spark,
      """SQL_SELECT('time', 'value', from('tag_tbl', 't1'), between('now-1us', 'now'))
        |CSV()
        |""".stripMargin, nowNs = 3500L)
    val got = c.output.orderBy("time").as[(Long, Double)].collect()
    assert(got.toSeq == Seq((3000L, 3.0))) // [2500, 3500]
  }

  test("absolute ns bounds still work") {
    mkTable()
    val out = runTrim(
      """SQL_SELECT('time', 'value', from('tag_tbl', 't1'), between(1000, 2000), limit(5))
        |CSV()
        |""".stripMargin)
    assert(out == "1000,1\n2000,2\n")
  }

  test("between(a, b, period): time-bucket GROUP BY (fm_dbsrc.go:180-227)") {
    // 1-second buckets over µs-scale points: round(time/period)*period
    Seq(
      ("t1", 100000000L, 1.0), ("t1", 400000000L, 2.0), // → bucket 0
      ("t1", 700000000L, 3.0), ("t1", 1200000000L, 5.0), // → bucket 1e9
      ("t1", 2300000000L, 9.0) // → bucket 2e9
    ).toDF("name", "time", "value").createOrReplaceTempView("tag_p")
    val out = runTrim(
      """SQL_SELECT('time', 'avg(value)', from('tag_p', 't1'), between(0, 3000000000, '1s'))
        |CSV()
        |""".stripMargin)
    // half-up rounding: 700ms lands in the 1s bucket like machbase round()
    assert(out == "0,1.5\n1000000000,4\n2000000000,9\n", out)

    // a plain (non-aggregated) column keeps machbase's any-member pick
    val first = runTrim(
      """SQL_SELECT('time', 'value', from('tag_p', 't1'), between(0, 3000000000, '1s'), limit(0, 2))
        |CSV()
        |""".stripMargin)
    assert(first == "0,1\n1000000000,3\n", first)
  }
}
