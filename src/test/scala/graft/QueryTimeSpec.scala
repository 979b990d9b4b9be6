package graft

import org.apache.spark.sql.functions._

/** QUERY() renders TIME the way the SQL door does, whether the table
  * keeps TIME as LONG epoch ns or as a TIMESTAMP (every tag table does):
  * the same rows through `QUERY(...) CSV()` and `SQL(...) CSV()` give
  * the same TIME cells. */
class QueryTimeSpec extends SparkSpec {
  import spark.implicits._

  // µs-aligned ns: a TIMESTAMP holds µs, so both encodings are exact
  private val rows = Seq(("t1", 1700000141000000000L, 1.5),
    ("t1", 1700000142123456000L, 2.5), ("t2", 1700000143000000000L, 9.0))

  private def timeCells(csv: String): Seq[String] =
    trimClose(csv).split("\n").toSeq.filter(_.nonEmpty).map(_.split(",")(0))

  private def assertSameTime(view: String): Unit = {
    val viaQuery = timeCells(graft.tql.Compiler.run(spark,
      s"QUERY('VALUE', from('$view', 't1'), between(1700000140000000000, 1700000150000000000))\nCSV()\n"))
    val viaSql = timeCells(graft.tql.Compiler.run(spark,
      s"""SQL("select TIME, VALUE from $view where name = 't1' order by TIME")\nCSV()\n"""))
    assert(viaQuery == Seq("1700000141000000000", "1700000142123456000"), viaQuery)
    assert(viaQuery == viaSql, s"QUERY $viaQuery vs SQL $viaSql")
  }

  test("QUERY TIME cells equal the SQL door's over a LONG-time table") {
    rows.toDF("name", "TIME", "VALUE").createOrReplaceTempView("qt_long")
    try assertSameTime("qt_long")
    finally spark.catalog.dropTempView("qt_long")
  }

  test("QUERY TIME cells equal the SQL door's over a TIMESTAMP-time table") {
    rows.toDF("name", "TIME", "VALUE")
      .withColumn("TIME", expr("timestamp_micros(TIME div 1000)"))
      .createOrReplaceTempView("qt_ts")
    try assertSameTime("qt_ts")
    finally spark.catalog.dropTempView("qt_ts")
  }
}
