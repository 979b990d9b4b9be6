package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.core.Codegen

/** Each generated class is compiled once per JVM: a repeat of identical
  * work compiles no new class (counted with Spark's `CodegenMetrics`). */
class CodegenReuseSpec extends SparkSpec {
  private def compiles(body: => Unit): Long = {
    // the first reading loads Spark's code generator, which fixes its
    // cache bound from the active session: start the session first
    spark
    val c0 = Codegen.counts
    body
    (Codegen.counts - c0).compiles
  }

  test("a second pass over more than 100 query shapes compiles no class") {
    // k projected columns make k distinct generated classes: more than
    // Spark's default cache bound of 100, which a cyclic pass evicts
    // entry by entry before reusing it
    val shapes = (1 to 110).map(k => () =>
      spark.range(8).select((1 to k).map(j => (col("id") * j).as(s"c$j")): _*)
        .queryExecution.toRdd.count())
    val first = compiles(shapes.foreach(_()))
    assert(first > 100, s"first pass compiled only $first classes")
    val second = compiles(shapes.foreach(_()))
    assert(second == 0, s"second pass compiled $second classes")
  }

  test("a second identical StreamRun.gate run compiles no class") {
    val q = SparkEntry.queries("q_stream_avg")
    val rows = q(spark, sf).collect().toSeq
    var again: Seq[Row] = Nil
    val n = compiles { again = q(spark, sf).collect().toSeq }
    assert(n == 0, s"the repeat stream run compiled $n classes")
    assert(again == rows && rows.nonEmpty)
  }
}
