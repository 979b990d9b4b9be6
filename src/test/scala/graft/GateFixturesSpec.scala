package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** What gate queries leave on disk: file fixtures stay inside one dir per
  * JVM, and a fixture built once per key is built once also when several
  * builders ask for it at the same time. */
class GateFixturesSpec extends SparkSpec {
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  private def entries(prefix: String): Set[String] = {
    val l = Files.list(tmp)
    try l.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet
    finally l.close()
  }

  test("file-source TQL gates write each fixture once, inside their per-JVM dir") {
    val before = entries("graft_gate_")
    def build(): Unit = Seq("q_tql_csvfile", "q_tql_string_src").foreach(q =>
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q))
    def fixtures: Long = {
      val l = Files.list(graft.queries.TqlQueries.fixtureDir)
      try l.count() finally l.close()
    }
    build()
    val written = fixtures
    build()
    assert(fixtures == written)
    assert(entries("graft_gate_") == before)
  }

  test("four concurrent builders of one rollup tier write one tier dir") {
    // a fresh raw path is a fresh key of the per-JVM tier cache
    val dir = tempDir("graft_once")
    Files.copy(Paths.get(sf, "events.parquet"), Paths.get(dir, "events.parquet"))
    val q = SparkEntry.queries("q_rollup_routed")
    val before = entries("graft_route")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val results = pool.invokeAll((1 to 4).map(_ =>
        (() => q(spark, dir).collect().toSeq): Callable[Seq[org.apache.spark.sql.Row]]).asJava)
      val rows = results.asScala.map(_.get(5, TimeUnit.MINUTES)).toSeq
      assert(rows.distinct.size == 1 && rows.head.nonEmpty)
    } finally pool.shutdownNow()
    assert((entries("graft_route") -- before).size == 1)
  }
}
