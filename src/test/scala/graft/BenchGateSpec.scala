package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH_CANONICAL.json acceptance rule (r17 verdict §3: a
  * pristine-but-SLOWER run must not clobber the faster committed
  * record; r18 adds the total gate). Pure-function spec — no Spark. */
class BenchGateSpec extends AnyFunSuite {
  test("accepts a pristine faster record") {
    assert(Bench.canonAccept(drift = 1.00, sfMatches = true, cpusMatch = true,
      prevTotal = Some(150.0), total = 120.0))
  }
  test("accepts within the 2% tolerance") {
    assert(Bench.canonAccept(1.02, sfMatches = true, cpusMatch = true, Some(100.0), 101.9))
  }
  test("rejects a pristine but slower record (the r17 hole)") {
    assert(!Bench.canonAccept(0.97, sfMatches = true, cpusMatch = true, Some(149.67), 156.0))
  }
  test("rejects drifted runs regardless of speed") {
    assert(!Bench.canonAccept(1.20, sfMatches = true, cpusMatch = true, Some(150.0), 100.0))
    assert(!Bench.canonAccept(0.80, sfMatches = true, cpusMatch = true, Some(150.0), 100.0))
  }
  test("rejects an sf mismatch even when fast and quiet") {
    assert(!Bench.canonAccept(1.00, sfMatches = false, cpusMatch = true, Some(150.0), 10.0))
  }
  test("no existing canonical: pristineness alone gates") {
    assert(Bench.canonAccept(1.00, sfMatches = true, cpusMatch = true, None, 999.0))
    assert(!Bench.canonAccept(1.30, sfMatches = true, cpusMatch = true, None, 1.0))
  }
  test("rejects a record with any failed query, however fast and quiet") {
    assert(!Bench.canonAccept(1.00, sfMatches = true, cpusMatch = true, Some(150.0), 100.0,
      failed = Seq("q_pagerank")))
    assert(!Bench.canonAccept(1.00, sfMatches = true, cpusMatch = true, None, 1.0,
      failed = Seq("q_a", "q_b")))
  }
  test("a 4-core record cannot replace a 32-core canonical") {
    val canon = """{"metric":"total","value":126.36,"failed":[],"sf":"/data/sf0.1","cpus":32}"""
    assert(Bench.recordCpus(canon).contains(32))
    assert(Bench.sameShape(canon, "/data/sf0.1", cpus = 32))
    assert(!Bench.sameShape(canon, "/data/sf0.1", cpus = 4))
    // quiet, same sf and 2.4x faster: refused on the core count alone
    assert(!Bench.canonAccept(1.00, sfMatches = true,
      cpusMatch = Bench.recordCpus(canon).contains(4), Some(126.36), 52.59))
    // a canonical that names no core count is never replaced or compared
    val bare = """{"metric":"total","value":126.36,"sf":"/data/sf0.1"}"""
    assert(Bench.recordCpus(bare).isEmpty)
    assert(!Bench.sameShape(bare, "/data/sf0.1", cpus = 32))
  }
  test("compact queries hold only queries; the drop count comes back on its own") {
    val byCost = (1 to 60).map(i => f"q_query_$i%02d" -> (100.0 / i + 0.0004))
    val (all, none) = Bench.compactQueries(byCost, budget = 10000)
    assert(none == 0 && all.count(_ == ':') == 60 && all.contains("\"query_01\":100"))
    val (qs, qdrop) = Bench.compactQueries(byCost, budget = 400)
    assert(qs.length <= 400 && qdrop > 0)
    assert(!qs.contains("qdrop"), qs)
    val keys = "\"([^\"]+)\":".r.findAllMatchIn(qs).map(_.group(1)).toSeq
    assert(keys == byCost.take(60 - qdrop).map(_._1.stripPrefix("q_")), qs)
  }

  test("the full record carries the table catalog's resolve and reuse counts") {
    val j = Bench.tablesJson(graft.core.Tables.Counts(resolved = 10, reused = 2070))
    assert(j == """{"resolved":10,"reused":2070}""")
  }

  test("the full record carries the sweep's codegen compile count and time") {
    val j = Bench.codegenJson(graft.core.Codegen.Counts(compiles = 126, nanos = 661250000L))
    assert(j == """{"compiles":126,"ms":661.3}""")
    assert(Bench.codegenJson(graft.core.Codegen.Counts(0, 0)) == """{"compiles":0,"ms":0.0}""")
  }
}
