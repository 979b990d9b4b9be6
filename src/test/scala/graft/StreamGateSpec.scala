package graft

import graft.queries.StreamRun
import org.apache.spark.sql.functions._

/** Pins the bounded-stream gate runner (`StreamRun.gate` / `run`):
  *  - lifetime: no memory-sink view stays in the session catalog and no
  *    checkpoint stays under the checkpoint root, after success, a
  *    throwing body or a failing stream; the returned frame still reads
  *    after its view is dropped;
  *  - parity: every `q_stream_*` gate whose oracle SQL is a batch
  *    builder's returns exactly that batch twin's rows. The pairs come
  *    from `SparkEntry.oracleSql` itself, so a new gate with a batch
  *    twin is checked without touching this spec. */
class StreamGateSpec extends SparkSpec {

  private def events = spark.read.parquet(s"$sf/events.parquet")

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def checkpoints(): Set[String] =
    Option(new java.io.File(StreamRun.ckRoot).list()).fold(Set.empty[String])(_.toSet)

  /** Run `body` and assert it left the catalog and checkpoint root as it
    * found them. */
  private def leavesNothing[A](body: => A): A = {
    val (views, cks) = (tempViews(), checkpoints())
    val a = body
    assert(tempViews() == views, "a memory-sink view was left behind")
    assert(checkpoints() == cks, "a gate checkpoint was left behind")
    a
  }

  test("gate drops its sink view and checkpoint; its frame still reads") {
    val out = leavesNothing {
      StreamRun.gate("gate_spec", events, "append") { src =>
        src.filter(col("user_id") < 5).select(col("event_id"), col("value"))
      }
    }
    assert(StreamRun.lastSplit.contains("gate_spec"))
    val want = events.filter(col("user_id") < 5).select("event_id", "value")
    assert(out.orderBy("event_id").collect().toSeq ==
      want.orderBy("event_id").collect().toSeq)
    assert(out.select("event_id").count() == want.count())
  }

  test("a throwing body leaves no view or checkpoint") {
    leavesNothing {
      intercept[IllegalStateException] {
        StreamRun.gate("gate_spec_body", events, "append") { _ =>
          throw new IllegalStateException("boom")
        }
      }
    }
  }

  test("a failing stream leaves no view or checkpoint") {
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException("boom"); id
    })
    val sc = spark.sparkContext
    sc.setLogLevel("OFF") // the failing tasks' ERROR lines are expected
    try leavesNothing {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamRun.gate("gate_spec_fail", events, "append") { src =>
          src.select(boom(col("event_id").cast("long")).as("id"))
        }
      }
    } finally sc.setLogLevel("WARN")
  }

  test("run checkpoints under the checkpoint root and deletes it after") {
    var ck = ""
    StreamRun.run("run_spec") { path =>
      ck = path
      graft.streaming.Watch.tail(spark, s"$sf/events.parquet", events.schema)
        .writeStream.format("noop")
        .option("checkpointLocation", path)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    assert(ck.startsWith(StreamRun.ckRoot + "/"), ck)
    assert(!new java.io.File(ck).exists(), ck)
    assert(StreamRun.lastSplit.contains("run_spec"))
  }

  private val parityPairs: Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    for {
      gate <- SparkEntry.queries.keys.toSeq.filter(_.startsWith("q_stream_")).sorted
      sql <- oracle.get(gate).toSeq
      twin <- oracle.collect {
        case (k, v) if v == sql && !k.startsWith("q_stream_") => k
      }.toSeq.sorted.headOption.toSeq
    } yield (gate, twin)
  }

  test("at least 8 stream gates share their oracle with a batch twin") {
    assert(parityPairs.size >= 8, parityPairs)
  }

  parityPairs.foreach { case (gate, twin) =>
    test(s"$gate returns the rows of its batch twin $twin") {
      val got = SparkEntry.queries(gate)(spark, sf)
      val want = SparkEntry.queries(twin)(spark, sf)
      assert(got.schema.fieldNames.toSeq == want.schema.fieldNames.toSeq)
      assert(got.collect().toSeq == want.collect().toSeq)
    }
  }
}
