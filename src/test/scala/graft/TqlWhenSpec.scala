package graft

import graft.tql.TqlLog

/** WHEN(cond, doLog|do(sub-routine)) — the reference's TestDiscardSink and
  * sub-routine cases (task_test.go:702-750, 1590-1620) with their exact
  * ExpectLog lines. */
class TqlWhenSpec extends SparkSpec {

  test("WHEN doLog fires per matching record (task_test.go:702-727)") {
    val (_, logs) = TqlLog.capture {
      runTrim(
        """CSV("1,line-1\n2,line-2\n3,line-3")
          |MAPVALUE(0, parseFloat(value(0)))
          |WHEN(
          |  value(0) == 2 &&
          |  strHasPrefix( strToUpper(value(1)), "LINE-") &&
          |  strHasSuffix(value(1), "-2"),
          |  do(value(0), strToUpper(value(1)), {
          |    ARGS()
          |    WHEN(true, doLog("OUTPUT:", value(0), strToLower(value(1)) ))
          |    CSV()
          |  })
          |)
          |DISCARD()
          |""".stripMargin)
    }
    assert(logs.contains("[WARN] do: CSV() sink does not work in a sub-routine"), logs)
    assert(logs.contains("[INFO] OUTPUT: 2 line-2"), logs)
  }

  test("WHEN do() sub-routine over json source (task_test.go:728-750)") {
    val (_, logs) = TqlLog.capture {
      runTrim(
        """FAKE( json({
          |  [ 1, "hello" ],
          |  [ 2, "you" ],
          |  [ 3, "world" ],
          |  [ 4, "there" ]
          |}))
          |WHEN(
          |  mod(value(0), 2) == 0,
          |  do( value(0), strToUpper(value(1)), {
          |    ARGS()
          |    WHEN( true, doLog("OUTPUT:", value(0), value(1)))
          |    DISCARD()
          |  })
          |)
          |CSV()
          |""".stripMargin)
    }
    assert(logs.contains("[INFO] OUTPUT: 2 YOU"), logs)
    assert(logs.contains("[INFO] OUTPUT: 4 THERE"), logs)
  }

  test("WHEN do('name', …) with args(i) and FAKE(args()) (task_test.go:1590-1620)") {
    val (_, logs) = TqlLog.capture {
      runTrim(
        """FAKE( linspace(0, 1, 2) )
          |WHEN( mod(value(0),2) == 1, do("test", value(0), {
          |  ARGS() // some comment
          |  WHEN(true, doLog("MSG", args(0), args(1), "hi") ) // some comment
          |  DISCARD() // some comment
          |} )) // some comment
          |DISCARD() // some comment
          |""".stripMargin)
    }
    assert(logs.contains("[INFO] MSG test 1 hi"), logs)

    val (_, logs2) = TqlLog.capture {
      runTrim(
        """FAKE( linspace(0, 1, 2) )
          |WHEN( mod(value(0),2) == 1, do("test", value(0), {
          |  FAKE( args() )
          |  WHEN(true, doLog("MSG", args(0), args(1), "hi") )
          |  DISCARD()
          |} ))
          |DISCARD()
          |""".stripMargin)
    }
    assert(logs2.contains("[INFO] MSG test 1 hi"), logs2)
  }

  test("WHEN doLog runs off the driver: foreachPartition action, capped sample") {
    import scala.collection.mutable.ArrayBuffer
    val events = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        events.add((funcName, qe.executedPlan.toString))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 2500 matching records, cap 1000: the driver re-emits the capped
      // sample plus one suppression warning — nothing data-sized collects
      val (_, logs) = TqlLog.capture {
        runTrim(
          """FAKE( linspace(1, 2500, 2500) )
            |WHEN( value(0) > 0, doLog("L", value(0)) )
            |DISCARD()
            |""".stripMargin)
      }
      val infos = logs.filter(_.startsWith("[INFO] L "))
      assert(infos.length == 1000, infos.length)
      // stream order survives the (partition, seq) re-sort
      assert(infos.take(3) == Seq("[INFO] L 1", "[INFO] L 2", "[INFO] L 3"), infos.take(3))
      assert(logs.exists(_.contains("1500 further lines suppressed")), logs.lastOption)

      // the WHEN action surfaced as a foreachPartition query execution
      // whose physical plan has no CollectLimit/CollectTail
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
        val snap = ArrayBuffer.empty[(String, String)]
        events.forEach((e: (String, String)) => { snap += e; () })
        val whenRuns = snap.filter { case (fn, plan) =>
          fn == "foreachPartition" && plan.contains("2500")
        }
        assert(whenRuns.nonEmpty, snap.map(_._1))
        whenRuns.foreach { case (_, plan) =>
          assert(!plan.contains("CollectLimit") && !plan.contains("CollectTail"), plan)
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("pragma log-level=warn suppresses INFO console output (tql_test.go:2744-2767)") {
    val (out, logs) = TqlLog.capture {
      runTrim(
        """#pragma log-level=warn
          |FAKE( linspace(1, 5, 5))
          |SCRIPT("js", { console.log("-", $.values[0]); $.yield($.values[0]) })
          |JSON()
          |""".stripMargin)
    }
    assert(out.contains(""""success":true"""), out)
    assert(out.contains(""""rows":[[1],[2],[3],[4],[5]]"""), out)
    assert(logs.isEmpty, logs)
  }

  test("//+ log-level comment pragma form (tql_pragma_test.go TestPragma2)") {
    val (_, logs) = TqlLog.capture {
      runTrim(
        """//+ log-level=error sql-thread-lock
          |FAKE( linspace(1, 2, 2))
          |SCRIPT("js", { console.log("line", $.values[0]); $.yield($.values[0]) })
          |DISCARD()
          |""".stripMargin)
    }
    assert(logs.isEmpty, logs)
  }

  test("SCRIPT console output is captured in the task log (fm_script_test.go:18-33)") {
    val (_, logs) = TqlLog.capture {
      runTrim(
        """SCRIPT("js", "console.log('Hello, World!'); console.println('Hi Everyone!');")
          |DISCARD()
          |""".stripMargin)
    }
    assert(logs == Seq("[INFO] Hello, World!", "[INFO] Hi Everyone!"), logs)
  }
}
