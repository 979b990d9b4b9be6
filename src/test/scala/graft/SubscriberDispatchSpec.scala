package graft

import graft.scheduler.Timers
import graft.streaming.Subscribers
import graft.streaming.Subscribers.{Dispatcher, FileQueue, WriteDescriptor}
import graft.server.{QueryDoor, TagTables}

/** Subscriber message dispatch (sched_subs.go) over a file queue, the
  * write-path descriptor grammar (mods/util/writepath.go + its tests),
  * and the THROTTLE pacing kernel. */
class SubscriberDispatchSpec extends SparkSpec {

  // ---- writepath parity (writepath_test.go) -----------------------------

  test("ParseWritePath: table[:format[:compress]]") {
    assert(Subscribers.parseWritePath("table_1")
      == Right(Subscribers.WritePath("TABLE_1", "", "")))
    assert(Subscribers.parseWritePath("table_1:csv")
      == Right(Subscribers.WritePath("TABLE_1", "csv", "")))
    assert(Subscribers.parseWritePath("table_1:json")
      == Right(Subscribers.WritePath("TABLE_1", "json", "")))
    assert(Subscribers.parseWritePath("table_1:csv:GZIP")
      == Right(Subscribers.WritePath("TABLE_1", "csv", "gzip")))
  }

  test("WriteDescriptor: tql vs db destinations with query params") {
    assert(Subscribers.writeDescriptor("db/abc.tql")
      == Right(WriteDescriptor(tqlPath = "db/abc.tql")))
    assert(Subscribers.writeDescriptor("/test.tql?timeformat=ms")
      == Right(WriteDescriptor(tqlPath = "/test.tql", timeformat = "ms")))
    assert(Subscribers.writeDescriptor("/project/test.tql?timeformat=Default&tz=KST&heading=true")
      == Right(WriteDescriptor(tqlPath = "/project/test.tql",
        timeformat = "Default", tz = "KST", heading = true)))
    assert(Subscribers.writeDescriptor("db/write/example")
      == Right(WriteDescriptor(method = "insert", table = "EXAMPLE", format = "json")))
    assert(Subscribers.writeDescriptor("db/append/example:csv:gzip?timeformat=Kitchen&tz=Local&heading=true")
      == Right(WriteDescriptor(method = "append", table = "EXAMPLE",
        format = "csv", compress = "gzip", timeformat = "Kitchen",
        tz = "Local", heading = true)))
    assert(Subscribers.writeDescriptor("files/report.txt")
      == Left("unsupported destination 'files/report.txt'"))
    assert(Subscribers.writeDescriptor("db/write/t:parquet")
      == Left("unsupported format 'parquet'"))
    assert(Subscribers.writeDescriptor("db/write/t:csv:zip")
      == Left("unsupported compression 'zip'"))
  }

  // ---- file-queue dispatch ------------------------------------------------

  private def tmpQueue(): java.nio.file.Path =
    java.nio.file.Paths.get(tempDir("graft_subq"))

  test("db/write destination ingests each message payload") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table sub_sink (name varchar(40) primary key, time datetime basetime, value double summarized)")
    val svc = new Timers.Service(() => spark, (_: String) => Left("unused"))
    svc.register(Timers.ScheduleDef("sub_w", "subscriber", autoStart = false,
      task = "db/write/sub_sink", bridge = "q", topic = "sensor/#"))
    val ent = svc.getEntry("sub_w").get.asInstanceOf[Timers.BaseEntry]
    val disp = new Dispatcher(spark, (_: String) => Left("unused"), ent, "db/write/sub_sink")

    val q = new FileQueue(tmpQueue())
    q.publish("sensor/a",
      """{"data":{"columns":["name","time","value"],"rows":[["s.1",1705291859,1.5]]}}""")
    q.publish("sensor/b",
      """{"data":{"columns":["name","time","value"],"rows":[["s.2",1705291860,2.5],["s.3",1705291861,3.5]]}}""")
    // the write door's "s" timeformat is a param, like ?timeformat=s
    val disp2 = new Dispatcher(spark, (_: String) => Left("unused"), ent,
      "db/write/sub_sink?timeformat=s")
    val reasons = q.drain(disp2)
    assert(reasons.forall(_.success), reasons)
    assert(reasons.map(_.reason) ==
      // scheduler subscriber reply shape (sched_subs.go:479-484):
      // humanized count + singular/plural, NOT the write doors' envelope
      Seq("1 record inserted", "2 records inserted"))
    assert(spark.table("sub_sink").count() == 3)
    TagTables.resetDynamicForTest(spark)
  }

  test("tql destination runs per message with TOPIC/payload params") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table sub_tql (name varchar(40) primary key, time datetime basetime, value double summarized)")
    val script =
      """CSV(payload(), header(false),
        |  field(0, stringType(), "name"),
        |  field(1, datetimeType("s"), "time"),
        |  field(2, doubleType(), "value"))
        |SET topic = param('TOPIC')
        |MAPVALUE(0, strSprintf('%s.%s', $topic, value(0)), 'name')
        |INSERT('name', 'time', 'value', table('sub_tql'))
        |""".stripMargin
    val loader: Timers.TqlLoader = (_: String) => Right(script)
    val svc = new Timers.Service(() => spark, loader)
    svc.register(Timers.ScheduleDef("sub_t", "subscriber", autoStart = false,
      task = "ingest.tql", bridge = "q", topic = "t/#"))
    val ent = svc.getEntry("sub_t").get.asInstanceOf[Timers.BaseEntry]
    val disp = new Dispatcher(spark, loader, ent, "ingest.tql")

    val q = new FileQueue(tmpQueue())
    q.publish("t/x", "a,1705291859,0.5\nb,1705291860,0.7")
    q.publish("t/y", "c,1705291861,0.9")
    val reasons = q.drain(disp)
    assert(reasons.forall(_.success), reasons)
    val names = spark.table("sub_tql").collect().map(_.getString(0)).sorted
    assert(names.toSeq == Seq("t/x.a", "t/x.b", "t/y.c"))
    TagTables.resetDynamicForTest(spark)
  }

  test("a tql task's time('now') is the wall clock in epoch ns") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table sub_now (name varchar(40) primary key, time datetime basetime, value double summarized)")
    val script =
      """CSV(payload(), header(false),
        |  field(0, stringType(), "name"),
        |  field(1, datetimeType("s"), "time"),
        |  field(2, doubleType(), "value"))
        |MAPVALUE(1, time('now'))
        |INSERT('name', 'time', 'value', table('sub_now'))
        |""".stripMargin
    val loader: Timers.TqlLoader = (_: String) => Right(script)
    val svc = new Timers.Service(() => spark, loader)
    svc.register(Timers.ScheduleDef("sub_now", "subscriber", autoStart = false,
      task = "now.tql", bridge = "q", topic = "t"))
    val ent = svc.getEntry("sub_now").get.asInstanceOf[Timers.BaseEntry]
    val disp = new Dispatcher(spark, loader, ent, "now.tql")
    val before = System.currentTimeMillis() * 1000000L
    val r = disp.dispatchNats("t", "n,1,0.5".getBytes("UTF-8"))
    val after = System.currentTimeMillis() * 1000000L
    assert(r.success, r)
    val now = spark.sql("SELECT to_timestamp(time) FROM sub_now").collect().head.getLong(0)
    assert(now >= before - 5000000000L && now <= after + 5000000000L, (before, now, after))
    TagTables.resetDynamicForTest(spark)
  }

  test("tql load failure fails then stops the entry (sched_subs doTql)") {
    val loader: Timers.TqlLoader = (_: String) => Left("load failed")
    val svc = new Timers.Service(() => spark, loader)
    svc.register(Timers.ScheduleDef("sub_f", "subscriber", autoStart = false,
      task = "missing.tql", bridge = "q", topic = "t"))
    val ent = svc.getEntry("sub_f").get.asInstanceOf[Timers.BaseEntry]
    val disp = new Dispatcher(spark, loader, ent, "missing.tql")
    val r = disp.dispatchMqtt("t", "x".getBytes, 7, dup = true, retain = false)
    assert(!r.success && r.reason == "load failed")
    assert(ent.status == Timers.State.Stop)
    assert(ent.error.contains("load failed"))
  }

  // ---- THROTTLE pacing -----------------------------------------------------

  test("paced iterator spaces records at 1/tps with an injectable clock") {
    var clock = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Subscribers.paced(Iterator(1, 2, 3, 4), tps = 2.0,
      nowNs = () => clock,
      sleepNs = ns => { sleeps += ns; clock += ns }).toList
    assert(out == List(1, 2, 3, 4))
    // first record free, then one 500ms gap per record
    assert(sleeps.toSeq == Seq(500000000L, 500000000L, 500000000L))

    // slow consumer: no sleeping when already behind schedule
    clock = 0L; sleeps.clear()
    val out2 = Subscribers.paced(Iterator(1, 2), tps = 1000.0,
      nowNs = () => { clock += 10000000L; clock }, // 10ms per pull
      sleepNs = ns => sleeps += ns).toList
    assert(out2 == List(1, 2) && sleeps.isEmpty)

    intercept[IllegalArgumentException](Subscribers.paced(Iterator(1), 0.0))
  }
}
