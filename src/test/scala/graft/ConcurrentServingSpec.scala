package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import graft.server.{HttpLoop, QueryDoor, TagTables}

/** The `/db` doors under concurrent clients: the server runs exchanges on
  * a bounded pool (`HttpLoop.newPool`), each in its own Spark job group,
  * and tag-table writers serialize per table while readers plan over
  * snapshots. */
class ConcurrentServingSpec extends SparkSpec {

  private lazy val port = {
    val dir = s"${new java.io.File(sf).getParent}/sf0.01"
    Seq("events", "orders", "lineitem").foreach(t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"cs_$t"))
    HttpLoop.ensureServer(spark)
  }

  private val T0Ns = 1700000000000000000L
  private val SecNs = 1000000000L
  private val ElapseRe = "\"elapse\":\"[^\"]*\"".r

  private def createTagTable(t: String): Unit = QueryDoor.execute(spark,
    s"create tag table $t (name varchar(80) primary key, time datetime basetime, value double summarized)")

  /** status, `Content-Encoding` and body (gunzipped, `elapse` blanked) */
  private case class Reply(status: Int, encoding: String, body: String)

  private def call(method: String, pathQuery: String, body: String = "",
                   readTimeoutMs: Int = 60000): Reply = {
    val c = new java.net.URI(s"http://127.0.0.1:$port$pathQuery").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      c.setReadTimeout(readTimeoutMs)
      c.setRequestMethod(method)
      if (body.nonEmpty) {
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "text/plain")
        c.getOutputStream.write(body.getBytes("UTF-8")); c.getOutputStream.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val raw = if (in == null) Array.emptyByteArray else in.readAllBytes()
      val enc = Option(c.getHeaderField("Content-Encoding")).getOrElse("")
      val bytes =
        if (enc == "gzip")
          new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes()
        else raw
      Reply(code, enc, ElapseRe.replaceAllIn(new String(bytes, "UTF-8"), "\"elapse\":\"\""))
    } finally c.disconnect()
  }

  private def query(sql: String, params: String = "format=json"): Reply =
    call("GET", s"/db/query?q=${java.net.URLEncoder.encode(sql, "UTF-8")}&$params")

  /** Run `work(i)` for i in 0 until n on `threads` threads; rethrows the
    * first failure. */
  private def parallel[A](threads: Int, n: Int)(work: Int => A): Vector[A] = {
    val out = new Array[Any](n)
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map(_ => new Thread(() =>
      try {
        var i = next.getAndIncrement()
        while (i < n) { out(i) = work(i); i = next.getAndIncrement() }
      } catch { case e: Throwable => errors.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join(180000))
    errors.asScala.headOption.foreach(e => throw e)
    out.toVector.asInstanceOf[Vector[A]]
  }

  test("8 concurrent clients get the sequential reply for every request") {
    createTagTable("cs_tags")
    TagTables.insertAll(spark, "cs_tags", Seq("NAME", "TIME", "VALUE"),
      Iterator.tabulate(2000)(i => Seq(s"m${i % 4}.f0", T0Ns + i * SecNs, (i % 97) * 0.25)))
    def tql(script: String): () => Reply = () => call("POST", "/db/tql", script)
    val requests: Vector[() => Reply] =
      Seq(3, 17, 42, 99, 256, 511, 700, 999).map(k => () => query(
        s"select event_id, user_id, event_type, value from cs_events where event_id = $k")).toVector ++
      Seq(1993, 1996, 1998).map(y => () => query(
        "select month(o_orderdate) as m, count(*) as n from cs_orders " +
          s"where year(o_orderdate) = $y group by month(o_orderdate) order by m", "format=csv")) ++
      Seq(5, 11, 23).map(u => tql(
        s"SQL('SELECT ts, value FROM cs_events WHERE user_id = $u ORDER BY ts')\n" +
          "MAP_MOVAVG(1, value(1), 5)\nCSV()\n")) ++
      Seq((0, 100L, 600L), (1, 250L, 1900L), (3, 0L, 2000L)).map { case (m, lo, hi) => tql(
        s"QUERY('value', from('cs_tags', 'm$m.f0'), between(${T0Ns + lo * SecNs}, ${T0Ns + hi * SecNs}))\nCSV()\n")
      } ++
      Seq(0, 1).map(_ => () => query(
        "select l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag from cs_lineitem " +
          "order by l_orderkey, l_linenumber limit 8000", "format=csv")) ++
      Seq(0, 1).map(_ => () => query(
        "select o_orderkey, o_totalprice from cs_orders order by o_orderkey limit 500",
        "format=csv&compress=gzip"))
    val sequential = requests.map(_())
    sequential.foreach(r => assert(r.status == 200, r))
    assert(sequential.last.encoding == "gzip")
    assert(sequential(requests.size - 3).body.count(_ == '\n') >= 8000)
    val order = (requests.indices ++ requests.indices).toVector
    val concurrent = parallel(8, order.size)(i => order(i) -> requests(order(i))())
    concurrent.foreach { case (i, r) =>
      assert(r == sequential(i), s"request $i: ${r.body.take(300)}")
    }
  }

  test("tag-table writers beside readers lose no rows and readers get no 500") {
    createTagTable("cs_race")
    val rounds = 25
    val perRound = 2000
    val writing = new AtomicBoolean(true)
    val failures = new ConcurrentLinkedQueue[String]()
    // the two writers start each round together, and the insertAll rows
    // arrive slowly: without a writer lock the /metrics/write batch
    // lands inside the insertAll append
    val round = new CyclicBarrier(2)
    val httpWriter = new Thread(() => (0 until rounds).foreach { b =>
      round.await(60, TimeUnit.SECONDS)
      val lines = (0 until perRound).map(l =>
        s"h,host=a f=${b + l} ${T0Ns + (b * perRound + l) * SecNs}").mkString("\n")
      val r = call("POST", "/metrics/write?db=cs_race", lines)
      if (r.status != 204) failures.add(s"write $b: $r")
    })
    val insertWriter = new Thread(() => (0 until rounds).foreach { b =>
      round.await(60, TimeUnit.SECONDS)
      try TagTables.insertAll(spark, "cs_race", Seq("NAME", "TIME", "VALUE"),
        Iterator.tabulate(perRound) { l =>
          java.util.concurrent.locks.LockSupport.parkNanos(20000)
          Seq("i.f", T0Ns + (b * perRound + l) * SecNs, 1.0)
        })
      catch { case e: Exception => failures.add(s"insertAll $b: $e") }
    })
    // writers only append, so each reader must see the count never fall:
    // a refresh that registers an older snapshot over a newer one would
    val readers = (0 until 2).map(_ => new Thread(() => {
      var seen = 0L
      while (writing.get()) {
        val r = query("select count(*) as n from cs_race", "format=csv&heading=false")
        if (r.status != 200) failures.add(s"read: $r")
        else {
          val n = r.body.trim.toLong
          if (n < seen) failures.add(s"read: count fell from $seen to $n")
          seen = n
        }
      }
    }))
    readers.foreach(_.start())
    Seq(httpWriter, insertWriter).foreach(_.start())
    Seq(httpWriter, insertWriter).foreach(_.join(180000))
    writing.set(false)
    readers.foreach(_.join(60000))
    assert(failures.isEmpty, failures.asScala.take(5).mkString("\n"))
    val written = 2L * rounds * perRound
    assert(TagTables.rowCount("cs_race") == written)
    assert(spark.sql("select count(*) from cs_race").head.getLong(0) == written)
    assert(query("select count(*) as n from cs_race", "format=csv&heading=false").body.trim ==
      written.toString)
  }

  test("a pooled worker carries no job group after its request") {
    assert(port > 0)
    val n = HttpLoop.pool.getMaximumPoolSize
    // n requests that meet at a barrier hold all n workers at once, so
    // each worker thread serves one of them
    val gate = new CyclicBarrier(n)
    HttpLoop.handle("/cs/hold") { (_, _, _, _) =>
      gate.await(30, TimeUnit.SECONDS)
      val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      (200, "text/plain", String.valueOf(group).getBytes("UTF-8"))
    }
    val groups = parallel(n, n)(_ => call("GET", "/cs/hold"))
    groups.foreach(r => assert(r.status == 200 && r.body.startsWith("http-"), r))
    assert(groups.map(_.body).distinct.size == n)
    // afterwards n probes at a barrier land on the same n workers
    val probe = new CyclicBarrier(n)
    val seen = (0 until n).map(_ => HttpLoop.pool.submit(() => {
      probe.await(30, TimeUnit.SECONDS)
      (Thread.currentThread().getName,
        Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id")))
    })).map(_.get(60, TimeUnit.SECONDS))
    assert(seen.map(_._1).distinct.size == n)
    assert(seen.forall(_._2.isEmpty), seen)
  }

  test("a saturated tiny pool answers every request (caller-runs overflow)") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val pool = HttpLoop.newPool(1, 1)
    val srv = HttpServer.create(new java.net.InetSocketAddress(
      java.net.InetAddress.getLoopbackAddress, 0), 0)
    val servedBy = new ConcurrentLinkedQueue[String]()
    srv.createContext("/slow", (ex: HttpExchange) => {
      servedBy.add(Thread.currentThread().getName)
      Thread.sleep(30)
      val body = "ok".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    srv.setExecutor(pool)
    srv.start()
    try {
      val codes = parallel(8, 40) { _ =>
        val c = new java.net.URI(s"http://127.0.0.1:${srv.getAddress.getPort}/slow").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try { c.setReadTimeout(30000); c.getResponseCode } finally c.disconnect()
      }
      assert(codes.size == 40 && codes.forall(c => c >= 200 && c < 300), codes)
      assert(servedBy.asScala.exists(!_.startsWith("graft-http-")),
        "no exchange overflowed to the dispatcher")
    } finally { srv.stop(0); pool.shutdownNow() }
  }

  test("a /db/tql HTTP() source calling back into /db/query answers") {
    val sql = "select o_orderkey, o_totalprice from cs_orders order by o_orderkey limit 3"
    val direct = query(sql, "format=csv")
    assert(direct.status == 200)
    val script =
      s"""HTTP({
         |  GET http://127.0.0.1:$port/db/query
         |  ?q=$sql
         |  &format=csv
         |})
         |TEXT()
         |""".stripMargin
    val t0 = System.nanoTime()
    val nested = call("POST", "/db/tql", script, readTimeoutMs = 25000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(nested.status == 200, nested)
    assert(nested.body.startsWith("HTTP/1.1 200 OK"), nested.body.take(300))
    assert(nested.body.contains(direct.body.trim), nested.body)
    assert(secs < 20, s"nested call took $secs s")
  }
}
