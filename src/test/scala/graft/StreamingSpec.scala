package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Watch

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Drain a TTL-armed AvailableNow query and stop it: armed
    * processing-time timers keep the trigger loop alive after the data
    * batches commit, so the query never self-terminates —
    * `awaitTermination(t)` would burn its full timeout and leave the
    * run active (the next restart on the same checkpoint then
    * force-stops it with InterruptedException ERROR noise). Poll the
    * parquet sink for the expected row count instead, then stop. */
  private def awaitRowsAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
                               outPath: String, n: Long): Unit = {
    def count() =
      scala.util.Try(spark.read.parquet(outPath).count()).getOrElse(0L)
    val deadline = System.currentTimeMillis + 60000
    while (count() < n && System.currentTimeMillis < deadline)
      Thread.sleep(150)
    stopQuietly(q)
    assert(count() >= n, s"sink $outPath never reached $n rows")
  }

  test("watch tail streams newly appended rows (reference watch semantics)") {
    val dir = tempDir("graft_watch")
    val out = tempDir("graft_watch_out")
    val ck = tempDir("graft_ck")
    // initial file
    Seq(("t1", 1L, 1.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def runOnce(): Unit = {
      val q = Watch.appendWriter(Watch.tail(spark, dir, schema), out, ck, 1000L)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 1L)
    // append more rows → the next incremental pass (same checkpoint) picks
    // up ONLY the new file — exactly the reference's tail semantics
    Seq(("t2", 2L, 2.0), ("t3", 3L, 3.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    runOnce()
    assert(spark.read.parquet(out).count() == 3L)
  }

  test("tailEvents yields appended batches through the SSE iterator") {
    val dir = tempDir("graft_sse")
    val ck = tempDir("graft_sse_ck")
    Seq(("t1", 1L, 1.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val handle = Watch.tailEvents(spark, dir, schema, ck)
    try {
      // batching depends on trigger timing under load — drain events until
      // all appended rows arrived; each row must arrive exactly once
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      seen ++= handle.events.next().map(_.getString(0))
      Seq(("t2", 2L, 2.0), ("t3", 3L, 3.0)).toDF("name", "time", "value")
        .write.mode("append").parquet(dir)
      while (seen.size < 3) seen ++= handle.events.next().map(_.getString(0))
      assert(seen.sorted == Seq("t1", "t2", "t3"), seen)
    } finally handle.stop()
  }

  test("dedupWithin drops re-sent (name, time) rows inside the window (TAG_DUPLICATE_CHECK_DURATION)") {
    val dir = tempDir("graft_dup")
    val out = tempDir("graft_dup_out")
    val ck = tempDir("graft_dup_ck")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    // duplicates within one batch AND across files
    Seq(("t1", ts(0), 1.0), ("t1", ts(0), 1.0), ("t2", ts(1), 2.0))
      .toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    Seq(("t1", ts(0), 9.9), ("t2", ts(2), 2.5)) // t1@0 re-sent, t2@2 new
      .toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = Watch.dedupWithin(
      Watch.tail(spark, dir, schema), "name", "time", "10 minutes")
    val q = Watch.appendWriter(stream, out, ck, 1000L)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
      .select("name", "time").as[(String, java.sql.Timestamp)]
      .collect().toSet
    assert(got == Set(("t1", ts(0)), ("t2", ts(1)), ("t2", ts(2))), got)
  }

  test("dedupWithin re-admits a duplicate once the check DURATION has passed") {
    val dir = tempDir("graft_dup2")
    val out = tempDir("graft_dup2_out")
    val ck = tempDir("graft_dup2_ck")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    def runAvailable(): Unit = {
      val schema = spark.read.parquet(dir).schema
      val stream = Watch.dedupWithin(
        Watch.tail(spark, dir, schema), "name", "time", "2 seconds")
      val q = Watch.appendWriter(stream, out, ck, 1000L)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    // arrival 1: t1@0 admitted, dedup state opens
    Seq(("t1", ts(0), 1.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    runAvailable()
    // > duration later, another arrival advances the processing-time
    // watermark past t1's state; a second arrival then runs the eviction
    // with that advanced watermark (state cleanup lags one batch)
    Thread.sleep(4000)
    Seq(("t9", ts(1), 9.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    runAvailable()
    Seq(("t8", ts(2), 8.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    runAvailable()
    // ...so the same historical (name, time) re-sent now is re-admitted
    // (the check window is a DURATION of arrival time, not forever — and
    // an old timestamp must not be discarded as "late")
    Seq(("t1", ts(0), 2.0)).toDF("name", "time", "value")
      .write.mode("append").parquet(dir)
    runAvailable()
    val got = spark.read.parquet(out).filter($"name" === "t1").count()
    assert(got == 2L, s"expected re-admission after window expiry, got $got rows")
  }

  test("curated stream gates quality, dedups content, scrubs PII") {
    import graft.streaming.CuratedStream
    val dir = tempDir("graft_cur")
    val out = tempDir("graft_cur_out")
    val ck = tempDir("graft_cur_ck")
    Seq(
      (1L, "a good document with enough distinct words to pass easily today"),
      (2L, "too short"),
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (4L, "mail me at alice@example.com about the nine extra tokens here"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def runOnce(): Unit = {
      val cur = CuratedStream.curateAndScrub(
        Watch.tail(spark, dir, schema), "text",
        minTokens = 5, maxTokens = 100, maxDupWordFrac = 0.5, dedupWindow = "10 minutes")
      val q = Watch.appendWriter(cur, out, ck, 1000L)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    val first = spark.read.parquet(out)
    assert(first.count() == 2L, first.collect().mkString)
    assert(first.filter($"doc_id" === 4L).select("text").as[String].head()
      .contains("mail me at <EMAIL> about"), "pii scrubbed")
    // duplicate content (doc 1's text) re-sent within the window → dropped;
    // a genuinely new doc passes
    Seq(
      (5L, "a good document with enough distinct words to pass easily today"),
      (6L, "another brand new document carrying its own set of words"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    runOnce()
    val ids = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 4L, 6L), ids.toSeq)
  }

  test("streaming FILTER_CHANGED carries suppressed-value state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val out = graft.streaming.StatefulOps.filterChangedStream(
      in.toDF.toDF("name", "time", "value"))
    val q = out.writeStream.format("memory").queryName("fc_stream")
      .outputMode("append").start()
    try {
      in.addData(("a", ts(1), 1.0), ("a", ts(2), 1.0), ("a", ts(3), 2.0), ("b", ts(1), 5.0))
      q.processAllAvailable()
      // batch 2 re-sends the LAST EMITTED values — a lag() window would
      // re-admit them; the group state must suppress them
      in.addData(("a", ts(4), 2.0), ("a", ts(5), 3.0), ("b", ts(2), 5.0), ("b", ts(3), 6.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT name, time, value FROM fc_stream")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).sortBy(t => (t._1, t._2.getTime))
      assert(got.toSeq == Seq(
        ("a", ts(1), 1.0), ("a", ts(3), 2.0), ("a", ts(5), 3.0),
        ("b", ts(1), 5.0), ("b", ts(3), 6.0)), got.toSeq)
    } finally stopQuietly(q)
  }

  test("streaming MAP_LOWPASS: EMA register survives the batch edge (fm_monad_test.go values)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val out = graft.streaming.StatefulOps.lowpassStream(
      in.toDF.toDF("name", "time", "value"), alpha = 0.25)
    val q = out.writeStream.format("memory").queryName("lp_stream")
      .outputMode("append").start()
    try {
      in.addData(("k", ts(1), 10.0), ("k", ts(2), 14.0)) // 10.0 then 11.0
      q.processAllAvailable()
      in.addData(("k", ts(3), 15.0)) // (0.75*11 + 0.25*15) = 12.0
      q.processAllAvailable()
      val got = spark.sql("SELECT value FROM lp_stream ORDER BY time")
        .collect().map(_.getDouble(0))
      assert(got.toSeq == Seq(10.0, 11.0, 12.0), got.toSeq)
      val e = intercept[IllegalArgumentException](
        graft.streaming.StatefulOps.lowpassStream(
          in.toDF.toDF("name", "time", "value"), alpha = 1.0))
      assert(e.getMessage == "MAP_LOWPASS() should have 0 < alpha < 1 ")
    } finally stopQuietly(q)
  }

  test("streaming MAP_DIFF/MOVAVG/KALMAN recurrences match across batch edges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)

    // diff: prev-value register crosses the batch edge; first emits null
    val in1 = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q1 = graft.streaming.StatefulOps.diffStream(in1.toDF.toDF("name", "time", "value"))
      .writeStream.format("memory").queryName("d_stream").outputMode("append").start()
    try {
      in1.addData(("a", ts(1), 1.0), ("a", ts(2), 3.0))
      q1.processAllAvailable()
      in1.addData(("a", ts(3), 6.0), ("a", ts(4), 2.0))
      q1.processAllAvailable()
      val got = spark.sql("SELECT value FROM d_stream ORDER BY time")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(got.toSeq == Seq(None, Some(2.0), Some(3.0), Some(-4.0)), got.toSeq)
    } finally q1.stop()

    // movavg(3): the window buffer is state; warm-up nulls, then trailing mean
    val in2 = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q2 = graft.streaming.StatefulOps.movavgStream(
      in2.toDF.toDF("name", "time", "value"), window = 3)
      .writeStream.format("memory").queryName("m_stream").outputMode("append").start()
    try {
      in2.addData(("a", ts(1), 1.0), ("a", ts(2), 2.0))
      q2.processAllAvailable()
      in2.addData(("a", ts(3), 3.0), ("a", ts(4), 4.0))
      q2.processAllAvailable()
      val got = spark.sql("SELECT value FROM m_stream ORDER BY time")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(got.toSeq == Seq(None, None, Some(2.0), Some(3.0)), got.toSeq)
    } finally stopQuietly(q2)

    // kalman: streaming output must equal the batch kernel on the same series
    val series = Seq(5.0, 7.0, 6.5, 8.0, 7.2, 9.1)
    val batch = graft.operators.SeqOps.kalman(
      series.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
        .toDF("name", "t", "value"), "name", "t", "value",
      initVar = 1.0, procVar = 0.01, obsVar = 0.5)
      .orderBy("t").select("kalman").as[Double].collect()
    val in3 = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q3 = graft.streaming.StatefulOps.kalmanStream(
      in3.toDF.toDF("name", "time", "value"),
      initVar = 1.0, procVar = 0.01, obsVar = 0.5)
      .writeStream.format("memory").queryName("k_stream").outputMode("append").start()
    try {
      in3.addData(series.take(3).zipWithIndex.map { case (v, i) => ("a", ts(i), v) }: _*)
      q3.processAllAvailable()
      in3.addData(series.drop(3).zipWithIndex.map { case (v, i) => ("a", ts(i + 3), v) }: _*)
      q3.processAllAvailable()
      val got = spark.sql("SELECT value FROM k_stream ORDER BY time")
        .collect().map(_.getDouble(0))
      assert(got.length == batch.length &&
        got.zip(batch).forall { case (a, b) => math.abs(a - b) < 1e-12 },
        s"stream ${got.toSeq} vs batch ${batch.toSeq}")
    } finally q3.stop()
  }

  test("publishBatch republishes a replayed micro-batch instead of duplicating rows") {
    // foreachBatch is at-least-once: the same batchId may run twice after
    // a failure/restart. The batchId-keyed publish must be idempotent —
    // duplicate partial rows would double-count sum/sumsq/cnt in every
    // routed rollup query.
    val dir = tempDir("graft_pub")
    val df = Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("name", "time_ns", "value")
    Watch.publishBatch(df, dir, 0L)
    Watch.publishBatch(df, dir, 0L) // replayed batch → same files, no dupes
    assert(spark.read.parquet(dir).count() == 2L)
    Watch.publishBatch(df, dir, 1L) // a NEW batch still appends
    assert(spark.read.parquet(dir).count() == 4L)
    // batch 11 must not clobber batch 1's files (prefix has a delimiter)
    Watch.publishBatch(df, dir, 11L)
    Watch.publishBatch(df, dir, 1L)
    assert(spark.read.parquet(dir).count() == 6L)
  }

  test("asTagRows reads a LongType time column as epoch-ns, not epoch-seconds") {
    // tag-table shape: `time` is ns-int64 (Bench.simpleRows). A bare
    // cast("timestamp") would read it as epoch-seconds (off by 1e9×).
    val df = Seq(("a", 1704067200000000000L, 1.0), ("a", 1704067201000000000L, 1.0))
      .toDF("name", "time", "value")
    val out = graft.streaming.StatefulOps.filterChangedStream(df) // batch mode
    val times = out.select("time").as[java.sql.Timestamp].collect()
    assert(times.map(_.getTime).toSeq == Seq(1704067200000L), times.toSeq)
  }

  test("stateTtl evicts idle tag state; a post-eviction record is a first record again") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    // A ProcessingTimeTimeout stream never latches noNewData (the engine
    // keeps scheduling batches so due timeouts can fire), so
    // processAllAvailable would block forever — poll the sink instead.
    def waitRows(table: String, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table(table).count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(spark.table(table).count() >= n, s"$table never reached $n rows")
    }
    val trig = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200)

    // FILTER_CHANGED + TTL: the same value re-sent AFTER eviction must
    // re-emit (state gone ⇒ first record), where the no-TTL form above
    // proves it stays suppressed when state survives.
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = graft.streaming.StatefulOps.filterChangedStream(
      in.toDF.toDF("name", "time", "value"), stateTtl = Some("500 milliseconds"))
      .writeStream.format("memory").queryName("fc_ttl").outputMode("append")
      .trigger(trig).start()
    try {
      in.addData(("a", ts(1), 1.0), ("a", ts(2), 1.0))
      waitRows("fc_ttl", 1) // dup suppressed while state lives
      Thread.sleep(1500) // idle past the TTL: the cell is evicted
      in.addData(("a", ts(4), 1.0)) // same as last emitted — but state is gone
      waitRows("fc_ttl", 2)
      val got = spark.sql("SELECT name, value FROM fc_ttl ORDER BY time")
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(got.toSeq == Seq(("a", 1.0), ("a", 1.0)), got.toSeq)
    } finally stopQuietly(q)

    // MAP_DIFF + TTL: the post-eviction record emits null (first-record
    // semantics), not the difference vs the pre-eviction value.
    val in2 = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q2 = graft.streaming.StatefulOps.diffStream(
      in2.toDF.toDF("name", "time", "value"), stateTtl = Some("500 milliseconds"))
      .writeStream.format("memory").queryName("d_ttl").outputMode("append")
      .trigger(trig).start()
    try {
      in2.addData(("a", ts(1), 1.0), ("a", ts(2), 4.0))
      waitRows("d_ttl", 2)
      Thread.sleep(1500)
      in2.addData(("a", ts(4), 9.0)) // 5.0 if state had survived
      waitRows("d_ttl", 3)
      val got = spark.sql("SELECT value FROM d_ttl WHERE name = 'a' ORDER BY time")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(got.toSeq == Seq(None, Some(3.0), None), got.toSeq)
    } finally stopQuietly(q2)
  }

  test("maintainRollup advances the routing horizon; routed queries stay exact during lag") {
    import graft.time.TimeFns
    val rawDir = tempDir("graft_mroll_raw")
    val rollDir = tempDir("graft_mroll") + "/r"
    val ck = tempDir("graft_mroll_ck")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    // rolled era: one row at :30 of each of minutes 0-9; the last event
    // (9:30) closes windows 0-8 under a 0s watermark, window 9 stays open
    val rolled = (0 until 10).map(m => ("a", ts(m * 60 + 30), m.toDouble))
    rolled.toDF("name", "time", "value").write.mode("append").parquet(rawDir)
    val schema = spark.read.parquet(rawDir).schema
    val q = Watch.maintainRollup(spark, rawDir, schema, "name", "time", "value",
      "1 minute", "0 seconds", TimeFns.NsPerMin, rollDir, ck)
    q.awaitTermination(60000)
    // 9 closed windows on disk; horizon = start(min 8) + 1 min = min 9
    assert(spark.read.parquet(rollDir).count() == 9L)
    // fresh appends the stream has NOT processed
    val fresh = (10 until 13).map(m => ("a", ts(m * 60 + 30), 100.0 + m))
    fresh.toDF("name", "time", "value").write.mode("append").parquet(rawDir)

    def query = {
      val df = spark.read.parquet(rawDir)
      df.groupBy(col("name"),
        TimeFns.roundTimeNs(graft.queries.Q.tsNs(df, "time"),
          5 * TimeFns.NsPerMin).as("b"))
        .agg(sum("value").as("s"), count("value").as("c"), max("value").as("mx"))
        .orderBy("name", "b")
    }
    val direct = query.collect().map(_.toSeq)
    graft.plans.RollupRouting.register(rawDir, graft.plans.RollupRouting.Spec(
      rollDir, TimeFns.NsPerMin, "name", "time", "value"))
    spark.experimental.extraOptimizations =
      Seq(new graft.plans.RollupRouting.Route(spark))
    try {
      val routed = query
      val scans = routed.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).mkString(",")
            case _ => ""
          }
      }
      assert(scans.exists(_.contains("graft_mroll/")) ||
        scans.exists(_.contains(rollDir.split('/').takeRight(2).head)),
        s"rollup not scanned: $scans")
      assert(scans.exists(_.contains("graft_mroll_raw")), s"raw tail not scanned: $scans")
      assert(routed.collect().map(_.toSeq).toSeq == direct.toSeq,
        "routed result must equal direct during maintenance lag")
    } finally {
      spark.experimental.extraOptimizations = Nil
      graft.plans.RollupRouting.clear()
    }
  }

  test("maintainRollup cascades a coarse tier from the fine one (hierarchical ladder)") {
    import graft.time.TimeFns
    val rawDir = tempDir("graft_tier_raw")
    val minDir = tempDir("graft_tier_fine") + "/r"
    val hourDir = tempDir("graft_tier_coarse") + "/r"
    val ck = tempDir("graft_tier_ck")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    // one row at :30 of each of minutes 0..130 — the stream closes fine
    // windows 0..129 (horizon min 130); hour buckets 0-1 become fully
    // trusted in the HOUR tier (floor(130, 60) = 120), hour 2 is raw tail
    val rows = (0 to 130).map(m => ("a", ts(m * 60 + 30), m.toDouble))
    rows.toDF("name", "time", "value").write.mode("append").parquet(rawDir)
    val schema = spark.read.parquet(rawDir).schema
    val q = Watch.maintainRollup(spark, rawDir, schema, "name", "time", "value",
      "1 minute", "0 seconds", TimeFns.NsPerMin, minDir, ck,
      coarserTiers = Seq((TimeFns.NsPerHour, hourDir)))
    q.awaitTermination(60000)
    assert(spark.read.parquet(minDir).count() == 130L)
    // the coarse tier was built FROM the fine one (3 partial rows: h0, h1, h2-partial)
    assert(spark.read.parquet(hourDir).count() == 3L)

    def query = {
      val df = spark.read.parquet(rawDir)
      df.groupBy(col("name"),
        TimeFns.roundTimeNs(graft.queries.Q.tsNs(df, "time"), TimeFns.NsPerHour).as("h"))
        .agg(sum("value").as("s"), count("value").as("c"), max("value").as("mx"))
        .orderBy("name", "h")
    }
    val direct = query.collect().map(_.toSeq)
    graft.plans.RollupRouting.register(rawDir, graft.plans.RollupRouting.Spec(
      minDir, TimeFns.NsPerMin, "name", "time", "value"))
    graft.plans.RollupRouting.register(rawDir, graft.plans.RollupRouting.Spec(
      hourDir, TimeFns.NsPerHour, "name", "time", "value"))
    spark.experimental.extraOptimizations =
      Seq(new graft.plans.RollupRouting.Route(spark))
    try {
      val routed = query
      val scans = routed.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).mkString(",")
            case _ => ""
          }
      }
      assert(scans.exists(_.contains("graft_tier_coarse")), s"HOUR tier must win: $scans")
      assert(!scans.exists(_.contains("graft_tier_fine")), s"MIN tier must lose: $scans")
      assert(scans.exists(_.contains("graft_tier_raw")), s"raw tail must be scanned: $scans")
      assert(routed.collect().map(_.toSeq).toSeq == direct.toSeq,
        "hour-bucket query answered from cascaded coarse partials + raw tail")
    } finally {
      spark.experimental.extraOptimizations = Nil
      graft.plans.RollupRouting.clear()
    }
  }

  test("session_window sessionization runs on a watermarked stream (append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val sessions = in.toDF.toDF("user", "time", "value")
      .withWatermark("time", "0 seconds")
      .groupBy(col("user"), session_window(col("time"), "10 seconds"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .select(col("user"), col("session_window.start").as("start"), col("n"), col("s"))
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // one session (events 1,5,9 chain within 10s gaps), then a gap
      in.addData(("u", ts(1), 1.0), ("u", ts(5), 2.0), ("u", ts(9), 3.0))
      q.processAllAvailable()
      // 40s later: new session; the watermark closes the first one
      in.addData(("u", ts(40), 7.0))
      q.processAllAvailable()
      in.addData(("u", ts(80), 9.0)) // closes the 40s session
      q.processAllAvailable()
      val got = spark.sql("SELECT start, n, s FROM sess_stream ORDER BY start")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(got.length >= 2, got.toSeq)
      assert(got(0) == ((ts(1), 3L, 6.0)), got.toSeq) // merged 3-event session
      assert(got(1) == ((ts(40), 1L, 7.0)), got.toSeq)
    } finally stopQuietly(q)
  }

  test("zscoreStream state survives a restart: spike detected against pre-restart baseline") {
    val raw = tempDir("graft_zs_raw")
    val out = tempDir("graft_zs_out") + "/o"
    val ck = tempDir("graft_zs_ck")
    def rows(r: Range) = r.map { i =>
      ("t", i.toLong * 1000000000L, if (i == 30) 500.0 else 10.0 + (i % 5) * 0.1)
    }.toDF("name", "time", "value") // epoch-ns LongType tag shape
    rows(0 until 25).write.mode("append").parquet(raw)
    val schema = spark.read.parquet(raw).schema
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(raw)
      val q = graft.streaming.StatefulOps.zscoreStream(src, window = 20, threshold = 3.0)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()                                   // 25 quiet points -> state only
    rows(25 until 40).write.mode("append").parquet(raw)
    runOnce()                                   // restart from the checkpoint
    val streamed = spark.read.parquet(out)
      .select(unix_micros(col("time")) * 1000L, col("zscore"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    // the spike at i=30 needs baselines 10..29 — 15 of them from the
    // FIRST run's state; detection proves the ring buffer crossed the
    // restart. Batch kernel over the full data must match bit-exactly.
    assert(streamed.exists(_._1 == 30000000000L), streamed)
    val batch = graft.operators.SeqOps.rollingZscore(
        spark.read.parquet(raw), "name", "time", "time", "value", 20, 3.0)
      .select(col("time"), col("zscore"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(streamed == batch, s"\nstream=$streamed\nbatch=$batch")
  }

  test("movavgStream with stateTtl: window buffer survives a checkpointed restart") {
    val raw = tempDir("graft_ma_raw")
    val out = tempDir("graft_ma_out") + "/o"
    val ck = tempDir("graft_ma_ck")
    def rows(r: Range) = r.map(i => ("t", i.toLong * 1000000000L, (i + 1).toDouble))
      .toDF("name", "time", "value")
    rows(0 until 3).write.mode("append").parquet(raw)
    val schema = spark.read.parquet(raw).schema
    def runOnce(expect: Long): Unit = {
      val src = spark.readStream.schema(schema).parquet(raw)
      val q = graft.streaming.StatefulOps.movavgStream(src, window = 5,
          stateTtl = Some("1 hour")) // TTL armed but must NOT evict across
        .writeStream.format("parquet").option("path", out) // a quick restart
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRowsAndStop(q, out, expect)
    }
    runOnce(3)                        // 3 warm-up rows → all null
    rows(3 until 6).write.mode("append").parquet(raw)
    runOnce(6)                        // restart: buffer [1,2,3] restored + TTL re-armed
    val got = spark.read.parquet(out)
      .select(unix_micros(col("time")), col("value"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1).toSeq
    // row 5 = avg(1..5) needs THREE pre-restart buffer entries
    assert(got.map(_._2) ==
      Seq(None, None, None, None, Some(3.0), Some(4.0)), got)
  }

  test("kalmanStream with stateTtl: (x,p) register survives a checkpointed restart") {
    val raw = tempDir("graft_ka_raw")
    val out = tempDir("graft_ka_out") + "/o"
    val ck = tempDir("graft_ka_ck")
    def rows(r: Range) = r.map(i =>
        ("t", i.toLong * 1000000000L, 10.0 + (i % 7) * 1.5))
      .toDF("name", "time", "value")
    rows(0 until 12).write.mode("append").parquet(raw)
    val schema = spark.read.parquet(raw).schema
    def runOnce(expect: Long): Unit = {
      val src = spark.readStream.schema(schema).parquet(raw)
      val q = graft.streaming.StatefulOps.kalmanStream(src,
          initVar = 1d, procVar = 0.01, obsVar = 4d, stateTtl = Some("1 hour"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRowsAndStop(q, out, expect)
    }
    runOnce(12)
    rows(12 until 20).write.mode("append").parquet(raw)
    runOnce(20) // restart: the converged (x,p) register must carry over
    val streamed = spark.read.parquet(out)
      .select(unix_micros(col("time")) * 1000L, col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    // batch kernel over the full data must match bit-exactly — a reset
    // register would re-converge from initVar and diverge at row 12
    val batch = graft.operators.SeqOps.kalman(
        spark.read.parquet(raw), "name", "time", "value",
        initVar = 1d, procVar = 0.01, obsVar = 4d)
      .select(col("time"), col("kalman"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(streamed == batch, s"\nstream=$streamed\nbatch=$batch")
  }

  test("distanceStream: previous point + running total survive a checkpointed restart") {
    val raw = tempDir("graft_di_raw")
    val out = tempDir("graft_di_out") + "/o"
    val ck = tempDir("graft_di_ck")
    // eastward walk along the equator: 1° of longitude per step
    def rows(r: Range) = r.map(i =>
        ("t", i.toLong * 1000000000L, 0.0, i.toDouble))
      .toDF("name", "time", "lat", "lon")
    rows(0 until 4).write.mode("append").parquet(raw)
    val schema = spark.read.parquet(raw).schema
    def runOnce(expect: Long): Unit = {
      val src = spark.readStream.schema(schema).parquet(raw)
      val q = graft.streaming.StatefulOps.distanceStream(src,
          stateTtl = Some("1 hour"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitRowsAndStop(q, out, expect)
    }
    runOnce(4)
    rows(4 until 8).write.mode("append").parquet(raw)
    runOnce(8) // restart: leg 3→4 needs the pre-restart point; cum needs the total
    val streamed = spark.read.parquet(out)
      .select(unix_micros(col("time")) * 1000L, col("meters"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val batch = spark.read.parquet(raw)
      .select(col("time"), graft.operators.SeqOps.mapDistance(
        col("lat"), col("lon"), Seq(col("name")), col("time")).as("m"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(streamed == batch, s"\nstream=$streamed\nbatch=$batch")
    // distance grows strictly (1° equator steps ≈ 111 km each)
    assert(streamed.last._2 > streamed.head._2 && streamed.head._2 == 0d)
  }

  test("quotaAdmit: per-key admission counter crosses a checkpointed restart") {
    val raw = tempDir("graft_qa_raw")
    val out = tempDir("graft_qa_out") + "/o"
    val ck = tempDir("graft_qa_ck")
    def rows(ids: Seq[Long], key: String) =
      ids.map(i => (key, i)).toDF("source", "doc_id")
    rows(0L until 6L, "a").write.mode("append").parquet(raw)
    val schema = spark.read.parquet(raw).schema
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(raw)
      val q = graft.streaming.CuratedStream.quotaAdmit(src, "source", "doc_id", k = 10)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()                          // admits 6 of key a
    rows(100L until 108L, "a").write.mode("append").parquet(raw)
    rows(200L until 203L, "b").write.mode("append").parquet(raw)
    runOnce() // restart: only 4 more of a fit; b has a fresh counter
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got("a") == (0L until 6L) ++ (100L until 104L), got)
    assert(got("b") == (200L until 203L), got)
  }

  test("quotaAdmit: stateTtl evicts an idle source, which then re-admits (bounded state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // ProcessingTimeTimeout streams never latch noNewData (batches keep
    // scheduling so due timeouts can fire) — poll the sink, stop at the
    // end, same protocol as the stateTtl tag-state test above.
    def waitRows(table: String, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table(table).count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(spark.table(table).count() >= n, s"$table never reached $n rows")
    }
    val in = MemoryStream[(String, Long)]
    val q = graft.streaming.CuratedStream.quotaAdmit(
        in.toDF.toDF("source", "doc_id"), "source", "doc_id", k = 3,
        stateTtl = Some("500 milliseconds"))
      .writeStream.format("memory").queryName("qa_ttl").outputMode("append")
      .trigger(Trigger.ProcessingTime(200)).start()
    try {
      in.addData(("a", 0L), ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L))
      waitRows("qa_ttl", 3) // quota k=3 caps the first burst
      Thread.sleep(1500) // idle past the TTL: a's counter evicts
      in.addData(("b", 50L), ("b", 51L))
      waitRows("qa_ttl", 5)
      in.addData(("a", 100L), ("a", 101L), ("a", 102L), ("a", 103L))
      waitRows("qa_ttl", 8) // a re-admits a fresh k post-eviction (by design)
      val got = spark.sql("SELECT source, doc_id FROM qa_ttl")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(got("a") == Seq(0L, 1L, 2L, 100L, 101L, 102L), got)
      assert(got("b") == Seq(50L, 51L), got)
    } finally stopQuietly(q)
  }

  test("rollupStream aggregates tumbling event-time windows") {
    val dir = tempDir("graft_roll")
    val ck = tempDir("graft_ck2")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    Seq(("a", ts(1), 1.0), ("a", ts(2), 3.0), ("a", ts(61), 5.0))
      .toDF("name", "time", "value").write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val agg = Watch.rollupStream(Watch.tail(spark, dir, schema),
      "name", "time", "value", "1 minute", "0 seconds")
    val q = agg.writeStream.format("memory").queryName("roll_out")
      .outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // append-mode emits only windows below the watermark; the first window
    // (2 rows, sum 4.0) must be final once the 61s event advanced time.
    val rows = spark.sql("SELECT sum_value, cnt FROM roll_out").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(r => r.getDouble(0) == 4.0 && r.getLong(1) == 2L))
  }
}
