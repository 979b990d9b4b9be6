package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Lake
import graft.plans.RollupRouting
import graft.time.TimeFns

class RollupRoutingSpec extends SparkSpec {
  import spark.implicits._

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case _ => ""
        }
    }

  test("bucket aggregates are routed onto the rollup table") {
    val rawPath = tempDir("graft_raw") + "/t"
    val rollupPath = tempDir("graft_roll") + "/r"
    // 2 tags × 3 hours of integer-valued data (exact double sums)
    val base = 1704067200000000000L
    val rows = for {
      tag <- Seq("a", "b"); h <- 0 until 3; i <- 0 until 10
    } yield (tag, base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin, (h * 10 + i).toDouble)
    rows.toDF("name", "time", "value").write.parquet(rawPath)

    val raw = spark.read.parquet(rawPath)
    Lake.rollup(raw, col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(rollupPath)

    // direct result BEFORE routing is active
    def query = spark.read.parquet(rawPath)
      .groupBy(col("name"),
        TimeFns.roundTimeNs(col("time"), 3 * TimeFns.NsPerHour).as("bucket"))
      .agg(sum("value").as("s"), count("value").as("c"),
        min("value").as("mn"), max("value").as("mx"), avg("value").as("av"))
      .orderBy("name", "bucket")
    val direct = query.collect().map(_.toSeq)

    RollupRouting.register(rawPath, RollupRouting.Spec(
      rollupPath, TimeFns.NsPerHour, "name", "time", "value"))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      val routed = query
      val scans = scanPaths(routed)
      assert(scans.exists(_.contains("graft_roll")), s"plan not rewritten: $scans")
      assert(!scans.exists(_.contains("graft_raw")), s"raw table still scanned: $scans")
      val got = routed.collect().map(_.toSeq)
      assert(got.toSeq == direct.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("aligned time-range filters route; misaligned ones do not") {
    val rawPath = tempDir("graft_raw3") + "/t"
    val rollupPath = tempDir("graft_roll3") + "/r"
    val base = 1704067200000000000L
    val rows = for {
      tag <- Seq("a", "b"); h <- 0 until 6; i <- 0 until 4
    } yield (tag, base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin, (h + i).toDouble)
    rows.toDF("name", "time", "value").write.parquet(rawPath)
    Lake.rollup(spark.read.parquet(rawPath), col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(rollupPath)

    def windowed(lo: Long, hi: Long) = spark.read.parquet(rawPath)
      .filter(col("name") === "a" && col("time") >= lo && col("time") < hi)
      .groupBy(TimeFns.roundTimeNs(col("time"), 2 * TimeFns.NsPerHour).as("bucket"))
      .agg(sum("value").as("s"), count("value").as("c"))
      .orderBy("bucket")

    val alignedDirect = windowed(base + TimeFns.NsPerHour, base + 5 * TimeFns.NsPerHour).collect().map(_.toSeq)
    RollupRouting.register(rawPath, RollupRouting.Spec(
      rollupPath, TimeFns.NsPerHour, "name", "time", "value"))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      // hour-aligned window → routed
      val routed = windowed(base + TimeFns.NsPerHour, base + 5 * TimeFns.NsPerHour)
      val scans = scanPaths(routed)
      assert(scans.exists(_.contains("graft_roll3")), s"not routed: $scans")
      assert(routed.collect().map(_.toSeq).toSeq == alignedDirect.toSeq)
      // misaligned (30-min offset) window → stays on raw
      val mis = windowed(base + 30 * TimeFns.NsPerMin, base + 5 * TimeFns.NsPerHour)
      assert(scanPaths(mis).exists(_.contains("graft_raw3")), "misaligned must not route")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("NTZ-timestamp raw tables route through the tsNs conversion shape") {
    // mirrors the gate-query shape since the testdata moved to µs-naive
    // parquet timestamps: grouping on roundTimeNs(Q.tsNs(df)) and a
    // Q.tsRangeNs typed-literal filter must still hit the rollup
    val rawPath = tempDir("graft_rawntz") + "/t"
    val rollupPath = tempDir("graft_rollntz") + "/r"
    val base = 1704067200000000000L
    val rows = for {
      tag <- Seq("a", "b"); h <- 0 until 6; i <- 0 until 4
    } yield (tag,
      java.time.LocalDateTime.ofEpochSecond(
        (base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin) / 1000000000L,
        0, java.time.ZoneOffset.UTC),
      (h + i).toDouble)
    rows.toDF("name", "time", "value").write.parquet(rawPath)
    val raw = spark.read.parquet(rawPath)
    assert(raw.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampNTZType, raw.schema("time").dataType.toString)
    Lake.rollup(raw, col("name"), graft.queries.Q.tsNs(raw, "time"),
      col("value"), "HOUR").write.parquet(rollupPath)

    def query = {
      val df = spark.read.parquet(rawPath)
      df.filter(graft.queries.Q.tsRangeNs(df,
          base + TimeFns.NsPerHour, base + 5 * TimeFns.NsPerHour, "time"))
        .groupBy(col("name"),
          TimeFns.roundTimeNs(graft.queries.Q.tsNs(df, "time"), 2 * TimeFns.NsPerHour).as("bucket"))
        .agg(sum("value").as("s"), count("value").as("c"),
          min("value").as("mn"), max("value").as("mx"))
        .orderBy("name", "bucket")
    }
    val direct = query.collect().map(_.toSeq)
    RollupRouting.register(rawPath, RollupRouting.Spec(
      rollupPath, TimeFns.NsPerHour, "name", "time", "value"))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      val routed = query
      val scans = scanPaths(routed)
      assert(scans.exists(_.contains("graft_rollntz")), s"plan not rewritten: $scans")
      assert(!scans.exists(_.contains("graft_rawntz")), s"raw table still scanned: $scans")
      assert(routed.collect().map(_.toSeq).toSeq == direct.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("multi-tier: a day-bucket query picks the COARSEST dividing rollup (HOUR, not MIN)") {
    val rawPath = tempDir("graft_rawt") + "/t"
    val hourPath = tempDir("graft_tier_hour") + "/r"
    val minPath = tempDir("graft_tier_min") + "/r"
    val base = 1704067200000000000L
    val rows = for {
      tag <- Seq("a", "b"); h <- 0 until 30; i <- 0 until 4
    } yield (tag, base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin, (h + i).toDouble)
    rows.toDF("name", "time", "value").write.parquet(rawPath)
    val raw = spark.read.parquet(rawPath)
    Lake.rollup(raw, col("name"), col("time"), col("value"), "HOUR").write.parquet(hourPath)
    Lake.rollup(raw, col("name"), col("time"), col("value"), "MIN").write.parquet(minPath)

    def query = spark.read.parquet(rawPath)
      .groupBy(col("name"), TimeFns.roundTimeNs(col("time"), TimeFns.NsPerDay).as("day"))
      .agg(sum("value").as("s"), count("value").as("c"), max("value").as("mx"))
      .orderBy("name", "day")
    val direct = query.collect().map(_.toSeq)

    RollupRouting.register(rawPath, RollupRouting.Spec(
      minPath, TimeFns.NsPerMin, "name", "time", "value"))
    RollupRouting.register(rawPath, RollupRouting.Spec(
      hourPath, TimeFns.NsPerHour, "name", "time", "value"))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      val scans = scanPaths(query)
      assert(scans.exists(_.contains("graft_tier_hour")), s"should pick HOUR tier: $scans")
      assert(!scans.exists(_.contains("graft_tier_min")), s"must not pick MIN tier: $scans")
      assert(query.collect().map(_.toSeq).toSeq == direct.toSeq)
      // a 5-min bucket divides only the MIN tier → falls through to it
      val fine = spark.read.parquet(rawPath)
        .groupBy(TimeFns.roundTimeNs(col("time"), 5 * TimeFns.NsPerMin).as("b"))
        .agg(sum("value").as("s"))
      assert(scanPaths(fine).exists(_.contains("graft_tier_min")), "5-min should use MIN tier")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("hierarchical tiers: HOUR coarsened from the MIN rollup equals HOUR built from raw") {
    // the reference's ladder never rescans raw for coarse tiers (SHOW
    // ROLLUPGAP: SEC←raw, MIN←SEC, HOUR←MIN); partial-merge must be exact
    val base = 1704067200000000000L
    val rows = for {
      tag <- Seq("a", "b"); h <- 0 until 5; i <- 0 until 7
    } yield (tag, base + h * TimeFns.NsPerHour + i * 7 * TimeFns.NsPerMin, (h * 7 + i).toDouble)
    val raw = rows.toDF("name", "time", "value")
    val minTier = Lake.rollup(raw, col("name"), col("time"), col("value"), "MIN")
    val hourFromMin = Lake.rollupCoarsen(minTier, TimeFns.NsPerHour)
      .orderBy("name", "time_ns").collect().map(_.toSeq)
    val hourFromRaw = Lake.rollup(raw, col("name"), col("time"), col("value"), "HOUR")
      .orderBy("name", "time_ns").collect().map(_.toSeq)
    assert(hourFromMin.toSeq == hourFromRaw.toSeq)
  }

  test("freshness horizon: appends past the rollup horizon stay visible (raw-tail union)") {
    val rawPath = tempDir("graft_rawf") + "/t"
    val rollupPath = tempDir("graft_rollf") + "/r"
    val base = 1704067200000000000L
    val horizon = base + 2 * TimeFns.NsPerHour
    // rolled-up era: hours 0-1
    val rolled = for {
      tag <- Seq("a", "b"); h <- 0 until 2; i <- 0 until 6
    } yield (tag, base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin, (h * 10 + i).toDouble)
    rolled.toDF("name", "time", "value").write.parquet(rawPath)
    Lake.rollup(spark.read.parquet(rawPath), col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(rollupPath)
    // fresh appends PAST the horizon — not reflected in the rollup
    val fresh = for {
      tag <- Seq("a", "b"); i <- 0 until 5
    } yield (tag, horizon + i * TimeFns.NsPerMin, 1000.0 + i)
    fresh.toDF("name", "time", "value").write.mode("append").parquet(rawPath)

    def query = spark.read.parquet(rawPath)
      .groupBy(col("name"), TimeFns.roundTimeNs(col("time"), 2 * TimeFns.NsPerHour).as("b"))
      .agg(sum("value").as("s"), count("value").as("c"),
        min("value").as("mn"), max("value").as("mx"), avg("value").as("av"))
      .orderBy("name", "b")
    val direct = query.collect().map(_.toSeq)
    assert(direct.exists(_.exists { case d: Double => d >= 1000.0; case _ => false }),
      "fresh rows must be in the direct result")

    RollupRouting.register(rawPath, RollupRouting.Spec(
      rollupPath, TimeFns.NsPerHour, "name", "time", "value"))
    RollupRouting.setHorizon(rollupPath, horizon)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      val routed = query
      val scans = scanPaths(routed)
      assert(scans.exists(_.contains("graft_rollf")), s"rollup must be scanned: $scans")
      assert(scans.exists(_.contains("graft_rawf")), s"raw tail must be scanned: $scans")
      assert(routed.collect().map(_.toSeq).toSeq == direct.toSeq,
        "routed result must include the fresh appends")
      // without the horizon, the stale rollup would silently drop them
      RollupRouting.clear()
      RollupRouting.register(rawPath, RollupRouting.Spec(
        rollupPath, TimeFns.NsPerHour, "name", "time", "value"))
      val stale = query.collect().map(_.toSeq)
      assert(stale.toSeq != direct.toSeq, "control: horizonless routing misses fresh rows")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("durable metadata: save → clear (restart) → load restores routing AND horizon") {
    val rawPath = tempDir("graft_rawd") + "/t"
    val rollupPath = tempDir("graft_rolld") + "/r"
    val base = 1704067200000000000L
    val horizon = base + 2 * TimeFns.NsPerHour
    val rolled = for {
      tag <- Seq("a", "b"); h <- 0 until 2; i <- 0 until 6
    } yield (tag, base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin, (h * 10 + i).toDouble)
    rolled.toDF("name", "time", "value").write.parquet(rawPath)
    Lake.rollup(spark.read.parquet(rawPath), col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(rollupPath)
    val fresh = for {
      tag <- Seq("a", "b"); i <- 0 until 5
    } yield (tag, horizon + i * TimeFns.NsPerMin, 1000.0 + i)
    fresh.toDF("name", "time", "value").write.mode("append").parquet(rawPath)

    def query = spark.read.parquet(rawPath)
      .groupBy(col("name"), TimeFns.roundTimeNs(col("time"), 2 * TimeFns.NsPerHour).as("b"))
      .agg(sum("value").as("s"), count("value").as("c"),
        min("value").as("mn"), max("value").as("mx"), avg("value").as("av"))
      .orderBy("name", "b")
    val direct = query.collect().map(_.toSeq)

    val spec = RollupRouting.Spec(rollupPath, TimeFns.NsPerHour, "name", "time", "value")
    RollupRouting.register(rawPath, spec)
    RollupRouting.setHorizon(rollupPath, horizon)
    RollupRouting.save(spark, rawPath, spec)
    // the sidecar must be invisible to plain parquet readers of the dir
    assert(spark.read.parquet(rollupPath).columns.toSet ==
      Set("name", "time_ns", "min_value", "max_value", "sum_value", "sumsq_value", "cnt"))

    RollupRouting.clear() // simulated JVM restart: in-memory registry gone
    val loaded = RollupRouting.load(spark, rollupPath)
    assert(loaded.periodNs == TimeFns.NsPerHour && loaded.nameCol == "name" &&
      loaded.timeCol == "time" && loaded.valueCol == "value", loaded)
    assert(RollupRouting.horizonOf(rollupPath).contains(horizon),
      "persisted horizon must survive the restart")

    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      val routed = query
      val scans = scanPaths(routed)
      assert(scans.exists(_.contains("graft_rolld")), s"rollup must be scanned: $scans")
      assert(scans.exists(_.contains("graft_rawd")), s"raw tail must be scanned: $scans")
      assert(routed.collect().map(_.toSeq).toSeq == direct.toSeq,
        "loaded metadata must route exactly (horizon included)")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("same-period registration REPLACES: a query that registers its tier last owns the plan") {
    val rawPath = tempDir("graft_raw_co") + "/t"
    val fullPath = tempDir("graft_roll_co_full") + "/r"
    val streamPath = tempDir("graft_roll_co_str") + "/r"
    val base = 1704067200000000000L
    val rows = for {
      tag <- Seq("a", "b"); h <- 0 until 3; i <- 0 until 10
    } yield (tag, base + h * TimeFns.NsPerHour + i * TimeFns.NsPerMin, (h * 10 + i).toDouble)
    rows.toDF("name", "time", "value").write.parquet(rawPath)
    val raw = spark.read.parquet(rawPath)
    Lake.rollup(raw, col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(fullPath)
    // the "stream-maintained" twin: same content but coverage bounded at
    // hour 2 → routing through IT needs the raw-tail union
    Lake.rollup(raw.filter(col("time") < base + 2 * TimeFns.NsPerHour),
        col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(streamPath)
    def query = spark.read.parquet(rawPath)
      .groupBy(col("name"),
        TimeFns.roundTimeNs(col("time"), 3 * TimeFns.NsPerHour).as("bucket"))
      .agg(sum("value").as("s"), count("value").as("c"))
      .orderBy("name", "bucket")
    val direct = query.collect().map(_.toSeq)
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      // register the horizon-bounded STREAM tier: routing must take the
      // raw-tail freshness union
      RollupRouting.register(rawPath, RollupRouting.Spec(
        streamPath, TimeFns.NsPerHour, "name", "time", "value"),
        initialHorizonNs = Some(base + 2 * TimeFns.NsPerHour))
      val viaStream = query
      val s1 = scanPaths(viaStream)
      assert(s1.exists(_.contains("graft_roll_co_str")), s"stream tier not routed: $s1")
      assert(s1.exists(_.contains("graft_raw_co")), s"raw tail missing: $s1")
      assert(viaStream.collect().map(_.toSeq).toSeq == direct.toSeq)
      // re-registering the same period with the COMPLETE tier replaces it:
      // the same query now answers purely from the rollup — one rollup
      // per (table, period), last registration owns the period, so a
      // query that registers right before running is never hijacked by
      // an earlier registration elsewhere in the process
      RollupRouting.register(rawPath, RollupRouting.Spec(
        fullPath, TimeFns.NsPerHour, "name", "time", "value"))
      val viaFull = query
      val s2 = scanPaths(viaFull)
      assert(s2.exists(_.contains("graft_roll_co_full")), s"complete tier not routed: $s2")
      assert(!s2.exists(_.contains("graft_raw_co")), s"raw still scanned: $s2")
      assert(viaFull.collect().map(_.toSeq).toSeq == direct.toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }

  test("non-divisible bucket periods are NOT rewritten") {
    val rawPath = tempDir("graft_raw2") + "/t"
    val rollupPath = tempDir("graft_roll2") + "/r"
    Seq(("a", 1704067200000000000L, 1.0)).toDF("name", "time", "value")
      .write.parquet(rawPath)
    spark.read.parquet(rawPath).limit(0) // materialize schema
    Lake.rollup(spark.read.parquet(rawPath), col("name"), col("time"), col("value"), "HOUR")
      .write.parquet(rollupPath)
    RollupRouting.register(rawPath, RollupRouting.Spec(
      rollupPath, TimeFns.NsPerHour, "name", "time", "value"))
    spark.experimental.extraOptimizations = Seq(new RollupRouting.Route(spark))
    try {
      // 45-minute buckets don't divide the hourly rollup → no rewrite
      val q = spark.read.parquet(rawPath)
        .groupBy(TimeFns.roundTimeNs(col("time"), 45 * TimeFns.NsPerMin).as("bucket"))
        .agg(sum("value").as("s"))
      val scans = scanPaths(q)
      assert(scans.exists(_.contains("graft_raw2")), s"should still scan raw: $scans")
      assert(!scans.exists(_.contains("graft_roll2")), s"must not route: $scans")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouting.clear()
    }
  }
}
