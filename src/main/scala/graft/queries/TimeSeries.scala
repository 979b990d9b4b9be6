package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{GapFill, Lake, SeqOps}
import graft.time.TimeFns
import Q._
import graft.functions.Rounding.fround

/** Time-series query battery over the `events` table (SURVEY §2.1/§2.3/
  * §2.4 timewindow/§3.3 lake).
  *
  * events.ts is epoch-ns internally; every oracle-visible time column is
  * epoch-µs (DuckDB truncates parquet ns to µs on read), and the
  * gap-fill/bucket queries run their arithmetic in the µs domain so the
  * interpolation math is bit-identical on both engines. Sums/averages of
  * the 2-decimal `value` column go through exact decimal accumulation
  * (order-independent) before rounding — see [[Q.dec2]].
  */
object TimeSeries {
  // 2024-01-05 00:00:00 UTC, the gap-fill demo day (µs domain).
  private val DayFromUs = 1704412800L * 1000000L
  private val DayUntilUs = DayFromUs + 86400L * 1000000L
  private val MinUs = 60L * 1000000L

  private def decAvg4(valueCol: String): (String, org.apache.spark.sql.Column) =
    "avg_value" -> fround(sum(dec2(col(valueCol))).cast("double") / count(col(valueCol)), 4)

  val defs: Map[String, QueryFn] = Map(
    // ---- SQL_SELECT(from(), between(), limit()) shape -----------------
    "q_sql_select" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("user_id") === 42 &&
          tsNs(e).between(DayFromUs * 1000L, (DayFromUs + 10L * 86400L * 1000000L) * 1000L - 1))
        .select(tsUs(e).as("t_us"), col("event_type"), col("value"))
        .orderBy("t_us").limit(200)
    }),

    // ---- GROUP(timewindow) — empty buckets synthesized, null fill -----
    "q_timewindow_null" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(tsUs(e0).as("t_us"), col("value"))
      GapFill.timewindow(s, e, col("t_us"), DayFromUs, DayUntilUs, MinUs,
        Seq("cnt" -> count(col("value")), decAvg4("value")), GapFill.FillNull)
        .select(col("bucket_ns").as("t_us"), col("cnt"), col("avg_value"))
        .orderBy("t_us")
    }),

    // ---- timewindow + nullValue(const) --------------------------------
    "q_timewindow_const" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(tsUs(e0).as("t_us"), col("value"))
      GapFill.timewindow(s, e, col("t_us"), DayFromUs, DayUntilUs, MinUs,
        Seq(decAvg4("value")), GapFill.FillConst(-1d))
        .select(col("bucket_ns").as("t_us"), col("avg_value"))
        .orderBy("t_us")
    }),

    // ---- timewindow + predict(piecewiseconstant) — LOCF ---------------
    "q_timewindow_locf" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(tsUs(e0).as("t_us"), col("value"))
      GapFill.timewindow(s, e, col("t_us"), DayFromUs, DayUntilUs, MinUs,
        Seq(decAvg4("value")), GapFill.FillPrevious)
        .select(col("bucket_ns").as("t_us"), col("avg_value"))
        .orderBy("t_us")
    }),

    // ---- timewindow + predict(piecewiselinear) ------------------------
    "q_timewindow_linear" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(tsUs(e0).as("t_us"), col("value"))
      GapFill.timewindow(s, e, col("t_us"), DayFromUs, DayUntilUs, MinUs,
        Seq(decAvg4("value")), GapFill.FillLinear)
        .select(col("bucket_ns").as("t_us"), fround(col("avg_value"), 4).as("avg_value"))
        .orderBy("t_us")
    }),

    // ---- MAP_DIFF / MAP_ABSDIFF / MAP_NONEGDIFF -----------------------
    "q_map_diff" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 20)
        .select(col("user_id"), tsUs(e0).as("t_us"), col("value"))
      val k = Seq(col("user_id"))
      e.select(col("user_id"), col("t_us"), col("value"),
        SeqOps.mapDiff(col("value"), k, col("t_us")).as("diff"),
        SeqOps.mapAbsDiff(col("value"), k, col("t_us")).as("absdiff"),
        SeqOps.mapNonNegDiff(col("value"), k, col("t_us")).as("nonegdiff"))
        .orderBy("user_id", "t_us")
    }),

    // ---- MAP_AVG (running) + MAP_MOVAVG (warm-up + noWait) ------------
    "q_map_movavg" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 20)
        .select(col("user_id"), tsUs(e0).as("t_us"), dec2(col("value")).as("value"))
      val k = Seq(col("user_id"))
      e.select(col("user_id"), col("t_us"),
        fround(SeqOps.mapAvg(col("value"), k, col("t_us")), 4).as("running_avg"),
        fround(SeqOps.movAvg(col("value"), k, col("t_us"), 5), 4).as("movavg5"),
        fround(SeqOps.movAvg(col("value"), k, col("t_us"), 5, noWait = true), 4).as("movavg5_nowait"))
        .orderBy("user_id", "t_us")
    }),

    // ---- FILTER_CHANGED -----------------------------------------------
    "q_filter_changed" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 50)
        .select(col("user_id"), tsUs(e0).as("t_us"), col("event_type"))
      SeqOps.filterChanged(e, col("event_type"), Seq(col("user_id")), col("t_us"))
        .orderBy("user_id", "t_us")
    }),

    // ---- MAP_DISTANCE (cumulative haversine, km) ----------------------
    "q_map_distance" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 10)
        .select(col("user_id"), tsUs(e0).as("t_us"),
          ((col("value") - 250d) / 10d).as("lat"),
          (pmod(col("event_id"), lit(360)).cast("double") - 180d).as("lon"))
      e.select(col("user_id"), col("t_us"),
        round(SeqOps.mapDistance(col("lat"), col("lon"), Seq(col("user_id")), col("t_us")) / 1000d, 0)
          .as("dist_km"))
        .orderBy("user_id", "t_us")
    }),

    // ---- time-part accessors (fm_time.go:53-229 surface) --------------
    // Go Weekday() is 0=Sunday (Spark dayofweek - 1 == DuckDB dow);
    // weekofyear/YEAROFWEEK are ISO like DuckDB week/isoyear
    "q_time_parts" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val ts = timestamp_micros(graft.time.TimeFns.nsToUs(tsNs(e0)))
      e0.filter(col("user_id") < 20)
        .select(col("event_id"),
          year(ts).as("y"), month(ts).as("mo"), dayofmonth(ts).as("d"),
          hour(ts).as("h"), minute(ts).as("mi"), second(ts).as("sec"),
          dayofyear(ts).as("yd"), weekofyear(ts).as("isow"),
          (dayofweek(ts) - 1).as("wd"))
        .orderBy("event_id")
    }),

    // ---- MAP_DISTANCE reference semantics: per-leg, not cumulative ----
    // (fm_monad.go:2109-2143; lon offset +0.5 keeps every point off the
    // (0,0) "no fix" sentinel so lag() is an exact oracle)
    "q_map_distance_leg" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 10)
        .select(col("user_id"), tsUs(e0).as("t_us"),
          ((col("value") - 250d) / 10d).as("lat"),
          (pmod(col("event_id"), lit(360)).cast("double") + 0.5d - 180d).as("lon"))
      e.select(col("user_id"), col("t_us"),
        fround(SeqOps.legDistance(col("lat"), col("lon"),
          Seq(col("user_id")), col("t_us")), 1).as("leg_m"))
        .orderBy("user_id", "t_us")
    }),

    // ---- MAP_LOWPASS (recursive state via per-series scan) ------------
    "q_map_lowpass" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 20)
        .select(col("user_id"), tsUs(e0).as("t_us"), col("value"))
      SeqOps.lowpass(e, "user_id", "t_us", "value", 0.3)
        .select(col("user_id"), col("t_us"), r4(col("lowpass")).as("lowpass"))
        .orderBy("user_id", "t_us")
    }),

    // ---- MAP_KALMAN (no SQL oracle — rows-only check) -----------------
    "q_map_kalman" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 20)
        .select(col("user_id"), tsUs(e0).as("t_us"), col("value"))
      SeqOps.kalman(e, "user_id", "t_us", "value", 1d, 0.01, 4d)
        .select(col("user_id"), col("t_us"), r4(col("kalman")).as("kalman"))
        .orderBy("user_id", "t_us")
    }),

    // ---- as-of join with tolerance (nearest within max age) -----------
    // Purchases older than 3 days before the signup don't count as the
    // "last purchase" — the stale match nulls out, the row survives.
    "q_asof_tolerance" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val base = e0.select(col("event_id"), col("user_id"), tsUs(e0).as("t_us"),
        col("event_type"), col("value"))
      val signups = base.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "t_us")
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("value"), col("t_us").as("p_t_us"))
      Lake.asofJoinTolerance(signups, purchases, "user_id", "t_us", "t_us",
        Seq("value", "p_t_us"), tolerance = 3L * 86400L * 1000000L)
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("right_value").as("last_purchase_value"),
          col("right_p_t_us").as("last_purchase_t_us"))
        .orderBy("event_id")
    }),

    // ---- funnel conversion (forward as-of: next event after) ----------
    // Per signup: the earliest purchase at-or-after it, and whether it
    // landed within the 7-day conversion window. Same single-shuffle
    // carry-forward kernel as the backward as-of, on a negated time axis.
    "q_funnel" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val base = e0.select(col("event_id"), col("user_id"), tsUs(e0).as("t_us"),
        col("event_type"))
      val signups = base.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "t_us")
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("t_us").as("p_t_us"))
      Lake.asofJoinForward(signups, purchases, "user_id", "t_us", "t_us",
        Seq("p_t_us"))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("right_p_t_us").as("next_purchase_t_us"),
          (col("right_p_t_us").isNotNull &&
            col("right_p_t_us") - col("t_us") <= 604800000000L).as("converted"))
        .orderBy("event_id")
    }),

    // ---- event sessionization (session_window) ------------------------
    // Sessions = runs of a user's events with < 4h between consecutive
    // ones. Native `session_window` grouping: dynamic-gap merge happens
    // inside the aggregation exchange (one shuffle on user_id, no
    // self-join, and the same operator runs on streams with watermarks).
    // Oracle: the classical lag()+cumsum break-flag formulation.
    "q_sessionize" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.filter(col("user_id") < 50)
        .select(col("user_id"), tsUs(e0).as("t_us"), dec2(col("value")).as("v"))
        .withColumn("ts2", timestamp_micros(col("t_us")))
      e.groupBy(col("user_id"), session_window(col("ts2"), "4 hours"))
        .agg(min("t_us").as("session_start_us"), max("t_us").as("session_end_us"),
          count(lit(1)).as("n_events"),
          r2(sum(col("v")).cast("double")).as("sum_value"))
        .select(col("user_id"), col("session_start_us"), col("session_end_us"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start_us")
    }),

    // ---- STREAMING parity gates: the stateful/streaming kernels run as
    // real Structured Streaming queries over the sf parquet (file source,
    // AvailableNow, memory sink) and must hash-match the same DuckDB
    // oracles as their batch twins — promoting the stream/batch parity
    // that StreamingSpec pins into the oracle gate itself.
    "q_stream_lowpass" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_lowpass", e0, "append") { src =>
        val in = src.filter(col("user_id") < 20)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), col("value"))
        graft.streaming.StatefulOps.lowpassStream(in, alpha = 0.3)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          r4(col("value")).as("lowpass"))
        .orderBy("user_id", "t_us")
    }),

    // streaming FILTER_CHANGED through the gate: the suppressed-duplicate
    // state crosses micro-batch boundaries, so the full-stream result
    // must equal the batch lag() oracle exactly
    "q_stream_changed" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_changed", e0, "append") { src =>
        val in = src.filter(col("user_id") < 20)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), col("value"))
        graft.streaming.StatefulOps.filterChangedStream(in)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          col("value"))
        .orderBy("user_id", "t_us")
    }),

    // streaming MAP_KALMAN through the gate: the (x, p) register crosses
    // micro-batch boundaries and the full-stream output must hash-match
    // the batch kernel's recursive-CTE oracle
    "q_stream_kalman" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_kalman", e0, "append") { src =>
        val in = src.filter(col("user_id") < 20)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), col("value"))
        graft.streaming.StatefulOps.kalmanStream(in,
          initVar = 1d, procVar = 0.01, obsVar = 4d)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          r4(col("value")).as("kalman"))
        .orderBy("user_id", "t_us")
    }),

    // streaming MAP_MOVAVG through the gate: the bounded window buffer
    // crosses micro-batch boundaries; warm-up (< window records) emits
    // null exactly like the batch kernel / fm_monad.go:2023-2073
    "q_stream_movavg" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_movavg", e0, "append") { src =>
        val in = src.filter(col("user_id") < 20)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), col("value"))
        graft.streaming.StatefulOps.movavgStream(in, window = 5)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          r4(col("value")).as("movavg5"))
        .orderBy("user_id", "t_us")
    }),

    // streaming MAP_AVG through the gate: the (count, scaled-sum)
    // register crosses micro-batch boundaries; scaled-long accumulation
    // makes the stream bit-identical to the batch DECIMAL window sum
    "q_stream_avg" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_avg", e0, "append") { src =>
        val in = src.filter(col("user_id") < 20)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), dec2(col("value")).cast("double").as("value"))
        graft.streaming.StatefulOps.avgStream(in, scaleDigits = 2)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          // fround, not round: a running mean of 2-decimal values lands
          // exactly on x.00005 often, where BigDecimal HALF_UP and the
          // oracle's float floor(x*1e4+0.5) disagree
          fround(col("value"), 4).as("running_avg"))
        .orderBy("user_id", "t_us")
    }),

    // streaming MAP_DISTANCE through the gate: previous point +
    // cumulative meters cross micro-batch boundaries; the JVM haversine
    // mirrors the batch Column kernel operation-for-operation
    "q_stream_distance" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_distance", e0, "append") { src =>
        val in = src.filter(col("user_id") < 10)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"),
            ((col("value") - 250d) / 10d).as("lat"),
            (pmod(col("event_id"), lit(360)).cast("double") - 180d).as("lon"))
        graft.streaming.StatefulOps.distanceStream(in)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          round(col("meters") / 1000d, 0).as("dist_km"))
        .orderBy("user_id", "t_us")
    }),

    // streaming MAP_DIFF through the gate: the previous-value state
    // crosses micro-batch boundaries; first record per tag emits null
    "q_stream_diff" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      StreamRun.gate("q_stream_diff", e0, "append") { src =>
        val in = src.filter(col("user_id") < 20)
          .select(col("user_id").cast("string").as("name"),
            tsNs(src).as("time"), col("value"))
        graft.streaming.StatefulOps.diffStream(in)
      }.select(
          col("name").cast(e0.schema("user_id").dataType).as("user_id"),
          unix_micros(col("time")).as("t_us"),
          r4(col("value")).as("diff"))
        .orderBy("user_id", "t_us")
    }),

    "q_stream_sessionize" -> ((s, dir) => {
      // complete mode: every session is in the final table — append mode
      // would hold back sessions the closing watermark never passes
      StreamRun.gate("q_stream_sessionize", t(s, dir, "events"), "complete") { src =>
        val e = src.filter(col("user_id") < 50)
          .select(col("user_id"), tsUs(src).as("t_us"), dec2(col("value")).as("v"))
          .withColumn("ts2", timestamp_micros(col("t_us")))
        e.groupBy(col("user_id"), session_window(col("ts2"), "4 hours"))
          .agg(min("t_us").as("session_start_us"), max("t_us").as("session_end_us"),
            count(lit(1)).as("n_events"),
            r2(sum(col("v")).cast("double")).as("sum_value"))
          .select(col("user_id"), col("session_start_us"), col("session_end_us"),
            col("n_events"), col("sum_value"))
      }.orderBy("user_id", "session_start_us")
    }),

    // ---- last value per tag (lake current/last endpoint) --------------
    "q_last_per_tag" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(col("user_id"), tsUs(e0).as("t_us"), col("value"))
      Lake.lastPerTag(e, col("user_id"), col("t_us"), col("value"))
        .select(col("name"), col("last_time_ns").as("last_time_us"), col("last_value"))
        .orderBy("name")
    }),

    // ---- V$T_STAT per-tag stats (deterministic extreme times) ---------
    "q_tag_stat" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(col("user_id"), tsUs(e0).as("t_us"), col("value"))
      val wU = Window.partitionBy("user_id")
      e.withColumn("mv", min("value").over(wU))
        .withColumn("xv", max("value").over(wU))
        .groupBy(col("user_id").as("name"))
        .agg(
          count(lit(1)).as("row_count"),
          min("t_us").as("min_time"), max("t_us").as("max_time"),
          min("value").as("min_value"),
          min(when(col("value") === col("mv"), col("t_us"))).as("min_value_time"),
          max("value").as("max_value"),
          min(when(col("value") === col("xv"), col("t_us"))).as("max_value_time"))
        .orderBy("name")
    }),

    // ---- as-of join (latest purchase at-or-before each signup) --------
    "q_asof_join" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val base = e0.select(col("event_id"), col("user_id"), tsUs(e0).as("t_us"),
        col("event_type"), col("value"))
      val signups = base.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "t_us")
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("value"), col("t_us").as("p_t_us"))
      Lake.asofJoin(signups, purchases, "user_id", "t_us", "t_us", Seq("value", "p_t_us"))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("right_value").as("last_purchase_value"),
          col("right_p_t_us").as("last_purchase_t_us"))
        .orderBy("event_id")
    }),

    // ---- skew-guarded as-of join: same oracle as q_asof_join ----------
    // The time-sliced kernel (hot keys spread over week-slices, boundary
    // handoff on a compact per-(key, slice) frame) must be bit-identical
    // to the single-window kernel — proven here against DuckDB's native
    // ASOF join, not just against our own baseline.
    "q_asof_sliced" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val base = e0.select(col("event_id"), col("user_id"), tsUs(e0).as("t_us"),
        col("event_type"), col("value"))
      val signups = base.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "t_us")
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us"), col("value"), col("t_us").as("p_t_us"))
      Lake.asofJoinSliced(signups, purchases, "user_id", "t_us", "t_us",
        Seq("value", "p_t_us"), sliceNs = 7L * 86400L * 1000000L) // µs axis
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("right_value").as("last_purchase_value"),
          col("right_p_t_us").as("last_purchase_t_us"))
        .orderBy("event_id")
    }),

    // ---- bucketed range join (ships within a week of the order) -------
    // interval join as a HASH equi-join on 8-day buckets + residual
    // filter (operators.RangeJoin) — never a nested-loop; the oracle is
    // DuckDB's native range join over the same predicate.
    "q_range_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      val iv = orders.select(col("o_orderkey"),
        unix_date(col("o_orderdate").cast("date")).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 7)
      val pts = t(s, dir, "lineitem").select(
        unix_date(col("l_shipdate").cast("date")).cast("long").as("ship_day"))
      graft.operators.RangeJoin.rangeJoin(pts, "ship_day", iv, "lo", "hi", 8L)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_ships"), min("ship_day").as("first_ship_day"))
        .orderBy("o_orderkey")
    }),

    // ---- z-order (Morton) codes for two-dimensional layout ------------
    "q_zorder" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("event_id") < 5000)
      e.select(col("event_id"),
          graft.operators.ZOrder.zValue(col("user_id").cast("long"),
            floor(col("value")).cast("long")).as("z"))
        .orderBy("event_id")
    }),

    // ---- salted skew-join (result-identical to the plain join) --------
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), Q.dec2(col("l_extendedprice")).as("price"))
      val orders = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.SaltedJoin.join(li, orders, Seq("l_orderkey"), salts = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum("price").cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // ---- error-bounded sketches (approx distinct / percentile) --------
    // The approx values are engine-specific, so the oracle checks the
    // BOUND, not the estimate: the query emits the exact value plus a
    // boolean verdict that must be true — the same in-query pattern as
    // the ANN recall oracles. The median estimate is validated by RANK
    // COUNTING (the fraction of values at or below it must sit near
    // 0.5), not by computing the exact percentile — an exact per-group
    // sort is precisely the cost a sketch exists to avoid.
    "q_sketch_bounds" -> ((s, dir) => {
      val e = t(s, dir, "events")
      // default 5% rsd with a ±16% (3.2σ) bound: a tighter rsd costs
      // quadratically more HLL registers (rsd 0.01 made this the most
      // expensive query in the suite), and the ±5% bound sat at 1σ of
      // the default sketch — genuinely missed at sf0.1
      // the exact count is a set size, not countDistinct: a distinct
      // aggregate beside approx_percentile expands every row and gives
      // each (event_type, user_id) group its own percentile buffer
      val sk = e.groupBy("event_type")
        .agg(size(collect_set("user_id")).cast("long").as("exact_users"),
          approx_count_distinct("user_id").as("approx_users"),
          expr("approx_percentile(value, 0.5, 10000)").as("approx_p50"))
      // both user counts are constant per event_type, so grouping by
      // them keeps the rows and carries them past the rank count: `sk`
      // is aggregated once, with no join back to it
      e.join(broadcast(sk), "event_type")
        .groupBy("event_type", "exact_users", "approx_users")
        .agg((sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("below_frac"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * 0.16, lit(1.0))).as("distinct_ok"),
          col("below_frac").between(0.45, 0.55).as("p50_ok"))
        .orderBy("event_type")
    }),

    // ---- pivot tags→columns per day bucket (lake pivot) ---------------
    "q_pivot" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.select((tsUs(e0) - pmod(tsUs(e0), lit(86400000000L))).as("day_us"),
        col("event_type"), col("value"))
        .groupBy("day_us")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(fround(sum(dec2(col("value"))).cast("double") / count(col("value")), 4))
        .orderBy("day_us")
    }),

    // ---- lake calc_mode=SUM over DATE_TRUNC('HOUR') -------------------
    "q_lake_calc" -> ((s, dir) => {
      val e0 = t(s, dir, "events").filter(col("user_id") < 10)
      Lake.calc(e0, col("user_id"), tsNs(e0), dec2(col("value")), "SUM", "HOUR")
        .select(col("name"), TimeFns.nsToUs(col("time_ns")).as("t_us"),
          col("value").cast("double").as("value"))
        .orderBy("name", "t_us")
    }),

    // ---- lake REST door calc template (two-stage rollup shape) --------
    // calc_mode=SUM, interval 5 MIN, direction=1 (desc), LIMIT — the
    // /lakes/values/calculated plan: 1×unit rollup sub-aggregate
    // re-aggregated to n×unit buckets (http_lake.go:674-703).
    "q_lake_door" -> ((s, dir) => {
      val e0 = t(s, dir, "events").filter(col("user_id") < 10)
      graft.server.LakeDoor.calcFrame(e0, col("user_id"), tsNs(e0),
          dec2(col("value")), "SUM", "MIN", 5)
        .select(col("NAME").as("name"), TimeFns.nsToUs(col("__tn")).as("t_us"),
          col("VALUE").cast("double").as("value"))
        .orderBy(col("t_us").desc, col("name").desc)
        .limit(500)
    }),

    // ---- rollup table build (1-hour pre-aggregate) --------------------
    "q_rollup_build" -> ((s, dir) => {
      val e0 = t(s, dir, "events").filter(col("user_id") < 10)
      Lake.rollup(e0, col("user_id"), tsNs(e0), dec2(col("value")), "HOUR")
        .select(col("name"), TimeFns.nsToUs(col("time_ns")).as("t_us"),
          col("min_value").cast("double").as("min_value"),
          col("max_value").cast("double").as("max_value"),
          col("sum_value").cast("double").as("sum_value"),
          col("sumsq_value").cast("double").as("sumsq_value"), col("cnt"))
        .orderBy("name", "t_us")
    }),

    // ---- answering AVG(day) from the hourly rollup (pre-agg routing) --
    "q_rollup_avg" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      Lake.rollup(e0, col("user_id"), tsNs(e0), dec2(col("value")), "HOUR")
        .groupBy(col("name"),
          (col("time_ns") - pmod(col("time_ns"), lit(TimeFns.NsPerDay))).as("day_ns"))
        .agg((sum("sum_value").cast("double") / sum("cnt")).as("avg_raw"))
        .select(col("name"), TimeFns.nsToUs(col("day_ns")).as("day_us"),
          fround(col("avg_raw"), 4).as("avg_value"))
        .orderBy("name", "day_us")
    }))

  private val spineMinute =
    s"(SELECT $DayFromUs + CAST(range AS BIGINT)*60000000 AS t_us FROM range(1440))"

  // shared µs-bucket aggregate subquery for the gap-fill oracles
  private val minuteAgg =
    s"""SELECT epoch_us(ts) - epoch_us(ts) % 60000000 AS b_us,
        count(value) AS cnt,
        floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value))*10000.0 + 0.5)/10000.0 AS avg_value
        FROM events WHERE epoch_us(ts) >= $DayFromUs AND epoch_us(ts) < $DayUntilUs
        GROUP BY 1"""

  val oracles: Map[String, String] = Map(
    "q_sql_select" ->
      s"""SELECT epoch_us(ts) AS t_us, event_type, value FROM events
          WHERE user_id = 42 AND epoch_us(ts) BETWEEN $DayFromUs AND ${DayFromUs + 10L * 86400000000L - 1}
          ORDER BY t_us LIMIT 200""",
    "q_timewindow_null" ->
      s"""SELECT s.t_us, a.cnt, a.avg_value
          FROM $spineMinute s LEFT JOIN ($minuteAgg) a ON s.t_us = a.b_us
          ORDER BY s.t_us""",
    "q_timewindow_const" ->
      s"""SELECT s.t_us, coalesce(a.avg_value, -1.0) AS avg_value
          FROM $spineMinute s LEFT JOIN ($minuteAgg) a ON s.t_us = a.b_us
          ORDER BY s.t_us""",
    // piecewiseconstant is RIGHT-continuous (gaps take the NEXT
    // observation; the tail holds the last) — the reference timewindow
    // battery pins this orientation
    "q_timewindow_locf" ->
      s"""WITH j AS (
            SELECT s.t_us, a.avg_value
            FROM $spineMinute s LEFT JOIN ($minuteAgg) a ON s.t_us = a.b_us)
          SELECT t_us, coalesce(
            first_value(avg_value IGNORE NULLS) OVER (ORDER BY t_us ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
            last_value(avg_value IGNORE NULLS) OVER (ORDER BY t_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ) AS avg_value
          FROM j ORDER BY t_us""",
    "q_timewindow_linear" ->
      s"""WITH j AS (
            SELECT s.t_us, a.avg_value
            FROM $spineMinute s LEFT JOIN ($minuteAgg) a ON s.t_us = a.b_us),
          f AS (
            SELECT t_us, avg_value,
              last_value(avg_value IGNORE NULLS) OVER (ORDER BY t_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
              last_value(CASE WHEN avg_value IS NOT NULL THEN t_us END IGNORE NULLS) OVER (ORDER BY t_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
              first_value(avg_value IGNORE NULLS) OVER (ORDER BY t_us ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
              first_value(CASE WHEN avg_value IS NOT NULL THEN t_us END IGNORE NULLS) OVER (ORDER BY t_us ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
            FROM j)
          SELECT t_us, floor((CASE
              WHEN avg_value IS NOT NULL THEN avg_value
              WHEN pv IS NULL THEN nv
              WHEN nv IS NULL THEN pv
              ELSE pv + (nv - pv) * (t_us - pt) / (nt - pt) END) * 10000.0 + 0.5) / 10000.0 AS avg_value
          FROM f ORDER BY t_us""",
    "q_map_diff" ->
      """SELECT user_id, epoch_us(ts) AS t_us, value,
         value - lag(value) OVER w AS diff,
         abs(value - lag(value) OVER w) AS absdiff,
         CASE WHEN value - lag(value) OVER w < 0 THEN 0.0
              ELSE value - lag(value) OVER w END AS nonegdiff
         FROM events WHERE user_id < 20
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ORDER BY user_id, t_us""",
    "q_map_movavg" ->
      """SELECT user_id, epoch_us(ts) AS t_us,
         floor((CAST(sum(CAST(value AS DECIMAL(18,2))) OVER wall AS DOUBLE)
               / count(value) OVER wall) * 10000.0 + 0.5) / 10000.0 AS running_avg,
         floor((CASE WHEN count(value) OVER w5 >= 5
               THEN CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE) / count(value) OVER w5
               END) * 10000.0 + 0.5) / 10000.0 AS movavg5,
         floor((CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
               / count(value) OVER w5) * 10000.0 + 0.5) / 10000.0 AS movavg5_nowait
         FROM events WHERE user_id < 20
         WINDOW
           wall AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w5 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, t_us""",
    "q_filter_changed" ->
      """SELECT user_id, t_us, event_type FROM (
           SELECT user_id, epoch_us(ts) AS t_us, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events WHERE user_id < 50)
         WHERE prev IS NULL OR prev <> event_type
         ORDER BY user_id, t_us""",
    "q_time_parts" ->
      """SELECT event_id,
           CAST(date_part('year', ts) AS INT) AS y,
           CAST(date_part('month', ts) AS INT) AS mo,
           CAST(date_part('day', ts) AS INT) AS d,
           CAST(date_part('hour', ts) AS INT) AS h,
           CAST(date_part('minute', ts) AS INT) AS mi,
           CAST(date_part('second', ts) AS INT) AS sec,
           CAST(date_part('doy', ts) AS INT) AS yd,
           CAST(date_part('week', ts) AS INT) AS isow,
           CAST(date_part('dow', ts) AS INT) AS wd
         FROM events WHERE user_id < 20 ORDER BY event_id""",
    "q_map_distance_leg" ->
      """WITH pts AS (
           SELECT user_id, epoch_us(ts) AS t_us,
             (value - 250)/10 AS lat,
             CAST(event_id % 360 AS DOUBLE) + 0.5 - 180 AS lon
           FROM events WHERE user_id < 10),
         legs AS (
           SELECT user_id, t_us,
             2 * 6378137.0 * asin(sqrt(
               sin(radians(lat - lag(lat) OVER w)/2) * sin(radians(lat - lag(lat) OVER w)/2)
               + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
                 * sin(radians(lon - lag(lon) OVER w)/2) * sin(radians(lon - lag(lon) OVER w)/2)
             )) AS leg
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t_us))
         SELECT user_id, t_us,
           floor(coalesce(leg, 0) * 10 + 0.5) / 10 AS leg_m
         FROM legs ORDER BY user_id, t_us""",
    "q_map_distance" ->
      """WITH pts AS (
           SELECT user_id, epoch_us(ts) AS t_us,
             (value - 250)/10 AS lat,
             CAST(event_id % 360 AS DOUBLE) - 180 AS lon
           FROM events WHERE user_id < 10),
         legs AS (
           SELECT user_id, t_us,
             2 * 6378137.0 * asin(sqrt(
               sin(radians(lat - lag(lat) OVER w)/2) * sin(radians(lat - lag(lat) OVER w)/2)
               + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
                 * sin(radians(lon - lag(lon) OVER w)/2) * sin(radians(lon - lag(lon) OVER w)/2)
             )) AS leg
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t_us))
         SELECT user_id, t_us,
           round(sum(coalesce(leg, 0)) OVER (PARTITION BY user_id ORDER BY t_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000, 0) AS dist_km
         FROM legs ORDER BY user_id, t_us""",
    "q_map_lowpass" ->
      """WITH RECURSIVE base AS (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events WHERE user_id < 20),
         rec AS (
           SELECT user_id, t_us, rn, value AS y FROM base WHERE rn = 1
           UNION ALL
           SELECT b.user_id, b.t_us, b.rn, (1 - 0.3) * r.y + 0.3 * b.value
           FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         SELECT user_id, t_us, round(y, 4) AS lowpass FROM rec
         ORDER BY user_id, t_us""",
    // Kalman 1-D SimpleModel recurrence as a recursive CTE (same pattern
    // that oracles q_map_lowpass): state = (x, p); p's update is
    // value-independent, x mirrors fm_monad.go:1908-1991 exactly —
    // init 1.0, process 0.01, observation 4.0.
    "q_map_kalman" ->
      """WITH RECURSIVE base AS (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events WHERE user_id < 20),
         rec AS (
           SELECT user_id, t_us, rn, value AS x, CAST(1.0 AS DOUBLE) AS p FROM base WHERE rn = 1
           UNION ALL
           SELECT b.user_id, b.t_us, b.rn,
             r.x + ((r.p + 0.01) / ((r.p + 0.01) + 4.0)) * (b.value - r.x),
             (r.p + 0.01) * (1 - (r.p + 0.01) / ((r.p + 0.01) + 4.0))
           FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         SELECT user_id, t_us, round(x, 4) AS kalman FROM rec
         ORDER BY user_id, t_us""",
    "q_funnel" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us,
         epoch_us(r.ts) AS next_purchase_t_us,
         coalesce(epoch_us(r.ts) - epoch_us(l.ts) <= 604800000000, FALSE) AS converted
         FROM (SELECT * FROM events WHERE event_type = 'signup') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND r.ts >= l.ts
         ORDER BY l.event_id""",
    "q_asof_tolerance" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us,
         CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 259200000000
              THEN r.value END AS last_purchase_value,
         CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 259200000000
              THEN epoch_us(r.ts) END AS last_purchase_t_us
         FROM (SELECT * FROM events WHERE event_type = 'signup') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id""",
    // streaming parity gates: same oracles as the batch twins — the
    // stream must produce bit-identical results to the batch kernel
    "q_stream_lowpass" ->
      """WITH RECURSIVE base AS (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events WHERE user_id < 20),
         rec AS (
           SELECT user_id, t_us, rn, value AS y FROM base WHERE rn = 1
           UNION ALL
           SELECT b.user_id, b.t_us, b.rn, (1 - 0.3) * r.y + 0.3 * b.value
           FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         SELECT user_id, t_us, round(y, 4) AS lowpass FROM rec
         ORDER BY user_id, t_us""",
    "q_stream_avg" ->
      """SELECT user_id, epoch_us(ts) AS t_us,
         floor((CAST(sum(CAST(value AS DECIMAL(18,2))) OVER wall AS DOUBLE)
               / count(value) OVER wall) * 10000.0 + 0.5) / 10000.0 AS running_avg
         FROM events WHERE user_id < 20
         WINDOW wall AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY user_id, t_us""",
    "q_stream_distance" ->
      """WITH pts AS (
           SELECT user_id, epoch_us(ts) AS t_us,
             (value - 250)/10 AS lat,
             CAST(event_id % 360 AS DOUBLE) - 180 AS lon
           FROM events WHERE user_id < 10),
         legs AS (
           SELECT user_id, t_us,
             2 * 6378137.0 * asin(sqrt(
               sin(radians(lat - lag(lat) OVER w)/2) * sin(radians(lat - lag(lat) OVER w)/2)
               + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
                 * sin(radians(lon - lag(lon) OVER w)/2) * sin(radians(lon - lag(lon) OVER w)/2)
             )) AS leg
           FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t_us))
         SELECT user_id, t_us,
           round(sum(coalesce(leg, 0)) OVER (PARTITION BY user_id ORDER BY t_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000, 0) AS dist_km
         FROM legs ORDER BY user_id, t_us""",
    "q_stream_movavg" ->
      """SELECT user_id, epoch_us(ts) AS t_us,
         floor((CASE WHEN count(value) OVER w5 >= 5
               THEN CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE) / count(value) OVER w5
               END) * 10000.0 + 0.5) / 10000.0 AS movavg5
         FROM events WHERE user_id < 20
         WINDOW w5 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, t_us""",
    "q_stream_changed" ->
      """SELECT user_id, t_us, value FROM (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events WHERE user_id < 20)
         WHERE prev IS NULL OR prev <> value
         ORDER BY user_id, t_us""",
    "q_stream_kalman" ->
      """WITH RECURSIVE base AS (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events WHERE user_id < 20),
         rec AS (
           SELECT user_id, t_us, rn, value AS x, CAST(1.0 AS DOUBLE) AS p FROM base WHERE rn = 1
           UNION ALL
           SELECT b.user_id, b.t_us, b.rn,
             r.x + ((r.p + 0.01) / ((r.p + 0.01) + 4.0)) * (b.value - r.x),
             (r.p + 0.01) * (1 - (r.p + 0.01) / ((r.p + 0.01) + 4.0))
           FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         SELECT user_id, t_us, round(x, 4) AS kalman FROM rec
         ORDER BY user_id, t_us""",
    "q_stream_diff" ->
      """SELECT user_id, t_us, round(value - prev, 4) AS diff FROM (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events WHERE user_id < 20)
         ORDER BY user_id, t_us""",
    "q_stream_sessionize" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS t,
             CAST(value AS DECIMAL(18,2)) AS v
           FROM events WHERE user_id < 50),
         g AS (SELECT user_id, t, v,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 14400000000
             THEN 1 ELSE 0 END AS brk FROM o),
         s AS (SELECT user_id, t, v, sum(brk) OVER (PARTITION BY user_id
             ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         SELECT user_id, min(t) AS session_start_us, max(t) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(v) AS DOUBLE), 2) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""",
    "q_sessionize" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS t,
             CAST(value AS DECIMAL(18,2)) AS v
           FROM events WHERE user_id < 50),
         g AS (SELECT user_id, t, v,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 14400000000
             THEN 1 ELSE 0 END AS brk FROM o),
         s AS (SELECT user_id, t, v, sum(brk) OVER (PARTITION BY user_id
             ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         SELECT user_id, min(t) AS session_start_us, max(t) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(v) AS DOUBLE), 2) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""",
    "q_last_per_tag" ->
      """SELECT user_id AS name, max(epoch_us(ts)) AS last_time_us,
         arg_max(value, epoch_us(ts)) AS last_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_tag_stat" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS t_us, value,
             min(value) OVER (PARTITION BY user_id) AS mv,
             max(value) OVER (PARTITION BY user_id) AS xv
           FROM events)
         SELECT user_id AS name, count(*) AS row_count,
           min(t_us) AS min_time, max(t_us) AS max_time,
           min(value) AS min_value,
           min(CASE WHEN value = mv THEN t_us END) AS min_value_time,
           max(value) AS max_value,
           min(CASE WHEN value = xv THEN t_us END) AS max_value_time
         FROM e GROUP BY 1 ORDER BY 1""",
    "q_zorder" ->
      """WITH d AS (SELECT event_id, CAST(user_id AS BIGINT) AS a,
             CAST(floor(value) AS BIGINT) AS b
           FROM events WHERE event_id < 5000),
         s1 AS (SELECT event_id, a & 4294967295 AS xa, b & 4294967295 AS xb FROM d),
         s2 AS (SELECT event_id, (xa | (xa << 16)) & 281470681808895 AS xa,
                 (xb | (xb << 16)) & 281470681808895 AS xb FROM s1),
         s3 AS (SELECT event_id, (xa | (xa << 8)) & 71777214294589695 AS xa,
                 (xb | (xb << 8)) & 71777214294589695 AS xb FROM s2),
         s4 AS (SELECT event_id, (xa | (xa << 4)) & 1085102592571150095 AS xa,
                 (xb | (xb << 4)) & 1085102592571150095 AS xb FROM s3),
         s5 AS (SELECT event_id, (xa | (xa << 2)) & 3689348814741910323 AS xa,
                 (xb | (xb << 2)) & 3689348814741910323 AS xb FROM s4),
         s6 AS (SELECT event_id, (xa | (xa << 1)) & 6148914691236517205 AS xa,
                 (xb | (xb << 1)) & 6148914691236517205 AS xb FROM s5)
         SELECT event_id, xa | (xb << 1) AS z FROM s6 ORDER BY event_id""",
    "q_salted_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderkey % 10 = 0 GROUP BY 1 ORDER BY 1""",
    "q_sketch_bounds" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         true AS distinct_ok, true AS p50_ok
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_range_join" ->
      """SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_ships,
         CAST(min(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS first_ship_day
         FROM orders JOIN lineitem
           ON CAST(l_shipdate AS DATE) BETWEEN CAST(o_orderdate AS DATE)
              AND CAST(o_orderdate AS DATE) + 7
         WHERE o_orderkey % 100 = 0
         GROUP BY 1 ORDER BY 1""",
    "q_asof_join" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us,
         r.value AS last_purchase_value, epoch_us(r.ts) AS last_purchase_t_us
         FROM (SELECT * FROM events WHERE event_type = 'signup') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id""",
    "q_asof_sliced" ->
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS t_us,
         r.value AS last_purchase_value, epoch_us(r.ts) AS last_purchase_t_us
         FROM (SELECT * FROM events WHERE event_type = 'signup') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND r.ts <= l.ts
         ORDER BY l.event_id""",
    "q_pivot" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
         floor((CAST(sum(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) / count(CASE WHEN event_type='click' THEN value END))*10000.0 + 0.5)/10000.0 AS click,
         floor((CAST(sum(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) / count(CASE WHEN event_type='error' THEN value END))*10000.0 + 0.5)/10000.0 AS error,
         floor((CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) / count(CASE WHEN event_type='purchase' THEN value END))*10000.0 + 0.5)/10000.0 AS purchase,
         floor((CAST(sum(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) / count(CASE WHEN event_type='signup' THEN value END))*10000.0 + 0.5)/10000.0 AS signup,
         floor((CAST(sum(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) / count(CASE WHEN event_type='view' THEN value END))*10000.0 + 0.5)/10000.0 AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_lake_calc" ->
      """SELECT user_id AS name,
         epoch_us(ts) - epoch_us(ts) % 3600000000 AS t_us,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
         FROM events WHERE user_id < 10 GROUP BY 1,2 ORDER BY 1,2""",
    "q_lake_door" ->
      """SELECT name, t_us, value FROM (
         SELECT user_id AS name,
         epoch_us(ts) - epoch_us(ts) % 300000000 AS t_us,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
         FROM events WHERE user_id < 10 GROUP BY 1,2)
         ORDER BY t_us DESC, name DESC LIMIT 500""",
    "q_rollup_build" ->
      """SELECT user_id AS name,
         epoch_us(ts) - epoch_us(ts) % 3600000000 AS t_us,
         CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
         CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sumsq_value,
         count(value) AS cnt
         FROM events WHERE user_id < 10 GROUP BY 1,2 ORDER BY 1,2""",
    "q_rollup_avg" ->
      """SELECT user_id AS name,
         epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
         floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value))*10000.0 + 0.5)/10000.0 AS avg_value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")
}
