package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.Rounding.fround

/** Order-dependent sequential transforms (reference: mods/tql/fm_monad.go
  * MAP_DIFF family 1806-1906, MAP_AVG 1993-2021, MAP_MOVAVG 2023-2073,
  * MAP_LOWPASS 2081-2107, MAP_KALMAN 1908-1991, MAP_DISTANCE 2109-2143).
  *
  * Scale design: everything expressible as a window function uses one
  * (single shuffle on the series key, sort within partition, codegen'd).
  * Recursive filters (lowpass, Kalman) are not window-expressible; they
  * run as `repartition(key).sortWithinPartitions(key, time)` +
  * `mapPartitions` — one pass, one shuffle, arbitrarily many series per
  * partition, state reset on key change. A series never needs to fit in
  * memory (iterator streaming), only its partition's sort spill does.
  */
object SeqOps {
  private def w(key: Seq[Column], time: Column): WindowSpec =
    Window.partitionBy(key: _*).orderBy(time)

  /** First difference vs previous record; first row in a series → null. */
  def mapDiff(v: Column, key: Seq[Column], time: Column): Column =
    v - lag(v, 1).over(w(key, time))

  /** Time-typed MAP_DIFF family: consecutive records diff to a ns-duration
    * LONG (the reference's time_diff branch returns int64(time.Duration),
    * fm_monad.go:1884-1905); abs negates, nonNeg clamps to 0. */
  def mapDiffTimeNs(ts: Column, key: Seq[Column], time: Column,
                    abs: Boolean = false, nonNeg: Boolean = false): Column = {
    val ns = unix_micros(ts) * 1000L
    val d = ns - lag(ns, 1).over(w(key, time))
    if (abs) when(d < 0L, -d).otherwise(d)
    else if (nonNeg) when(d < 0L, lit(0L)).otherwise(d)
    else d
  }

  def mapAbsDiff(v: Column, key: Seq[Column], time: Column): Column =
    abs(mapDiff(v, key, time))

  /** Negative differences clamp to 0 (counter-reset semantics). */
  def mapNonNegDiff(v: Column, key: Seq[Column], time: Column): Column = {
    val d = mapDiff(v, key, time)
    when(d < 0d, 0d).otherwise(d)
  }

  /** Cumulative running mean. Computed as sum/count (not `avg`) so that a
    * decimal-typed input yields an exact, order-independent accumulation
    * before the final double division. */
  def mapAvg(v: Column, key: Seq[Column], time: Column): Column = {
    val frame = w(key, time).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sum(v).over(frame).cast(DoubleType) / count(v).over(frame)
  }

  /** Trailing moving average over `n` rows. Until the window is full the
    * reference emits null unless noWait (reference fm_monad.go:2023-2073). */
  def movAvg(v: Column, key: Seq[Column], time: Column, n: Int, noWait: Boolean = false): Column = {
    val frame = w(key, time).rowsBetween(-(n - 1).toLong, Window.currentRow)
    val m = sum(v).over(frame).cast(DoubleType) / count(v).over(frame)
    if (noWait) m
    else when(count(v).over(frame) >= n.toLong, m).otherwise(lit(null).cast(DoubleType))
  }

  /** MAP_DISTANCE: haversine meters from the previous VALID point —
    * per-leg, not cumulative. The first record and (0,0)/null points
    * emit 0 and do not advance the previous point
    * (reference fm_monad.go:2109-2143, nums/geography.go:39-55). */
  def legDistance(lat: Column, lon: Column, key: Seq[Column], time: Column): Column = {
    val prevFrame = w(key, time).rowsBetween(Window.unboundedPreceding, -1)
    val valid = lat.isNotNull && lon.isNotNull && !(lat === 0d && lon === 0d)
    val pLat = last(when(valid, lat), ignoreNulls = true).over(prevFrame)
    val pLon = last(when(valid, lon), ignoreNulls = true).over(prevFrame)
    when(!valid || pLat.isNull, lit(0d))
      .otherwise(graft.functions.ScalarFns.haversineM(pLat, pLon, lat, lon))
  }

  /** Cumulative haversine distance along a (lat,lon) track, meters. */
  def mapDistance(lat: Column, lon: Column, key: Seq[Column], time: Column): Column = {
    val ws = w(key, time)
    val leg = graft.functions.ScalarFns.haversineM(
      lag(lat, 1).over(ws), lag(lon, 1).over(ws), lat, lon)
    sum(coalesce(leg, lit(0d))).over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  /** Generic per-series ordered scan: repartition on the series key, sort
    * (key, time) within partitions, stream rows through `step` with state
    * reset at key boundaries. Output appends one double column. */
  def perSeriesScan(df: DataFrame, keyCol: String, timeCol: String, outCol: String)(
      newState: () => (Row => Double)): DataFrame = {
    val outSchema = df.schema.add(outCol, DoubleType)
    val keyIdx = df.schema.fieldIndex(keyCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(timeCol))
      .mapPartitions { it =>
        var curKey: Any = null
        var step: Row => Double = null
        it.map { row =>
          val k = row.get(keyIdx)
          if (step == null || k != curKey) { curKey = k; step = newState() }
          Row.fromSeq(row.toSeq :+ step(row))
        }
      }(Encoders.row(outSchema))
  }

  /** Exponential smoothing y ← (1-α)y + αx (reference fm_monad.go:2081).
    * First sample passes through unchanged. */
  def lowpass(df: DataFrame, keyCol: String, timeCol: String, valCol: String,
              alpha: Double, outCol: String = "lowpass"): DataFrame = {
    val vIdx = df.schema.fieldIndex(valCol)
    perSeriesScan(df, keyCol, timeCol, outCol) { () =>
      var y = Double.NaN
      row => {
        val x = row.getDouble(vIdx)
        y = if (y.isNaN) x else (1d - alpha) * y + alpha * x
        y
      }
    }
  }

  /** 1-D Kalman filter, SimpleModel semantics: initial/process/observation
    * variances (reference fm_monad.go:1908-1991, rosshemsley/kalman). */
  def kalman(df: DataFrame, keyCol: String, timeCol: String, valCol: String,
             initVar: Double, procVar: Double, obsVar: Double,
             outCol: String = "kalman"): DataFrame = {
    val vIdx = df.schema.fieldIndex(valCol)
    perSeriesScan(df, keyCol, timeCol, outCol) { () =>
      var x = Double.NaN
      var p = initVar
      row => {
        val z = row.getDouble(vIdx)
        if (x.isNaN) { x = z }
        else {
          p += procVar
          val k = p / (p + obsVar)
          x += k * (z - x)
          p *= (1d - k)
        }
        x
      }
    }
  }

  /** FILTER_CHANGED: keep a record only when the tracked value differs
    * from the previous record's (reference fm_monad.go:121-238). The first
    * record of each series is always kept. */
  def filterChanged(df: DataFrame, v: Column, key: Seq[Column], time: Column): DataFrame = {
    val prev = lag(v, 1).over(w(key, time))
    df.withColumn("__chg", prev.isNull || prev =!= v)
      .filter(col("__chg")).drop("__chg")
  }

  /** FILTER_CHANGED(useFirstWithLast(true)): emit both the first AND the
    * last record of every run of equal values. A single-record run is
    * emitted TWICE — the reference returns it once as the previous run's
    * closer and once as the new run's opener ([]*Record{lastRecord,
    * inflight}, fm_monad.go:190-199; task_test.go pins the duplicated
    * single C record). */
  def filterChangedFirstLast(df: DataFrame, v: Column, key: Seq[Column], time: Column): DataFrame = {
    val ws = w(key, time)
    val prev = lag(v, 1).over(ws)
    val next = lead(v, 1).over(ws)
    val opener = prev.isNull || prev =!= v
    val closer = next.isNull || next =!= v
    val copies = when(opener && closer, 2).when(opener || closer, 1).otherwise(0)
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("__dup", explode(sequence(lit(1), col("__copies"))))
      .drop("__copies", "__dup")
  }

  /** FILTER_CHANGED(retain(time, duration)) — the reference's exact
    * emission rule (fm_monad.go:139-186, tql_test.go FILTER_CHANGED_time):
    * the stream's very first record always emits; after a value change, a
    * run emits exactly one more record — the FIRST record whose retain
    * time is ≥ duration past the run's opening time (the record that
    * PROVES stability, with its own values). Runs that never produce a
    * confirming record emit nothing. With `useFirst` (the
    * useFirstWithLast option) the run's opening record is emitted instead
    * of the confirming one.
    *
    * `order` sequences the stream (arrival rownum on the TQL path);
    * `rtime` is the retain() time expression in the same unit as
    * `durationNs`'s interpretation. */
  def filterChangedRetain(df: DataFrame, v: Column, key: Seq[Column], order: Column,
                          rtime: Column, durationNs: Long,
                          useFirst: Boolean = false,
                          withLast: Boolean = false): DataFrame = {
    val ws = w(key, order)
    val prev = lag(v, 1).over(ws)
    val runFrame = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d1 = df
      .withColumn("__rt", rtime.cast("long"))
      .withColumn("__rn", row_number().over(ws))
      .withColumn("__chg", when(prev.isNull || prev =!= v, 1).otherwise(0))
      .withColumn("__run", sum(col("__chg")).over(runFrame))
    val wr = Window.partitionBy(key :+ col("__run"): _*).orderBy(col("__rn"))
    val t0 = first(col("__rt"))
      .over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val d2 = d1
      .withColumn("__cand", col("__rt") - t0 >= durationNs)
      .withColumn("__runFirst", row_number().over(wr) === 1)
    val minCand = min(when(col("__cand"), col("__rn")))
      .over(wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val base =
      if (useFirst) col("__rn") === 1 || (col("__runFirst") && minCand.isNotNull)
      else col("__rn") === 1 || (col("__cand") && col("__rn") === minCand)
    if (!withLast) {
      d2.withColumn("__emit", base)
        .filter(col("__emit"))
        .drop("__rt", "__rn", "__chg", "__run", "__cand", "__runFirst", "__emit")
    } else {
      // withLast: bf.lastRecord is returned at every change boundary and at
      // EOF (fm_monad.go:163-165, 150-155). lastRecord is set only by
      // records AFTER a run's opener — except the stream-opening record,
      // which seeds it — so the closer of each run with ≥2 records emits,
      // plus the first run's closer unconditionally. A record may be both
      // opener-emit and closer-emit → emit two copies (task_test.go
      // retain+useFirstWithLast(true): A@…339 and B@…345 join the EOF tail).
      val runLen = count(lit(1))
        .over(wr.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      val rowInRun = row_number().over(wr)
      val closer = (rowInRun === runLen) && (runLen >= 2 || col("__run") === 1)
      val copies = when(base && closer, 2)
        .when(base || closer, 1).otherwise(0)
      d2.withColumn("__copies", copies)
        .filter(col("__copies") > 0)
        .withColumn("__dup", explode(sequence(lit(1), col("__copies"))))
        .drop("__rt", "__rn", "__chg", "__run", "__cand", "__runFirst", "__copies", "__dup")
    }
  }

  /** Rolling z-score anomaly detection: each point scores against the
    * EXACT mean/std of its series' previous `window` points (the point
    * itself excluded — a contaminated baseline masks the very spike it
    * should flag). Emits only full-window points with |z| > threshold.
    *
    * Determinism: the frame sums run over 1e6-SCALED LONGS (exact
    * integer addition — immune to both partitioning and the engines'
    * different window-aggregation orders: Spark re-accumulates sliding
    * frames, DuckDB uses segment trees; double sums would differ in
    * ulps and flip threshold boundaries). Mean/variance then derive
    * from the exact integer sums in a fixed double-op sequence, so the
    * same recurrence in a streaming state cell ([[graft.streaming
    * .StatefulOps.zscoreStream]]) reproduces bit-identical scores.
    *
    * Scale: one shuffle on the series key; the frame is O(window) per
    * row inside the sorted partition — no self-join, no global window. */
  def rollingZscore(df: DataFrame, nameCol: String, tsCol: String,
                    tiebreakCol: String, valueCol: String,
                    window: Int, threshold: Double): DataFrame = {
    val x6 = floor(col(valueCol) * 1e6 + lit(0.5d)).cast("long")
    val xx6 = floor(col(valueCol) * col(valueCol) * 1e6 + lit(0.5d)).cast("long")
    val fr = Window.partitionBy(nameCol)
      .orderBy(col(tsCol), col(tiebreakCol))
      .rowsBetween(-window, -1)
    val withStats = df
      .withColumn("__sx", sum(x6).over(fr))
      .withColumn("__sxx", sum(xx6).over(fr))
      .withColumn("__n", count(lit(1)).over(fr))
      .withColumn("__m", (col("__sx") / lit(1e6)) / col("__n"))
      .withColumn("__v",
        ((col("__sxx") / lit(1e6)) -
          ((col("__sx") / lit(1e6)) * (col("__sx") / lit(1e6))) / col("__n")) /
          (col("__n") - 1))
    val z = (col(valueCol) - col("__m")) / sqrt(col("__v"))
    withStats
      .filter(col("__n") === window && col("__v") > 0 && abs(z) > threshold)
      .select(col(nameCol), col(tsCol), col(valueCol),
        fround(z, 6).as("zscore"))
  }
}
