package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType
import graft.functions.Rounding.fround

/** Streaming forms of the stateful sequential operators (§2.3) — the
  * reference's pipeline IS a stream, so FILTER_CHANGED / MAP_LOWPASS
  * carry their scalar state per tag across records
  * (mods/tql/fm_monad.go:121-238 filterChanged, 2081-2107 lowpass).
  * The batch kernels (operators/SeqOps) cover bounded frames; these run
  * the same recurrences on an unbounded stream via
  * `flatMapGroupsWithState`, one state cell per tag.
  *
  * Scale design: state is O(1) per tag (a last-value / EMA register,
  * not a buffer), partitioned by the group key — 10M tags is 10M tiny
  * state rows spread over the cluster's state store. Records within a
  * micro-batch are processed in event-time order; cross-batch order is
  * arrival order (the same contract as the reference's live pipeline,
  * which sees records as they arrive).
  *
  * STATE EXPIRY: each operator takes an optional `stateTtl` (a duration
  * string, e.g. "30 minutes"). When set, a tag whose stream goes quiet
  * for the TTL has its state cell evicted (ProcessingTimeTimeout), so a
  * long-lived stream with tag churn — ephemeral IDs, renamed sensors —
  * cannot grow the state store without bound; the reference's watch
  * loop likewise holds state only for tags it is actively polling
  * (spi/watch.go). A record arriving after eviction is a FIRST record
  * again (FILTER_CHANGED re-emits, MAP_DIFF yields null). Default off
  * (None = NoTimeout) for exact reference parity on bounded replays,
  * plumbed like TAG_DUPLICATE_CHECK_DURATION's duration string.
  */
object StatefulOps {
  /** One tag-stream record: the (name, time, value) tag-table shape. */
  case class TagRow(name: String, ts: java.sql.Timestamp, value: Double)

  private def asTagRows(stream: DataFrame, nameCol: String, tsCol: String,
                        valueCol: String): Dataset[TagRow] = {
    implicit val enc = Encoders.product[TagRow]
    // LongType time columns are epoch-ns (the repo's tag-table shape);
    // a bare cast("timestamp") would read them as epoch-SECONDS. Branch
    // on the dataType like Q.tsNs does. `div` (integral division) — the
    // `/` operator returns double, which loses ns precision at 2^63.
    val ts = stream.schema(tsCol).dataType match {
      case LongType => timestamp_micros(expr(s"`$tsCol` div 1000"))
      case _ => col(tsCol).cast("timestamp")
    }
    stream.select(col(nameCol).cast("string").as("name"),
      ts.as("ts"),
      col(valueCol).cast("double").as("value")).as[TagRow]
  }

  private def timeoutConf(stateTtl: Option[String]): GroupStateTimeout =
    if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Wrap a per-group kernel with the TTL protocol: a timed-out
    * invocation (empty rows) evicts the cell and emits nothing; a live
    * one runs the kernel on event-time-sorted rows, then re-arms the
    * eviction clock. `setTimeoutDuration` runs AFTER the kernel's
    * `state.update`, as the GroupState contract requires. */
  private def withTtl[S, O](stateTtl: Option[String])(
      kernel: (Seq[TagRow], GroupState[S]) => Iterator[O])
      : (String, Iterator[TagRow], GroupState[S]) => Iterator[O] =
    (_: String, rows: Iterator[TagRow], state: GroupState[S]) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // (ms, nanos) sort: Timestamp.getTime alone is ms-granular and
        // would order sub-ms samples arbitrarily
        val out = kernel(rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos)), state)
        stateTtl.foreach(state.setTimeoutDuration)
        out
      }

  /** Streaming FILTER_CHANGED: per tag, emit a record only when its
    * value differs from the last EMITTED value — including across
    * micro-batch boundaries (the suppressed-duplicate state survives
    * the batch edge, which a per-batch `lag()` window cannot do). */
  def filterChangedStream(stream: DataFrame, nameCol: String = "name",
                          tsCol: String = "time", valueCol: String = "value",
                          stateTtl: Option[String] = None): DataFrame = {
    implicit val encS = Encoders.scalaDouble
    implicit val encO = Encoders.product[TagRow]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[Double, TagRow](stateTtl) { (sorted, state) =>
          var last = state.getOption
          val out = Seq.newBuilder[TagRow]
          sorted.foreach { r =>
            if (!last.contains(r.value)) { out += r; last = Some(r.value) }
          }
          last.foreach(state.update)
          out.result().iterator
        })
      .toDF(nameCol, tsCol, valueCol)
  }

  /** Nullable-value record for operators whose first emission is null. */
  case class TagRowN(name: String, ts: java.sql.Timestamp, value: Option[Double])
  /** Bounded trailing-window buffer (MAP_MOVAVG state, O(window)). */
  case class MovBuf(values: Seq[Double])
  /** 1-D Kalman register (estimate + covariance), O(1) per tag. */
  case class KalState(x: Double, p: Double)

  /** Streaming MAP_DIFF / MAP_ABSDIFF / MAP_NONEGDIFF: first difference
    * vs the previous record of the same tag — the previous value is the
    * whole state, and the first record of a tag emits null
    * (fm_monad.go:1806-1906 semantics, across batch edges). */
  def diffStream(stream: DataFrame, abs: Boolean = false, nonNeg: Boolean = false,
                 nameCol: String = "name", tsCol: String = "time",
                 valueCol: String = "value",
                 stateTtl: Option[String] = None): DataFrame = {
    implicit val encS = Encoders.scalaDouble
    implicit val encO = Encoders.product[TagRowN]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[Double, TagRowN](stateTtl) { (sorted, state) =>
          var prev = state.getOption
          val out = sorted.map { r =>
            val d = prev.map { p =>
              val raw = r.value - p
              if (abs) math.abs(raw)
              else if (nonNeg) math.max(0d, raw)
              else raw
            }
            prev = Some(r.value)
            TagRowN(r.name, r.ts, d)
          }
          prev.foreach(state.update)
          out.iterator
        })
      .toDF(nameCol, tsCol, valueCol)
  }

  /** Scaled-long running-mean register: exact integer accumulation of
    * 10^scaleDigits-scaled values (the repo's standard cross-engine
    * determinism trick — a double running sum drifts from a DECIMAL
    * window sum; an integer one cannot). O(1) per tag. */
  case class AvgState(n: Long, scaled: Long)

  /** Streaming MAP_AVG: cumulative running mean per tag, across
    * micro-batch boundaries. Values are accumulated as
    * 10^`scaleDigits`-scaled longs, so the emitted mean is bit-identical
    * to a DECIMAL(18,`scaleDigits`) window sum cast to double — inputs
    * must carry at most `scaleDigits` decimals (pre-round upstream,
    * exactly as the batch gate dec2's its values). */
  def avgStream(stream: DataFrame, scaleDigits: Int = 2,
                nameCol: String = "name", tsCol: String = "time",
                valueCol: String = "value",
                stateTtl: Option[String] = None): DataFrame = {
    val scale = math.pow(10d, scaleDigits.toDouble)
    implicit val encS = Encoders.product[AvgState]
    implicit val encO = Encoders.product[TagRow]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[AvgState, TagRow](stateTtl) { (sorted, state) =>
          var st = state.getOption.getOrElse(AvgState(0L, 0L))
          val out = sorted.map { r =>
            st = AvgState(st.n + 1, st.scaled + math.rint(r.value * scale).toLong)
            TagRow(r.name, r.ts, (st.scaled.toDouble / scale) / st.n)
          }
          state.update(st)
          out.iterator
        })
      .toDF(nameCol, tsCol, valueCol)
  }

  /** Previous track point + cumulative meters (MAP_DISTANCE state). */
  case class DistState(lat: Double, lon: Double, cum: Double)
  /** (lat, lon) track record. */
  case class TrackRow(name: String, ts: java.sql.Timestamp,
                      lat: Double, lon: Double)
  /** Output record carrying the cumulative distance. */
  case class DistRow(name: String, ts: java.sql.Timestamp, meters: Double)

  /** JVM mirror of [[graft.functions.ScalarFns.haversineM]], same
    * operation order so the streaming twin is bit-identical to the
    * batch window kernel. */
  private def haversineM(lat1: Double, lon1: Double,
                         lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2d
    val dLon = math.toRadians(lon2 - lon1) / 2d
    val a = math.sin(dLat) * math.sin(dLat) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon) * math.sin(dLon)
    2d * graft.functions.ScalarFns.EarthRadiusM * math.asin(math.sqrt(a))
  }

  /** Streaming MAP_DISTANCE (cumulative form): haversine meters summed
    * along each tag's track, across micro-batch boundaries — the
    * previous point and the running total are the whole state. First
    * record of a tag contributes 0, matching the batch
    * `sum(coalesce(leg, 0))` kernel (SeqOps.mapDistance). */
  def distanceStream(stream: DataFrame, nameCol: String = "name",
                     tsCol: String = "time", latCol: String = "lat",
                     lonCol: String = "lon",
                     stateTtl: Option[String] = None): DataFrame = {
    implicit val encS = Encoders.product[DistState]
    implicit val encO = Encoders.product[DistRow]
    implicit val encI = Encoders.product[TrackRow]
    val ts = stream.schema(tsCol).dataType match {
      case LongType => timestamp_micros(expr(s"`$tsCol` div 1000"))
      case _ => col(tsCol).cast("timestamp")
    }
    stream.select(col(nameCol).cast("string").as("name"), ts.as("ts"),
        col(latCol).cast("double").as("lat"),
        col(lonCol).cast("double").as("lon")).as[TrackRow]
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl)) {
        (_: String, rows: Iterator[TrackRow], state: GroupState[DistState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos))
            var st = state.getOption
            val out = sorted.map { r =>
              val leg = st.map(p => haversineM(p.lat, p.lon, r.lat, r.lon))
                .getOrElse(0d)
              val cum = st.map(_.cum).getOrElse(0d) + leg
              st = Some(DistState(r.lat, r.lon, cum))
              DistRow(r.name, r.ts, cum)
            }
            st.foreach(state.update)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF(nameCol, tsCol, "meters")
  }

  /** Streaming MAP_MOVAVG: trailing mean over the last `window` records
    * per tag; warm-up emits null unless `noWait` (fm_monad.go:2023-2073).
    * State is the bounded window buffer — O(window) per tag. */
  def movavgStream(stream: DataFrame, window: Int, noWait: Boolean = false,
                   nameCol: String = "name", tsCol: String = "time",
                   valueCol: String = "value",
                   stateTtl: Option[String] = None): DataFrame = {
    require(window > 1, s"MAP_MOVAVG window should be > 1, got $window")
    implicit val encS = Encoders.product[MovBuf]
    implicit val encO = Encoders.product[TagRowN]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[MovBuf, TagRowN](stateTtl) { (sorted, state) =>
          var buf = state.getOption.map(_.values.toVector).getOrElse(Vector.empty)
          val out = sorted.map { r =>
            buf = (buf :+ r.value).takeRight(window)
            val v =
              if (buf.size >= window || noWait) Some(buf.sum / buf.size)
              else None
            TagRowN(r.name, r.ts, v)
          }
          state.update(MovBuf(buf))
          out.iterator
        })
      .toDF(nameCol, tsCol, valueCol)
  }

  /** Streaming MAP_KALMAN, SimpleModel semantics (fm_monad.go:1908-1991):
    * the (estimate, covariance) pair is the per-tag state. */
  def kalmanStream(stream: DataFrame, initVar: Double, procVar: Double,
                   obsVar: Double, nameCol: String = "name",
                   tsCol: String = "time", valueCol: String = "value",
                   stateTtl: Option[String] = None): DataFrame = {
    implicit val encS = Encoders.product[KalState]
    implicit val encO = Encoders.product[TagRow]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[KalState, TagRow](stateTtl) { (sorted, state) =>
          var st = state.getOption
          val out = sorted.map { r =>
            val next = st match {
              case None => KalState(r.value, initVar)
              case Some(KalState(x0, p0)) =>
                val p1 = p0 + procVar
                val k = p1 / (p1 + obsVar)
                KalState(x0 + k * (r.value - x0), p1 * (1d - k))
            }
            st = Some(next)
            TagRow(r.name, r.ts, next.x)
          }
          st.foreach(state.update)
          out.iterator
        })
      .toDF(nameCol, tsCol, valueCol)
  }

  /** Streaming MAP_LOWPASS: per tag, the exponential smoothing
    * recurrence y ← (1-α)y + αx, seeded by the first observation —
    * the EMA register is the only state and it carries across batches. */
  def lowpassStream(stream: DataFrame, alpha: Double, nameCol: String = "name",
                    tsCol: String = "time", valueCol: String = "value",
                    stateTtl: Option[String] = None): DataFrame = {
    if (alpha <= 0 || alpha >= 1) throw new IllegalArgumentException(
      "MAP_LOWPASS() should have 0 < alpha < 1 ") // fm_monad_test.go:59
    implicit val encS = Encoders.scalaDouble
    implicit val encO = Encoders.product[TagRow]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[Double, TagRow](stateTtl) { (sorted, state) =>
          var y = state.getOption
          val out = sorted.map { r =>
            val v = y match {
              case None => r.value
              case Some(prev) => (1 - alpha) * prev + alpha * r.value
            }
            y = Some(v)
            TagRow(r.name, r.ts, v)
          }
          y.foreach(state.update)
          out.iterator
        })
      .toDF(nameCol, tsCol, valueCol)
  }

  /** Ring buffer of the last `window` points as 1e6-scaled longs (value
    * and value², oldest first) — the exact-integer state that makes the
    * streaming z-score bit-identical to the batch window kernel. */
  case class ZsState(xs: Seq[Long], xxs: Seq[Long])
  case class TagRowZ(name: String, ts: java.sql.Timestamp, value: Double,
                     zscore: Double)

  /** Streaming rolling z-score anomaly detection — the unbounded twin of
    * [[graft.operators.SeqOps.rollingZscore]]: each record scores
    * against the exact mean/std of its tag's previous `window` records,
    * carried across micro-batch boundaries in an O(window) state cell.
    * The state holds 1e6-scaled LONGS and the score derives from the
    * integer sums in the same double-op sequence as the batch kernel,
    * so a bounded replay hash-matches the batch oracle exactly. */
  def zscoreStream(stream: DataFrame, window: Int, threshold: Double,
                   nameCol: String = "name", tsCol: String = "time",
                   valueCol: String = "value",
                   stateTtl: Option[String] = None): DataFrame = {
    implicit val encS = Encoders.product[ZsState]
    implicit val encO = Encoders.product[TagRowZ]
    asTagRows(stream, nameCol, tsCol, valueCol)
      .groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(stateTtl))(
        withTtl[ZsState, TagRowZ](stateTtl) { (sorted, state) =>
          var st = state.getOption.getOrElse(ZsState(Vector.empty, Vector.empty))
          val out = Seq.newBuilder[TagRowZ]
          sorted.foreach { r =>
            if (st.xs.length == window) {
              val sx = st.xs.sum; val sxx = st.xxs.sum
              val m = (sx / 1e6) / window
              val v = ((sxx / 1e6) - ((sx / 1e6) * (sx / 1e6)) / window) /
                (window - 1)
              if (v > 0) {
                val z = (r.value - m) / math.sqrt(v)
                if (math.abs(z) > threshold)
                  out += TagRowZ(r.name, r.ts, r.value, fround(z, 6))
              }
            }
            val x6 = math.floor(r.value * 1e6 + 0.5).toLong
            val xx6 = math.floor(r.value * r.value * 1e6 + 0.5).toLong
            val xs = (st.xs :+ x6).takeRight(window)
            val xxs = (st.xxs :+ xx6).takeRight(window)
            st = ZsState(xs, xxs)
          }
          state.update(st)
          out.result().iterator
        })
      .toDF(nameCol, tsCol, valueCol, "zscore")
  }
}
