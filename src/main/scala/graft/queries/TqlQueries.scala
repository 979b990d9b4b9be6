package graft.queries

import org.apache.spark.sql.functions._
import graft.tql.Compiler
import Q._

/** TQL front-end battery: scripts compiled to DataFrame plans and
  * hash-checked against DuckDB like every other operator (SURVEY §7
  * step 10; reference mods/tql).
  */
object TqlQueries {
  /** Where the file-source gates write their fixtures: one dir per JVM,
    * deleted at exit (the returned frames read the files lazily). */
  private[graft] lazy val fixtureDir: java.nio.file.Path =
    java.nio.file.Paths.get(graft.core.TempDirs.forJvm("graft_tql_fixtures"))
  /** Each fixture file, written once per (JVM, source dir, gate): its
    * content depends only on the source dir's tables. */
  private val fixtures = new graft.core.Once[java.nio.file.Path]

  val defs: Map[String, QueryFn] = Map(
    // SQL source → GROUP → (CSV sink shape); compiled, not interpreted
    "q_tql_group" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events")
      Compiler.compile(s,
        """SQL('SELECT event_type, value FROM tql_events')
          |GROUP(by(value(0), 'event_type'), count(value(1), 'cnt'),
          |      min(value(1), 'min_value'), max(value(1), 'max_value'))
          |CSV()
          |""".stripMargin).output
    }),

    // GROUP(timewindow) gap-fill compiled from TQL source text
    "q_tql_timewindow" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.select(graft.time.TimeFns.nsToUs(tsNs(e0)).as("t_us"), col("value"))
        .createOrReplaceTempView("tql_events_us")
      Compiler.compile(s,
        """SQL('SELECT t_us, value FROM tql_events_us')
          |GROUP(timewindow(1704412800000000, 1704499200000000, 300000000),
          |      count(value(1), 'cnt'), min(value(1), 'min_value'),
          |      max(value(1), 'max_value'), nullValue(-1))
          |CSV()
          |""".stripMargin).output
    }),

    // causal GROUP(by(time, timewindow)) with the TIME column as the
    // SECOND value — pins the ns-normalization dispatching on the time
    // expression's own type, not values.head (round-5 wrong-answer bug)
    "q_tql_timewindow_causal" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.select(col("value"), timestamp_micros(tsUs(e0)).as("ts"))
        .createOrReplaceTempView("tql_events_ts2")
      Compiler.compile(s,
        """SQL('SELECT value, ts FROM tql_events_ts2')
          |GROUP(by(value(1), timewindow(1704412800000000000, 1704499200000000000, 60000000000), 'time'),
          |      count(value(0), 'cnt', nullValue(-1)),
          |      min(value(0), 'min_value', nullValue(-1)),
          |      max(value(0), 'max_value', nullValue(-1)))
          |CSV()
          |""".stripMargin).output
        .select(unix_micros(col("time")).as("t_us"), col("cnt"),
          col("min_value"), col("max_value"))
        .orderBy("t_us")
    }),

    // row pipeline: filter + computed column + ordered take
    // SCRIPT("js") map node: stateful filter/transform + deinit summary row
    "q_script_tql" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("script_events")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM script_events ORDER BY event_id')
          |SCRIPT("js", {
          |  count = 0;
          |}, {
          |  var v = $.values[1];
          |  if (v > 300) {
          |    count++;
          |    $.yield($.values[0], v * 2, Math.floor(v / 100));
          |  }
          |}, {
          |  $.yield(-1, count, -1);
          |})
          |CSV()
          |""".stripMargin).output.toDF("event_id", "value2", "bucket")
    }),

    "q_tql_pipeline" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM tql_events ORDER BY event_id')
          |FILTER(value(1) > 200)
          |MAPVALUE(2, value(1) * 2 > 500 ? 'very_high' : 'high', 'level')
          |TAKE(50)
          |CSV()
          |""".stripMargin).output
    }),

    // standalone TIMEWINDOW statement (deprecated alias of
    // GROUP(timewindow)): absolute period-aligned windows over a µs grid
    "q_tql_timewindow_standalone" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      // raw longs are epoch-ns to TIMEWINDOW (the TQL ns convention);
      // µs-truncate first so DuckDB sees identical instants
      e0.select((tsUs(e0) * 1000L).as("tns"), col("value"))
        .createOrReplaceTempView("tql_events_tws")
      Compiler.compile(s,
        """SQL('SELECT tns, value FROM tql_events_tws')
          |TIMEWINDOW(time(1704412800000000000), time(1704499200000000000), period('10m'), 'time', 'max')
          |CSV()
          |""".stripMargin).output
        .select(unix_micros(col("tns")).as("t_us"), col("value"))
        .orderBy("t_us")
    }),

    // CSV file source: round-trip through a real on-disk CSV (writes a
    // deterministic extract, reads it back via CSV(file(...))). The
    // collect here is FIXTURE construction bounded to 1% of users —
    // the measured operator is the CSV read, not this writer.
    "q_tql_csvfile" -> ((s, dir) => {
      val tmp = fixtures(s"$dir#csv") {
        val rows = t(s, dir, "events").filter(col("user_id") < 10)
          .select(col("event_id"), col("event_type"), col("value"))
          .orderBy("event_id")
          .collect()
        val body = rows.map(r =>
          s"${r.getLong(0)},${r.getString(1)},${r.getDouble(2)}").mkString("\n")
        java.nio.file.Files.write(
          java.nio.file.Files.createTempFile(fixtureDir, "graft_gate_csv", ".csv"),
          body.getBytes("UTF-8"))
      }
      Compiler.compile(s,
        s"""CSV(file('$tmp'), field(0, doubleType(), 'event_id'), field(1, stringType(), 'event_type'), field(2, doubleType(), 'value'))
           |FILTER(value(2) > 100)
           |CSV()
           |""".stripMargin).output
        .select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // STRING(file, separator) source: one record per separated chunk,
    // aggregated downstream (also oracles the count-all semantics).
    // The collect is fixture construction bounded to 1% of users.
    "q_tql_string_src" -> ((s, dir) => {
      val tmp = fixtures(s"$dir#str") {
        val e0 = t(s, dir, "events")
        val lines = e0.filter(col("user_id") < 10).orderBy("event_id")
          .select(col("event_type")).collect().map(_.getString(0))
        java.nio.file.Files.write(
          java.nio.file.Files.createTempFile(fixtureDir, "graft_gate_str", ".txt"),
          lines.mkString("\n").getBytes("UTF-8"))
      }
      Compiler.compile(s,
        s"""STRING(file('$tmp'), separator('\\n'))
           |GROUP(by(value(0), 'etype'), count(value(0), 'cnt'))
           |CSV()
           |""".stripMargin).output
        .orderBy("etype")
    }),

    // param() request binding threaded into FILTER
    "q_tql_param" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events_pm")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM tql_events_pm ORDER BY event_id')
          |FILTER(value(1) > parseFloat(param('min')))
          |CSV()
          |""".stripMargin, params = Map("min" -> Seq("350"))).output
        .orderBy("event_id")
    }),

    // THROTTLE pacing only exists on the streaming edge — on a batch
    // frame it must be the identity (fm_monad.go fmThrottle)
    "q_tql_throttle" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events_th")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM tql_events_th ORDER BY event_id')
          |THROTTLE(500)
          |TAKE(100)
          |CSV()
          |""".stripMargin).output
    }),

    // PUSHKEY demotes the arrival-rownum key into the values as ROWNUM
    // (reference result-column naming; TestMath chains)
    "q_tql_pushkey" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events_pk")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM tql_events_pk WHERE user_id < 20 ORDER BY event_id')
          |PUSHKEY(value(0) % 7)
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // SET variable threaded through FILTER and MAPVALUE
    "q_tql_set" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events_set")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM tql_events_set ORDER BY event_id')
          |SET threshold = 300
          |FILTER(value(1) > $threshold)
          |MAPVALUE(2, value(1) - $threshold, 'excess')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // glob() and regexp() predicates over a string column
    "q_tql_glob" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events_g")
      Compiler.compile(s,
        """SQL('SELECT event_id, event_type FROM tql_events_g ORDER BY event_id')
          |FILTER(glob('*u*', value(1)))
          |MAPVALUE(2, regexp('^(view|click)$', value(1)), 'is_vc')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // GROUP(list) → FLATTEN: collect then explode; final sort pins the
    // nondeterministic in-list order for the hash compare
    "q_tql_flatten" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("tql_events_fl")
      Compiler.compile(s,
        """SQL('SELECT user_id, value FROM tql_events_fl ORDER BY event_id')
          |GROUP(by(value(0), 'uid'), list(value(1), 'vals'))
          |FLATTEN()
          |CSV()
          |""".stripMargin).output
        .orderBy("uid", "vals")
    }),

    // strTime + sqlTimeformat rendering through the gate
    "q_tql_timefmt" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.filter(col("user_id") < 20)
        .select(col("event_id"), tsUs(e0).as("t_us"))
        .createOrReplaceTempView("tql_events_tf")
      Compiler.compile(s,
        """SQL('SELECT event_id, t_us FROM tql_events_tf ORDER BY event_id')
          |MAPVALUE(1, strTime(parseTime(value(1), 'us', tz('UTC')), sqlTimeformat('YYYY-MM-DD HH24:MI:SS'), tz('UTC')), 'tstr')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // strTime named-format rendering (util/time_formats.go table):
    // RFC1123 + RFC3339 via fixed layouts, DEFAULT with Go's ".999"
    // trailing-zero trim, and the 'ms' epoch output mode — each against
    // DuckDB strftime / string surgery on the same epoch-µs instants
    "q_tql_strtime" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.filter(col("user_id") < 20)
        .select(col("event_id"), tsUs(e0).as("t_us"))
        .createOrReplaceTempView("tql_events_stf")
      Compiler.compile(s,
        """SQL('SELECT event_id, t_us FROM tql_events_stf ORDER BY event_id')
          |SET t = parseTime(value(1), 'us', tz('UTC'))
          |MAPVALUE(1, strTime($t, 'RFC1123', tz('UTC')), 'rfc1123')
          |PUSHVALUE(2, strTime($t, 'RFC3339', tz('UTC')), 'rfc3339')
          |PUSHVALUE(3, strTime($t, 'DEFAULT', tz('UTC')), 'dflt')
          |PUSHVALUE(4, strTime($t, 'ms'), 'ems')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // Go-parity math over a real column: round (half away from zero),
    // mod (sign of the dividend — math.Mod), IEEE remainder (ties to
    // even via roundbankers), pow10
    "q_tql_mathfns" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.filter(col("user_id") < 20)
        .select(col("event_id"), col("value"))
        .createOrReplaceTempView("tql_events_mf")
      Compiler.compile(s,
        """SQL('SELECT event_id, value FROM tql_events_mf ORDER BY event_id')
          |PUSHVALUE(2, round(value(1)), 'rnd')
          |PUSHVALUE(3, mod(0.0 - value(1), 7.0), 'md')
          |PUSHVALUE(4, remainder(value(1), 7.0), 'rem')
          |PUSHVALUE(5, pow10(2) * value(1), 'p10')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // string-typed source through the MAP_DIFF family: the reference
    // pushes non-time inputs through util.ToFloat64 (fm_monad.go:1848+),
    // so a VARCHAR column diffs numerically — oracle-pinned here, not
    // just golden-pinned (tql_test.go:1620-1647)
    "q_tql_mapdiff_string" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.filter(col("user_id") < 20)
        .select(col("event_id"), col("value").cast("string").as("sval"))
        .createOrReplaceTempView("tql_events_str")
      Compiler.compile(s,
        """SQL('SELECT event_id, sval FROM tql_events_str ORDER BY event_id')
          |MAP_ABSDIFF(1, value(1), 'absdiff')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),


    // bitwise operators on the TQL expression surface: float64(int64 OP
    // int64) per expression/stage.go, >> is a logical (uint64) shift
    "q_tql_bitwise" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      e0.filter(col("user_id") < 20)
        .select(col("event_id"))
        .createOrReplaceTempView("tql_events_bw")
      Compiler.compile(s,
        """SQL('SELECT event_id FROM tql_events_bw ORDER BY event_id')
          |PUSHVALUE(1, value(0) & 255, 'band')
          |PUSHVALUE(2, value(0) | 4096, 'bor')
          |PUSHVALUE(3, value(0) ^ 1365, 'bxor')
          |PUSHVALUE(4, value(0) << 3, 'shl')
          |PUSHVALUE(5, value(0) >> 2, 'shr')
          |PUSHVALUE(6, ~value(0), 'bnot')
          |CSV()
          |""".stripMargin).output
        .orderBy("event_id")
    }),

    // QUERY with between(a, b, period): the generator's half-up
    // round(time/period)*period bucket aggregation, executed (the dump()
    // form of the same SQL is golden-matched in ReferenceCasesSpec)
    "q_tql_query_period" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      // µs-truncated ns (×1000) — DuckDB reads the same column at µs, so
      // the oracle's epoch_us(ts)*1000 must see identical ns values
      e0.filter(col("user_id") < 5)
        .select(lit("t1").as("name"), (tsUs(e0) * 1000L).as("time"), col("value"))
        .createOrReplaceTempView("tql_tag_q")
      Compiler.compile(s,
        """QUERY('MIN(value)', 'MAX(value)', 'COUNT(value)', from('tql_tag_q', 't1'), between(1704412800000000000, 1704499200000000000, '1h'))
          |CSV()
          |""".stripMargin).output
        .select(unix_micros(col("time")).as("t_us"),
          col("`MIN(value)`").as("mn"), col("`MAX(value)`").as("mx"),
          col("`COUNT(value)`").cast("long").as("cnt"))
        .orderBy("t_us")
    }))

  val oracles: Map[String, String] = Map(
    // the bucket mirrors Spark's exact instruction sequence:
    // floor(double(t_ns + period/2) / double(period)) * period
    "q_tql_query_period" ->
      """SELECT CAST(b_ns // 1000 AS BIGINT) AS t_us,
           min(value) AS mn, max(value) AS mx, count(value) AS cnt
         FROM (
           SELECT CAST(floor(CAST(epoch_us(ts)*1000 + 1800000000000 AS DOUBLE)
                    / 3600000000000.0) AS BIGINT) * 3600000000000 AS b_ns,
             value
           FROM events
           WHERE user_id < 5
             AND epoch_us(ts)*1000 >= 1704412800000000000
             AND epoch_us(ts)*1000 <= 1704499200000000000)
         GROUP BY 1 ORDER BY 1""",
    "q_script_tql" ->
      """SELECT event_id, value2, bucket FROM (
           SELECT 0 AS grp, event_id, value*2 AS value2,
             CAST(floor(value/100) AS BIGINT) AS bucket
           FROM events WHERE value > 300
           UNION ALL
           SELECT 1, -1,
             CAST((SELECT count(*) FROM events WHERE value > 300) AS DOUBLE), -1
         ) ORDER BY grp, event_id""",
    // TQL count() buffers float64 like every reference aggregator
    "q_tql_group" ->
      """SELECT event_type, CAST(count(value) AS DOUBLE) AS cnt,
         min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_tql_timewindow" ->
      """SELECT s.time, CAST(coalesce(a.cnt, -1) AS DOUBLE) AS cnt,
         coalesce(a.min_value, -1.0) AS min_value,
         coalesce(a.max_value, -1.0) AS max_value
         FROM (SELECT 1704412800000000 + CAST(range AS BIGINT)*300000000 AS time
               FROM range(288)) s
         LEFT JOIN (
           SELECT epoch_us(ts) - epoch_us(ts) % 300000000 AS b_us,
             count(value) AS cnt, min(value) AS min_value, max(value) AS max_value
           FROM events
           WHERE epoch_us(ts) >= 1704412800000000 AND epoch_us(ts) < 1704499200000000
           GROUP BY 1) a ON s.time = a.b_us
         ORDER BY s.time""",
    "q_tql_timewindow_causal" ->
      """SELECT s.time AS t_us, CAST(coalesce(a.cnt, -1) AS DOUBLE) AS cnt,
         coalesce(a.min_value, -1.0) AS min_value,
         coalesce(a.max_value, -1.0) AS max_value
         FROM (SELECT 1704412800000000 + CAST(range AS BIGINT)*60000000 AS time
               FROM range(1440)) s
         LEFT JOIN (
           SELECT epoch_us(ts) - epoch_us(ts) % 60000000 AS b_us,
             count(value) AS cnt, min(value) AS min_value, max(value) AS max_value
           FROM events
           WHERE epoch_us(ts) >= 1704412800000000 AND epoch_us(ts) < 1704499200000000
           GROUP BY 1) a ON s.time = a.b_us
         ORDER BY s.time""",
    // 144 ten-minute windows over the day; unfilled windows stay NULL
    "q_tql_timewindow_standalone" ->
      """SELECT s.t_us, a.mx AS value
         FROM (SELECT 1704412800000000 + CAST(range AS BIGINT)*600000000 AS t_us
               FROM range(144)) s
         LEFT JOIN (
           SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS b_us,
             max(value) AS mx
           FROM events
           WHERE epoch_us(ts) >= 1704412800000000 AND epoch_us(ts) < 1704499200000000
           GROUP BY 1) a ON s.t_us = a.b_us
         ORDER BY s.t_us""",
    "q_tql_csvfile" ->
      """SELECT event_id, event_type, value FROM events
         WHERE user_id < 10 AND value > 100 ORDER BY event_id""",
    "q_tql_param" ->
      """SELECT event_id, value FROM events WHERE value > 350 ORDER BY event_id""",
    // TQL count() buffers float64; counts every separated chunk
    "q_tql_string_src" ->
      """SELECT event_type AS etype, CAST(count(*) AS DOUBLE) AS cnt
         FROM events WHERE user_id < 10 GROUP BY 1 ORDER BY 1""",
    "q_tql_throttle" ->
      """SELECT event_id, value FROM events ORDER BY event_id LIMIT 100""",
    "q_tql_pushkey" ->
      """SELECT row_number() OVER (ORDER BY event_id) AS "ROWNUM", event_id, value
         FROM events WHERE user_id < 20 ORDER BY event_id""",
    "q_tql_set" ->
      """SELECT event_id, value, value - 300 AS excess
         FROM events WHERE value > 300 ORDER BY event_id""",
    "q_tql_glob" ->
      """SELECT event_id, event_type,
           regexp_matches(event_type, '^(view|click)$') AS is_vc
         FROM events WHERE event_type LIKE '%u%' ORDER BY event_id""",
    "q_tql_flatten" ->
      """SELECT user_id AS uid, value AS vals FROM events ORDER BY uid, vals""",
    "q_tql_timefmt" ->
      """SELECT event_id,
           strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:%M:%S') AS tstr
         FROM events WHERE user_id < 20 ORDER BY event_id""",
    // DEFAULT's Go ".999" fraction: ms digits, trailing zeros and a bare
    // dot trimmed — rebuilt with rtrim over the zero-padded ms field
    "q_tql_strtime" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us
                    FROM events WHERE user_id < 20),
         f AS (SELECT event_id, us,
                 rtrim(lpad(CAST((us%1000000)//1000 AS VARCHAR),3,'0'),'0') AS msf
               FROM e)
         SELECT event_id,
           strftime(make_timestamp(us), '%a, %d %b %Y %H:%M:%S UTC') AS rfc1123,
           strftime(make_timestamp(us), '%Y-%m-%dT%H:%M:%SZ') AS rfc3339,
           strftime(make_timestamp(us), '%Y-%m-%d %H:%M:%S')
             || CASE WHEN msf = '' THEN '' ELSE '.' || msf END AS dflt,
           CAST(us//1000 AS VARCHAR) AS ems
         FROM f ORDER BY event_id""",
    "q_tql_mathfns" ->
      """SELECT event_id, CAST(value AS DOUBLE) AS value,
           round(CAST(value AS DOUBLE)) AS rnd,
           (0.0 - CAST(value AS DOUBLE)) % 7.0 AS md,
           CAST(value AS DOUBLE) - 7.0*roundbankers(CAST(value AS DOUBLE)/7.0, 0) AS rem,
           100.0 * CAST(value AS DOUBLE) AS p10
         FROM events WHERE user_id < 20 ORDER BY event_id""",
    // the string round-trip is lossless (shortest-repr double format),
    // so the diff equals the diff of the original doubles
    "q_tql_mapdiff_string" ->
      """SELECT event_id, abs(value - lag(value) OVER (ORDER BY event_id)) AS absdiff
         FROM events WHERE user_id < 20
         ORDER BY event_id""",
    "q_tql_pipeline" ->
      """SELECT event_id, value,
         CASE WHEN value * 2 > 500 THEN 'very_high' ELSE 'high' END AS level
         FROM events WHERE value > 200
         ORDER BY event_id LIMIT 50""",
    "q_tql_bitwise" ->
      """SELECT event_id,
           CAST(event_id & 255 AS DOUBLE) AS band,
           CAST(event_id | 4096 AS DOUBLE) AS bor,
           CAST(xor(event_id, 1365) AS DOUBLE) AS bxor,
           CAST(event_id << 3 AS DOUBLE) AS shl,
           CAST(event_id >> 2 AS DOUBLE) AS shr,
           CAST(~event_id AS DOUBLE) AS bnot
         FROM events WHERE user_id < 20
         ORDER BY event_id""")
}
