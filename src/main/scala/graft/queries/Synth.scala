package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.FftOp
import graft.sources.Fake
import Q._
import graft.functions.Rounding.fround

/** FAKE() generator + FFT battery (SURVEY §2.1 FAKE, §2.4 FFT).
  * Generators take no table input — the oracle recomputes the same math
  * from DuckDB's range(); trig outputs use `fround(…,6)` because libm
  * implementations may differ in the last ulp.
  */
object Synth {
  val defs: Map[String, QueryFn] = Map(
    // ---- FAKE(oscillator(freq(1.5,1), freq(2,0.5), range(0,4s,1/64s)))
    "q_fake_oscillator" -> ((s, _) => {
      Fake.oscillator(s,
        Seq(Fake.Freq(1.5, 1.0), Fake.Freq(2.0, 0.5)),
        fromNs = 0L, durNs = 4L * 1000000000L, periodNs = 1000000000L / 64)
        .select(col("time").as("time_ns"), fround(col("value"), 6).as("value"))
        .orderBy("time_ns")
    }),

    // ---- FAKE(linspace(0, 10, 21)) ------------------------------------
    "q_fake_linspace" -> ((s, _) => {
      Fake.linspace(s, 0d, 10d, 21)
        .select(fround(col("x"), 6).as("x")).orderBy("x")
    }),

    // ---- FAKE(meshgrid) aggregated (cartesian grid sanity) ------------
    "q_fake_meshgrid" -> ((s, _) => {
      Fake.meshgrid(s, 0d, 1d, 5, 0d, 2d, 3)
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n"), fround(sum(col("x") * col("y")), 6).as("sxy"))
        .select(fround(col("y"), 6).as("y"), col("n"), col("sxy"))
        .orderBy("y")
    }),

    // ---- FAKE(sphere(8, 8)) -------------------------------------------
    "q_fake_sphere" -> ((s, _) => {
      Fake.sphere(s, 8, 8)
        .select(fround(col("x"), 6).as("x"), fround(col("y"), 6).as("y"),
          fround(col("z"), 6).as("z"))
        .orderBy("z", "x", "y")
    }),

    // ---- FFT of a 1Hz+2Hz+3Hz oscillator (DuckDB oracle recomputes the
    // spectrum as a naive O(n²) DFT — same bins, same 2|X|/n amplitude;
    // both sides round at 1e-6 where the FFT-vs-DFT float drift ~1e-13
    // cannot flip the grid) -------------------------------------------
    "q_fft" -> ((s, _) => {
      val osc = Fake.oscillator(s,
        Seq(Fake.Freq(1.0, 1.0), Fake.Freq(2.0, 2.0), Fake.Freq(3.0, 3.0)),
        fromNs = 0L, durNs = 4L * 1000000000L, periodNs = 1000000000L / 64)
        .withColumn("key", lit("osc"))
      FftOp.perKey(osc, "key", "time", "value", 0.1, 10.0)
        .select(col("key"), fround(col("hz"), 6).as("hz"), fround(col("amp"), 6).as("amp"))
        .orderBy("hz")
    }))

  val oracles: Map[String, String] = Map(
    // naive O(n²) DFT over the same 256 oscillator samples: bins 1..39
    // cover [0.1, 10] Hz; hz/amp follow FftOp's exact float association
    // (k/n·period with period = n/durSec; 2|X|/n), rounded at 1e-6
    "q_fft" ->
      """WITH s AS (
           SELECT CAST(range AS BIGINT) AS i,
             (1.0 * sin((2*pi()*1.0) * (CAST(CAST(range AS BIGINT) * 15625000 AS DOUBLE)/1e9))
            + 2.0 * sin((2*pi()*2.0) * (CAST(CAST(range AS BIGINT) * 15625000 AS DOUBLE)/1e9))
            + 3.0 * sin((2*pi()*3.0) * (CAST(CAST(range AS BIGINT) * 15625000 AS DOUBLE)/1e9))) AS v
           FROM range(256)),
         kk AS (SELECT CAST(range AS BIGINT) + 1 AS k FROM range(39)),
         dft AS (
           SELECT kk.k,
             SUM(s.v * cos(-2*pi() * kk.k * s.i / 256.0)) AS re,
             SUM(s.v * sin(-2*pi() * kk.k * s.i / 256.0)) AS im
           FROM kk CROSS JOIN s GROUP BY kk.k)
         SELECT 'osc' AS key,
           floor(((CAST(k AS DOUBLE)/256.0) * (256.0/(3984375000.0/1e9)))*1000000.0 + 0.5)/1000000.0 AS hz,
           floor((2.0*sqrt(re*re + im*im)/256.0)*1000000.0 + 0.5)/1000000.0 AS amp
         FROM dft ORDER BY hz""",
    "q_fake_oscillator" ->
      """SELECT CAST(range AS BIGINT) * 15625000 AS time_ns,
         floor((1.0 * sin((2*pi()*1.5) * (CAST(CAST(range AS BIGINT) * 15625000 AS DOUBLE)/1e9 + 0.0))
              + 0.5 * sin((2*pi()*2.0) * (CAST(CAST(range AS BIGINT) * 15625000 AS DOUBLE)/1e9 + 0.0)))
              * 1000000.0 + 0.5) / 1000000.0 AS value
         FROM range(256) ORDER BY time_ns""",
    "q_fake_linspace" ->
      """SELECT floor((0.0 + CAST(range AS BIGINT) * 0.5) * 1000000.0 + 0.5) / 1000000.0 AS x
         FROM range(21) ORDER BY x""",
    "q_fake_meshgrid" ->
      """WITH xs AS (SELECT 0.0 + CAST(range AS BIGINT) * 0.25 AS x FROM range(5)),
         ys AS (SELECT 0.0 + CAST(range AS BIGINT) * 1.0 AS y FROM range(3))
         SELECT floor((y) * 1000000.0 + 0.5) / 1000000.0 AS y,
           count(*) AS n,
           floor((sum(x * y)) * 1000000.0 + 0.5) / 1000000.0 AS sxy
         FROM xs CROSS JOIN ys GROUP BY ys.y ORDER BY y""",
    "q_fake_sphere" ->
      """WITH lat AS (SELECT CAST(range AS BIGINT) * (pi() / 8) AS theta FROM range(8)),
         lon AS (SELECT CAST(range AS BIGINT) * (2*pi() / 8) AS phi FROM range(8))
         SELECT floor((sin(theta) * cos(phi)) * 1000000.0 + 0.5) / 1000000.0 AS x,
           floor((sin(theta) * sin(phi)) * 1000000.0 + 0.5) / 1000000.0 AS y,
           floor((cos(theta)) * 1000000.0 + 0.5) / 1000000.0 AS z
         FROM lat CROSS JOIN lon ORDER BY z, x, y""")
}
