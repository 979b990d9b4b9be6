package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{MomentAgg, StatFns}
import graft.operators.{RowOps, StatOps}
import Q._
import graft.functions.Rounding.fround

/** Core relational + GROUP-aggregator query battery (SURVEY §2.2/§2.4/§2.5).
  * Each entry has a DuckDB oracle in [[Core.oracles]].
  */
object Core {
  val defs: Map[String, QueryFn] = Map(
    // ---- flagship: TPC-H Q1-style pricing summary (GROUP sum/avg/count) --
    "q_tpch_pricing" -> ((s, dir) => {
      // Money sums must be exact (order-independent across partitions):
      // the 2-decimal inputs scale to integers once per row, so every
      // aggregation is a plain long sum inside whole-stage codegen —
      // far cheaper than decimal-chain aggregation, same exactness.
      // Unscaling runs in a double-op sequence mirrored by the oracle.
      val xq = col("l_quantity").cast("decimal(4,0)").cast("long")
      val y100 = (col("l_extendedprice").cast("decimal(12,2)") * lit(100)).cast("long")
      val d100 = (col("l_discount").cast("decimal(4,2)") * lit(100)).cast("long")
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r2(sum(xq).cast("double")).as("sum_qty"),
          (sum(y100).cast("double") / lit(100d)).as("sum_base_price"),
          (sum(y100 * (lit(100L) - d100)).cast("double") / lit(10000d)).as("sum_disc_price"),
          fround(sum(xq).cast("double") / count(lit(1)), 4).as("avg_qty"),
          fround(sum(d100).cast("double") / lit(100d) / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- FILTER -------------------------------------------------------
    "q_filter" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "error" && col("value") > 400d)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")
    }),

    // ---- TAKE(offset, n) — circuit-break ≙ limit pushdown -------------
    "q_take" -> ((s, dir) => {
      RowOps.take(t(s, dir, "events"), Seq(col("event_id")), 100, 50)
        .select("event_id", "event_type", "value")
    }),

    // ---- DROP(offset, n) ----------------------------------------------
    "q_drop" -> ((s, dir) => {
      RowOps.drop(t(s, dir, "events").select("event_id", "event_type", "value"),
        Seq(col("event_id")), 5, 9990)
        .orderBy("event_id")
    }),

    // ---- MAPVALUE / PUSHVALUE / SET — computed columns ----------------
    "q_mapvalue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          r2(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
          when(col("l_quantity") >= 25, "bulk").otherwise("small").as("qty_class"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- TRANSPOSE (wide→long unpivot) --------------------------------
    "q_transpose" -> ((s, dir) => {
      RowOps.transpose(
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") < 30)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"),
        fixed = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber", "name")
    }),

    // ---- GROUP: count/sum/min/max/avg ---------------------------------
    "q_group_basic" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy("event_type").agg(
        count(lit(1)).as("cnt"),
        sum(dec2(col("value"))).cast("double").as("sum_value"),
        fround(decAvg(col("value")), 4).as("avg_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))
        .orderBy("event_type")
    }),

    // ---- GROUP: variance/stddev/stderr/rss/rms ------------------------
    // All derived from exact decimal power sums (Σv, Σv²) so the results
    // are bit-deterministic across partitionings and engines; the library
    // forms (StatFns.*) are the general double-typed equivalents.
    "q_group_stats" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sumsq = sum(dec2(col("value")) * dec2(col("value"))).cast("double")
      val sumd = sum(dec2(col("value"))).cast("double")
      val n = count(col("value"))
      val variance = (sumsq - sumd * sumd / n) / (n - 1)
      e.groupBy("event_type").agg(
        r4(variance).as("variance"),
        r4(sqrt(variance)).as("stddev"),
        r4(sqrt(variance) / sqrt(n)).as("stderr"),
        r2(sqrt(sumsq)).as("rss"),
        r4(sqrt(sumsq / n)).as("rms"))
        .orderBy("event_type")
    }),

    // ---- GROUP: quantile / median (interpolated) ----------------------
    "q_group_quantile" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy("event_type").agg(
        r4(StatFns.quantileInterpolated(col("value"), 0.25)).as("q1"),
        r4(StatFns.median(col("value"))).as("median"),
        r4(StatFns.quantileInterpolated(col("value"), 0.75)).as("q3"),
        r4(StatFns.quantileInterpolated(col("value"), 0.9)).as("p90"))
        .orderBy("event_type")
    }),

    // ---- GROUP: correlation / covariance / regression slope -----------
    "q_group_corr" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        r6(corr("l_quantity", "l_extendedprice")).as("correlation"),
        r2(covar_samp("l_quantity", "l_extendedprice")).as("covariance"),
        r4(StatFns.lrs(col("l_quantity"), col("l_extendedprice"))).as("lrs"))
        .orderBy("l_returnflag")
    }),

    // ---- GROUP: entropy / cdf (custom stat surface) -------------------
    "q_group_entropy_cdf" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy("event_type").agg(
        r2(StatFns.entropy(col("value") / lit(1000d))).as("entropy"),
        r6(StatFns.cdf(col("value"), 100d)).as("cdf_100"))
        .orderBy("event_type")
    }),

    // ---- GROUP: k-th central moment (custom Aggregator, single pass) --
    "q_group_moment" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy("event_type").agg(
        r2(MomentAgg.moment(col("value"), 2)).as("moment2"),
        r2(MomentAgg.moment(col("value"), 3) / lit(1000d)).as("moment3_k"))
        .orderBy("event_type")
    }),

    // ---- GROUP: deterministic mode (argmax of value histogram) --------
    "q_group_mode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("event_type"), floor(col("value") / 10d).cast("long").as("bucket"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("bucket").asc)
      e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("event_type", "bucket", "cnt").orderBy("event_type")
    }),

    // ---- weighted mean / weighted variance ----------------------------
    "q_group_weighted" -> ((s, dir) => {
      // Integer-scaled exact weighted sums (library forms in
      // StatFns.weighted*): Σxw and Σw ride long addition; only Σx²w
      // can exceed int64 and takes the one decimal(38,0) sum.
      val y100 = (col("l_extendedprice").cast("decimal(12,2)") * lit(100)).cast("long")
      val wq = col("l_quantity").cast("decimal(4,0)").cast("long")
      val sxw = sum(y100 * wq).cast("double") / lit(100d)
      val sxxw = sum((y100 * y100 * wq).cast("decimal(38,0)")).cast("double") / lit(10000d)
      val sw = sum(wq).cast("double")
      val wm = sxw / sw
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        r4(wm).as("wmean"),
        r2((sxxw - sw * wm * wm) / (sw - 1d) / 1000d).as("wvar_k"))
        .orderBy("l_returnflag")
    }),

    // ---- weighted two-column relation aggregators ---------------------
    // correlation/covariance/lrs with weight() (fm_monad.go
    // GroupColumnRelation + gonum stat weighted forms): exact-decimal
    // power sums then a fixed double-op sequence shared with the oracle,
    // so partition order can't move the rounded result.
    "q_group_wcorr" -> ((s, dir) => {
      // Exactness without decimal-chain aggregation cost: the 2-decimal
      // inputs scale to integers (w·100 ∈ 1..9, y·100, x integral), so
      // five of six power sums ride plain LONG addition in codegen; only
      // Σy²w can exceed int64 range and takes the one decimal(38,0) sum.
      // Unscaling and the relation formulas run in a fixed double-op
      // sequence shared verbatim with the oracle.
      val xq = col("l_quantity").cast("decimal(4,0)").cast("long")
      val w100 = (col("l_tax").cast("decimal(4,2)") * lit(100)).cast("long") + lit(1L)
      val y100 = (col("l_extendedprice").cast("decimal(12,2)") * lit(100)).cast("long")
      val sw = sum(w100).cast("double") / lit(100d)
      val sxw = sum(xq * w100).cast("double") / lit(100d)
      val syw = sum(y100 * w100).cast("double") / lit(10000d)
      val sxxw = sum(xq * xq * w100).cast("double") / lit(100d)
      val syyw = sum((y100 * y100 * w100).cast("decimal(38,0)")).cast("double") / lit(1000000d)
      val sxyw = sum(xq * y100 * w100).cast("double") / lit(10000d)
      val mx = sxw / sw
      val my = syw / sw
      val cov = (sxyw - sw * mx * my) / (sw - 1d)
      val varx = (sxxw - sw * mx * mx) / (sw - 1d)
      val vary = (syyw - sw * my * my) / (sw - 1d)
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        r6(cov / (sqrt(varx) * sqrt(vary))).as("wcorr"),
        r2(cov / 1000d).as("wcov_k"),
        r4((sxyw - sw * mx * my) / (sxxw - sw * mx * mx)).as("wlrs"))
        .orderBy("l_returnflag")
    }),

    // ---- join: broadcast dim joins (customer⋈orders⋈nation⋈region) ----
    "q_join_revenue" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")
    }),

    // ---- join: semi/anti ----------------------------------------------
    // one pass: a left join against the distinct big-order customer keys
    // classifies every customer — the semi+anti union shape scanned
    // customer⋈orders twice for the same answer
    "q_join_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val bigKeys = t(s, dir, "orders").filter(col("o_totalprice") > 400000d)
        .select(col("o_custkey")).distinct()
      c.join(bigKeys, c("c_custkey") === bigKeys("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          when(col("o_custkey").isNull, "no_big_order")
            .otherwise("has_big_order").as("status"))
        .orderBy("c_custkey")
    }),

    // ---- HISTOGRAM (fixed bins incl. empty) ---------------------------
    "q_histogram" -> ((s, dir) => {
      StatOps.histogram(s, t(s, dir, "events"), col("value"), 0d, 500d, 25d)
    }),

    // ---- BOXPLOT per category -----------------------------------------
    "q_boxplot" -> ((s, dir) => {
      StatOps.boxplot(t(s, dir, "events"), col("value"), col("event_type"))
        .select(col("category"),
          r4(col("q1")).as("q1"), r4(col("median")).as("median"),
          r4(col("q3")).as("q3"), r4(col("iqr")).as("iqr"),
          col("lower_whisker"), col("upper_whisker"), col("n_outliers"))
    }),

    // ---- exact deduplication (hash-groupBy, keep first by id) ---------
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n_dups"))
        .orderBy("user_id", "event_type")
    }))

  val oracles: Map[String, String] = Map(
    "q_tpch_pricing" ->
      """WITH s AS (
           SELECT l_returnflag, l_linestatus,
             CAST(CAST(l_quantity AS DECIMAL(4,0)) AS BIGINT) AS xq,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y100,
             CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d100
           FROM lineitem)
         SELECT l_returnflag, l_linestatus,
           round(CAST(sum(xq) AS DOUBLE),2) AS sum_qty,
           CAST(sum(y100) AS DOUBLE)/100 AS sum_base_price,
           CAST(sum(y100*(100-d100)) AS DOUBLE)/10000 AS sum_disc_price,
           floor((CAST(sum(xq) AS DOUBLE)/count(*))*10000.0 + 0.5)/10000.0 AS avg_qty,
           floor((CAST(sum(d100) AS DOUBLE)/100/count(*))*10000.0 + 0.5)/10000.0 AS avg_disc,
           count(*) AS count_order
         FROM s GROUP BY 1,2 ORDER BY 1,2""",
    "q_filter" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type='error' AND value>400 ORDER BY event_id""",
    "q_take" ->
      """SELECT event_id, event_type, value FROM events
         ORDER BY event_id OFFSET 100 LIMIT 50""",
    "q_drop" ->
      """SELECT event_id, event_type, value FROM (
           SELECT event_id, event_type, value,
                  row_number() OVER (ORDER BY event_id) AS rn FROM events)
         WHERE rn <= 5 OR rn > 9995 ORDER BY event_id""",
    "q_mapvalue" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice*(1-l_discount)*(1+l_tax),2) AS charge,
         CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class
         FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber""",
    "q_transpose" ->
      """SELECT l_orderkey, l_linenumber, name, value FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS name, l_quantity AS value
             FROM lineitem WHERE l_orderkey < 30
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             FROM lineitem WHERE l_orderkey < 30
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
             FROM lineitem WHERE l_orderkey < 30)
         ORDER BY l_orderkey, l_linenumber, name""",
    "q_group_basic" ->
      """SELECT event_type, count(*) AS cnt,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         floor((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value))*10000.0 + 0.5)/10000.0 AS avg_value,
         min(value) AS min_value,
         max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_group_stats" ->
      """WITH g AS (
           SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sumsq,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sumd,
             count(value) AS n
           FROM events GROUP BY 1)
         SELECT event_type,
         round((sumsq - sumd*sumd/n)/(n-1),4) AS variance,
         round(sqrt((sumsq - sumd*sumd/n)/(n-1)),4) AS stddev,
         round(sqrt((sumsq - sumd*sumd/n)/(n-1))/sqrt(n),4) AS stderr,
         round(sqrt(sumsq),2) AS rss,
         round(sqrt(sumsq/n),4) AS rms
         FROM g ORDER BY 1""",
    "q_group_quantile" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.25),4) AS q1,
         round(quantile_cont(value, 0.5),4) AS median,
         round(quantile_cont(value, 0.75),4) AS q3,
         round(quantile_cont(value, 0.9),4) AS p90
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_group_corr" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice),6) AS correlation,
         round(covar_samp(l_quantity, l_extendedprice),2) AS covariance,
         round(regr_slope(l_extendedprice, l_quantity),4) AS lrs
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_group_entropy_cdf" ->
      """SELECT event_type,
         round(-sum(CASE WHEN value/1000 > 0 THEN (value/1000)*ln(value/1000) ELSE 0 END),2) AS entropy,
         round(avg(CASE WHEN value <= 100 THEN 1.0 ELSE 0.0 END),6) AS cdf_100
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_group_moment" ->
      """SELECT event_type,
         round(avg(d2),2) AS moment2, round(avg(d3)/1000,2) AS moment3_k
         FROM (SELECT event_type,
                 pow(value - avg(value) OVER (PARTITION BY event_type), 2) AS d2,
                 pow(value - avg(value) OVER (PARTITION BY event_type), 3) AS d3
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "q_group_mode" ->
      """SELECT event_type, bucket, cnt FROM (
           SELECT event_type, bucket, cnt,
             row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, bucket ASC) AS rn
           FROM (SELECT event_type, CAST(floor(value/10) AS BIGINT) AS bucket, count(*) AS cnt
                 FROM events GROUP BY 1,2))
         WHERE rn = 1 ORDER BY event_type""",
    "q_group_weighted" ->
      """WITH s AS (
           SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y100,
             CAST(CAST(l_quantity AS DECIMAL(4,0)) AS BIGINT) AS wq
           FROM lineitem),
         g AS (
           SELECT l_returnflag,
             CAST(sum(y100*wq) AS DOUBLE)/100 AS sxw,
             CAST(sum(y100*y100*wq) AS DOUBLE)/10000 AS sxxw,
             CAST(sum(wq) AS DOUBLE) AS sw
           FROM s GROUP BY 1)
         SELECT l_returnflag,
           round(sxw/sw,4) AS wmean,
           round((sxxw - sw*(sxw/sw)*(sxw/sw))/(sw - 1)/1000,2) AS wvar_k
         FROM g ORDER BY 1""",
    "q_group_wcorr" ->
      """WITH s AS (
           SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(4,0)) AS BIGINT) AS xq,
             CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) + 1 AS w100,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y100
           FROM lineitem),
         g AS (
           SELECT l_returnflag,
             CAST(sum(w100) AS DOUBLE)/100 AS sw,
             CAST(sum(xq*w100) AS DOUBLE)/100 AS sxw,
             CAST(sum(y100*w100) AS DOUBLE)/10000 AS syw,
             CAST(sum(xq*xq*w100) AS DOUBLE)/100 AS sxxw,
             CAST(sum(y100*y100*w100) AS DOUBLE)/1000000 AS syyw,
             CAST(sum(xq*y100*w100) AS DOUBLE)/10000 AS sxyw
           FROM s GROUP BY 1)
         SELECT l_returnflag,
           round(((sxyw - sw*(sxw/sw)*(syw/sw))/(sw - 1))
             / (sqrt((sxxw - sw*(sxw/sw)*(sxw/sw))/(sw - 1)) * sqrt((syyw - sw*(syw/sw)*(syw/sw))/(sw - 1))),6) AS wcorr,
           round(((sxyw - sw*(sxw/sw)*(syw/sw))/(sw - 1))/1000,2) AS wcov_k,
           round((sxyw - sw*(sxw/sw)*(syw/sw))/(sxxw - sw*(sxw/sw)*(sxw/sw)),4) AS wlrs
         FROM g ORDER BY 1""",
    "q_join_revenue" ->
      """SELECT r_name, n_name,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1,2 ORDER BY 1,2""",
    "q_join_semi_anti" ->
      """SELECT c_custkey, 'has_big_order' AS status FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         UNION ALL
         SELECT c_custkey, 'no_big_order' FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         ORDER BY c_custkey""",
    "q_histogram" ->
      """WITH bins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(22)),
         h AS (SELECT LEAST(GREATEST(CAST(trunc(value/25.0) AS BIGINT) + 1, 0), 21) AS bin,
                 count(*) AS cnt FROM events GROUP BY 1)
         SELECT CASE WHEN bins.bin = 0 THEN CAST('-infinity' AS DOUBLE)
                ELSE CAST((bins.bin-1)*25.0 AS DOUBLE) END AS low,
           CASE WHEN bins.bin = 21 THEN CAST('infinity' AS DOUBLE)
                ELSE CAST(bins.bin*25.0 AS DOUBLE) END AS high,
           coalesce(cnt, 0) AS count
         FROM bins LEFT JOIN h USING(bin)
         WHERE NOT ((bins.bin = 0 OR bins.bin = 21) AND coalesce(cnt,0) = 0)
         ORDER BY bins.bin""",
    "q_boxplot" ->
      """WITH q AS (
           SELECT event_type AS category,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.5) AS median,
             quantile_cont(value, 0.75) AS q3,
             quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
           FROM events GROUP BY 1)
         SELECT q.category, round(q.q1,4) AS q1, round(q.median,4) AS median,
           round(q.q3,4) AS q3, round(q.iqr,4) AS iqr,
           min(CASE WHEN e.value >= q.q1 - 1.5*q.iqr THEN e.value END) AS lower_whisker,
           max(CASE WHEN e.value <= q.q3 + 1.5*q.iqr THEN e.value END) AS upper_whisker,
           CAST(sum(CASE WHEN e.value < q.q1 - 1.5*q.iqr OR e.value > q.q3 + 1.5*q.iqr
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM events e JOIN q ON e.event_type = q.category
         GROUP BY q.category, q.q1, q.median, q.q3, q.iqr
         ORDER BY q.category""",
    "q_dedup_exact" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id,
         count(*) AS n_dups
         FROM events GROUP BY 1,2 ORDER BY 1,2""")
}
