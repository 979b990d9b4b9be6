package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, rand}
import org.apache.spark.sql.internal.SQLConf

/** A global sort over an input below AQE's minimum partition size sorts
  * in one task (plans.SmallSort): no range-bound sample job, no range
  * shuffle, the same rows; a large input and a user's
  * `repartitionByRange` keep their range exchange. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A few KB of parquet in 4 files: ties in `a`, nulls in `a`, `b` unique. */
  private lazy val small: DataFrame = {
    val dir = tempDir("graft_smallsort")
    spark.range(0, 400, 1, 4)
      .selectExpr("IF(id % 10 = 0, NULL, CAST(id * 37 % 50 AS INT)) AS a",
        "id AS b", "CAST(id % 7 AS INT) AS k")
      .write.parquet(s"$dir/small")
    spark.read.parquet(s"$dir/small")
  }

  /** ~3 MB of incompressible doubles: above the 1 MB default bound. */
  private lazy val large: DataFrame = {
    val dir = tempDir("graft_smallsort")
    spark.range(0, 400000, 1, 4)
      .select(rand(7).as("x"), (col("id") % 5).cast("int").as("k"))
      .write.parquet(s"$dir/large")
    spark.read.parquet(s"$dir/large")
  }

  /** Range exchanges in `df`'s executed plan, AQE stages and subqueries
    * included; run `df` first so the plan is AQE's final one. */
  private def rangeExchanges(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.size

  private def coalesces(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case c: CoalesceExec => c }.size

  /** Jobs of one collect of `sorted`, less those of `unsorted`. */
  private def extraJobs(sorted: DataFrame, unsorted: DataFrame): Int =
    jobsOf(sorted.collect()) - jobsOf(unsorted.collect())

  test("GROUP BY … ORDER BY over a small view starts no more jobs than without ORDER BY") {
    small.createOrReplaceTempView("ss_small")
    val agg = "SELECT k, count(*) AS n, sum(b) AS s FROM ss_small GROUP BY k"
    val sorted = spark.sql(s"$agg ORDER BY s DESC")
    assert(extraJobs(sorted, spark.sql(agg)) == 0)
    assert(rangeExchanges(sorted) == 0 && coalesces(sorted) == 1)
    assert(sorted.collect().map(_.getLong(2)).toSeq ==
      spark.sql(agg).collect().map(_.getLong(2)).toSeq.sortBy(-_))
  }

  test("ORDER BY over a small filtered scan starts no more jobs than without ORDER BY") {
    val filtered = small.where(col("k") === 3)
    val sorted = filtered.orderBy(col("b").desc)
    assert(extraJobs(sorted, filtered) == 0)
    assert(rangeExchanges(sorted) == 0 && coalesces(sorted) == 1)
    assert(sorted.collect().map(_.getLong(1)).toSeq ==
      filtered.collect().map(_.getLong(1)).toSeq.sortBy(-_))
  }

  test("a sort over a small aggregate of a large scan drops its exchange at the re-plan") {
    // the scan's estimate is above the bound, so the initial plan has the
    // range exchange; the aggregate stage's runtime size is a few bytes
    val agg = large.groupBy("k").count()
    val sorted = agg.orderBy(col("k"))
    assert(extraJobs(sorted, agg) == 0)
    assert(rangeExchanges(sorted) == 0)
    assert(sorted.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("a sort over a small finished stage of a large scan drops its exchange at the re-plan") {
    // the repartition stage's input estimate is the large scan; its
    // runtime size is a few hundred rows
    val few = large.where(col("x") < 0.001).repartition(col("k"))
    val sorted = few.orderBy(col("x"))
    assert(extraJobs(sorted, few) == 0)
    assert(rangeExchanges(sorted) == 0 && coalesces(sorted) == 1)
    val xs = sorted.collect().map(_.getDouble(0)).toSeq
    assert(xs.nonEmpty && xs == few.collect().map(_.getDouble(0)).toSeq.sorted)
  }

  test("rows equal the same rows sorted in Scala: ASC/DESC, NULLS FIRST/LAST, two keys") {
    val rows = small.select("a", "b").collect().toSeq
    val a = (r: Row) => if (r.isNullAt(0)) None else Some(r.getInt(0))
    val b = (r: Row) => r.getLong(1)
    def sorted(df: DataFrame): Seq[Row] = {
      val got = df.collect().toSeq
      assert(rangeExchanges(df) == 0, df.queryExecution.executedPlan)
      got
    }
    // one key: `a` has ties, so compare the key column; two keys are total
    def keys(df: DataFrame) = sorted(df).map(a)
    def full(df: DataFrame) = sorted(df).map(r => (a(r), b(r)))
    val nullsFirst = Ordering.Option(Ordering.Int)
    val nullsLast: Ordering[Option[Int]] = (x, y) => (x, y) match {
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
      case (Some(p), Some(q)) => p.compare(q)
    }
    val as = rows.map(a)
    assert(keys(small.orderBy(col("a").asc_nulls_first)) == as.sorted(nullsFirst))
    assert(keys(small.orderBy(col("a").asc_nulls_last)) == as.sorted(nullsLast))
    assert(keys(small.orderBy(col("a").desc_nulls_first)) == as.sorted(nullsLast.reverse))
    assert(keys(small.orderBy(col("a").desc_nulls_last)) == as.sorted(nullsFirst.reverse))
    val ab = rows.map(r => (a(r), b(r)))
    assert(full(small.orderBy(col("a").asc_nulls_last, col("b").desc)) ==
      ab.sorted(Ordering.Tuple2(nullsLast, Ordering.Long.reverse)))
    assert(full(small.orderBy(col("a").desc_nulls_first, col("b").asc)) ==
      ab.sorted(Ordering.Tuple2(nullsLast.reverse, Ordering.Long)))
  }

  test("an input above minPartitionSize keeps its range exchange") {
    val sorted = large.orderBy(col("x"))
    val xs = sorted.collect().map(_.getDouble(0))
    assert(rangeExchanges(sorted) == 1 && coalesces(sorted) == 0)
    assert(xs.toSeq == xs.toSeq.sorted)
    // the bound is Spark's own minPartitionSize: raised above the input,
    // the same sort runs in one task
    val key = SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key
    spark.conf.set(key, "64m")
    try {
      val one = large.orderBy(col("x"))
      assert(one.collect().map(_.getDouble(0)).toSeq == xs.toSeq)
      assert(rangeExchanges(one) == 0 && coalesces(one) == 1)
    } finally spark.conf.unset(key)
  }

  test("repartitionByRange keeps its exchange") {
    val sorted = small.repartitionByRange(3, col("b")).orderBy(col("b"))
    val bs = sorted.collect().map(_.getLong(1)).toSeq
    assert(bs == (0L until 400L))
    assert(rangeExchanges(sorted) == 1)
  }
}
