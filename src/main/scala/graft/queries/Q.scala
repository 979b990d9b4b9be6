package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables

/** Shared helpers for the oracle-checked query battery.
  *
  * Oracle-parity conventions (the driver hash-compares our parquet output
  * against DuckDB running `oracleSql` on the same tables):
  *  - every aggregate/computed column is aliased identically on both sides;
  *  - every query ends in a deterministic ORDER BY on both sides;
  *  - doubles from large sums are rounded to 2 decimals, means/ratios to
  *    4-6, so associativity-order float drift can't flip the hash;
  *  - `events.ts` is epoch-ns LongType on our side but DuckDB truncates
  *    parquet ns timestamps to µs on read, so anything derived from it is
  *    exchanged at µs (`ts div 1000` ⟷ `epoch_us(ts)`).
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame = Tables.load(s, dir, name)

  def r2(c: Column): Column = round(c, 2)
  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)

  /** events.ts as epoch-ns long, regardless of reader config. The
    * driver's parquet has carried ns-int64 (→ LongType via nanosAsLong),
    * µs-adjusted (→ TimestampType) and µs-naive (→ TimestampNTZType)
    * encodings across rounds; the NTZ cast is exact under the engine's
    * pinned UTC session zone. */
  def tsNs(df: DataFrame, col: String = "ts"): Column = df.schema(col).dataType match {
    case LongType => df(col)
    case org.apache.spark.sql.types.TimestampNTZType =>
      unix_micros(df(col).cast(org.apache.spark.sql.types.TimestampType)) * 1000L
    case _ => unix_micros(df(col)) * 1000L
  }

  /** Pushdown-friendly half-open time-range predicate on an event-time
    * column: compares the COLUMN against literals of its own type (ns
    * longs or µs timestamps), so the filter reaches the parquet scan as
    * a row-group-prunable predicate — `fn(ts) >= lit` would not. Bounds
    * are epoch-ns and must be µs-aligned for timestamp-typed data. */
  def tsRangeNs(df: DataFrame, fromNs: Long, untilNs: Long, col: String = "ts"): Column =
    df.schema(col).dataType match {
      case LongType => df(col) >= fromNs && df(col) < untilNs
      case org.apache.spark.sql.types.TimestampNTZType =>
        val lo = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(fromNs, 1000000000L), Math.floorMod(fromNs, 1000000000L).toInt,
          java.time.ZoneOffset.UTC)
        val hi = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(untilNs, 1000000000L), Math.floorMod(untilNs, 1000000000L).toInt,
          java.time.ZoneOffset.UTC)
        df(col) >= lit(lo) && df(col) < lit(hi)
      case _ =>
        df(col) >= lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(fromNs, 1000000000L), Math.floorMod(fromNs, 1000000000L))) &&
        df(col) < lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(untilNs, 1000000000L), Math.floorMod(untilNs, 1000000000L)))
    }

  /** epoch-µs view of events.ts — the DuckDB-parity time unit. */
  def tsUs(df: DataFrame, col: String = "ts"): Column =
    graft.time.TimeFns.nsToUs(tsNs(df, col))

  /** Exact decimal cast for 2-decimal data columns: makes SUM
    * order-independent (decimal addition is exact), so rounded sums
    * hash-match the oracle regardless of partitioning. */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Deterministic mean: exact decimal sum ÷ count (double division of
    * identical inputs on both engines). */
  def decAvg(c: Column): Column = sum(dec2(c)).cast("double") / count(c)
}
