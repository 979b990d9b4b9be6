package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-writing sinks (reference: fm_dbsink.go — INSERT 38-165, APPEND
  * 167-253 with the async batching worker spi/append_worker.go).
  *
  * On Spark the two paths collapse: INSERT (row-by-row with column
  * mapping) and APPEND (bulk fast path) are both partition-parallel
  * columnar appends; the reference's max-rows/bytes/delay batching maps
  * to streaming triggers (see graft.streaming.Watch.appendWriter).
  */
object TableSinks {
  /** INSERT(cols…, table(T)): column-mapped append into a table path.
    * Missing target columns go null, extras are dropped — the
    * reference's INSERT lists the columns it fills. */
  def insert(df: DataFrame, tablePath: String, columns: Seq[String]): Unit =
    df.select(columns.map(col): _*).write.mode("append").parquet(tablePath)

  /** APPEND(table(T)): whole-row fast path, schema taken as-is. */
  def append(df: DataFrame, tablePath: String): Unit =
    df.write.mode("append").parquet(tablePath)

  /** APPEND with tag-table layout: partitioned by UTC day and series
    * name bucket, so BOTH time-range and per-tag scans prune whole
    * directories at 100 TB (the two predicates every tag query carries —
    * `name = 'x' AND time BETWEEN a AND b`). `buckets` keeps partition
    * count bounded regardless of tag cardinality; rows are time-ordered
    * within files for rowgroup min/max skipping. `timeCol` is epoch-ns. */
  def appendTagTable(df: DataFrame, tablePath: String, nameCol: String,
                     timeCol: String, buckets: Int = 64,
                     partitionByDay: Boolean = true): Unit = {
    val bucketed = df
      .withColumn("__name_bucket", pmod(xxhash64(col(nameCol)), lit(buckets)))
    val (laid, partCols) =
      if (partitionByDay)
        (bucketed.withColumn("__day",
          to_date(timestamp_micros(graft.time.TimeFns.nsToUs(col(timeCol))))),
         Seq("__day", "__name_bucket"))
      else (bucketed, Seq("__name_bucket"))
    laid.repartition(partCols.map(col): _*)
      .sortWithinPartitions(col(nameCol), col(timeCol))
      .write.mode("append")
      .partitionBy(partCols: _*)
      .parquet(tablePath)
  }

  /** APPEND with log-table layout (reference log tables: append-only,
    * hidden `_ARRIVAL_TIME` ingest stamp — spi/testsuite/logtable.go).
    * Partitioned by UTC day of ARRIVAL: log queries are arrival-window
    * tails ("what came in between a and b"), so day pruning cuts the
    * 100 TB scan to the touched days; files are arrival-sorted within a
    * partition for parquet rowgroup min/max skipping inside the day.
    * No name bucket — log tables have no tag key. `arrivalCol` is
    * epoch-ns; rows lacking one get stamped at write time. */
  def appendLogTable(df: DataFrame, tablePath: String,
                     arrivalCol: String = "_arrival_time"): Unit = {
    val stamped =
      if (df.columns.contains(arrivalCol)) df
      else df.withColumn(arrivalCol, unix_micros(current_timestamp()) * 1000L)
    stamped
      .withColumn("__day", to_date(timestamp_micros(
        graft.time.TimeFns.nsToUs(col(arrivalCol)))))
      .repartition(col("__day"))
      .sortWithinPartitions(col(arrivalCol))
      .write.mode("append")
      .partitionBy("__day")
      .parquet(tablePath)
  }

  /** Arrival-window scan of a log table laid out by [[appendLogTable]]:
    * the `__day` range reaches the file listing (PartitionFilters), the
    * ns bounds reach the rowgroups (PushedFilters). */
  def scanLogTable(spark: org.apache.spark.sql.SparkSession, tablePath: String,
                   fromNs: Long, untilNs: Long,
                   arrivalCol: String = "_arrival_time"): DataFrame = {
    val fromDay = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochMilli(fromNs / 1000000L), java.time.ZoneOffset.UTC)
    val untilDay = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochMilli(untilNs / 1000000L), java.time.ZoneOffset.UTC)
    spark.read.parquet(tablePath)
      .filter(col("__day").between(
        java.sql.Date.valueOf(fromDay), java.sql.Date.valueOf(untilDay)))
      .filter(col(arrivalCol) >= fromNs && col(arrivalCol) < untilNs)
  }

  /** WHEN(cond, action): per-matching-record side effect (reference
    * fm_monad.go:2171-2413 — doLog/doHttp/do-subroutine). The action runs
    * on executors via foreachPartition; the DataFrame passes through
    * unchanged, exactly like the reference's tee semantics. */
  def when_(df: DataFrame, cond: org.apache.spark.sql.Column,
            action: org.apache.spark.sql.Row => Unit): DataFrame = {
    df.filter(cond).foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      it.foreach(action)
    }
    df
  }
}
