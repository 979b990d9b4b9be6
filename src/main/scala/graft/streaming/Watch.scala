package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming surface (reference SURVEY §2.9):
  *
  *  - **watch** — the reference polls V$T_STAT / _ARRIVAL_TIME to tail a
  *    table (spi/watch.go). Structured Streaming's file source IS that
  *    semantics: new files under the table path stream as new rows.
  *  - **append** — the reference batches appends by max-rows/bytes/delay
  *    (spi/append_worker.go:300-315). Micro-batch triggers map 1:1:
  *    maxDelay → ProcessingTime trigger; maxRows/bytes → source options
  *    (maxFilesPerTrigger / maxBytesPerTrigger).
  *  - **dup-check** — TAG_DUPLICATE_CHECK_DURATION (testsuite.go:110) →
  *    `dropDuplicatesWithinWatermark` on (name, time).
  */
object Watch {
  /** Tail a parquet table directory as a stream (the watch endpoint).
    * A path naming a single FILE is `{}`-glob-wrapped automatically —
    * the file source requires basePath to be a directory, and single-file
    * tables (the sf test layout) would otherwise fail at start. */
  def tail(spark: SparkSession, path: String, schema: StructType,
           maxFilesPerTrigger: Int = 16): DataFrame = {
    val src =
      if (path.exists(c => "{}[]*?".contains(c))) path
      else {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(p) && fs.getFileStatus(p).isFile)
          new org.apache.hadoop.fs.Path(p.getParent, "{" + p.getName + "}").toString
        else path
      }
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(src)
  }

  /** Append-worker-shaped sink: micro-batched parquet append with a
    * max-delay flush interval. */
  def appendWriter(df: DataFrame, outPath: String, checkpoint: String,
                   maxDelayMs: Long): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(maxDelayMs))

  /** TAG_DUPLICATE_CHECK_DURATION semantics: a re-sent (name, time) is
    * suppressed while its first ARRIVAL is within the duration — an
    * ingest-time window (testsuite.go:110), not an event-time one. So the
    * watermark rides on processing time: a historical timestamp re-sent
    * after the window must be re-admitted (and must not be discarded as
    * "late", which an event-time watermark would do). */
  def dedupWithin(df: DataFrame, nameCol: String, tsCol: String,
                  duration: String): DataFrame =
    df.withColumn("__arrival", current_timestamp())
      .withWatermark("__arrival", duration)
      .dropDuplicatesWithinWatermark(nameCol, tsCol)
      .drop("__arrival")

  /** SSE-style tail: start the watch stream and surface each micro-batch
    * as a blocking iterator of row batches — the shape `GET /db/watch/:t`
    * serves as server-sent events (reference http_query.go:109-210, one
    * SSE `data:` event per new-row batch). The HTTP layer drains the
    * iterator; `TailHandle.stop()` ends the stream. Batches are bounded by
    * maxFilesPerTrigger, so a burst of appends cannot flood driver memory.
    */
  final class TailHandle(query: StreamingQuery,
                         queue: java.util.concurrent.BlockingQueue[Seq[org.apache.spark.sql.Row]]) {
    /** Blocking iterator over arriving batches (empty batches skipped). */
    val events: Iterator[Seq[org.apache.spark.sql.Row]] = new Iterator[Seq[org.apache.spark.sql.Row]] {
      private var nextBatch: Seq[org.apache.spark.sql.Row] = null
      def hasNext: Boolean = {
        while (nextBatch == null && query.isActive)
          nextBatch = queue.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (nextBatch == null) nextBatch = queue.poll() // drain after stop
        nextBatch != null
      }
      def next(): Seq[org.apache.spark.sql.Row] = {
        if (!hasNext) throw new NoSuchElementException
        val b = nextBatch; nextBatch = null; b
      }
    }
    def stop(): Unit = query.stop()
    def awaitTermination(ms: Long): Boolean = query.awaitTermination(ms)
  }

  /** Start tailing `path` and return a handle whose iterator yields each
    * new-row batch (the SSE bridge). */
  def tailEvents(spark: SparkSession, path: String, schema: StructType,
                 checkpoint: String,
                 maxFilesPerTrigger: Int = 16): TailHandle = {
    val queue = new java.util.concurrent.LinkedBlockingQueue[Seq[org.apache.spark.sql.Row]](1024)
    val q = tail(spark, path, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect().toSeq // bounded by maxFilesPerTrigger
        if (rows.nonEmpty) queue.put(rows)
      }
      .start()
    new TailHandle(q, queue)
  }

  /** Tumbling event-time aggregate with watermark — the streaming form of
    * GROUP(timewindow()); feeds the rollup tables incrementally.
    * Watermarks require TIMESTAMP event time, so NTZ columns (µs-naive
    * parquet) cast via the pinned-UTC session zone and LongType columns
    * (epoch-ns tag-table shape) convert by integral division — the same
    * dispatch as Q.tsNs / StatefulOps.asTagRows. */
  def rollupStream(df: DataFrame, nameCol: String, tsCol: String, valueCol: String,
                   windowLen: String, watermark: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val typed = df.schema(tsCol).dataType match {
      case TimestampNTZType => df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case LongType => df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case _ => df
    }
    typed.withWatermark(tsCol, watermark)
      .groupBy(col(nameCol).as("name"), window(col(tsCol), windowLen).as("w"))
      .agg(min(valueCol).as("min_value"), max(valueCol).as("max_value"),
        sum(valueCol).as("sum_value"),
        sum(col(valueCol) * col(valueCol)).as("sumsq_value"),
        count(valueCol).as("cnt"))
      .select(col("name"), col("w.start").as("time"), col("min_value"),
        col("max_value"), col("sum_value"), col("sumsq_value"), col("cnt"))
  }

  /** End-to-end rollup maintenance: tail the raw table, aggregate closed
    * tumbling windows, append them to `rollupDir` in the routed rollup
    * schema (`time_ns` epoch-ns bucket starts), and advance the
    * [[graft.plans.RollupRouting]] horizon past every window just
    * emitted — so a routed query stays EXACT during the maintenance lag
    * (the raw tail past the horizon is unioned in by the rule; the
    * reference likewise routes only closed intervals to its rollups,
    * mods/server/http_lake.go:1692-1716).
    *
    * Append mode emits a window only once its watermark closes it, so
    * every emitted window is final and the horizon (max emitted start +
    * period) never claims coverage the rollup doesn't have. foreachBatch
    * is at-least-once, so each batch publishes via [[publishBatch]]
    * (batchId-keyed, replay-idempotent) — a replayed batch can never
    * double-count partials. The tier specs + horizon persist next to the
    * parquet ([[graft.plans.RollupRouting.save]]) and are restored on
    * restart, so routed queries stay exact across JVM lifetimes. */
  /** `coarserTiers`: additional (periodNs, dir) rungs maintained FROM the
    * fine tier per batch (the reference's hierarchical ladder — SEC←raw,
    * MIN←SEC, HOUR←MIN — never rescans raw for coarse tiers). Each batch
    * appends its coarsened partials; a coarse bucket straddling batches
    * simply holds several partial rows, which the routing rewrite's
    * merge aggregation (min-of-mins, sum-of-sums) combines exactly. The
    * coarse horizon is the fine one: the rule floors it to each tier's
    * period, so an open coarse bucket's partials are never trusted. */
  def maintainRollup(spark: SparkSession, rawDir: String, schema: StructType,
                     nameCol: String, tsCol: String, valueCol: String,
                     windowLen: String, watermark: String, periodNs: Long,
                     rollupDir: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow(),
                     coarserTiers: Seq[(Long, String)] = Nil): StreamingQuery = {
    import graft.plans.RollupRouting
    // Restart path: restore each tier's persisted horizon BEFORE the
    // first batch — the in-memory horizon died with the old JVM, and a
    // stream-maintained rollup routed horizonless silently drops every
    // raw row newer than the stale rollup.
    (Seq((periodNs, rollupDir)) ++ coarserTiers).foreach { case (_, dir) =>
      try RollupRouting.load(spark, dir)
      catch { case _: Exception => } // first run: no sidecar yet
    }
    rollupStream(tail(spark, rawDir, schema), nameCol, tsCol, valueCol,
      windowLen, watermark)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // NTZ window starts (a µs-naive raw time column) convert to
        // epoch via the session zone — exact under the pinned UTC zone,
        // same convention as Q.tsNs
        val tUs = batch.schema("time").dataType match {
          case org.apache.spark.sql.types.TimestampNTZType =>
            unix_micros(col("time").cast("timestamp"))
          case _ => unix_micros(col("time"))
        }
        // read by the publish, the horizon and the coarser tiers
        graft.core.Par.within(batch.select(col("name"),
          (tUs * 1000L).as("time_ns"),
          col("min_value"), col("max_value"), col("sum_value"),
          col("sumsq_value"), col("cnt"))) { out =>
          publishBatch(out, rollupDir, batchId)
          val maxStart = out.agg(max("time_ns")).head()
          if (!maxStart.isNullAt(0)) {
            val horizon = maxStart.getLong(0) + periodNs
            RollupRouting.setHorizon(rollupDir, horizon)
            RollupRouting.save(spark, rawDir, RollupRouting.Spec(
              rollupDir, periodNs, nameCol, tsCol, valueCol))
            coarserTiers.foreach { case (coarseNs, dir) =>
              publishBatch(graft.operators.Lake.rollupCoarsen(out, coarseNs),
                dir, batchId)
              RollupRouting.setHorizon(dir, horizon)
              RollupRouting.save(spark, rawDir, RollupRouting.Spec(
                dir, coarseNs, nameCol, tsCol, valueCol))
            }
          }
        }
      }
      .start()
  }

  /** Exactly-once parquet publish for an at-least-once `foreachBatch`:
    * write the batch under a hidden temp dir inside `dir`, then move its
    * data files to deterministic batchId-keyed names — clearing any
    * earlier attempt of the SAME batch first. A replayed micro-batch
    * (failure/restart between sink write and checkpoint commit)
    * republishes identical files instead of appending duplicate partial
    * rows that would double-count sum/sumsq/cnt in every routed query.
    * Readers never see the temp dir (underscore prefix) and per-file
    * rename is atomic on HDFS-like stores. */
  private[graft] def publishBatch(out: DataFrame, dir: String,
                                  batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = out.sparkSession
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(dirPath, s"_tmp_batch_$batchId")
    out.write.mode("overwrite").parquet(tmp.toString)
    val prefix = s"batch-$batchId-"
    fs.listStatus(dirPath).iterator
      .filter(_.getPath.getName.startsWith(prefix))
      .foreach(f => fs.delete(f.getPath, false))
    val files = fs.listStatus(tmp).iterator
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .sortBy(_.getPath.getName)
    files.zipWithIndex.foreach { case (f, i) =>
      if (!fs.rename(f.getPath, new Path(dirPath, s"$prefix$i.snappy.parquet")))
        throw new java.io.IOException(s"cannot publish batch $batchId file $i into $dir")
    }
    fs.delete(tmp, true)
  }

  /** Streaming Count-Min maintenance: tail a document table and keep a
    * durable, mergeable CMS of its word stream. Each micro-batch
    * publishes its own (i, b, v) counter PARTIALS via [[publishBatch]]
    * (batchId-keyed, replay-idempotent — at-least-once foreachBatch can
    * never double-count a replayed batch); the merged sketch is just
    * the per-(i, b) re-sum of everything on disk ([[loadCountMin]]),
    * which is exactly the CMS mergeability property. Sketch size on
    * disk grows with BATCHES, not corpus size, and stays tiny
    * (rows × width cells per batch); compact by rewriting the merged
    * relation whenever batch count bothers anyone. */
  def maintainCountMin(spark: SparkSession, rawDir: String, schema: StructType,
                       textCol: String, rows: Int, width: Int,
                       sketchDir: String, checkpoint: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(rawDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val counters =
          graft.text.CorpusStats.cmCounters(batch, textCol, rows, width)
        publishBatch(counters.coalesce(1), sketchDir, batchId)
      }
      .start()

  /** The merged sketch: per-(i, b) sum of every published batch partial. */
  def loadCountMin(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(sketchDir).groupBy("i", "b").agg(sum("v").as("v"))
}
