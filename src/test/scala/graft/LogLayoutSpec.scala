package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.TableSinks

/** Log-table layout contract (the scale path behind the reference's
  * append-only log tables, spi/testsuite/logtable.go): appendLogTable
  * partitions by UTC day of `_ARRIVAL_TIME`, and an arrival-window tail
  * prunes to the touched days — PartitionFilters in the scan, arrival
  * bounds pushed to parquet. */
class LogLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("arrival-day layout prunes partitions for the log tail query") {
    val dir = tempDir("graft_loglayout") + "/l"
    val day0 = 1704067200000000000L // 2024-01-01 UTC, ns
    // 5 days × 48 events, arrival = event time (already epoch-ns)
    val rows = for { d <- 0 until 5; i <- 0 until 48 }
      yield (day0 + d * 86400000000000L + i * 1800000000000L,
        s"msg-$d-$i", (d * 48 + i).toDouble)
    TableSinks.appendLogTable(
      rows.toDF("_arrival_time", "msg", "value"), dir)

    val dayDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(dayDirs.length == 5, dayDirs.mkString(","))

    // tail: a 2-day arrival window
    val q = TableSinks.scanLogTable(spark, dir,
      day0 + 86400000000000L, day0 + 3 * 86400000000000L)
    val out = q.collect()
    assert(out.length == 96)

    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(formatted).getOrElse("")
    assert(pf.contains("__day"), formatted)
    assert(formatted.contains("PushedFilters: ["), formatted)

    val readFiles: Long = q.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
    val totalFiles = dayDirs.flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(readFiles < totalFiles, s"read $readFiles of $totalFiles files")

    // rows missing an arrival stamp get one at write time
    val dir2 = tempDir("graft_loglayout2") + "/l"
    TableSinks.appendLogTable(Seq((1, "x")).toDF("id", "msg"), dir2)
    val stamped = spark.read.parquet(dir2)
    assert(stamped.columns.contains("_arrival_time"))
    assert(stamped.select("_arrival_time").head.getLong(0) > 0L)
  }
}
