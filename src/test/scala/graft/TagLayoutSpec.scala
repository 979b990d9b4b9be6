package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.TableSinks

/** The 100-TB layout contract: a tag table written by appendTagTable is
  * partitioned by (__day, __name_bucket), and the canonical tag query
  * (`name = 'x' AND time in range`) prunes to the matching directories —
  * PartitionFilters in the scan, not a full-table read. */
class TagLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("day+bucket layout prunes partitions for the canonical tag query") {
    val dir = tempDir("graft_layout") + "/t"
    val day0 = 1704067200000000000L // 2024-01-01 UTC, ns
    // 4 tags × 3 days × 24 points
    val rows = for {
      tag <- Seq("a", "b", "c", "d"); d <- 0 until 3; h <- 0 until 24
    } yield (tag, day0 + d * 86400000000000L + h * 3600000000000L, (d * 24 + h).toDouble)
    TableSinks.appendTagTable(rows.toDF("name", "time", "value"),
      dir, "name", "time", buckets = 8)

    // 3 days × (up to 4 distinct buckets) directories exist
    val allDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(allDirs.length == 3, allDirs.mkString(","))

    // canonical query: one tag, one day
    val q = TableSinks.scanTagTable(spark, dir, "b",
      day0 + 86400000000000L, day0 + 2 * 86400000000000L, buckets = 8)
    val rowsOut = q.collect()
    assert(rowsOut.length == 24)
    assert(rowsOut.forall(_.getAs[String]("name") == "b"))

    // the scan must carry partition filters on __day and __name_bucket
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(formatted).getOrElse("")
    assert(pf.contains("__day"), formatted)
    assert(pf.contains("__name_bucket"), formatted)
    // and the time/name predicates push to parquet
    assert(formatted.contains("PushedFilters: ["), formatted)

    // pruning observable: files actually read < files on disk
    val allFiles: Long = q.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
    val totalFiles = new java.io.File(dir).listFiles(
      new java.io.FilenameFilter {
        def accept(d: java.io.File, n: String) = n.startsWith("__day")
      }).flatMap(d => d.listFiles()).flatMap(d => d.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(allFiles < totalFiles, s"read $allFiles of $totalFiles files")
  }
}
