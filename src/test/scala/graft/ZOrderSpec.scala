package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.ZOrder

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (Morton code reference values)") {
    def morton(a: Long, b: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 32) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 9L),
      (1023L, 511L), (0xFFFFFFFFL, 0L), (123456789L, 987654321L))
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue(col("a"), col("b")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == morton(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("z-ordered layout prunes row groups on BOTH dimensions") {
    val dirZ = tempDir("graft_z")
    val dirShred = tempDir("graft_shred")
    // 200k points on a 1024×1024 grid, deterministic pseudo-random spread
    val pts = spark.range(200000).select(
      pmod(col("id") * 2654435761L, lit(1024L)).as("x"),
      pmod(col("id") * 40503L + 7L, lit(1024L)).as("y"),
      col("id").as("payload"))
    ZOrder.layout(pts, "x", "y", files = 16)
      .write.mode("overwrite").parquet(dirZ)
    // control: same data laid out by an unrelated key (payload order)
    pts.repartitionByRange(16, col("payload"))
      .sortWithinPartitions("payload")
      .write.mode("overwrite").parquet(dirShred)

    def rowsScanned(dir: String, cond: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(cond)
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    // selective box on each dimension separately
    for (cond <- Seq(col("x").between(100, 131), col("y").between(700, 731))) {
      val z = rowsScanned(dirZ, cond)
      val shred = rowsScanned(dirShred, cond)
      // the shredded layout reads essentially everything; z-order skips
      // most row groups via min/max stats on the filtered dimension
      assert(z < shred / 2, s"cond=$cond z=$z shred=$shred")
    }
  }
}
