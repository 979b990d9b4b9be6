package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.core.Tables

/** The per-(session, path) table catalog: a table resolves once, every
  * later read is metadata only, a rewrite is seen, and neither threads
  * nor sessions can get a wrong or shared relation. */
class TablesCatalogSpec extends SparkSpec {

  private def write(n: Long, path: String, mode: String = "overwrite"): Unit =
    spark.range(n).selectExpr("id", "id * 2 AS twice").write.mode(mode).parquet(path)

  test("a repeat load starts no Spark job and counts as a reuse") {
    val dir = tempDir("graft_cat")
    write(50, s"$dir/t.parquet")
    assert(jobsOf(Tables.load(spark, dir, "t")) > 0) // the schema inference
    val before = Tables.counts
    assert(jobsOf(Tables.load(spark, dir, "t")) == 0)
    val after = Tables.counts
    assert(after.reused - before.reused == 1 && after.resolved == before.resolved)
  }

  test("two loads of one table self-join with distinct attribute ids") {
    val dir = tempDir("graft_cat")
    write(100, s"$dir/t.parquet")
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val j = a.join(b, a("id") === b("twice"))
    assert(j.count() == 50)
    assert(j.select(a("id")).distinct().count() == 50)
  }

  test("a rewrite with a new length or a new listing is seen by the next load") {
    val dir = tempDir("graft_cat")
    val path = s"$dir/t.parquet"
    write(10, path)
    assert(Tables.load(spark, dir, "t").count() == 10)
    write(1000, path) // overwrite: new file names and lengths
    assert(Tables.load(spark, dir, "t").count() == 1000)
    write(5, path, "append") // one more file in the listing
    assert(Tables.load(spark, dir, "t").count() == 1005)
    spark.range(3).selectExpr("id", "'x' AS tag").write.mode("overwrite").parquet(path)
    val back = Tables.load(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "tag") && back.count() == 3)
  }

  test("a single-file table rewritten in place under the same name is seen") {
    val dir = tempDir("graft_cat")
    def partOf(n: Long): java.nio.file.Path = {
      val src = s"$dir/src_$n"
      spark.range(n).coalesce(1).write.parquet(src)
      new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    val table = java.nio.file.Paths.get(s"$dir/t.parquet")
    java.nio.file.Files.copy(partOf(10), table)
    assert(Tables.load(spark, dir, "t").count() == 10)
    java.nio.file.Files.copy(partOf(5000), table, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "t").count() == 5000)
  }

  test("8 threads loading one table concurrently all succeed, agree, and resolve it once") {
    val dir = tempDir("graft_cat")
    write(200, s"$dir/t.parquet")
    val before = Tables.counts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { _ =>
        pool.submit(() => Tables.load(spark, dir, "t").selectExpr("sum(twice)").head().getLong(0))
      }
      val sums = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(sums.distinct == Seq(2L * (0 until 200).sum))
    } finally pool.shutdown()
    val after = Tables.counts
    assert(after.resolved - before.resolved == 1)
    assert(after.reused - before.reused == 7)
  }

  test("two sessions never share a relation") {
    val dir = tempDir("graft_cat")
    val path = s"$dir/t.parquet"
    write(20, path)
    val other = spark.newSession()
    def owner(s: org.apache.spark.sql.SparkSession) = Tables.relation(s, path) match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.sparkSession
      case p => fail(s"not a file relation: $p")
    }
    assert(owner(spark) eq spark)
    assert(owner(other) eq other)
    assert(Tables.read(other, path).count() == 20)
  }
}
