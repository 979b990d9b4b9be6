package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Akima, GapFill, SeqOps}
import graft.sinks.TableSinks

class RetainSplineSinkSpec extends SparkSpec {
  import spark.implicits._

  test("filterChangedRetain emits the record that PROVES stability") {
    // reference rule (fm_monad.go:139-186): the first record always
    // emits; each run emits the first record ≥ retain past the run's
    // opening time; runs with no confirming record emit nothing.
    val df = Seq(
      ("a", 0L, "x"), ("a", 5L, "x"), ("a", 10L, "y"), ("a", 12L, "x"),
      ("a", 15L, "x"), ("a", 20L, "z"), ("a", 30L, "z")
    ).toDF("k", "t", "v")
    val got = SeqOps.filterChangedRetain(df, $"v", Seq($"k"), $"t", $"t", 5L)
      .orderBy("t").select("t", "v").as[(Long, String)].collect()
    // t=0 first record; t=5 confirms run-1 x (5-0 ≥ 5); y@10 reverts
    // unconfirmed; x-run@12 never reaches +5 (15-12=3); z@30 confirms
    // the z run opened at 20
    assert(got.toSeq == Seq((0L, "x"), (5L, "x"), (30L, "z")))
  }

  test("akima spline passes through knots and interpolates smoothly") {
    val xs = Array(0d, 10d, 20d, 30d, 40d)
    val ys = Array(0d, 1d, 4d, 9d, 16d)
    xs.indices.foreach(i => assert(Akima.eval(xs, ys, xs(i)) == ys(i)))
    val mid = Akima.eval(xs, ys, 25d)
    assert(mid > 4d && mid < 9d)
    // clamps outside the domain
    assert(Akima.eval(xs, ys, -5d) == 0d && Akima.eval(xs, ys, 99d) == 16d)
    // linear data stays linear (Akima reproduces straight lines exactly)
    val lin = Array.tabulate(5)(i => 2d * i)
    assert(math.abs(Akima.eval(Array(0d, 1d, 2d, 3d, 4d), lin, 2.5) - 5d) < 1e-12)
  }

  test("timewindow FillAkima fills gaps through the spline") {
    val df = Seq((5L, 0.0), (15L, 10.0), (35L, 30.0), (55L, 10.0)).toDF("t", "v")
    val got = GapFill.timewindow(spark, df, $"t", 0L, 60L, 10L,
      Seq("avg_v" -> avg($"v")), GapFill.FillAkima)
      .select("bucket_ns", "avg_v").as[(Long, Double)].collect().toMap
    assert(got(0L) == 0.0 && got(10L) == 10.0 && got(30L) == 30.0 && got(50L) == 10.0)
    assert(got(20L) > 10.0 && got(20L) < 30.0) // interpolated within the gap
    assert(got(40L) > 10.0 && got(40L) < 30.0)
  }

  test("table sinks append and bucket tag layouts") {
    val dir = tempDir("graft_sink") + "/t1"
    val df = Seq(("a", 1L, 1.0), ("b", 2L, 2.0)).toDF("name", "time", "value")
    TableSinks.append(df, dir)
    TableSinks.insert(df, dir, Seq("name", "time", "value"))
    assert(spark.read.parquet(dir).count() == 4)

    val tagDir = tempDir("graft_sink") + "/tag"
    TableSinks.appendTagTable(
      (0 until 100).map(i => (s"tag${i % 7}", i.toLong, i.toDouble))
        .toDF("name", "time", "value"), tagDir, "name", "time", buckets = 4)
    val back = spark.read.parquet(tagDir)
    assert(back.count() == 100)
    // partition pruning column present
    assert(back.columns.contains("__name_bucket"))
  }

  test("WHEN side-effect fires per matching record and passes rows through") {
    val acc = spark.sparkContext.longAccumulator("when_hits")
    val df = Seq(1, 2, 3, 4, 5).toDF("x")
    val out = TableSinks.when_(df, $"x" % 2 === 0, _ => acc.add(1))
    assert(out.count() == 5) // pass-through
    assert(acc.value == 2)   // side effect on matches only
  }
}
