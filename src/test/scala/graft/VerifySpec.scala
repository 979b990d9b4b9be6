package graft

import java.nio.file.Files

/** Pins that the correctness dump fails loudly: a throwing builder's
  * stale output from an earlier run is removed (so the compare cannot
  * pass it) and its name is reported, while the other builders still
  * write. */
class VerifySpec extends SparkSpec {

  test("dump removes a failed builder's stale output and reports its name") {
    val out = new java.io.File(tempDir("verify_spec"))
    try {
      val stale = new java.io.File(out, "q_bad")
      stale.mkdirs()
      Files.writeString(new java.io.File(stale, "part-0.parquet").toPath, "stale")
      val builders = Map[String, graft.queries.Q.QueryFn](
        "q_ok" -> ((s, _) => s.range(3).toDF()),
        "q_bad" -> ((_, _) => throw new IllegalStateException("boom")))
      assert(Verify.dump(spark, sf, out.getPath, builders) == Seq("q_bad"))
      assert(!stale.exists())
      // a second run replaces the earlier output of a good builder
      assert(Verify.dump(spark, sf, out.getPath, builders) == Seq("q_bad"))
      assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    } finally new scala.reflect.io.Directory(out).deleteRecursively()
  }
}
