package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every `def` in `src/main/scala` must be named somewhere other than at
  * a definition: in main code, a test, the benchmark harness or a dev
  * script. Comments and string text are dropped first, so a doc comment
  * or a test title that names a def does not keep it alive. The scan is
  * by name, so a def shares its calls with every def of the same name;
  * it misses such pairs rather than report a def that is called.
  * Spark-free. */
class UncalledDefsSpec extends AnyFunSuite {

  /** Names the scan cannot see being called, each with its reason. */
  private val allowed = Map(
    "main" -> "JVM entry point of the runnable mains",
    "merge" -> "MomentAgg implements Aggregator's abstract member without `override`",
    "bufferEncoder" -> "MomentAgg implements Aggregator's abstract member without `override`",
    "outputEncoder" -> "MomentAgg implements Aggregator's abstract member without `override`",
    "unapply" -> "extractor the compiler calls for a pattern (RollupRouting's plan matchers)")

  private val roots = Seq("src", "bench/scala", "dev")

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Def = "(?<![A-Za-z0-9_])def\\s+([A-Za-z_][A-Za-z0-9_]*)".r

  test("comments and string text are dropped; splices and line numbers stay") {
    val q = "\""
    val src = "val a = 1 // b\n/* c /* d */ e\n */ val f = " + q + "g(x) // h" + q +
      " + '" + q + "' /** i */\nval j = s" + q + "k $l ${m(" + q + "n" + q + ")} o" + q + "\n"
    assert(SourceScan.codeOnly(src) == "val a = 1 \n\n val f = " + q + q + " + '" + q + "' \n" +
      "val j = s l  m(" + q + "n" + q + ") " + q + q + "\n")
  }

  test("every def in src/main/scala is named outside its definition") {
    assert(Files.isDirectory(Paths.get("src/main/scala")),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val stripped = roots.flatMap(SourceScan.sources).map(p => p -> SourceScan.code(p))
    val uses = stripped.flatMap { case (_, s) => Ident.findAllIn(s) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val defSites = stripped.flatMap { case (_, s) => Def.findAllMatchIn(s).map(_.group(1)) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val uncalled = for {
      (path, text) <- stripped if path.startsWith(Paths.get("src/main/scala"))
      (line, no) <- text.split("\n", -1).zipWithIndex
      m <- Def.findAllMatchIn(line)
      name = m.group(1)
      if !line.substring(0, m.start).contains("override")
      if !allowed.contains(name)
      if uses(name) <= defSites(name)
    } yield s"$path:${no + 1}: $name"
    assert(uncalled.isEmpty,
      s"${uncalled.size} defs are named only where they are defined:\n" +
        uncalled.mkString("\n"))
  }
}
