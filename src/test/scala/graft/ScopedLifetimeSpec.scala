package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint lifetime rule lives once, as code, in `graft.core.Par`:
  * outside `graft/core` no main source checkpoints, persists, caches or
  * frees a relation itself, or scopes a checkpoint handle by hand.
  * Comments and string text are dropped first, so a doc comment that
  * names a call does not count. Spark-free. */
class ScopedLifetimeSpec extends AnyFunSuite {

  private val banned = Seq("localCheckpoint", "persist(", ".cache()", "unpersist",
    "Par.materialize", "Using.resource")

  /** Files that may hold a banned call, each with the call and its reason. */
  private val allowed = Map(
    "src/main/scala/org/apache/spark/sql/graft/RddBlocks.scala" -> ("unpersist" ->
      "the bridge to Spark's private unpersistRDD, through which Par's handles free their blocks"))

  test("outside graft/core, no main source manages relation blocks by hand") {
    assert(Files.isDirectory(Paths.get("src/main/scala")),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val core = Paths.get("src/main/scala/graft/core")
    val found = for {
      path <- SourceScan.sources("src/main/scala") if !path.startsWith(core)
      (line, no) <- SourceScan.code(path).split("\n", -1).zipWithIndex
      call <- banned if line.contains(call)
      if !allowed.get(path.toString).exists(_._1 == call)
    } yield s"$path:${no + 1}: $call"
    assert(found.isEmpty,
      s"${found.size} calls manage blocks outside graft.core.Par:\n" + found.mkString("\n"))
  }
}
