package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
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
  private val sourceExt = Seq(".scala", ".java", ".py", ".sh")

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Def = "(?<![A-Za-z0-9_])def\\s+([A-Za-z_][A-Za-z0-9_]*)".r

  /** The code of `src`: every `//` and (nested) `/* */` comment is
    * dropped and every string literal emptied, but an interpolated
    * string keeps its `$name` and `${…}` splices, which are code. Each
    * newline of a block comment stays, so line numbers hold. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    // the literal opening at i with `q` quotes; leaves i just past it
    def skipString(q: Int): Unit = {
      val interp = i > 0 && isIdent(src.charAt(i - 1))
      var j = i + q
      var open = true
      while (j < n && open) {
        val c = src.charAt(j)
        if (interp && c == '$' && src.startsWith("${", j)) {
          var depth = 1
          val from = j + 2
          j += 2
          while (j < n && depth > 0) {
            if (src.charAt(j) == '{') depth += 1
            else if (src.charAt(j) == '}') depth -= 1
            j += 1
          }
          out.append(' ').append(src.substring(from, math.max(from, j - 1))).append(' ')
        } else if (interp && c == '$') {
          val id = Ident.findPrefixOf(src.substring(j + 1, math.min(n, j + 128))).getOrElse("")
          out.append(' ').append(id).append(' ')
          j += 1 + math.max(id.length, 1)
        } else if (q == 1 && c == '\\') j += 2
        else if (q == 1 && c == '"') { j += 1; open = false }
        else if (q == 1 && c == '\n') open = false // unterminated: keep the newline
        else if (q == 3 && src.startsWith("\"\"\"", j)) {
          j += 3
          while (j < n && src.charAt(j) == '"') j += 1
          open = false
        } else j += 1
      }
      out.append("\"\"")
      i = math.min(j, n)
    }
    while (i < n) {
      val c = src.charAt(i)
      if (src.startsWith("\"\"\"", i)) skipString(3)
      else if (c == '"') skipString(1)
      else if (c == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        out.append(src.substring(i, i + 3)); i += 3
      } else if (c == '\'' && i + 3 < n && src.charAt(i + 1) == '\\' && src.charAt(i + 3) == '\'') {
        out.append(src.substring(i, i + 4)); i += 4
      } else if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src.charAt(i) == '\n') out.append('\n'); i += 1 }
        }
      } else {
        out.append(c); i += 1
      }
    }
    out.toString
  }

  private def sources(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && sourceExt.exists(p.toString.endsWith))
        .toVector
      finally walk.close()
    }
  }

  test("comments and string text are dropped; splices and line numbers stay") {
    val q = "\""
    val src = "val a = 1 // b\n/* c /* d */ e\n */ val f = " + q + "g(x) // h" + q +
      " + '" + q + "' /** i */\nval j = s" + q + "k $l ${m(" + q + "n" + q + ")} o" + q + "\n"
    assert(codeOnly(src) == "val a = 1 \n\n val f = " + q + q + " + '" + q + "' \n" +
      "val j = s l  m(" + q + "n" + q + ") " + q + q + "\n")
  }

  test("every def in src/main/scala is named outside its definition") {
    assert(Files.isDirectory(Paths.get("src/main/scala")),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val stripped = roots.flatMap(sources).map { p =>
      p -> codeOnly(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }
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
