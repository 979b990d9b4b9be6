package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Reads the repository's sources as code for the scan specs
  * (`UncalledDefsSpec`, `ScopedLifetimeSpec`): comments and string text
  * dropped, so a doc comment or a message that names a def or a call is
  * not taken for one. Run from the repository root. */
object SourceScan {
  private val sourceExt = Seq(".scala", ".java", ".py", ".sh")
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  /** The code of `src`: every `//` and (nested) `/* */` comment is
    * dropped and every string literal emptied, but an interpolated
    * string keeps its `$name` and `${…}` splices, which are code. Each
    * newline of a block comment stays, so line numbers hold. */
  def codeOnly(src: String): String = {
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

  /** Every source file (Scala, Java, Python, shell) under `root`, a
    * path relative to the repository root; none if it is absent. */
  def sources(root: String): Seq[Path] = {
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

  /** The code of the file at `p` (see [[codeOnly]]). */
  def code(p: Path): String =
    codeOnly(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
}
