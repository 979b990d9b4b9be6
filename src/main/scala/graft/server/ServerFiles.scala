package graft.server

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `/web/api/files/:path` — the web IDE's script file manager over the
  * server filesystem rooted at the TQL template root (reference:
  * mods/server/http.go:1586-1775 handleFiles over mods/util/ssfs; case
  * shapes from http_test.go TestHandleFiles/TestImageFiles/TestIsFsFile).
  * Git clone/pull is NOT supported (zero-egress build) — the request
  * shape is recognized and answered with the error envelope.
  */
object ServerFiles {

  /** Supported content types by extension (http.go:1526-1583
    * contentTypeOfFile — empty string for unsupported kinds). */
  def contentTypeOfFile(name: String): String = {
    val dot = name.lastIndexOf('.')
    val ext = if (dot < 0) "" else name.substring(dot).toLowerCase
    ext match {
      case ".sql" | ".tql" | ".txt" => "text/plain"
      case ".taz" | ".wrk" | ".dsh" | ".json" => "application/json"
      case ".apng" => "image/apng"
      case ".avif" => "image/avif"
      case ".gif" => "image/gif"
      case ".jpeg" | ".jpg" => "image/jpeg"
      case ".png" => "image/png"
      case ".svg" => "image/svg+xml"
      case ".webp" => "image/webp"
      case ".bmp" => "image/bmp"
      case ".ico" => "image/x-icon"
      case ".tiff" => "image/tiff"
      case ".csv" => "text/csv"
      case ".md" | ".markdown" => "text/markdown"
      case ".css" => "text/css"
      case ".js" | ".mjs" => "text/javascript"
      case ".htm" | ".html" => "text/html"
      case ".py" => "text/x-python"
      case ".sh" => "text/x-shellscript"
      case ".ipynb" => "application/x-ipynb+json"
      case _ => ""
    }
  }

  def isFsFile(path: String): Boolean = contentTypeOfFile(path).nonEmpty

  /** The server filesystem of the `/db/public` door ([[PublicDoor]]) and
    * of `/db/tql/<path>` ([[WebApi.tqlFile]]): resolve under the template
    * root, refusing escapes (the public door additionally rejects `..`
    * with 400 before these are consulted). */
  def publicFile(p: String): Option[Array[Byte]] =
    try {
      val r = resolve(p)
      if (Files.isRegularFile(r)) Some(Files.readAllBytes(r)) else None
    } catch { case _: IllegalArgumentException => None }

  def publicDir(p: String): Boolean =
    try Files.isDirectory(resolve(p))
    catch { case _: IllegalArgumentException => false }

  private def root: Path =
    Paths.get(graft.tql.Compiler.templateRoot).toAbsolutePath.normalize()

  private def resolve(p: String): Path = {
    val r = root.resolve(p.stripPrefix("/")).normalize()
    if (!r.startsWith(root))
      throw new IllegalArgumentException(s"invalid path: $p")
    r
  }

  /** Files.list with the stream closed (its contract — the directory fd
    * leaks per call otherwise). */
  private def listChildren(f: Path): Seq[Path] = {
    val s = Files.list(f)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def entryJson(f: Path, filter: String): String = {
    import graft.sinks.GoJs.quote
    val name = Option(f.getFileName).map(_.toString)
      .getOrElse("/") // the root itself
    if (Files.isDirectory(f)) {
      val glob = if (filter.nonEmpty && isFsFile(filter))
        Some(filter.replace(".", "\\.").replace("*", ".*").replace("?", ".").r)
      else None
      val kids = listChildren(f)
        .sortBy(p => (!Files.isDirectory(p), p.getFileName.toString))
        .filter { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p)) glob.isEmpty
          else glob match {
            case Some(re) => re.matches(n)
            case None => contentTypeOfFile(n).nonEmpty
          }
        }
        .map { p =>
          val n = p.getFileName.toString
          val dir = Files.isDirectory(p)
          s"""{"isDir":$dir,"name":${quote(n)},"type":${
            quote(if (dir) "dir" else contentTypeOfFile(n))},"size":${
            if (dir) 0L else Files.size(p)},"lastModifiedUnixMillis":${
            Files.getLastModifiedTime(p).toMillis},"gitClone":false,"virtual":false}"""
        }
      s"""{"isDir":true,"name":${quote(name)},"children":[${kids.mkString(",")}],"gitClone":false}"""
    } else
      s"""{"isDir":false,"name":${quote(name)},"gitClone":false}"""
  }

  def handle(method: String, path: String, query: Map[String, Seq[String]],
             body: String, bodyBytes: Array[Byte] = null): WebApi.HttpReply = {
    val t0 = System.nanoTime()
    def env(status: Int, success: Boolean, reason: String,
            data: Option[String] = None) =
      WebApi.HttpReply(status, "application/json",
        WebApi.envelope(success, reason, t0, data))
    def one(k: String) = query.get(k).flatMap(_.headOption).getOrElse("")
    val recursive = one("recursive").equalsIgnoreCase("true")
    try {
      val f = resolve(path)
      method.toUpperCase match {
        case "GET" =>
          if (!Files.exists(f)) env(404, success = false, s"not found: $path")
          else if (Files.isDirectory(f))
            env(200, success = true, "success",
              Some(entryJson(f, one("filter"))))
          else {
            val ct = contentTypeOfFile(f.getFileName.toString)
            if (ct.isEmpty) env(404, success = false, s"not found: $path")
            else {
              // binary-safe serving: images etc. must not round-trip
              // through a UTF-8 String
              val bytes = Files.readAllBytes(f)
              WebApi.HttpReply(200, ct, new String(bytes, "UTF-8"),
                bodyBytes = Some(bytes))
            }
          }
        case "DELETE" =>
          if (!Files.exists(f)) env(404, success = false, s"not found: $path")
          else if (Files.isDirectory(f)) {
            val empty = listChildren(f).isEmpty
            if (empty || recursive) {
              if (recursive) {
                val walk = Files.walk(f)
                val all = try walk.iterator().asScala.toSeq finally walk.close()
                all.reverse.foreach(Files.delete)
              } else Files.delete(f)
              env(200, success = true, "success")
            } else env(422, success = false, "directory is not empty")
          } else if (isFsFile(path)) {
            Files.delete(f)
            env(200, success = true, "success")
          } else env(404, success = false, s"not found: $path")
        case "POST" =>
          if (isFsFile(path)) {
            // binary-safe: write the raw request bytes when the caller
            // has them — a UTF-8 String round-trip corrupts image uploads
            Files.write(f,
              if (bodyBytes != null) bodyBytes else body.getBytes("UTF-8"))
            env(200, success = true, "success")
          } else if (body.nonEmpty && body.trim.startsWith("{") &&
            WebApi.flatJsonSafe(body).contains("url")) {
            env(500, success = false,
              "git clone is not supported in this build")
          } else {
            Files.createDirectory(f)
            env(200, success = true, "success",
              Some(entryJson(f, "")))
          }
        case "PUT" =>
          val dest =
            try WebApi.flatJsonSafe(body).getOrElse("destination", "")
            catch { case _: Exception => "" }
          if (dest.isEmpty)
            env(400, success = false, "destination is not specified.")
          else {
            Files.move(f, resolve(dest), StandardCopyOption.REPLACE_EXISTING)
            env(200, success = true, "success")
          }
        case m => env(405, success = false, s"unsupported method $m")
      }
    } catch {
      case e: Exception =>
        env(500, success = false, String.valueOf(e.getMessage))
    }
  }
}
