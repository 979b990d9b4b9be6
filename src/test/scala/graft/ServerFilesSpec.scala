package graft

import graft.server.ServerFiles

/** `/web/api/files` file manager — body-level mining of
  * http_test.go TestHandleFiles (:2211-2334), TestImageFiles (:552-587)
  * and TestIsFsFile (:587-595). */
class ServerFilesSpec extends SparkSpec {

  test("contentTypeOfFile mapping (TestImageFiles) and isFsFile (TestIsFsFile)") {
    val cases = Seq(
      "some/dir/file.apng" -> "image/apng",
      "some/dir/file.avif" -> "image/avif",
      "some/dir/file.gif" -> "image/gif",
      "some/dir/file.Jpeg" -> "image/jpeg",
      "some/dir/file.JPG" -> "image/jpeg",
      "some/dir/file.PNG" -> "image/png",
      "some/dir/file.svg" -> "image/svg+xml",
      "some/dir/file.webp" -> "image/webp",
      "some/dir/file.BMP" -> "image/bmp",
      "some/dir/file.ico" -> "image/x-icon",
      "some/dir/file.tiff" -> "image/tiff",
      "some/dir/file.txt" -> "text/plain",
      "some/dir/file.csv" -> "text/csv",
      "some/dir/file.json" -> "application/json",
      "some/dir/file.md" -> "text/markdown",
      "some/dir/file.markdown" -> "text/markdown",
      "query.sql" -> "text/plain",
      "flow.tql" -> "text/plain",
      "analysis.taz" -> "application/json",
      "work.wrk" -> "application/json",
      "board.dsh" -> "application/json",
      "style.css" -> "text/css",
      "app.js" -> "text/javascript",
      "mod.mjs" -> "text/javascript",
      "page.htm" -> "text/html",
      "page.html" -> "text/html",
      "script.py" -> "text/x-python",
      "run.sh" -> "text/x-shellscript",
      "notebook.ipynb" -> "application/x-ipynb+json",
      "file.unknown" -> "")
    for ((name, want) <- cases)
      assert(ServerFiles.contentTypeOfFile(name) == want, name)
    assert(ServerFiles.isFsFile("test.sql"))
    assert(ServerFiles.isFsFile("test.tql"))
    assert(ServerFiles.isFsFile("test.json"))
    assert(ServerFiles.isFsFile("test.png"))
    assert(!ServerFiles.isFsFile("test.xyz"))
    assert(!ServerFiles.isFsFile("noext"))
  }

  test("files CRUD lifecycle over the route (TestHandleFiles)") {
    val tmp = java.nio.file.Paths.get(tempDir("files_root"))
    val prev = graft.tql.Compiler.templateRoot
    graft.tql.Compiler.templateRoot = tmp.toString
    def route(m: String, p: String, body: String = "",
              q: Map[String, Seq[String]] = Map.empty) =
      webRoute(m, s"/web/api/files$p", q, body)
    try {
      // create-directory
      val mk = route("POST", "/docs")
      assert(mk.status == 200 && mk.body.contains(""""success":true"""), mk)
      // write-and-read-file
      assert(route("POST", "/docs/readme.md", "hello world").status == 200)
      val rd = route("GET", "/docs/readme.md")
      assert(rd.status == 200 && rd.contentType == "text/markdown" &&
        rd.body == "hello world", rd)
      // list-directory includes the file
      val ls = route("GET", "/docs")
      assert(ls.status == 200 && ls.body.contains(""""success":true""") &&
        ls.body.contains("readme.md"), ls.body)
      // rename requires a destination
      val noDest = route("PUT", "/docs/readme.md", "{}")
      assert(noDest.status == 400 &&
        noDest.body.contains("destination is not specified."), noDest)
      // rename-file then read under the new name
      assert(route("PUT", "/docs/readme.md",
        """{"destination":"/docs/guide.md"}""").status == 200)
      assert(route("GET", "/docs/guide.md").body == "hello world")
      // delete non-empty directory without recursive → 422
      val notEmpty = route("DELETE", "/docs")
      assert(notEmpty.status == 422 &&
        notEmpty.body.contains("directory is not empty"), notEmpty)
      // delete-file then 404
      assert(route("DELETE", "/docs/guide.md").status == 200)
      assert(route("GET", "/docs/guide.md").status == 404)
      // delete-directory-recursively
      assert(route("POST", "/tree").status == 200)
      assert(route("POST", "/tree/child").status == 200)
      assert(route("POST", "/tree/child/note.txt", "data").status == 200)
      val rec = route("DELETE", "/tree", q = Map("recursive" -> Seq("true")))
      assert(rec.status == 200 && rec.body.contains(""""success":true"""), rec)
      assert(route("GET", "/tree").status == 404)
      // path traversal is refused
      assert(route("GET", "/../../etc/passwd").status != 200)
    } finally graft.tql.Compiler.templateRoot = prev
  }
}
