package graft

import graft.server.{HttpLoop, Markdown, QueryDoor, ServerFiles, TagTables}
import graft.sinks.Codecs
import scala.jdk.CollectionConverters._

/** Regression pins for the round-14 self-review findings: binary-safe
  * file serving, gzip http-fence bodies containing 0x0D0A, exact
  * integral string binds, backtick-safe empty-literal rewrite,
  * 400 envelopes for malformed POST /db/query bodies, machbase
  * to_timestamp arity, and indented list items staying list content. */
class Round14ReviewSpec extends SparkSpec {

  test("GET /web/api/files serves binary files byte-exact (review: UTF-8 round-trip corruption)") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_files_bin"))
    val prev = graft.tql.Compiler.templateRoot
    graft.tql.Compiler.templateRoot = tmp.toString
    try {
      // PNG magic leads with 0x89 — invalid as UTF-8 start byte
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A,
        0x1A, 0x0A, 0x00, 0x01, 0xFE.toByte, 0xFF.toByte)
      java.nio.file.Files.write(tmp.resolve("img.png"), png)
      val r = ServerFiles.handle("GET", "/img.png", Map.empty, "")
      assert(r.status == 200 && r.contentType == "image/png")
      assert(r.wireBytes.sameElements(png),
        r.wireBytes.map(b => f"$b%02x").mkString(","))
    } finally {
      graft.tql.Compiler.templateRoot = prev
      val walk = java.nio.file.Files.walk(tmp)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(java.nio.file.Files.delete)
    }
  }

  test("http fence gzip body with embedded 0x0D0A decompresses (review: header-normalize corrupted it)") {
    // force a 0x0D 0x0A pair into the compressed stream: a STORED
    // (level-0) deflate block carries the payload bytes verbatim, so a
    // literal \r\n inside the JSON lands in the gzip body. The raw wire
    // reply is crafted directly — the markdown render path is the unit
    // under test, no server needed.
    val payload = "{\"success\":true,\"marker\":\"pin\",\"data\":\"a\\r\\nb\"}"
      .replace("\\r\\n", "\r\n")
    def gzip(s: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(buf) {
        `def`.setLevel(java.util.zip.Deflater.NO_COMPRESSION)
      }
      gz.write(s.getBytes("UTF-8")); gz.close(); buf.toByteArray
    }
    val bytes = gzip(payload)
    assert(bytes.sliding(2).exists(p => p(0) == 0x0D && p(1) == 0x0A),
      "stored block must carry the crlf")
    val raw = "HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
      "Content-Encoding: gzip\r\n\r\n" + new String(bytes, "ISO-8859-1")
    val html = Markdown.renderHttpResponseForTest(raw)
    assert(html.contains("pin"), html.take(400))
    assert(html.contains("""class="httpext-json-key""""), html.take(400))
    assert(html.contains("""class="httpext-json-boolean">true"""), html.take(400))
  }

  test("string epoch-ns binds into a long column exactly above 2^53 (review: double round-trip)") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table pinlong (name varchar(40) primary key, time datetime basetime, value double, seq long)")
    try {
      QueryDoor.execute(spark,
        "insert into pinlong (name, time, value, seq) values ('a', '2024-06-01 00:00:00', 1.0, '1705291858231845634')")
      val got = trimClose(Codecs.render(
        QueryDoor.execute(spark, "select seq from pinlong"), "CSV", Codecs.Options()))
      assert(got == "1705291858231845634\n", got)
    } finally QueryDoor.execute(spark, "drop table pinlong")
  }

  test("emptyLiteralsAsNull skips backtick-quoted verbatim aliases (review: alias corruption)") {
    assert(QueryDoor.emptyLiteralsAsNull("NVL(name, '') AS `NVL(name, '')`") ==
      "NVL(name, CAST(NULL AS STRING)) AS `NVL(name, '')`")
    // plain literals still rewrite
    assert(QueryDoor.emptyLiteralsAsNull("select '' from t") ==
      "select CAST(NULL AS STRING) from t")
  }

  test("malformed POST /db/query json replies 400 envelope (review: generic 500)") {
    val port = HttpLoop.ensureServer(spark)
    val url = new java.net.URL(s"http://127.0.0.1:$port/db/query")
    val con = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    con.setRequestMethod("POST")
    con.setRequestProperty("Content-Type", "application/json")
    con.setDoOutput(true)
    con.getOutputStream.write("{".getBytes("UTF-8"))
    val status = con.getResponseCode
    val body = new String(con.getErrorStream.readAllBytes(), "UTF-8")
    assert(status == 400, s"$status $body")
    assert(body.contains(""""success":false"""), body)
  }

  test("machbase to_timestamp rejects a second argument (review: silently dropped format)") {
    val e = intercept[Exception](
      QueryDoor.execute(spark,
        "select to_timestamp('2024-01-01', 'yyyy-MM-dd') from (select 1)").collect())
    assert(String.valueOf(e.getMessage).contains("to_timestamp requires 1 argument"),
      e.getMessage)
  }

  test("4-space-indented list items stay list content (review: indented-code hijack)") {
    val html = Markdown.convert("- parent\n    - child\n")
    assert(!html.contains("<pre><code>"), html)
    assert(html.contains("<li>parent</li>") || html.contains("parent"), html)
    assert(html.contains("child"), html)
    // the TestMdCon indented-code golden still holds
    assert(Markdown.convert("# Test\t\n\tContent") ==
      "<h1>Test</h1>\n<pre><code>Content\n</code></pre>\n")
    // review 2: the bullet exclusion guards only the OPENING line — a
    // bullet-looking CONTINUATION line stays inside the code block
    val code = Markdown.convert("x\n\n    ls -la\n    - rw entry\n")
    assert(code.contains("<pre><code>ls -la\n- rw entry\n</code></pre>"), code)
  }

  test("POST /web/api/files writes binary uploads byte-exact (review 2: request-side UTF-8 round-trip)") {
    val tmp = java.nio.file.Paths.get(tempDir("graft_files_up"))
    val prev = graft.tql.Compiler.templateRoot
    graft.tql.Compiler.templateRoot = tmp.toString
    try {
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x00, 0xFE.toByte)
      val r = ServerFiles.handle("POST", "/up.png", Map.empty,
        new String(png, "UTF-8"), bodyBytes = png)
      assert(r.status == 200, r.body)
      val onDisk = java.nio.file.Files.readAllBytes(tmp.resolve("up.png"))
      assert(onDisk.sameElements(png), onDisk.map(b => f"$b%02x").mkString(","))
    } finally {
      graft.tql.Compiler.templateRoot = prev
      val walk = java.nio.file.Files.walk(tmp)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(java.nio.file.Files.delete)
    }
  }

  test("out-of-range integral strings fail at bind instead of wrapping (review 2)") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table pinint (name varchar(40) primary key, time datetime basetime, value double, n integer, s short)")
    try {
      val e1 = intercept[IllegalArgumentException](QueryDoor.execute(spark,
        "insert into pinint (name, time, value, n) values ('a', '2024-06-01 00:00:00', 1.0, '3000000000')"))
      assert(e1.getMessage.contains("incompatible conv"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](QueryDoor.execute(spark,
        "insert into pinint (name, time, value, s) values ('a', '2024-06-01 00:00:00', 1.0, '70000')"))
      assert(e2.getMessage.contains("incompatible conv"), e2.getMessage)
      // in-range still binds
      QueryDoor.execute(spark,
        "insert into pinint (name, time, value, n, s) values ('a', '2024-06-01 00:00:00', 1.0, '2147483647', '-32768')")
      val got = trimClose(Codecs.render(
        QueryDoor.execute(spark, "select n, s from pinint"), "CSV", Codecs.Options()))
      assert(got == "2147483647,-32768\n", got)
    } finally QueryDoor.execute(spark, "drop table pinint")
  }

  test("malformed query escapes reply 400, never 500 (review 2)") {
    val port = HttpLoop.ensureServer(spark)
    // a bad %-escape in the GET query string: the JDK server layer
    // rejects it 400 before the handler — the right error class either
    // way (the finding was the 500)
    val url = new java.net.URL(s"http://127.0.0.1:$port/db/query?q=select%ZZ")
    val con = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    assert(con.getResponseCode == 400, con.getResponseCode.toString)
    // the same bytes as a form body reach OUR decode and get the envelope
    val u2 = new java.net.URL(s"http://127.0.0.1:$port/db/query")
    val c2 = u2.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c2.setRequestMethod("POST")
    c2.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
    c2.setDoOutput(true)
    c2.getOutputStream.write("q=select%ZZ".getBytes("UTF-8"))
    val status = c2.getResponseCode
    val body = new String(c2.getErrorStream.readAllBytes(), "UTF-8")
    assert(status == 400, s"$status $body")
    assert(body.contains(""""success":false"""), body)
  }
}
