package graft

import java.nio.file.{Files, Paths}
import graft.server.{QueryDoor, TagTables, UserFiles}
import graft.streaming.PollWatch

/** Reproduces the reference's user-file flow (http_query_test.go
  * TestHttpQueryImageFileUploadAndWatch): a multipart file lands in a
  * JSON column as {ID,FN,SZ,CT,SD} metadata with the bytes stored at
  * SD/ID, the watcher sees the row, and the file query serves the bytes
  * back with the original headers. */
class UserFilesSpec extends SparkSpec {

  private val tick = 1705291859000000000L

  test("uuid v6 ids are time-ordered and round-trip their timestamp") {
    val ts = java.time.Instant.ofEpochSecond(1705291859L, 123456700L)
    val id = UserFiles.newV6At(ts)
    assert(java.util.UUID.fromString(id).version() == 6, id)
    assert(UserFiles.v6Timestamp(id) == ts)
    val e = intercept[IllegalArgumentException](UserFiles.v6Timestamp("not-a-uuid"))
    assert(e.getMessage.startsWith("invalid id,"), e.getMessage)
    val v4 = intercept[IllegalArgumentException](
      UserFiles.v6Timestamp(java.util.UUID.randomUUID().toString))
    assert(v4.getMessage.startsWith("bad timestamp id,"), v4.getMessage)
  }

  test("multipart upload + watch + file query (TestHttpQueryImageFileUploadAndWatch)") {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      """create tag table test_uf (NAME varchar(200) primary key, TIME datetime basetime,
        |VALUE double summarized, EXT_DATA json)""".stripMargin.replace("\n", " "))
    val store = tempDir("graft_store")
    try {
      val img = Array.tabulate[Byte](12692)(i => (i % 251).toByte)
      val watcher = new PollWatch.Watcher(spark, "test_uf", Seq("test"))
      assert(watcher.execute().isEmpty) // nothing yet

      val files = UserFiles.writeMultipart(spark, "test_uf",
        fields = Seq("NAME" -> "test", "TIME" -> Long.box(tick), "VALUE" -> Double.box(3.14)),
        files = Seq(UserFiles.FilePart("EXT_DATA", "image.png", "image/png", img,
          storeDir = Some(store))))
      val meta = files("EXT_DATA")
      assert(meta.filename == "image.png" && meta.size == 12692L &&
        meta.contentType == "image/png" && meta.storeDir == store, meta)

      // the watcher sees the inserted row with the metadata JSON
      val events = watcher.execute()
      assert(events.size == 1, events)
      val PollWatch.Data(vals) = events.head: @unchecked
      val ext = vals.collectFirst {
        case (k, v) if k.equalsIgnoreCase("EXT_DATA") => v.toString }.get
      assert(ext.contains(s""""ID":"${meta.id}"""") && ext.contains(""""FN":"image.png"""") &&
        ext.contains(""""SZ":12692""") && ext.contains(""""CT":"image/png""""), ext)

      // file query: bytes + headers recovered through the id's window
      val served = UserFiles.fileQuery(spark, "test_uf", "EXT_DATA", meta.id)
      assert(served.bytes.sameElements(img))
      assert(served.contentType == "image/png")
      assert(served.contentDisposition == "attachment; filename=image.png")
      assert(served.size == 12692L)

      // error reasons
      val badCol = intercept[IllegalArgumentException](
        UserFiles.writeMultipart(spark, "test_uf",
          Seq("NOPE" -> "x"), Nil))
      assert(badCol.getMessage == """column "NOPE" not found in the table "test_uf"""")
      val noDir = intercept[IllegalArgumentException](
        UserFiles.writeMultipart(spark, "test_uf",
          Seq("NAME" -> "test", "TIME" -> Long.box(tick), "VALUE" -> Double.box(1.0)),
          Seq(UserFiles.FilePart("EXT_DATA", "a.bin", "application/octet-stream",
            Array[Byte](1)))))
      assert(noDir.getMessage == """file "EXT_DATA" requires X-Store-Dir header""")
      val badReq = intercept[IllegalArgumentException](
        UserFiles.fileQuery(spark, "test_uf", "EXT;DATA", meta.id))
      assert(badReq.getMessage == "invalid request")

      // ${data} path-map replacement in X-Store-Dir (http_write.go:386-389,
      // TestHandleFileWriteErrors "request level store dir participates
      // in path map replacement")
      UserFiles.pathMap.put("data", store)
      try {
        val mapped = UserFiles.writeMultipart(spark, "test_uf",
          fields = Seq("NAME" -> "pathmap-ok", "TIME" -> Long.box(tick + 7),
            "VALUE" -> Double.box(3.14)),
          files = Seq(UserFiles.FilePart("EXT_DATA", "sample.txt", "text/plain",
            "hello".getBytes("UTF-8"), storeDir = Some("${data}/store-p2"))))
        val m = mapped("EXT_DATA")
        assert(m.storeDir == s"$store/store-p2", m)
        assert(Files.exists(Paths.get(m.storeDir, m.id)))
        Files.deleteIfExists(Paths.get(m.storeDir, m.id))
        Files.deleteIfExists(Paths.get(m.storeDir))
      } finally UserFiles.pathMap.put("data",
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))

      // an insert failure removes the just-written file
      // (TestHandleFileWriteErrors "insert failure removes just-written
      // file" — EXT column typed int makes the metadata JSON unbindable)
      QueryDoor.execute(spark,
        """create tag table test_uf_fail (NAME varchar(200) primary key,
          |TIME datetime basetime, VALUE double summarized,
          |EXT_DATA integer)""".stripMargin.replace("\n", " "))
      val failStore = java.nio.file.Paths.get(tempDir("graft_store_fail"))
      try {
        intercept[Exception](
          UserFiles.writeMultipart(spark, "test_uf_fail",
            fields = Seq("NAME" -> "type-mismatch-row", "TIME" -> Long.box(tick),
              "VALUE" -> Double.box(6.28)),
            files = Seq(UserFiles.FilePart("EXT_DATA", "mismatch.txt",
              "text/plain", "second".getBytes("UTF-8"),
              storeDir = Some(failStore.toString)))))
        val leftovers = Files.list(failStore).count()
        assert(leftovers == 0L, s"expected cleanup, found $leftovers files")
      } finally {
        QueryDoor.execute(spark, "drop table test_uf_fail")
        Files.list(failStore).forEach(p => Files.deleteIfExists(p))
        Files.deleteIfExists(failStore)
      }
    } finally {
      QueryDoor.execute(spark, "drop table test_uf")
      TagTables.resetDynamicForTest(spark)
      val dir = Paths.get(store)
      if (Files.exists(dir)) {
        Files.list(dir).forEach(p => Files.deleteIfExists(p))
        Files.deleteIfExists(dir)
      }
    }
  }
}
