package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.server.{Backup, QueryDoor, TagTables, WebRoutes}

/** Backup/mount door — reference shapes from mods/backup/backupd_test.go
  * (validation envelopes, archives listing, mount lifecycle) plus the
  * library round-trip the reference cannot test from outside the engine:
  * snapshot → drop → mount/restore → original queries still green. */
class BackupSpec extends SparkSpec {

  private def route(method: String, path: String, body: String = "") =
    WebRoutes.route(spark, method, s"/web/api$path", Map.empty, body)

  private def freshBase(): String = {
    val d = tempDir("graft_backup")
    Backup.baseDir = d
    Backup.resetForTest()
    d
  }

  private val t0 = 1700000000L // epoch seconds base for TIME values
  private def ns(sec: Long) = (t0 + sec) * 1000000000L

  private def mkExample(rows: (String, Long, Double)*): Unit = {
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create tag table example (NAME varchar(100) primary key, TIME datetime basetime, VALUE double summarized)")
    rows.foreach { case (n, t, v) =>
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq(n, Long.box(t), Double.box(v)))
    }
  }

  test("archive validation envelopes (TestBackupdHandleArchiveValidation)") {
    freshBase()
    // malformed body
    val bad = route("POST", "/backup/archive", "{}")
    assert(bad.status == 400 && bad.body.contains("\"success\":false"), bad.body)
    // backup already running
    Backup.setRunningForTest(true)
    val busy = route("POST", "/backup/archive",
      """{"type":"database","duration":{"type":"full"},"path":"backup/a"}""")
    assert(busy.status == 500 && busy.body.contains("backup is running."), busy.body)
    Backup.setRunningForTest(false)
    // table backup without table name
    val noTbl = route("POST", "/backup/archive",
      """{"type":"table","duration":{"type":"full"},"path":"backup/a"}""")
    assert(noTbl.status == 400 && noTbl.body.contains("table name is empty"), noTbl.body)
    // invalid backup target type
    val badType = route("POST", "/backup/archive",
      """{"type":"invalid","duration":{"type":"full"},"path":"backup/a"}""")
    assert(badType.status == 400 &&
      badType.body.contains("invalid backup \\\"invalid\\\"") ||
      badType.body.contains("""invalid backup \"invalid\""""), badType.body)
    // invalid duration type
    val badDur = route("POST", "/backup/archive",
      """{"type":"database","duration":{"type":"unknown"},"path":"backup/a"}""")
    assert(badDur.status == 400 &&
      badDur.body.contains("invalid backup type"), badDur.body)
  }

  test("archives returns empty data when base dir is missing (TestBackupdHandleArchivesReturnsEmptyWhenBaseDirMissing)") {
    Backup.baseDir = "/tmp/graft_backup_does_not_exist_" + System.nanoTime()
    val r = route("GET", "/backup/archives")
    assert(r.status == 200 && r.body.contains("\"data\":[]"), r.body)
  }

  test("mount name/path validation (TestBackupdHandleMountValidation, UnmountRejectsEmptyName)") {
    freshBase()
    val noName = route("POST", "/backup/mounts/", """{"path":"a"}""")
    assert(noName.status == 400 && noName.body.contains("invalid mount name"), noName.body)
    val noPath = route("POST", "/backup/mounts/test_mount", "{}")
    assert(noPath.status == 400 && noPath.body.contains("\"success\":false"), noPath.body)
    val delNoName = route("DELETE", "/backup/mounts/")
    assert(delNoName.status == 400 && delNoName.body.contains("invalid mount name"), delNoName.body)
    val unmounted = route("DELETE", "/backup/mounts/never_mounted")
    assert(unmounted.status == 500 && unmounted.body.contains("not mounted"), unmounted.body)
  }

  test("SQL lifecycle: BACKUP TABLE → drop → MOUNT → query mounted → UNMOUNT") {
    val base = freshBase()
    mkExample(("temp", ns(1), 1.5), ("temp", ns(2), 2.5), ("hum", ns(3), 9.0))
    val msg = QueryDoor.execute(spark,
      "BACKUP TABLE example INTO DISK = 'arch1'").head().getString(0)
    assert(msg == "executed.")
    assert(new java.io.File(s"$base/arch1/backup.dat").isFile)
    // archives door sees it, unmounted
    val ar = route("GET", "/backup/archives")
    assert(ar.body.contains("\"path\":\"arch1\"") &&
      ar.body.contains("\"isMount\":false"), ar.body)
    QueryDoor.execute(spark, "drop table example")
    // mount over the HTTP door and query via BOTH spellings
    val m = route("POST", "/backup/mounts/mnt1", """{"path":"arch1"}""")
    assert(m.status == 200 && m.body.contains("\"success\":true"), m.body)
    val cnt = spark.sql("SELECT count(*) FROM mnt1.example").head().getLong(0)
    assert(cnt == 3L)
    val refSpelling = QueryDoor.execute(spark,
      "SELECT NAME, VALUE FROM MNT1.SYS.EXAMPLE ORDER BY VALUE")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(refSpelling == Seq(("temp", 1.5), ("temp", 2.5), ("hum", 9.0)))
    // archives now shows the mount; mounts lists it
    val ar2 = route("GET", "/backup/archives")
    assert(ar2.body.contains("\"isMount\":true") &&
      ar2.body.contains("\"mountName\":\"mnt1\""), ar2.body)
    val ms = route("GET", "/backup/mounts")
    assert(ms.body.contains("\"name\":\"mnt1\"") &&
      ms.body.contains("\"path\":\"arch1\"") &&
      ms.body.contains("\"mountdb\":\"MNT1\""), ms.body)
    // the mount registry is SQL-addressable like the reference's V$ table
    // (backupd.go:489 SELECT * FROM V$STORAGE_MOUNT_DATABASES)
    val vrows = QueryDoor.execute(spark,
      "SELECT PATH, MOUNTDB FROM V$STORAGE_MOUNT_DATABASES").collect()
    assert(vrows.length == 1 && vrows(0).getString(1) == "MNT1", vrows.toSeq)
    // duplicate mount is an engine error (500)
    val dup = route("POST", "/backup/mounts/mnt1", """{"path":"arch1"}""")
    assert(dup.status == 500 && dup.body.contains("already mounted"), dup.body)
    // unmount drops the catalog database
    val um = route("DELETE", "/backup/mounts/mnt1")
    assert(um.status == 200, um.body)
    assert(!spark.catalog.databaseExists("mnt1"))
    assert(route("GET", "/backup/mounts").body.contains("\"data\":[]"))
  }

  test("restore re-registers the archived table and the stat door still answers") {
    freshBase()
    mkExample(("temp", ns(1), 1.5), ("temp", ns(2), 2.5))
    QueryDoor.execute(spark, "exec table_flush('example')")
    val statBefore = route("GET", "/tables/example/tags/temp/stat").body
    QueryDoor.execute(spark, "BACKUP TABLE example INTO DISK = 'arch_r'")
    QueryDoor.execute(spark, "drop table example")
    assert(TagTables.descriptorFor("example").isEmpty)
    val restored = Backup.restore(spark, "arch_r")
    assert(restored == Seq("example"), restored)
    QueryDoor.execute(spark, "exec table_flush('example')")
    val statAfter = route("GET", "/tables/example/tags/temp/stat").body
    def stripElapse(s: String) =
      s.replaceAll("\"elapse\":\"[^\"]*\"", "\"elapse\":\"-\"")
    assert(stripElapse(statAfter) == stripElapse(statBefore),
      s"\nbefore=$statBefore\nafter=$statAfter")
    val rows = QueryDoor.execute(spark,
      "SELECT NAME, VALUE FROM example ORDER BY VALUE")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("temp", 1.5), ("temp", 2.5)))
  }

  test("log tables archive the hidden _ARRIVAL_TIME and restore in arrival order") {
    freshBase()
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create log table evlog (TIME datetime basetime, VALUE double)")
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000000000L)
    val oldClock = TagTables.arrivalClock
    TagTables.arrivalClock = () => clock.addAndGet(1000000000L)
    try {
      // event times DESCEND while arrival ascends — restore order must
      // follow ARRIVAL (the engine's iteration order), not TIME
      Seq(3L, 2L, 1L).foreach { sec =>
        TagTables.insert(spark, "evlog", Seq("TIME", "VALUE"),
          Seq(Long.box(ns(sec)), Double.box(sec.toDouble)))
      }
      QueryDoor.execute(spark, "BACKUP TABLE evlog INTO DISK = 'logarch'")
      // the archive carries the arrival view's schema (hidden col intact)
      val arch = spark.read.parquet(
        s"${Backup.baseDir}/logarch/data/evlog")
      assert(arch.columns.head == "_ARRIVAL_TIME", arch.columns.toSeq)
      QueryDoor.execute(spark, "drop table evlog")
      Backup.restore(spark, "logarch")
      // default log-table iteration is newest-ARRIVAL-first: the last
      // inserted row (VALUE 1.0) leads, exactly as before the round-trip
      val vals = QueryDoor.execute(spark, "SELECT VALUE FROM evlog")
        .collect().map(_.getDouble(0)).toSeq
      assert(vals == Seq(1.0, 2.0, 3.0), vals)
      // and the hidden column is still selectable through the rewrite
      val arr = QueryDoor.execute(spark,
        "SELECT _ARRIVAL_TIME, VALUE FROM evlog").collect()
      assert(arr.length == 3)
    } finally TagTables.arrivalClock = oldClock
  }

  test("incremental AFTER and time-bounded FROM/TO windows filter the snapshot") {
    val base = freshBase()
    mkExample(("temp", ns(10), 1.0), ("temp", ns(20), 2.0))
    QueryDoor.execute(spark, "BACKUP TABLE example INTO DISK = 'full1'")
    TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
      Seq("temp", Long.box(ns(30)), Double.box(3.0)))
    TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
      Seq("temp", Long.box(ns(40)), Double.box(4.0)))
    // incremental: only rows past full1's horizon (ns(20))
    QueryDoor.execute(spark,
      "BACKUP TABLE example AFTER 'full1' INTO DISK = 'incr1'")
    val incr = spark.read.parquet(s"$base/incr1/data/example")
      .select("VALUE").collect().map(_.getDouble(0)).sorted.toSeq
    assert(incr == Seq(3.0, 4.0), incr)
    // time window [t0+15, t0+35] — backupd's FROM_UNIXTIME seconds shape
    QueryDoor.execute(spark, "BACKUP TABLE example FROM FROM_UNIXTIME(" +
      (t0 + 15) + ") TO FROM_UNIXTIME(" + (t0 + 35) + ") INTO DISK = 'time1'")
    val timed = spark.read.parquet(s"$base/time1/data/example")
      .select("VALUE").collect().map(_.getDouble(0)).sorted.toSeq
    assert(timed == Seq(2.0, 3.0), timed)
    // TO sysdate = unbounded upper
    QueryDoor.execute(spark, "BACKUP TABLE example FROM FROM_UNIXTIME(" +
      (t0 + 15) + ") TO sysdate INTO DISK = 'time2'")
    val open = spark.read.parquet(s"$base/time2/data/example")
      .select("VALUE").collect().map(_.getDouble(0)).sorted.toSeq
    assert(open == Seq(2.0, 3.0, 4.0), open)
  }

  test("restoreSegment of an empty frame is a clean no-op (no unreadable part-less segment)") {
    freshBase()
    mkExample(("temp", ns(10), 1.0))
    val schema = spark.table("example").schema
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    assert(TagTables.restoreSegment(spark, "example", empty) == 0L)
    // the no-op segment is neither registered nor left on disk: the plan
    // stays buffer-only and the table keeps working
    val plan = spark.table("example").queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan parquet"), plan)
    assert(spark.table("example").count() == 1L)
    QueryDoor.execute(spark, "drop table example")
  }

  test("restore above the collect guard is distributed: base segment, no driver rows") {
    freshBase()
    val savedGuard = Backup.restoreCollectGuard
    Backup.restoreCollectGuard = 10L
    try {
      mkExample((1 to 50).map(i => ("temp", ns(i), i.toDouble)): _*)
      QueryDoor.execute(spark, "BACKUP TABLE example INTO DISK = 'bigarch'")
      QueryDoor.execute(spark, "drop table example")
      Backup.restore(spark, "bigarch")
      // the restored table is parquet-backed: its plan scans files (the
      // buffer contributes a LocalRelation/LocalTableScan only) — the
      // shape that proves no collect() fed the driver
      val plan = spark.table("example").queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet"), plan)
      assert(spark.table("example").count() == 50L)
      assert(TagTables.rowCount("example") == 50L)
      // interactive DML still lands on top of the base segment
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("temp", Long.box(ns(99)), Double.box(99.0)))
      assert(spark.table("example").count() == 51L)
      // DELETE WHERE runs distributedly over the base (copy-on-write)
      // and over the buffer in one statement
      val removed = TagTables.deleteWhere(spark, "example",
        s"time >= ${ns(40)}")
      assert(removed == 12L, s"removed=$removed") // 40..50 from base + 99 buffer
      assert(spark.table("example").count() == 39L)
      // a second restore appends another segment (machbase restore
      // append semantics)
      Backup.restore(spark, "bigarch")
      assert(spark.table("example").count() == 89L)
      // a WHERE that empties the whole base must drop it cleanly (an
      // empty parquet rewrite is unreadable by schema inference) and
      // the table must stay usable afterwards
      assert(TagTables.deleteWhere(spark, "example",
        s"time < ${ns(1000)}") == 89L)
      assert(spark.table("example").count() == 0L)
      TagTables.insert(spark, "example", Seq("NAME", "TIME", "VALUE"),
        Seq("temp", Long.box(ns(7)), Double.box(7.0)))
      assert(spark.table("example").count() == 1L)
      // full DELETE clears base and buffer
      assert(TagTables.delete(spark, "example", None) == 1L)
      assert(spark.table("example").count() == 0L)
    } finally {
      Backup.restoreCollectGuard = savedGuard
      QueryDoor.execute(spark, "drop table example")
    }
  }

  test("log-table restore above the guard keeps arrival iteration and the hidden column") {
    freshBase()
    val savedGuard = Backup.restoreCollectGuard
    Backup.restoreCollectGuard = 5L
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create log table evbig (TIME datetime basetime, VALUE double)")
    val clock = new java.util.concurrent.atomic.AtomicLong(1700000000000000000L)
    val oldClock = TagTables.arrivalClock
    TagTables.arrivalClock = () => clock.addAndGet(1000000000L)
    try {
      // arrival ascends while event time descends — iteration must follow
      // arrival after the round-trip, base-backed or not
      (20L to 1L by -1L).foreach { sec =>
        TagTables.insert(spark, "evbig", Seq("TIME", "VALUE"),
          Seq(Long.box(ns(sec)), Double.box(sec.toDouble)))
      }
      QueryDoor.execute(spark, "BACKUP TABLE evbig INTO DISK = 'logbig'")
      QueryDoor.execute(spark, "drop table evbig")
      Backup.restore(spark, "logbig")
      val plan = spark.table("evbig").queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet"), plan)
      val vals = QueryDoor.execute(spark, "SELECT VALUE FROM evbig")
        .collect().map(_.getDouble(0)).toSeq
      assert(vals == (1L to 20L).map(_.toDouble), vals) // newest arrival first
      val arr = QueryDoor.execute(spark,
        "SELECT _ARRIVAL_TIME, VALUE FROM evbig").collect()
      assert(arr.length == 20)
    } finally {
      TagTables.arrivalClock = oldClock
      Backup.restoreCollectGuard = savedGuard
      QueryDoor.execute(spark, "drop table evbig")
    }
  }

  test("keyed classes restore through the buffer even above the guard: upsert machinery intact") {
    freshBase()
    val savedGuard = Backup.restoreCollectGuard
    Backup.restoreCollectGuard = 2L
    TagTables.resetDynamicForTest(spark)
    QueryDoor.execute(spark,
      "create lookup table dims (K varchar(20) primary key, V double)")
    try {
      (1 to 5).foreach { i =>
        TagTables.insert(spark, "dims", Seq("K", "V"),
          Seq(s"k$i", Double.box(i.toDouble)))
      }
      QueryDoor.execute(spark, "BACKUP TABLE dims INTO DISK = 'dimarch'")
      QueryDoor.execute(spark, "drop table dims")
      Backup.restore(spark, "dimarch")
      // rows above the guard, but a Lookup table must stay buffer-backed
      // (its PK/upsert path scans the buffer): no parquet base in the plan
      val plan = spark.table("dims").queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan parquet"), plan)
      assert(spark.table("dims").count() == 5L)
      // the restored PK is enforced and upsert still addresses it
      intercept[IllegalArgumentException] {
        TagTables.insert(spark, "dims", Seq("K", "V"),
          Seq("k3", Double.box(99.0)))
      }
      assert(TagTables.upsert(spark, "dims", Seq("K", "V"),
        Seq("k3", Double.box(9.5))))
      val v = spark.sql("SELECT V FROM dims WHERE K = 'k3'").head().getDouble(0)
      assert(v == 9.5)
    } finally {
      Backup.restoreCollectGuard = savedGuard
      QueryDoor.execute(spark, "drop table dims")
    }
  }

  test("mount refuses to shadow a pre-existing catalog database") {
    freshBase()
    mkExample(("temp", ns(1), 1.0))
    QueryDoor.execute(spark, "BACKUP TABLE example INTO DISK = 'colarch'")
    spark.sql("CREATE DATABASE precious")
    spark.sql("CREATE TABLE precious.keepme (x INT) USING parquet")
    try {
      val r = route("POST", "/backup/mounts/precious", """{"path":"colarch"}""")
      assert(r.status == 500 && r.body.contains("already exists"), r.body)
      // the pre-existing database and its table survived untouched
      assert(spark.catalog.databaseExists("precious"))
      assert(spark.catalog.tableExists("precious.keepme"))
      // and the failed mount left no registry entry behind
      assert(!Backup.mountNames.contains("precious"), Backup.mountNames)
      assert(route("DELETE", "/backup/mounts/precious").status == 500)
    } finally spark.sql("DROP DATABASE IF EXISTS precious CASCADE")
  }

  test("archive time window rejects non-numeric from/to with a 400 envelope") {
    freshBase()
    val bad = route("POST", "/backup/archive",
      """{"type":"database","duration":{"type":"time","from":"not-a-number"},"path":"tw1"}""")
    assert(bad.status == 400 &&
      bad.body.contains("duration.from/to must be unix epoch seconds"), bad.body)
    val bad2 = route("POST", "/backup/archive",
      """{"type":"database","duration":{"type":"time","from":"1700000000","to":"later"},"path":"tw1"}""")
    assert(bad2.status == 400 && bad2.body.contains("\"success\":false"), bad2.body)
  }

  test("BACKUP DATABASE snapshots every visible table and status reports outcomes") {
    freshBase()
    mkExample(("temp", ns(1), 1.0))
    val r = route("POST", "/backup/archive",
      """{"type":"database","duration":{"type":"full"},"path":"db1"}""")
    assert(r.status == 200 && r.body.contains("\"success\":true"), r.body)
    val st = route("GET", "/backup/archive/status")
    assert(st.status == 200 && st.body.contains("\"success\":true") &&
      st.body.contains("\"data\":{"), st.body)
    // the manifest covers the fixture tables AND the dynamic one
    val names = Backup.mounts // touch nothing; read manifest directly
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Backup.baseDir, "db1", "backup.dat")), "UTF-8")
    assert(manifest.contains("\"name\":\"example\""), manifest.take(400))
    assert(manifest.contains("\"target\":\"DATABASE\""), manifest.take(400))
    // a failing backup reports through /archive/status as a 500
    val bad = route("POST", "/backup/archive",
      """{"type":"table","tableName":"no_such_table","duration":{"type":"full"},"path":"db2"}""")
    assert(bad.status == 200, bad.body) // reply is success; outcome is in status
    val st2 = route("GET", "/backup/archive/status")
    assert(st2.status == 500 && st2.body.contains("Table not found"), st2.body)
    Backup.resetForTest()
  }
}
