package graft.server

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.GoJs

/** Backup / mount door — the Spark analog of the reference's backup
  * daemon (mods/backup/backupd.go): `BACKUP` snapshots table data plus
  * a manifest into a directory archive, `MOUNT DATABASE` re-registers an
  * archive as a read-only database in the session catalog, and
  * `/web/api/backup/…` mirrors backupd's HTTP envelopes
  * (backupd.go:65-72 routes, 82-233 archive, 265-360 archives,
  * 362-517 mounts).
  *
  * Archive layout — parquet instead of the engine's proprietary page
  * snapshot, with the manifest keeping the reference's `backup.dat`
  * name so archive listers recognize an archive directory:
  * {{{
  *   <path>/backup.dat          JSON manifest (tables, descriptors, horizons)
  *   <path>/data/<table>/       parquet snapshot
  * }}}
  *
  * Scale: a table snapshot is a straight distributed parquet rewrite —
  * parallelism is the source's partition count, nothing rides the
  * driver but the manifest. Mounting registers EXTERNAL tables over the
  * archived parquet (no copy, no scan): `SELECT … FROM <mount>.<table>`
  * — and the reference's `<mount>.SYS.<table>` spelling — prunes and
  * pushes down like any parquet scan.
  */
object Backup {
  /** Base dir for relative archive paths (backupd's WithBackupdBaseDir). */
  @volatile var baseDir: String = "backups"

  case class MountInfo(name: String, path: String, tables: Seq[String],
                       dbBeginNs: Option[Long], dbEndNs: Option[Long],
                       backupBeginNs: Long, backupEndNs: Long)

  /** COMPLETED mounts only — everything readers (mounts, mountNames,
    * the doors) see comes from here, so an in-flight mount is never
    * listed half-built. */
  private val mountReg = TrieMap.empty[String, MountInfo]
  /** in-flight + completed mount names: the atomic duplicate gate. A
    * claim is taken before any disk/catalog work and held for the
    * mount's lifetime; a failed mount releases it. */
  private val mountClaims = TrieMap.empty[String, Unit]

  private def resolve(p: String): String = {
    val f = new java.io.File(p)
    if (f.isAbsolute) p else new java.io.File(baseDir, p).getPath
  }

  /** mount names, for QueryDoor's `<mount>.SYS.<table>` select rewrite */
  def mountNames: Seq[String] = mountReg.keys.toSeq

  // ---- engine: BACKUP ------------------------------------------------

  /** Parse the windowing clause between the target and INTO DISK:
    * empty (full) | `AFTER '<archive>'` (incremental) |
    * `FROM FROM_UNIXTIME(s) TO sysdate|FROM_UNIXTIME(s)` (time-bounded)
    * — the exact SQL text shapes backupd composes (backupd.go:183-216).
    * @return (afterArchive, fromNs, toNs) */
  private[server] def parseWindow(mid: String)
      : (Option[String], Option[Long], Option[Long]) = {
    val AfterRe = "(?is)^after\\s+'([^']+)'$".r
    val TimeRe = ("(?is)^from\\s+from_unixtime\\(\\s*(\\d+)\\s*\\)\\s+to\\s+" +
      "(?:(sysdate)|from_unixtime\\(\\s*(\\d+)\\s*\\))$").r
    mid.trim match {
      case "" => (None, None, None)
      case AfterRe(p) => (Some(p), None, None)
      case TimeRe(from, sysdate, toN) =>
        (None, Some(from.toLong * 1000000000L),
          if (sysdate != null) None else Some(toN.toLong * 1000000000L))
      case other =>
        throw new IllegalArgumentException(s"invalid BACKUP clause: $other")
    }
  }

  private def nsToTs(ns: Long) = timestamp_micros(lit(ns / 1000L))

  /** Snapshot `table` (or every machbase-visible table when None) into
    * the archive at `destPath`. Time filters apply to tables with a
    * TIME column; `afterPath` filters past the named archive's recorded
    * per-table horizon (incremental). */
  def runBackup(spark: SparkSession, table: Option[String], destPath: String,
                afterPath: Option[String] = None, fromNs: Option[Long] = None,
                toNs: Option[Long] = None): Unit = {
    val t0 = System.currentTimeMillis() * 1000000L
    val dest = resolve(destPath)
    val tables: Seq[(String, String)] = table match {
      case Some(t) =>
        if (TagTables.descriptorFor(t).isEmpty)
          throw new IllegalArgumentException(
            s"Table not found: ${t.toUpperCase}.")
        Seq((t.toLowerCase, TagTables.typeOf(t)))
      case None => TagTables.allVisibleTables.map { case (t, typ, _) => (t, typ) }
    }
    val horizon: Map[String, Long] = afterPath.map { p =>
      readManifest(resolve(p)).collect {
        case tm if tm.get("maxNs").exists(_ != null) =>
          str(tm, "name") -> tm("maxNs").asInstanceOf[Number].longValue
      }.toMap
    }.getOrElse(Map.empty)
    val entries = tables.map { case (t, typ) =>
      TagTables.ensure(spark, t)
      val view = if (TagTables.isLogTable(t)) TagTables.arrivalViewName(t) else t
      var df = spark.table(view)
      if (df.columns.contains("TIME")) {
        fromNs.foreach(n => df = df.filter(col("TIME") >= nsToTs(n)))
        toNs.foreach(n => df = df.filter(col("TIME") <= nsToTs(n)))
        horizon.get(t).foreach(n => df = df.filter(col("TIME") > nsToTs(n)))
      }
      df.write.mode("overwrite").parquet(s"$dest/data/$t")
      val back = spark.read.parquet(s"$dest/data/$t")
      val (cnt, minNs, maxNs) =
        if (back.columns.contains("TIME")) {
          val r = back.agg(count(lit(1)),
            min(unix_micros(col("TIME"))), max(unix_micros(col("TIME")))).head()
          (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1) * 1000L),
            if (r.isNullAt(2)) None else Some(r.getLong(2) * 1000L))
        } else (back.count(), None, None)
      Map[String, Any]("name" -> t, "type" -> typ,
        "rollup" -> TagTables.hasRollup(t), "rows" -> cnt,
        "minNs" -> minNs.orNull, "maxNs" -> maxNs.orNull,
        "columns" -> TagTables.descriptorFor(t).getOrElse(Nil).map(d =>
          Map[String, Any]("name" -> d.name, "typ" -> d.typ,
            "len" -> d.len, "flag" -> d.flag)))
    }
    val manifest = Map[String, Any]("version" -> 1,
      "target" -> table.map(t => s"TABLE ${t.toUpperCase}").getOrElse("DATABASE"),
      "backupBeginNs" -> t0,
      "backupEndNs" -> (System.currentTimeMillis() * 1000000L),
      "tables" -> entries)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dest, "backup.dat"),
      GoJs.jsonMarshal(manifest).getBytes("UTF-8"))
  }

  private def str(m: collection.Map[String, Any], k: String): String =
    m.get(k).map(String.valueOf).getOrElse("")

  private def readManifestFull(dir: String): collection.Map[String, Any] = {
    val p = java.nio.file.Paths.get(dir, "backup.dat")
    if (!java.nio.file.Files.exists(p))
      throw new IllegalArgumentException(s"no backup archive at $dir")
    graft.script.Builtins.jsonParse(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .asInstanceOf[collection.Map[String, Any]]
  }

  private def readManifest(dir: String): Seq[collection.Map[String, Any]] =
    readManifestFull(dir)("tables").asInstanceOf[collection.Seq[Any]]
      .map(_.asInstanceOf[collection.Map[String, Any]]).toSeq

  // ---- engine: MOUNT / UNMOUNT ----------------------------------------

  /** `MOUNT DATABASE '<path>' TO '<name>'`: register the archive's
    * tables as EXTERNAL parquet tables under a session-catalog database
    * named `name` — readable as `<name>.<table>` (and the reference's
    * `<name>.SYS.<table>`), zero-copy, dropped cleanly on UNMOUNT. */
  def mount(spark: SparkSession, path: String, name: String): Unit = {
    require(name.matches("(?i)[a-z_][a-z0-9_]*"), s"invalid mount name $name")
    val key = name.toLowerCase
    val dir = resolve(path)
    // claim the name FIRST (putIfAbsent — two concurrent mounts of the
    // same name can't both pass), then do the catalog work; any failure
    // releases the claim. The claim is NOT a registry entry: readers
    // only ever see completed mounts in mountReg.
    if (mountClaims.putIfAbsent(key, ()).isDefined)
      throw new IllegalArgumentException(s"$name is already mounted")
    try {
      val full = readManifestFull(dir)
      val tables = readManifest(dir).map(tm => str(tm, "name"))
      val (minNs, maxNs) = readManifest(dir).foldLeft(
        (Option.empty[Long], Option.empty[Long])) { case ((lo, hi), tm) =>
        def ns(k: String) = tm.get(k).collect { case n: Number => n.longValue }
        ((lo ++ ns("minNs")).reduceOption(_ min _),
          (hi ++ ns("maxNs")).reduceOption(_ max _))
      }
      // refuse to shadow a pre-existing catalog database: rollback and
      // unmount DROP … CASCADE, which must only ever destroy a database
      // this mount itself created. CREATE without IF NOT EXISTS is the
      // atomic backstop behind the friendlier pre-check.
      if (spark.catalog.databaseExists(key))
        throw new IllegalArgumentException(
          s"database $name already exists; refusing to mount over it")
      spark.sql(s"CREATE DATABASE `$key`")
      try tables.foreach { t =>
        spark.catalog.createTable(s"`$key`.`$t`", "parquet",
          Map("path" -> s"$dir/data/$t"))
      } catch {
        case e: Exception =>
          spark.sql(s"DROP DATABASE IF EXISTS `$key` CASCADE")
          throw e
      }
      def wall(k: String) = full.get(k).collect { case n: Number => n.longValue }
        .getOrElse(0L)
      mountReg.put(key, MountInfo(name, dir, tables, minNs, maxNs,
        wall("backupBeginNs"), wall("backupEndNs")))
    } catch {
      case e: Exception => mountClaims.remove(key); throw e
    }
  }

  def unmount(spark: SparkSession, name: String): Unit = {
    val key = name.toLowerCase
    // check → drop → deregister: a failed DROP leaves the registration
    // intact so the unmount can simply be retried (deregistering first
    // would wedge the name — not mounted, yet not re-mountable). The
    // dropped database is always one the mount itself created (mount
    // refuses pre-existing names), and DROP IF EXISTS is idempotent for
    // the benign concurrent-double-unmount race.
    if (!mountReg.contains(key))
      throw new IllegalArgumentException(s"$name is not mounted")
    spark.sql(s"DROP DATABASE IF EXISTS `$key` CASCADE")
    mountReg.remove(key)
    mountClaims.remove(key)
  }

  def mounts: Seq[MountInfo] = mountReg.values.toSeq.sortBy(_.name)

  // ---- engine: RESTORE -------------------------------------------------

  /** Tables at or below this manifest row count restore through the
    * in-memory buffer (interactive DML tail); above it they restore as a
    * distributed parquet segment — the archive never rides the driver.
    * Keyed classes (Volatile/Lookup) always take the buffer path: they
    * are bounded enrichment dims and their upsert machinery is
    * buffer-scanned. Test seam: specs lower it to force the segment
    * path on small fixtures. */
  @volatile var restoreCollectGuard: Long = 100000L

  /** Re-register every archived table from the manifest descriptor and
    * re-insert its rows — the disaster-recovery path (mount is the
    * read-only exploration path). Existing tables keep their rows; the
    * archive's rows append (machbase restore semantics are
    * whole-database; per-table append is the useful library form). */
  def restore(spark: SparkSession, path: String): Seq[String] = {
    val dir = resolve(path)
    readManifest(dir).map { tm =>
      val t = str(tm, "name")
      if (TagTables.descriptorFor(t).isEmpty) {
        val descs = tm("columns").asInstanceOf[collection.Seq[Any]]
          .map(_.asInstanceOf[collection.Map[String, Any]])
          .map(c => TagTables.ColDesc(str(c, "name"), str(c, "typ"),
            c("len").asInstanceOf[Number].intValue, str(c, "flag"))).toSeq
        TagTables.defineTable(spark, t, str(tm, "type"), descs,
          tm.get("rollup").contains(true))
      }
      val archived = tm.get("rows").collect {
        case n: Number => n.longValue }.getOrElse(0L)
      if (archived > restoreCollectGuard && !TagTables.isKeyedClass(t)) {
        // distributed path: executor-parallel parquet→segment copy
        TagTables.restoreSegment(spark, t, spark.read.parquet(s"$dir/data/$t"))
      } else {
        var df = spark.read.parquet(s"$dir/data/$t")
        // log tables replay in arrival order; others are set-valued
        if (df.columns.contains("_ARRIVAL_TIME"))
          df = df.orderBy("_ARRIVAL_TIME")
        TagTables.restoreRows(spark, t, df.collect().toSeq)
      }
      t
    }
  }

  // ---- door: /web/api/backup/… ----------------------------------------
  // Envelopes mirror backupd's gin.H replies: {"success","reason","elapse"}
  // (+"data"); validation errors are 400, engine errors 500
  // (backupd.go:122-233, 265-360, 362-517).

  import WebApi.HttpReply

  @volatile private var running = false
  @volatile private var lastError: Option[String] = None
  @volatile private var lastInfo: collection.Map[String, Any] = emptyArchive

  private def emptyArchive: collection.Map[String, Any] = Map.empty

  /** test hook mirroring backupd_test's `s.backup.IsRunning = true` */
  private[graft] def setRunningForTest(b: Boolean): Unit = running = b
  private[graft] def resetForTest(): Unit = {
    running = false; lastError = None; lastInfo = emptyArchive
  }

  private def envelope(status: Int, success: Boolean, reason: String,
                       t0: Long, data: Option[String] = None): HttpReply =
    HttpReply(status, "application/json", WebApi.envelope(success, reason, t0, data))

  /** render the BackupArchive struct shape (backupd.go:106-120) */
  private def archiveJson(a: collection.Map[String, Any]): String = {
    def s(k: String) = GoJs.jsonQuote(str(a, k))
    val dur = a.get("duration").collect {
      case m: collection.Map[_, _] => m.asInstanceOf[collection.Map[String, Any]]
    }.getOrElse(Map.empty[String, Any])
    def ds(k: String) = GoJs.jsonQuote(str(dur, k))
    s"""{"type":${s("type")},"tableName":${s("tableName")},""" +
      s""""duration":{"type":${ds("type")},"after":${ds("after")},""" +
      s""""from":${ds("from")},"to":${ds("to")}},"path":${s("path")}}"""
  }

  /** `POST /web/api/backup/archive` — validate, compose the BACKUP
    * statement exactly like backupd (backupd.go:160-216), run it, and
    * reply success; the outcome lands in /archive/status. */
  def archiveReply(spark: SparkSession, body: String): HttpReply = {
    val t0 = System.nanoTime()
    val a = try graft.script.Builtins.jsonParse(body) match {
      case m: collection.Map[_, _] => m.asInstanceOf[collection.Map[String, Any]]
      case _ => return envelope(400, success = false, "invalid request body", t0)
    } catch {
      case e: Exception =>
        return envelope(400, success = false, String.valueOf(e.getMessage), t0)
    }
    val dur = a.get("duration").collect {
      case m: collection.Map[_, _] => m.asInstanceOf[collection.Map[String, Any]]
    }.getOrElse(Map.empty[String, Any])
    val (tpe, durType, path) = (str(a, "type"), str(dur, "type"), str(a, "path"))
    // gin `binding:"required"` rejects missing type/duration.type/path
    if (tpe.isEmpty || durType.isEmpty || path.isEmpty)
      return envelope(400, success = false,
        "invalid request: type, duration.type and path are required", t0)
    if (running)
      return envelope(500, success = false, "backup is running.", t0)
    val table = tpe.toLowerCase match {
      case "database" => None
      case "table" =>
        val tn = str(a, "tableName")
        if (tn.isEmpty)
          return envelope(400, success = false, "table name is empty", t0)
        Some(tn)
      case other =>
        return envelope(400, success = false, s"""invalid backup "$other"""", t0)
    }
    val window = durType.toLowerCase match {
      case "full" => (None, None, None)
      case "incremental" => (Some(str(dur, "after")), None, None)
      case "time" =>
        // non-numeric from/to is a CLIENT error (the reference 400s at
        // gin binding) — a bare .toLong would escape as a 500 text/plain
        val fromS = Some(str(dur, "from")).filter(_.nonEmpty).getOrElse("0")
        val toS = Some(str(dur, "to")).filter(_.nonEmpty)
        val fromN = fromS.toLongOption
        val toN = toS.map(_.toLongOption)
        if (fromN.isEmpty || toN.exists(_.isEmpty))
          return envelope(400, success = false,
            "invalid request: duration.from/to must be unix epoch seconds", t0)
        (None, fromN.map(_ * 1000000000L), toN.flatten.map(_ * 1000000000L))
      case other =>
        return envelope(400, success = false,
          s"""invalid backup type "$other"""", t0)
    }
    // synchronous where backupd runs a goroutine: same envelopes (the
    // reply never carries the outcome), deterministic for a library
    running = true
    lastInfo = a
    try {
      runBackup(spark, table, path, window._1, window._2, window._3)
      lastError = None
      lastInfo = emptyArchive
    } catch {
      case e: Exception =>
        lastError = Some(Option(e.getMessage).getOrElse(e.toString))
    } finally running = false
    envelope(200, success = true, "success", t0)
  }

  /** `GET /web/api/backup/archive/status` (backupd.go:82-103) */
  def statusReply(): HttpReply = {
    val t0 = System.nanoTime()
    if (!running && lastError.isDefined)
      envelope(500, success = false, lastError.get, t0)
    else
      envelope(200, success = true, "success", t0,
        data = Some(archiveJson(lastInfo)))
  }

  /** `GET /web/api/backup/archives` — archive dirs under baseDir that
    * contain a backup.dat, with mount status (backupd.go:265-360). */
  def archivesReply(): HttpReply = {
    val t0 = System.nanoTime()
    val base = new java.io.File(baseDir)
    val dirs = Option(base.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(d => d.isDirectory && new java.io.File(d, "backup.dat").isFile)
      .filterNot(d => d.getName == "SYSTEM_TABLESPACE" || d.getName == "TAG_TABLESPACE")
      .sortBy(_.getName)
    val items = dirs.map { d =>
      val mounted = mountReg.values.find(_.path == d.getPath)
      val mn = mounted.map(m =>
        s""","mountName":${GoJs.jsonQuote(m.name)}""").getOrElse("")
      s"""{"path":${GoJs.jsonQuote(d.getName)},"isMount":${mounted.isDefined}$mn}"""
    }
    envelope(200, success = true, "success", t0,
      data = Some(items.mkString("[", ",", "]")))
  }

  /** `POST /web/api/backup/mounts/:name` body {"path": …}
    * (backupd.go:362-419) */
  def mountReply(spark: SparkSession, name: String, body: String): HttpReply = {
    val t0 = System.nanoTime()
    if (name.isEmpty)
      return envelope(400, success = false, "invalid mount name", t0)
    val path = WebApi.flatJsonSafe(body).getOrElse("path", "")
    if (path.isEmpty)
      return envelope(400, success = false,
        "invalid request: path is required", t0)
    try { mount(spark, path, name); envelope(200, success = true, "success", t0) }
    catch {
      case e: Exception =>
        envelope(500, success = false,
          Option(e.getMessage).getOrElse(e.toString), t0)
    }
  }

  /** `DELETE /web/api/backup/mounts/:name` (backupd.go:420-456) */
  def unmountReply(spark: SparkSession, name: String): HttpReply = {
    val t0 = System.nanoTime()
    if (name.isEmpty)
      return envelope(400, success = false, "invalid mount name", t0)
    try { unmount(spark, name); envelope(200, success = true, "success", t0) }
    catch {
      case e: Exception =>
        envelope(500, success = false,
          Option(e.getMessage).getOrElse(e.toString), t0)
    }
  }

  /** `GET /web/api/backup/mounts` — StorageMount rows
    * (backupd.go:458-517); paths under baseDir render relative like the
    * reference's TrimPrefix. */
  def mountsReply(): HttpReply = {
    val t0 = System.nanoTime()
    val basePrefix = new java.io.File(baseDir).getPath + java.io.File.separator
    def ts(ns: Option[Long]): String = ns.map { n =>
      java.time.Instant.ofEpochSecond(n / 1000000000L,
          n % 1000000000L).toString
    }.getOrElse("")
    val items = mounts.map { m =>
      val p = if (m.path.startsWith(basePrefix))
        m.path.stripPrefix(basePrefix) else m.path
      s"""{"name":${GoJs.jsonQuote(m.name)},"path":${GoJs.jsonQuote(p)},""" +
        s""""tbsid":0,"scn":0,"mountdb":${GoJs.jsonQuote(m.name.toUpperCase)},""" +
        s""""dbBeginTime":${GoJs.jsonQuote(ts(m.dbBeginNs))},""" +
        s""""dbEndTime":${GoJs.jsonQuote(ts(m.dbEndNs))},""" +
        s""""backupBeginTime":${GoJs.jsonQuote(ts(Some(m.backupBeginNs).filter(_ > 0)))},""" +
        s""""backupEndTime":${GoJs.jsonQuote(ts(Some(m.backupEndNs).filter(_ > 0)))},""" +
        s""""flag":0}"""
    }
    envelope(200, success = true, "success", t0,
      data = Some(items.mkString("[", ",", "]")))
  }
}
