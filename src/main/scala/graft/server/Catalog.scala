package graft.server

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The machbase server catalog surface behind `SHOW …` and the `M$`/`V$`
  * system tables (reference: spi/show.go:74-1400, command routing
  * fm_dbsrc.go:485-693).
  *
  * The reference implements SHOW as sugar over engine system tables
  * (M$SYS_USERS, V$SESSION, V$STMT, …); this module does the same thing
  * Spark-first: every SHOW result is a DataFrame, and the system tables
  * themselves are exposed through `sysTable` so plain SQL
  * (`SELECT * FROM M$TABLES ORDER BY ID`) works via QueryDoor's
  * identifier rewrite ($ is not a valid char in a Spark identifier).
  *
  * Server-process facts (info, ports, license) come from injectable
  * providers exactly like the reference's SetServerInfoProvider /
  * SetServerPortsProvider seams (spi/show.go:41,120) — tests pin them.
  */
object Catalog {

  // ---- injectable server-process providers ---------------------------
  @volatile var serverInfoProvider: () => Seq[(String, Any)] = () => Seq(
    "Name" -> "graft", "Version" -> "dev",
    "OS" -> sys.props.getOrElse("os.name", "unknown"),
    "Arch" -> sys.props.getOrElse("os.arch", "unknown"),
    "Processes" -> Runtime.getRuntime.availableProcessors())

  /** default: machbase-neo's documented listen ports. */
  @volatile var serverPortsProvider: String => Seq[(String, String)] = {
    val all = Seq(
      "http" -> "tcp://127.0.0.1:5654",
      "grpc" -> "tcp://127.0.0.1:5655",
      "mach" -> "tcp://127.0.0.1:5656",
      "mqtt" -> "tcp://127.0.0.1:5653")
    (portType: String) =>
      if (portType == null || portType.isEmpty) all
      else all.filter(_._1.equalsIgnoreCase(portType))
  }

  /** license row: ID, TYPE, CUSTOMER, PROJECT, COUNTRY_CODE,
    * INSTALL_DATE, ISSUE_DATE, STATUS (show_test.go:122-147 expects the
    * community defaults). */
  @volatile var licenseProvider: () => (String, String, String, String, String, String, String, String) =
    () => ("00000000", "COMMUNITY", "NONE", "NONE", "KR",
      "2024-01-01 00:00:00", "20991231", "VALID") // datetime / yyyymmdd / ToUpper'd status (spi/show.go:110)

  // ---- session / statement registries --------------------------------
  case class SessionInfo(id: Long, userName: String, userId: Long,
                         loginTimeMs: Long, clientType: String, userIp: String,
                         maxQpxMem: Long)
  case class StmtInfo(id: Long, sessionId: Long, state: String,
                      recordSize: Long, query: String)

  private val sessionSeq = new AtomicLong(0L)
  private val stmtSeq = new AtomicLong(0L)
  private val sessions = TrieMap.empty[Long, SessionInfo]
  private val statements = new java.util.concurrent.ConcurrentLinkedDeque[StmtInfo]()
  private val MaxStatements = 256

  /** The implicit CLI session every QueryDoor call runs under (the
    * reference always has ≥1 V$SESSION row for the connected client). */
  lazy val defaultSession: SessionInfo = {
    val s = SessionInfo(sessionSeq.incrementAndGet(), "SYS", 1L,
      System.currentTimeMillis(), "CLI", "127.0.0.1", 500L * 1024 * 1024)
    sessions.put(s.id, s)
    s
  }

  /** Force the implicit session into the registry (session.list RPC). */
  def ensureDefaultSession(): Unit = { defaultSession; () }

  /** Live session rows, implicit session included (V$SESSION order). */
  def sessionRows: Seq[SessionInfo] =
    (sessions.values.toSeq :+ defaultSession).distinct.sortBy(_.id)

  /** KillSession: true when the id existed; the implicit session
    * re-registers on next use like the reference's own connection. */
  def killSession(id: Long): Boolean = sessions.remove(id).isDefined

  def recordStatement(sql: String, state: String, recordSize: Long): Unit = {
    statements.addFirst(StmtInfo(stmtSeq.incrementAndGet(), defaultSession.id,
      state, recordSize, sql))
    while (statements.size > MaxStatements) statements.pollLast()
  }

  def resetForTest(): Unit = { statements.clear(); stmtSeq.set(0L) }

  /** Go util.HumanizeByteCount (mods/util/humanize.go:33-45): decimal
    * units, `%dB` under 1000, else `%.1f{K,M,G,T,P,E}B`. */
  def humanizeByteCount(b: Long): String = {
    val unit = 1000L
    if (b < unit) s"${b}B"
    else {
      var div = unit; var exp = 0
      var n = b / unit
      while (n >= unit) { div *= unit; exp += 1; n /= unit }
      f"${b.toDouble / div.toDouble}%.1f${"KMGTPE".charAt(exp)}B"
    }
  }

  // ---- SHOW result sets ----------------------------------------------
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def df(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  private def s(n: String) = StructField(n, StringType)
  private def l(n: String) = StructField(n, LongType)

  /** SHOW INFO: NAME/VALUE rows, keys sorted (spi/show.go:74-86). */
  def showInfo(spark: SparkSession): DataFrame = {
    val info = serverInfoProvider().sortBy(_._1)
    df(spark, StructType(Seq(s("NAME"), s("VALUE"))),
      info.map { case (k, v) => Row(k, String.valueOf(v)) })
  }

  def showLicense(spark: SparkSession): DataFrame = {
    val r = licenseProvider()
    df(spark, StructType(Seq(s("ID"), s("TYPE"), s("CUSTOMER"), s("PROJECT"),
      s("COUNTRY_CODE"), s("INSTALL_DATE"), s("ISSUE_DATE"), s("STATUS"))),
      Seq(Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8)))
  }

  def showPorts(spark: SparkSession, portType: String): DataFrame =
    df(spark, StructType(Seq(s("PORT"), s("ADDRESS"))),
      serverPortsProvider(portType).map { case (p, a) => Row(p, a) })

  /** SHOW USERS = SELECT USER_ID, NAME FROM M$SYS_USERS ORDER BY USER_ID. */
  def showUsers(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(l("USER_ID"), s("NAME"))), Seq(Row(1L, "SYS")))

  /** The M$ meta-table inventory (TYPE is always Fixed for meta tables —
    * show_test.go:193-216). Names are machbase's documented meta tables. */
  val metaTables: Seq[(Long, String)] = Seq(
    1L -> "M$TABLES", 2L -> "M$COLUMNS",
    3L -> "M$SYS_TABLES", 4L -> "M$SYS_TABLE_COLUMNS",
    5L -> "M$SYS_INDEXES", 6L -> "M$SYS_INDEX_COLUMNS",
    7L -> "M$SYS_TABLESPACES", 8L -> "M$SYS_TABLESPACE_DISKS",
    9L -> "M$SYS_USERS")

  /** The V$ virtual-table inventory; stat-backed ones carry the (stat)
    * flag suffix exactly like api.TableType.ShortString. */
  def virtualTables(spark: SparkSession): Seq[(Long, String, String)] = {
    val base = Seq(
      (1L, "V$TABLES", "Fixed"),
      (2L, "V$SESSION", "Fixed"),
      (3L, "V$NEO_SESSION", "Fixed"),
      (4L, "V$STMT", "Fixed"),
      (5L, "V$SYSMEM", "Fixed (stat)"),
      (6L, "V$STORAGE", "Fixed (stat)"))
    val tagStats = TagTables.allTagTables.sorted.zipWithIndex.map {
      case (t, i) => (100L + i, s"V$$${t.toUpperCase}_STAT", "Fixed (stat)")
    }
    base ++ tagStats
  }

  def showMetaTables(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(l("ID"), s("NAME"), s("TYPE"))),
      metaTables.map { case (id, n) => Row(id, n, "Fixed") })

  def showVirtualTables(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(l("ID"), s("NAME"), s("TYPE"))),
      virtualTables(spark).map { case (id, n, t) => Row(id, n, t) })

  /** SHOW SESSIONS: V$SESSION ∪ V$NEO_SESSION with humanized MAX_QPX_MEM
    * (spi/show.go:426-520; regex-pinned format in show_test.go:243-266). */
  def showSessions(spark: SparkSession): DataFrame = {
    val sess = (sessions.values.toSeq :+ defaultSession).distinct.sortBy(_.id)
    df(spark, StructType(Seq(l("ID"), s("USER_NAME"), l("USER_ID"),
      StructField("LOGIN_TIME", TimestampType), s("TYPE"), s("USER_IP"),
      s("MAX_QPX_MEM"))),
      sess.map(x => Row(x.id, x.userName, x.userId,
        new java.sql.Timestamp(x.loginTimeMs), x.clientType, x.userIp,
        humanizeByteCount(x.maxQpxMem))))
  }

  def showStatements(spark: SparkSession): DataFrame = {
    val list = scala.jdk.CollectionConverters.IteratorHasAsScala(
      statements.iterator()).asScala.toSeq
    df(spark, StructType(Seq(l("ID"), l("SESSION_ID"), s("STATE"),
      l("RECORD_SIZE"), s("QUERY"))),
      list.map(x => Row(x.id, x.sessionId, x.state, x.recordSize, x.query)))
  }

  /** SHOW INDEXES: machbase auto-creates three REDBLACK indexes on every
    * tag table's _META lookup (on _ID, NAME and _LAST_UPDATE_TIME, all
    * UNCOMPRESSED/0/100000/EQUAL). ID pins come from two reference
    * servers: the tql fixture server has _TAG_DATA_META_NAME = 4
    * (fm_dbsrc_test.go:473-487), a fresh server's first user table gets
    * 6/7/9 (show_test.go:372-392) — so fixtures keep their observed
    * block and dynamic tables allocate 6/7/9 + 4k. */
  private def metaIndexRows(table: String, ids: Seq[Long]): Seq[Row] = {
    val tu = table.toUpperCase
    Seq(
      Row(ids(0), "MACHBASEDB", "SYS", s"_${tu}_META", "_ID",
        s"__PK_IDX__${tu}_META_1", "REDBLACK", "UNCOMPRESSED", 0L, 100000L, "EQUAL"),
      Row(ids(1), "MACHBASEDB", "SYS", s"_${tu}_META", "NAME",
        s"_${tu}_META_NAME", "REDBLACK", "UNCOMPRESSED", 0L, 100000L, "EQUAL"),
      Row(ids(2), "MACHBASEDB", "SYS", s"_${tu}_META", "_LAST_UPDATE_TIME",
        s"_${tu}_META__LAST_UPDATE_TIME", "REDBLACK", "UNCOMPRESSED", 0L, 100000L, "EQUAL"))
  }

  /** User-created secondary indexes (spi/sql_test.go
    * TestMultiUserSessionIndexBehavior): Spark answers the same queries
    * with no index object, so CREATE INDEX registers a catalog entry
    * only — results are identical and the entry is visible in SHOW
    * INDEXES / M$SYS_INDEXES like the engine's (name uppercased,
    * default LSM type per spi/show.go:609-617's else branch). */
  private case class UserIndex(name: String, table: String, column: String,
                               id: Long)
  private val userIdx = scala.collection.mutable.ArrayBuffer.empty[UserIndex]
  private val idxIdGen = new java.util.concurrent.atomic.AtomicLong(100L)

  def createIndex(name: String, table: String, column: String): Unit =
    synchronized {
      val n = name.toUpperCase
      if (userIdx.exists(_.name == n))
        throw new IllegalArgumentException(s"index $n already exists")
      userIdx += UserIndex(n, table.toUpperCase, column.toUpperCase,
        idxIdGen.getAndIncrement())
    }

  def dropIndex(name: String): Unit = synchronized {
    val n = name.toUpperCase
    val i = userIdx.indexWhere(_.name == n)
    if (i < 0) throw new IllegalArgumentException(s"index $n does not exist")
    userIdx.remove(i)
  }

  def dropIndexesOf(table: String): Unit = synchronized {
    userIdx.filterInPlace(_.table != table.toUpperCase)
  }

  def resetIndexesForTest(): Unit = synchronized { userIdx.clear() }

  def indexRows: Seq[Row] = {
    val fixtures = metaIndexRows("tag_data", Seq(3L, 4L, 5L)) ++
      metaIndexRows("tag_simple", Seq(10L, 11L, 12L))
    val dynamic = TagTables.dynamicTagTables.zipWithIndex.flatMap {
      case (t, k) =>
        val base = 4L * k
        metaIndexRows(t, Seq(6L + base, 7L + base, 9L + base))
    }
    val users = synchronized {
      userIdx.toSeq.map(u => Row(u.id, "MACHBASEDB", "SYS", u.table,
        u.column, u.name, "LSM", "UNCOMPRESSED", 0L, 100000L, "EQUAL"))
    }
    fixtures ++ dynamic ++ users
  }

  private val indexSchema = StructType(Seq(l("ID"), s("DATABASE"), s("USER"),
    s("TABLE"), s("COLUMN"), s("INDEX_NAME"), s("INDEX_TYPE"),
    s("KEY_COMPRESS"), l("MAX_LEVEL"), l("PART_VALUE_COUNT"), s("BITMAP_ENCODE")))

  def showIndexes(spark: SparkSession): DataFrame =
    df(spark, indexSchema, indexRows)

  def showIndex(spark: SparkSession, indexName: String): DataFrame =
    df(spark, indexSchema, indexRows.filter(_.getString(5).equalsIgnoreCase(indexName)))

  /** Storage cost per machbase-visible table. DATA_SIZE uses Catalyst's
    * own size estimate of the table plan (stats.sizeInBytes) — the honest
    * Spark equivalent of the engine's storage usage counters. */
  private def storageEntries(spark: SparkSession): Seq[(String, Long, Long)] = {
    TagTables.allVisibleTables.flatMap { case (name, typ, hasRollup) =>
      TagTables.ensure(spark, name)
      val dataSize = try
        spark.table(name).queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      catch { case NonFatal(_) => 0L }
      val nu = name.toUpperCase
      if (typ == "Tag") {
        val rollups = if (hasRollup) Seq(s"_${nu}_ROLLUP_HOUR" -> 0L,
          s"_${nu}_ROLLUP_MIN" -> 0L, s"_${nu}_ROLLUP_SEC" -> 0L) else Nil
        (Seq(nu -> dataSize, s"_${nu}_DATA_0" -> dataSize,
          s"_${nu}_META" -> 0L) ++ rollups).map { case (n, sz) => (n, sz, 0L) }
      } else Seq((nu, dataSize, 0L))
    }.sortBy(_._1)
  }

  def showStorage(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(s("DATABASE_NAME"), s("TABLE_NAME"),
      l("DATA_SIZE"), l("INDEX_SIZE"), l("TOTAL_SIZE"))),
      storageEntries(spark).map { case (n, d, i) =>
        Row("MACHBASEDB", n, d, i, d + i) })

  def showTableUsage(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(s("DATABASE"), s("USER"), s("TABLE"),
      l("STORAGE_USAGE"))),
      storageEntries(spark).map { case (n, d, i) =>
        Row("MACHBASEDB", "SYS", n, d + i) })

  /** SHOW LSM / INDEXGAP: empty on an idle engine (show_test.go:419-431). */
  def showLsm(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(s("TABLE_NAME"), s("INDEX_NAME"), l("LEVEL"),
      l("COUNT"))), Nil)

  def showIndexGap(spark: SparkSession): DataFrame =
    df(spark, StructType(Seq(l("INDEX_ID"), s("TABLE_NAME"), s("INDEX_NAME"),
      l("GAP"))), Nil)

  /** SHOW TAGINDEXGAP: one IDLE row per tag table; DISK_GAP counts the
    * not-yet-flushed appends (≥1 right after an insert —
    * show_test.go:432-443). */
  def showTagIndexGap(spark: SparkSession): DataFrame = {
    val rows = TagTables.allVisibleTables.collect {
      case (name, "Tag", _) =>
        val nu = name.toUpperCase
        val pending = math.max(1L, TagTables.unflushedCount(name))
        Row(TagTables.tableIdOf(name), s"_${nu}_DATA_0", "IDLE[0/0]", pending, 0L)
    }
    df(spark, StructType(Seq(l("TABLE_ID"), s("TABLE_NAME"), s("STATUS"),
      l("DISK_GAP"), l("MEMORY_GAP"))), rows)
  }

  /** SHOW ROLLUPGAP: machbase's hierarchical rollups — SEC rolls from the
    * data part, MIN from SEC, HOUR from MIN (show_test.go:444-453). */
  def showRollupGap(spark: SparkSession): DataFrame = {
    val now = System.currentTimeMillis()
    val rows = TagTables.allVisibleTables.collect {
      case (name, "Tag", true) =>
        val nu = name.toUpperCase
        val rid = TagTables.rowCount(name)
        Seq("SEC" -> s"_${nu}_DATA_0", "MIN" -> s"_${nu}_ROLLUP_SEC",
          "HOUR" -> s"_${nu}_ROLLUP_MIN").map { case (unit, src) =>
          Row("SYS", s"_${nu}_ROLLUP_$unit", src, s"_${nu}_ROLLUP_$unit",
            rid, rid, 0L, "WAITING", 0L,
            new java.sql.Timestamp(now), new java.sql.Timestamp(now + 1000L))
        }
    }.flatten
    df(spark, StructType(Seq(s("USER_NAME"), s("ROLLUP_NAME"), s("SRC_TABLE"),
      s("ROLLUP_TABLE"), l("SRC_END_RID"), l("ROLLUP_END_RID"), l("GAP"),
      s("RUN_STATE"), l("LAST_ELAPSED_MSEC"),
      StructField("LAST_WAKEUP_TIME", TimestampType),
      StructField("NEXT_WAKEUP_TIME", TimestampType))), rows)
  }

  // ---- M$/V$ tables addressable from plain SQL -----------------------
  /** Spark identifiers can't contain `$`; QueryDoor rewrites `M$X`/`V$X`
    * tokens to these view names before spark.sql. */
  def sysViewName(sysName: String): String =
    "sys_" + sysName.toLowerCase.replace("$", "_")

  /** Registers (or refreshes) the temp view behind one system table.
    * Returns false for unknown names (caller leaves the SQL untouched). */
  def ensureSysTable(spark: SparkSession, sysName: String): Boolean = {
    val view = sysViewName(sysName)
    val data: Option[DataFrame] = sysName.toUpperCase match {
      case "M$TABLES" => Some(showMetaTables(spark))
      case "V$TABLES" => Some(showVirtualTables(spark))
      case "M$SYS_USERS" => Some(showUsers(spark))
      case "M$SYS_INDEXES" =>
        // raw index catalog behind spi/show.go:600-650's listIndexesSql:
        // NAME + int TYPE (5/8→REDBLACK, 6→LSM) are what
        // spi/sql_test.go TestMultiUserSessionIndexBehavior scans
        Some(df(spark, StructType(Seq(s("NAME"), l("ID"), l("TYPE"),
          l("KEY_COMPRESS"), l("MAX_LEVEL"), l("PART_VALUE_COUNT"),
          l("BITMAP_ENCODE"), l("TABLE_ID"))),
          indexRows.map { r =>
            val typeInt = r.getString(6) match {
              case "REDBLACK" => 8L
              case "LSM" => 6L
              case "KEYWORD" => 2L
              case "BITMAP" => 1L
              case "TAG" => 11L
              case _ => 6L
            }
            Row(r.getString(5), r.getLong(0), typeInt, 0L, r.getLong(8),
              r.getLong(9), 0L, 0L)
          }))
      case "V$SESSION" => Some(showSessions(spark))
      case "V$NEO_SESSION" => Some(df(spark,
        StructType(Seq(l("ID"), l("USER_ID"), s("USER_NAME"))), Nil))
      case "V$STMT" => Some(showStatements(spark))
      case "V$STORAGE_MOUNT_DATABASES" =>
        // the mount registry behind the backup door — the same relation
        // backupd scans for /backup/mounts and the archives isMount flag
        // (mods/backup/backupd.go:469-517, 265-360)
        def iso(ns: Option[Long]) = ns.map(n => java.time.Instant
          .ofEpochSecond(n / 1000000000L, n % 1000000000L).toString)
          .getOrElse("")
        Some(df(spark, StructType(Seq(
          s("NAME"), s("PATH"), l("BACKUP_TBSID"), l("BACKUP_SCN"),
          s("MOUNTDB"), s("DB_BEGIN_TIME"), s("DB_END_TIME"),
          s("BACKUP_BEGIN_TIME"), s("BACKUP_END_TIME"),
          StructField("FLAG", IntegerType))),
          Backup.mounts.map(m => Row(m.name, m.path, 0L, 0L,
            m.name.toUpperCase, iso(m.dbBeginNs), iso(m.dbEndNs),
            iso(Some(m.backupBeginNs).filter(_ > 0)),
            iso(Some(m.backupEndNs).filter(_ > 0)), 0))))
      case statName if statName.endsWith("_STAT") && statName.startsWith("V$") =>
        // V$<T>_STAT — per-tag statistics of tag table T, addressable
        // from plain SQL (http_query_test.go queries
        // v$EXAMPLE_stat min/max times)
        val t = statName.stripPrefix("V$").stripSuffix("_STAT").toLowerCase
        if (TagTables.typeOf(t) == "Tag") {
          import org.apache.spark.sql.functions.{col, expr}
          // time columns surface as real timestamps so aggregates over
          // the view keep the datetime type (the engine types them
          // datetime; min()/max() drop column metadata otherwise)
          def ts(c: String) =
            // `div`, not `/`: double division loses ns precision at 1e18
            expr(s"timestamp_micros($c div 1000)").as(c)
          Some(QueryDoor.showCommand(spark, s"show tags $t").select(
            col("NAME"), col("ROW_COUNT"), ts("MIN_TIME"), ts("MAX_TIME"),
            col("MIN_VALUE"), ts("MIN_VALUE_TIME"),
            col("MAX_VALUE"), ts("MAX_VALUE_TIME"), ts("RECENT_ROW_TIME")))
        } else None
      case _ => None
    }
    data.foreach(_.createOrReplaceTempView(view))
    data.isDefined
  }

  private val SysNameRe = "(?i)[MV]\\$\\w+".r

  /** Rewrite `M$…`/`V$…` identifiers in a SELECT to their registered
    * views; unknown names pass through (Spark will raise not-found). */
  def rewriteSysNames(spark: SparkSession, sql: String): String =
    SysNameRe.replaceAllIn(sql, m => {
      if (ensureSysTable(spark, m.matched)) sysViewName(m.matched)
      else java.util.regex.Matcher.quoteReplacement(m.matched)
    })
}
