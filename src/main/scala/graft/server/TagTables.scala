package graft.server

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** In-session machbase-style tag tables for the SQL surface tests
  * (reference fixture tables `tag_data` / `tag_simple`, schema
  * spi/benchmark_test.md:5-26). Columns carry a `machtype` metadata key so
  * the wire-format encoders can print the reference's type names
  * (int16/uint16/uint32/uint64/json/ipv4/ipv6/binary) that Spark's type
  * system doesn't distinguish.
  *
  * This is the interactive DML surface (one `SQL('insert …', ?…)` sink
  * statement per record, presentation-sized); the bulk ingest path stays
  * `sinks.TableSinks` writing parquet.
  *
  * Concurrency: every mutation of a table (its buffer, base segments,
  * metadata rows, definition) and the view refresh that follows it run
  * under that table's writer lock ([[writing]]), so concurrent writers
  * never lose rows and a late refresh never registers a stale view.
  * Readers take no lock: a refresh copies the buffer into the view's
  * `LocalRelation`, so a query plans over a snapshot.
  */
object TagTables {
  private def f(name: String, dt: DataType, mach: String): StructField =
    StructField(name, dt, nullable = true,
      new MetadataBuilder().putString("machtype", mach).build())

  val tagDataSchema: StructType = StructType(Seq(
    f("NAME", StringType, "string"),
    f("TIME", TimestampType, "datetime"),
    f("VALUE", DoubleType, "double"),
    f("SHORT_VALUE", ShortType, "int16"),
    f("USHORT_VALUE", IntegerType, "uint16"),
    f("INT_VALUE", IntegerType, "int32"),
    f("UINT_VALUE", LongType, "uint32"),
    f("LONG_VALUE", LongType, "int64"),
    f("ULONG_VALUE", LongType, "uint64"),
    f("STR_VALUE", StringType, "string"),
    f("JSON_VALUE", StringType, "json"),
    f("IPV4_VALUE", StringType, "ipv4"),
    f("IPV6_VALUE", StringType, "ipv6"),
    f("BIN_VALUE", BinaryType, "binary")))

  val tagSimpleSchema: StructType = StructType(Seq(
    f("NAME", StringType, "string"),
    f("TIME", TimestampType, "datetime"),
    f("VALUE", DoubleType, "double")))

  val logDataSchema: StructType = StructType(Seq(
    f("TIME", TimestampType, "datetime"),
    f("SHORT_VALUE", ShortType, "int16"),
    f("USHORT_VALUE", IntegerType, "uint16"),
    f("INT_VALUE", IntegerType, "int32"),
    f("UINT_VALUE", LongType, "uint32"),
    f("LONG_VALUE", LongType, "int64"),
    f("ULONG_VALUE", LongType, "uint64"),
    f("DOUBLE_VALUE", DoubleType, "double"),
    f("FLOAT_VALUE", FloatType, "float"),
    f("STR_VALUE", StringType, "string"),
    f("JSON_VALUE", StringType, "json"),
    f("IPV4_VALUE", StringType, "ipv4"),
    f("IPV6_VALUE", StringType, "ipv6"),
    f("TEXT_VALUE", StringType, "text"),
    f("BIN_VALUE", BinaryType, "binary")))

  /** SHOW TABLE/DESC display row (machbase column catalog shape). */
  case class ColDesc(name: String, typ: String, len: Int, flag: String)

  /** Column descriptors exactly as the reference's catalog prints them
    * (fm_dbsrc_test.go:305-410). */
  val descriptors: Map[String, Seq[ColDesc]] = Map(
    "tag_data" -> Seq(
      ColDesc("NAME", "varchar", 100, "tag name"),
      ColDesc("TIME", "datetime", 31, "base time"),
      ColDesc("VALUE", "double", 17, "summarized"),
      ColDesc("SHORT_VALUE", "short", 6, ""),
      ColDesc("USHORT_VALUE", "ushort", 5, ""),
      ColDesc("INT_VALUE", "integer", 11, ""),
      ColDesc("UINT_VALUE", "uinteger", 10, ""),
      ColDesc("LONG_VALUE", "long", 20, ""),
      ColDesc("ULONG_VALUE", "ulong", 20, ""),
      ColDesc("STR_VALUE", "varchar", 400, ""),
      ColDesc("JSON_VALUE", "json", 32767, ""),
      ColDesc("IPV4_VALUE", "ipv4", 15, ""),
      ColDesc("IPV6_VALUE", "ipv6", 45, ""),
      ColDesc("BIN_VALUE", "binary", 32767, "")),
    "tag_simple" -> Seq(
      ColDesc("NAME", "varchar", 100, "tag name"),
      ColDesc("TIME", "datetime", 31, "base time"),
      // NOT summarized: the testsuite fixture (testsuite.go:117-121)
      // declares plain `value double` — which is why SHOW TAGS value
      // stats stay NULL for tag_simple but appear for tag_data
      ColDesc("VALUE", "double", 17, "")),
    "log_data" -> Seq(
      ColDesc("TIME", "datetime", 31, ""),
      ColDesc("SHORT_VALUE", "short", 6, ""),
      ColDesc("USHORT_VALUE", "ushort", 5, ""),
      ColDesc("INT_VALUE", "integer", 11, ""),
      ColDesc("UINT_VALUE", "uinteger", 10, ""),
      ColDesc("LONG_VALUE", "long", 20, ""),
      ColDesc("ULONG_VALUE", "ulong", 20, ""),
      ColDesc("DOUBLE_VALUE", "double", 17, ""),
      ColDesc("FLOAT_VALUE", "float", 17, ""),
      ColDesc("STR_VALUE", "varchar", 400, ""),
      ColDesc("JSON_VALUE", "json", 32767, ""),
      ColDesc("IPV4_VALUE", "ipv4", 15, ""),
      ColDesc("IPV6_VALUE", "ipv6", 45, ""),
      ColDesc("TEXT_VALUE", "text", 67108864, ""),
      ColDesc("BIN_VALUE", "binary", 67108864, "")))

  /** machbase table class per fixture table. */
  val tableTypes: Map[String, String] =
    Map("log_data" -> "Log", "tag_data" -> "Tag", "tag_simple" -> "Tag")

  private val rows = TrieMap.empty[String, ArrayBuffer[Row]]
  private val writeLocks = TrieMap.empty[String, AnyRef]

  /** Run `body` under `table`'s writer lock (one reentrant monitor per
    * lower-cased table name). */
  private def writing[A](table: String)(body: => A): A =
    writeLocks.getOrElseUpdate(table.toLowerCase, new AnyRef).synchronized(body)

  /** Distributed base segments per table: parquet directories unioned
    * under the in-memory buffer at view refresh — the landing zone for
    * bulk restores too big to ride the driver (Backup.restore above its
    * collect guard). The buffer stays the interactive DML tail; segments
    * are append-only and rewritten only by DELETE (copy-on-write, the
    * usual compaction cost model). Keyed classes (Volatile/Lookup) never
    * get segments — their upsert path scans the buffer by definition. */
  private val baseSegs = TrieMap.empty[String, Vector[String]]
  /** row count per table's base segments (kept driver-side so catalog
    * surfaces like rowCount don't need a Spark action) */
  private val baseRows = TrieMap.empty[String, Long]
  private val segCounter = new java.util.concurrent.atomic.AtomicLong()
  private lazy val segRoot: String = graft.core.TempDirs.forJvm("graft_tag_segs")
  /** user-created tag tables (`create tag table …` DDL) */
  private val dynamicSchemas = TrieMap.empty[String, StructType]
  private val dynamicDescs = TrieMap.empty[String, Seq[ColDesc]]
  /** dynamic table bookkeeping for the catalog surface (SHOW …):
    * creation order fixes table IDs, `with rollup` fixes shadow tables. */
  @volatile private var dynamicOrder = Vector.empty[String]
  private def reorder(f: Vector[String] => Vector[String]): Unit =
    synchronized { dynamicOrder = f(dynamicOrder) }
  private val dynamicTypes = TrieMap.empty[String, String] // Tag | Log
  private val rollupEnabled = TrieMap.empty[String, Boolean]
  /** row count at the last `EXEC table_flush(t)`. V$*_STAT value
    * statistics need BOTH a flush and a `summarized` value column:
    * tag_simple (plain `value double`, testsuite.go:117-121) shows NULL
    * stats even after flush (tql_test.go:319-330) while tag_data /
    * RS_DATA (`summarized`) show min/max after flush
    * (fm_dbsrc_test.go:569-592, show_test.go:454-463). */
  private val flushMark = TrieMap.empty[String, Int]

  /** injectable arrival clock (epoch ns) for log-table `_ARRIVAL_TIME`
    * stamping — tests pin it like the reference pins its clock. */
  @volatile var arrivalClock: () => Long = () => System.currentTimeMillis() * 1000000L

  def descriptorFor(table: String): Option[Seq[ColDesc]] =
    descriptors.get(table.toLowerCase).orElse(dynamicDescs.get(table.toLowerCase))
      .orElse(metaDescriptors.get(table.toUpperCase))

  /** SHOW TABLE M$SYS_TABLES — the engine meta tables are themselves
    * describable (show_test.go:358-371). */
  val metaDescriptors: Map[String, Seq[ColDesc]] = Map(
    "M$SYS_TABLES" -> Seq(
      ColDesc("NAME", "varchar", 100, ""),
      ColDesc("TYPE", "integer", 11, ""),
      ColDesc("DATABASE_ID", "long", 20, ""),
      ColDesc("ID", "long", 20, ""),
      ColDesc("USER_ID", "integer", 11, ""),
      ColDesc("COLCOUNT", "integer", 11, ""),
      ColDesc("FLAG", "integer", 11, "")))

  // ---- catalog accessors (server.Catalog) ----------------------------
  def typeOf(table: String): String = {
    val t = table.toLowerCase
    tableTypes.getOrElse(t, dynamicTypes.getOrElse(t, "Tag"))
  }

  def isLogTable(table: String): Boolean = typeOf(table) == "Log"

  /** all machbase-visible tables: (name, type, hasRollup) — fixtures
    * first (static IDs), then dynamic in creation order. */
  def allVisibleTables: Seq[(String, String, Boolean)] =
    tableTypes.toSeq.sortBy(_._1).map { case (t, typ) => (t, typ, false) } ++
      dynamicOrder.map(t =>
        (t, dynamicTypes.getOrElse(t, "Tag"), rollupEnabled.getOrElse(t, false)))

  def allTagTables: Seq[String] =
    allVisibleTables.collect { case (t, "Tag", _) => t }

  def dynamicTagTables: Seq[String] =
    dynamicOrder.filter(t => dynamicTypes.getOrElse(t, "Tag") == "Tag")

  def hasRollup(table: String): Boolean =
    rollupEnabled.getOrElse(table.toLowerCase, false)

  /** fixture tables keep the reference server's observed IDs (18+);
    * dynamic tables mimic a fresh engine: first user table is 11
    * (show_test.go:318 pins RS_DATA=11). */
  def tableIdOf(table: String): Long = {
    val t = table.toLowerCase
    val fixtures = tableTypes.keys.toSeq.sorted
    val fi = fixtures.indexOf(t)
    if (fi >= 0) 18L + fi
    else {
      val di = dynamicOrder.indexOf(t)
      if (di >= 0) 11L + di else 0L
    }
  }

  def rowCount(table: String): Long = {
    val t = table.toLowerCase
    rows.get(t).map(_.size.toLong).getOrElse(0L) + baseRows.getOrElse(t, 0L)
  }

  def unflushedCount(table: String): Long = {
    val t = table.toLowerCase
    // base segments are on-disk by construction — only the interactive
    // buffer can hold unflushed rows
    rows.get(t).map(_.size.toLong).getOrElse(0L) - flushMark.getOrElse(t, 0)
  }

  /** EXEC table_flush(t): folds buffered appends into the stat views. */
  def markFlushed(table: String): Unit = {
    val t = table.toLowerCase
    flushMark.put(t, rows.get(t).map(_.size).getOrElse(0))
  }

  def isFlushed(table: String): Boolean =
    flushMark.getOrElse(table.toLowerCase, 0) > 0

  /** value statistics exist only for a `summarized` value column. */
  def valueSummarized(table: String): Boolean =
    descriptorFor(table).exists(_.exists(c =>
      c.name.equalsIgnoreCase("VALUE") && c.flag == "summarized"))

  /** test seam: forget all dynamic tables and flush marks (a fresh
    * engine), keeping the fixture tables. */
  def resetDynamicForTest(spark: SparkSession): Unit = {
    dynamicOrder.foreach(t => dropTable(spark, t))
    flushMark.clear()
  }

  /** DROP [TAG|LOG] TABLE t [CASCADE] — dynamic tables only. */
  def dropTable(spark: SparkSession, table: String): Unit = writing(table) {
    val t = table.toLowerCase
    dynamicSchemas.remove(t); dynamicDescs.remove(t)
    dynamicTypes.remove(t); rollupEnabled.remove(t); flushMark.remove(t)
    reorder(_.filterNot(_ == t))
    rows.remove(t)
    dropBase(t)
    try spark.catalog.dropTempView(t) catch { case NonFatal(_) => }
    try spark.catalog.dropTempView(arrivalViewName(t)) catch { case NonFatal(_) => }
    dynamicMetaDescs.remove(t)
    metaRows.remove(t)
    // declared-metadata AND derived dictionaries both drop with the owner
    try spark.catalog.dropTempView(metaViewName(t)) catch { case NonFatal(_) => }
  }

  private def schemaFor(table: String): StructType = table.toLowerCase match {
    case "tag_simple" => tagSimpleSchema
    case "log_data" => logDataSchema
    case t if dynamicSchemas.contains(t) => dynamicSchemas(t)
    case _ => tagDataSchema
  }

  /** `CREATE TAG TABLE t (name varchar(40) primary key, time datetime
    * basetime, value binary, …)` — the DDL the reference's test fixtures
    * issue through `$.db().exec` (tql_test.go:756-775). */
  def createTagTable(spark: SparkSession, sql: String): Unit = {
    // head regex stops at the first '(' — the column body and an optional
    // METADATA(...) clause are carved out by balanced-paren walks so the
    // machbase trailing options (TAG_DUPLICATE_CHECK_DURATION=1,
    // tag_partition_count=…, WITH ROLLUP) never corrupt the column list
    // (machsvr_test.go testCreateTables/testInsertMeta)
    val head = ("(?is)^create\\s+(?:(tag|log|volatile|lookup)\\s+)?table\\s+" +
      "(?:if\\s+not\\s+exists\\s+)?(\\w+)\\s*\\(").r
    /** index of the ')' matching the '(' at `open`. */
    def matching(s: String, open: Int): Int = {
      var depth = 0; var i = open
      while (i < s.length) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return i
          case _ =>
        }
        i += 1
      }
      throw new IllegalArgumentException(s"unsupported DDL: $sql")
    }
    val trimmed = sql.trim.stripSuffix(";")
    head.findFirstMatchIn(trimmed) match {
      case Some(m) =>
        // a bare CREATE TABLE defaults to a LOG table (machbase semantics)
        val kind = Option(m.group(1)).getOrElse("log")
        val name = m.group(2)
        val openIdx = m.end - 1
        val closeIdx = matching(trimmed, openIdx)
        val body = trimmed.substring(openIdx + 1, closeIdx)
        var tail = trimmed.substring(closeIdx + 1).trim
        // optional METADATA( … ) clause: extra per-tag columns stored in
        // the _T_META side table (machsvr_test.go testInsertMeta)
        val metaRe = "(?is)^metadata\\s*\\(".r
        val metaBody = metaRe.findFirstMatchIn(tail).map { mm =>
          val o = mm.end - 1
          val c = matching(tail, o)
          val b = tail.substring(o + 1, c)
          tail = tail.substring(c + 1).trim
          b
        }
        val options = if (tail.isEmpty) null else tail
        createParsed(spark, kind, name, body, metaBody, options)
      case None => throw new IllegalArgumentException(s"unsupported DDL: $sql")
    }
  }

  private def createParsed(spark: SparkSession, kind: String, name: String,
                           body: String, metaBody: Option[String],
                           options: String): Unit = writing(name) {
        val kindLower = kind.toLowerCase
        val cols = body.split(",").map(_.trim).filter(_.nonEmpty).map { defn =>
          val parts = defn.split("\\s+")
          val colName = parts(0).toUpperCase
          val typeTok = parts(1).toLowerCase
          val lenRe = "(\\w+)\\((\\d+)\\)".r
          val (typ0, len0) = typeTok match {
            case lenRe(t, l) => (t, Some(l.toInt))
            case t => (t, None)
          }
          // machbase type aliases (int/uint — http_test.go:1460-1467 DDL)
          val typ = typ0 match {
            case "int" => "integer"
            case "uint" => "uinteger"
            case t => t
          }
          val len = len0.getOrElse(defaultLen(typ))
          (colName, typ, len, flagOf(defn, kindLower))
        }
        val schema = StructType(cols.map { case (n, t, _, _) =>
          f(n, sparkTypeOf(t), machTypeOf(t))
        }.toSeq)
        val t = name.toLowerCase
        dynamicSchemas.put(t, schema)
        dynamicDescs.put(t, cols.map { case (n, typ, len, flag) =>
          ColDesc(n, typ, len, flag)
        }.toSeq)
        dynamicTypes.put(t, kindLower match {
          case "log" => "Log"
          case "volatile" => "Volatile"
          case "lookup" => "Lookup"
          case _ => "Tag"
        })
        rollupEnabled.put(t,
          Option(options).exists(_.toLowerCase.contains("rollup")))
        reorder(o => if (o.contains(t)) o else o :+ t)
        rows.put(t, ArrayBuffer.empty[Row])
        // METADATA(...) columns live in the _T_META side table keyed by
        // tag name with a 1-based _ID in insert order
        metaBody.foreach { mb =>
          val metaCols = mb.split(",").map(_.trim).filter(_.nonEmpty).map { defn =>
            val parts = defn.split("\\s+")
            val colName = parts(0).toUpperCase
            val lenRe = "(\\w+)\\((\\d+)\\)".r
            val (typ, len) = parts(1).toLowerCase match {
              case lenRe(tt, l) => (tt, l.toInt)
              case tt => (tt, defaultLen(tt))
            }
            ColDesc(colName, typ, len, "tag metadata")
          }.toSeq
          dynamicMetaDescs.put(t, metaCols)
          metaRows.put(t, ArrayBuffer.empty[Row])
        }
        refresh(spark, t)
        if (metaBody.isDefined) refreshMeta(spark, t)
  }

  // ---- tag metadata (_T_META, machsvr_test.go testInsertMeta) ----------
  private val dynamicMetaDescs = TrieMap.empty[String, Seq[ColDesc]]
  private val metaRows = TrieMap.empty[String, ArrayBuffer[Row]]

  private def metaViewName(t: String): String = s"_${t.toUpperCase}_META"

  private def metaSchema(t: String): StructType = {
    val pkLen = descriptorFor(t).flatMap(_.headOption).map(_.len).getOrElse(100)
    StructType(
      f("_ID", org.apache.spark.sql.types.LongType, "long") +:
      f("NAME", org.apache.spark.sql.types.StringType, s"varchar($pkLen)") +:
      dynamicMetaDescs.getOrElse(t, Seq.empty).map(c =>
        f(c.name, sparkTypeOf(c.typ), machTypeOf(c.typ))) :+
      f("_LAST_UPDATE_TIME", org.apache.spark.sql.types.TimestampType, "datetime"))
  }

  private def refreshMeta(spark: SparkSession, t: String): Unit = {
    val data = metaRows.getOrElse(t, ArrayBuffer.empty[Row])
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(data.toSeq).asJava),
      metaSchema(t)).createOrReplaceTempView(metaViewName(t))
  }

  /** `INSERT INTO t METADATA(name, …) VALUES(…)` — appends one _T_META
    * row; _ID is assigned in insert order starting at 1
    * (machsvr_test.go testInsertMeta: _id "1"/"2"). */
  def insertMeta(spark: SparkSession, table: String, columns: Seq[String],
                 values: Seq[Any]): Unit = writing(table) {
    val t = table.toLowerCase
    val descs = dynamicMetaDescs.getOrElse(t,
      throw new IllegalArgumentException(s"table '$table' has no metadata columns"))
    if (columns.size != values.size)
      throw new IllegalArgumentException("number of columns not matched")
    val byName = columns.map(_.toUpperCase).zip(values).toMap
    val buf = metaRows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    val schema = metaSchema(t)
    val cells: Seq[Any] =
      java.lang.Long.valueOf(buf.size + 1L) +:
      byName.getOrElse("NAME", null) +:
      descs.map(c => coerceCell(byName.getOrElse(c.name, null),
        schema(c.name).dataType)) :+
      (null: Any)
    buf += new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      cells.toArray, schema)
    refreshMeta(spark, t)
  }

  private def coerceCell(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, org.apache.spark.sql.types.StringType) => s
    case (n: Number, org.apache.spark.sql.types.LongType) => java.lang.Long.valueOf(n.longValue())
    case (n: Number, org.apache.spark.sql.types.IntegerType) => java.lang.Integer.valueOf(n.intValue())
    case (n: Number, org.apache.spark.sql.types.DoubleType) => java.lang.Double.valueOf(n.doubleValue())
    case (x, _) => x
  }

  private def flagOf(defn: String, kind: String = "tag"): String = {
    val d = defn.toLowerCase
    if (d.contains("primary key"))
      (if (kind == "volatile" || kind == "lookup") "primary key" else "tag name")
    else if (d.contains("basetime")) "base time"
    else if (d.contains("summarized")) "summarized"
    else ""
  }

  // ---- volatile / lookup table classes (spi/do.go:197-207) -------------
  // Memory-resident side tables with a PRIMARY KEY: plain INSERT rejects
  // a duplicate key; `INSERT … ON DUPLICATE KEY UPDATE [SET …]` upserts;
  // UPDATE/DELETE address rows by the key. They are enrichment dims —
  // at scale the join side is broadcast (they are bounded by definition;
  // Spark's AQE broadcasts them automatically from size stats).

  /** Whether this table class enforces an upsert primary key. */
  def isKeyedClass(table: String): Boolean = {
    val t = typeOf(table)
    t == "Volatile" || t == "Lookup"
  }

  def primaryKeyOf(table: String): Option[String] =
    descriptorFor(table).flatMap(_.find(_.flag == "primary key")).map(_.name)

  private def pkIndex(t: String): Int = {
    val pk = primaryKeyOf(t).getOrElse(
      throw new IllegalArgumentException(s"table '$t' has no primary key"))
    storageSchemaFor(t).fieldIndex(pk)
  }

  /** Upsert one row: replace the row whose primary key matches (columns
    * from `setCols` when given — the `… UPDATE SET a=1` form — else all
    * inserted columns), append otherwise. Returns true when it updated. */
  def upsert(spark: SparkSession, table: String, columns: Seq[String],
             values: Seq[Any],
             setCols: Option[Seq[(String, Any)]] = None): Boolean = writing(table) {
    val t = table.toLowerCase
    ensure(spark, t)
    val buf = rows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    val fresh = buildRow(t, columns, values)
    val ki = pkIndex(t)
    val at = buf.indexWhere(_.get(ki) == fresh.get(ki))
    if (at < 0) { buf += fresh; refresh(spark, t); false }
    else {
      val schema = storageSchemaFor(t)
      val updates: Seq[(String, Any)] = setCols.getOrElse(
        columns.filterNot(_.equalsIgnoreCase(primaryKeyOf(t).get))
          .map(c => c -> values(columns.indexOf(c))))
      val old = buf(at)
      buf(at) = Row.fromSeq(schema.fields.indices.map { i =>
        updates.find(_._1.equalsIgnoreCase(schema.fields(i).name)) match {
          case Some((_, v)) => coerce(v, schema.fields(i).dataType)
          case None => old.get(i)
        }
      })
      refresh(spark, t)
      true
    }
  }

  /** UPDATE <t> SET … WHERE <pk> = v for keyed classes. The engine only
    * allows addressing by the primary key. Returns rows updated (0/1). */
  def updateByKey(spark: SparkSession, table: String,
                  sets: Seq[(String, Any)], whereCol: String,
                  key: Any): Long = writing(table) {
    val t = table.toLowerCase
    val pk = primaryKeyOf(t).getOrElse(
      throw new IllegalArgumentException(s"table '$t' has no primary key"))
    if (!whereCol.equalsIgnoreCase(pk))
      throw new IllegalArgumentException(
        "UPDATE query must have the primary key in its WHERE clause")
    ensure(spark, t)
    val buf = rows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    val schema = storageSchemaFor(t)
    val ki = schema.fieldIndex(pk)
    val kv = coerce(key, schema.fields(ki).dataType)
    val at = buf.indexWhere(_.get(ki) == kv)
    if (at < 0) 0L
    else {
      val old = buf(at)
      buf(at) = Row.fromSeq(schema.fields.indices.map { i =>
        sets.find(_._1.equalsIgnoreCase(schema.fields(i).name)) match {
          case Some((_, v)) => coerce(v, schema.fields(i).dataType)
          case None => old.get(i)
        }
      })
      refresh(spark, t)
      1L
    }
  }

  private def sparkTypeOf(t: String): DataType = t match {
    case "varchar" | "json" | "ipv4" | "ipv6" | "text" => StringType
    case "datetime" => TimestampType
    case "double" => DoubleType
    case "float" => FloatType
    case "short" => ShortType
    case "ushort" | "integer" => IntegerType
    case "uinteger" | "long" | "ulong" => LongType
    case "binary" => BinaryType
    case other => throw new IllegalArgumentException(s"unknown column type $other")
  }

  private def machTypeOf(t: String): String = t match {
    case "varchar" | "text" => "string"
    case "short" => "int16"
    case "ushort" => "uint16"
    case "integer" => "int32"
    case "uinteger" => "uint32"
    case "long" => "int64"
    case "ulong" => "uint64"
    case other => other // datetime/double/float/json/ipv4/ipv6/binary
  }

  private def defaultLen(t: String): Int = t match {
    case "datetime" => 31
    case "short" => 6
    case "ushort" => 5
    case "integer" => 11
    case "uinteger" => 10
    case "long" | "ulong" => 20
    case "double" | "float" => 17
    case "varchar" => 400
    case "json" => 32767
    case "ipv4" => 15
    case "ipv6" => 45
    case "text" => 67108864
    case "binary" => 32767
    case _ => 0
  }

  /** Log tables store a hidden leading `_ARRIVAL_TIME` (ingest stamp) the
    * way the engine does (spi/testsuite/logtable.go:77: the appender's
    * first column). The default view hides it; `<t>__arrival` exposes it
    * for SQL that names it explicitly (QueryDoor rewrites those). */
  def storageSchemaFor(table: String): StructType = {
    val t = table.toLowerCase
    val base = schemaFor(t)
    if (isLogTable(t))
      StructType(f("_ARRIVAL_TIME", TimestampType, "datetime") +: base.fields)
    else base
  }

  /** view name carrying the hidden arrival column of a log table. */
  def arrivalViewName(table: String): String = table.toLowerCase + "__arrival"

  /** Register the table as a temp view if this session hasn't yet. */
  def ensure(spark: SparkSession, table: String): Unit = {
    val t = table.toLowerCase
    if (!spark.catalog.tableExists(t)) writing(t) {
      if (!spark.catalog.tableExists(t)) {
        rows.putIfAbsent(t, ArrayBuffer.empty[Row])
        refresh(spark, t)
      }
    }
  }

  /** cast a frame's columns to the table's storage schema (shared by
    * segment reads and segment writes). */
  private def alignToStorage(t: String, df: DataFrame): DataFrame = {
    val schema = storageSchemaFor(t)
    import org.apache.spark.sql.functions.col
    df.select(schema.fields.map(fl =>
      col(fl.name).cast(fl.dataType).as(fl.name)).toSeq: _*)
  }

  /** The table's base segments as one aligned DataFrame (lazy parquet
    * scans — no action here). Columns are cast to the storage schema's
    * types; the buffer side of the union carries the machtype metadata
    * (Union output attributes come from the first child). */
  private def readBase(spark: SparkSession, t: String): Option[DataFrame] =
    baseSegs.get(t).filter(_.nonEmpty).map { segs =>
      segs.map(p => alignToStorage(t, spark.read.parquet(p)))
        .reduce(_ unionByName _)
    }

  private def refresh(spark: SparkSession, t: String): Unit = {
    val data = rows.getOrElse(t, ArrayBuffer.empty[Row])
    val bufDf = spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(data.toSeq).asJava),
      storageSchemaFor(t))
    val full = readBase(spark, t).map(bufDf.unionByName(_)).getOrElse(bufDf)
    if (isLogTable(t)) {
      // machbase log tables iterate newest-first by default (reverse
      // arrival order); the hidden column stays selectable via the
      // arrival view
      import org.apache.spark.sql.functions.col
      full.createOrReplaceTempView(arrivalViewName(t))
      full.orderBy(col("_ARRIVAL_TIME").desc)
        .drop("_ARRIVAL_TIME").createOrReplaceTempView(t)
    } else {
      full.createOrReplaceTempView(t)
      // every machbase tag table has a _T_META dictionary
      // (spi/show.go:1376-1382 lists tags from it). Without declared
      // metadata columns it derives from the data: rebuilt alongside the
      // data view (a lazily-referencing view is impossible — Spark bakes
      // the referenced plan at creation). _ID is name-ordered here (the
      // engine numbers by first insertion — documented divergence; the
      // dictionary contract is the NAME set). No job runs here.
      if (typeOf(t) == "Tag" && !dynamicMetaDescs.contains(t) &&
          dynamicSchemas.contains(t)) {
        val pk = descriptorFor(t).flatMap(_.headOption).map(_.name)
          .getOrElse("NAME")
        import org.apache.spark.sql.functions.{col => c0, row_number, lit => l0}
        import org.apache.spark.sql.expressions.Window
        full.select(c0(pk).as("NAME")).distinct()
          .select(row_number().over(Window.orderBy(c0("NAME"))).as("_ID"),
            c0("NAME"),
            l0(null).cast("timestamp").as("_LAST_UPDATE_TIME"))
          .createOrReplaceTempView(metaViewName(t))
      }
    }
  }

  /** Column-name-addressed insert; absent columns null. Values must
    * already be JVM types matching the schema (see coerce). */
  def insert(spark: SparkSession, table: String, columns: Seq[String],
             values: Seq[Any]): Unit = writing(table) {
    val t = table.toLowerCase
    ensure(spark, t)
    val fresh = buildRow(t, columns, values)
    val buf = rows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    if (isKeyedClass(t)) {
      // keyed classes reject a duplicate primary key on plain INSERT
      val ki = pkIndex(t)
      if (buf.exists(_.get(ki) == fresh.get(ki)))
        throw new IllegalArgumentException(
          s"duplicated primary key value on table '$t'")
    }
    buf += fresh
    refresh(spark, t)
  }

  /** materialize one storage row; log tables get `_ARRIVAL_TIME` stamped
    * from the arrival clock unless the caller (appender) provided it. */
  private def buildRow(t: String, columns: Seq[String], values: Seq[Any]): Row = {
    val schema = storageSchemaFor(t)
    val byName = columns.map(_.toUpperCase).zip(values).toMap
    Row.fromSeq(schema.fields.map { fld =>
      val v = byName.get(fld.name.toUpperCase)
      if (fld.name == "_ARRIVAL_TIME" && (v.isEmpty || v.contains(null)))
        coerce(java.lang.Long.valueOf(arrivalClock()), TimestampType)
      else v.map(coerce(_, fld.dataType)).orNull
    }.toSeq)
  }

  /** Column order for APPEND (the table's full schema; log tables lead
    * with `_ARRIVAL_TIME` like the engine appender —
    * spi/testsuite/logtable.go:77-96). */
  def columnsOf(table: String): Seq[String] =
    storageSchemaFor(table.toLowerCase).fieldNames.toSeq

  /** appender catalog shape: (NAME, column type, byte length, data type)
    * — the api.Column triple the reference's appender tests pin. */
  def appenderColumns(table: String): Seq[(String, String, Int, String)] = {
    val t = table.toLowerCase
    val desc = descriptorFor(t).getOrElse(Seq.empty)
    val pre =
      if (isLogTable(t)) Seq(("_ARRIVAL_TIME", "datetime", 8, "datetime"))
      else Nil
    pre ++ desc.map { c =>
      val byteLen = c.typ match {
        case "datetime" => 8
        case "short" => 2
        case "ushort" => 2
        case "integer" => 4
        case "uinteger" => 4
        case "long" | "ulong" => 8
        case "double" => 8
        case "float" => 4
        case "ipv4" => 5
        case "ipv6" => 17
        case _ => c.len // varchar/json/text/binary carry declared length
      }
      val dataType = c.typ match {
        case "varchar" | "text" => "string"
        case "short" => "int16"
        case "ushort" => "uint16"
        case "integer" => "int32"
        case "uinteger" => "uint32"
        case "long" => "int64"
        case "ulong" => "uint64"
        case other => other
      }
      (c.name, c.typ, byteLen, dataType)
    }
  }

  /** Best-effort recursive delete of a retired segment directory —
    * rewriteBase/dropBase retire whole directories; leaving them on disk
    * would leak a full copy of the base per DELETE. */
  private def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete(); ()
    }
    scala.util.Try(rec(new java.io.File(path)))
    ()
  }

  /** Rewrite a table's base segments keeping only `keep(base)`'s rows
    * (copy-on-write DELETE over the distributed base — filter + parquet
    * write, nothing on the driver). Runs BEFORE any buffer mutation in
    * its callers: a failed rewrite (bad predicate, write error) must
    * leave the whole table untouched, not half-deleted. The table view
    * is re-registered over the NEW segment before the retired
    * directories are removed, so a query planned against the old view
    * never scans deleted files. Returns rows removed. */
  private def rewriteBase(spark: SparkSession, t: String,
                          keep: DataFrame => DataFrame): Long = {
    readBase(spark, t) match {
      case None => 0L
      case Some(base) =>
        val before = baseRows.getOrElse(t, 0L)
        val old = baseSegs.getOrElse(t, Vector.empty)
        val dest = s"$segRoot/$t/seg-${segCounter.incrementAndGet()}"
        try keep(base).write.parquet(dest)
        catch { case e: Throwable => deleteDir(dest); throw e }
        // explicit schema: a DELETE that empties the base writes a
        // part-less directory, which schema inference cannot read
        val after = spark.read.schema(storageSchemaFor(t)).parquet(dest).count()
        if (after == 0L) { baseSegs.remove(t); baseRows.remove(t) }
        else { baseSegs.put(t, Vector(dest)); baseRows.put(t, after) }
        refresh(spark, t)
        old.foreach(deleteDir)
        if (after == 0L) deleteDir(dest)
        before - after
    }
  }

  private def dropBase(t: String): Long = {
    baseSegs.remove(t).foreach(_.foreach(deleteDir))
    baseRows.remove(t).getOrElse(0L)
  }

  /** Forget a table's base WITHOUT deleting the directories yet — the
    * caller re-registers the view first, then deletes (same
    * registration-before-deletion order as [[rewriteBase]]). */
  private def retireBase(t: String): (Long, Vector[String]) = {
    val dirs = baseSegs.remove(t).getOrElse(Vector.empty)
    (baseRows.remove(t).getOrElse(0L), dirs)
  }

  /** DELETE FROM t [WHERE name = 'x'] → number of rows removed. */
  def delete(spark: SparkSession, table: String, name: Option[String]): Long = writing(table) {
    val t = table.toLowerCase
    ensure(spark, t)
    val data = rows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    val before = data.size
    import org.apache.spark.sql.functions.{col, lit, not}
    // base first: it is the only step that can fail, and a failure must
    // leave the buffer untouched
    val baseRemoved = name match {
      case Some(v) =>
        // name filter only applies to tables that HAVE a name column
        // (log tables don't — a filtered delete there matches nothing)
        val nameIdx = storageSchemaFor(t).fieldNames.indexOf("NAME")
        val n = if (nameIdx >= 0) {
          val removed = rewriteBase(spark, t, _.filter(not(col("NAME") <=> lit(v))))
          data.filterInPlace(r => r.get(nameIdx) != v)
          removed
        } else 0L
        refresh(spark, t)
        n
      case None =>
        val (n, dirs) = retireBase(t)
        data.clear()
        refresh(spark, t) // re-register the emptied view BEFORE deleting
        dirs.foreach(deleteDir)
        n
    }
    (before - data.size).toLong + baseRemoved
  }

  /** DELETE … WHERE <arbitrary predicate>: evaluate the predicate with
    * Spark over the buffered rows (the reference allows e.g.
    * `time < to_date(...)` — fm_dbsink.go DELETE passthrough) and keep
    * the non-matching rows. Fixture tables are session-local and small,
    * so a driver-side replace is the right cost model here. */
  def deleteWhere(spark: SparkSession, table: String, whereSql: String): Long = writing(table) {
    val t = table.toLowerCase
    ensure(spark, t)
    val data = rows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    val before = data.size
    val schema = storageSchemaFor(t)
    val idxSchema = StructType(schema.fields :+
      StructField("__idx", LongType, nullable = false))
    val idxRows = data.toSeq.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i.toLong) }
    val df = spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(idxRows).asJava), idxSchema)
    import org.apache.spark.sql.functions.col
    // DELETE removes rows where the predicate is TRUE; NULL keeps the row
    def keepIdxOf(d: org.apache.spark.sql.DataFrame): Set[Long] =
      keepNotMatching(whereSql)(d)
        .select("__idx").collect().map(_.getLong(0)).toSet
    // machbase compares datetime columns as epoch-ns numbers (`time <
    // 1700…e18`); evaluate on an epoch-ns view first, fall back to raw
    // timestamps for date-literal predicates. The buffer probe EXECUTES
    // the predicate (collect inside keepIdxOf), so its verdict decides
    // the view ONCE — the base rewrite reuses the same choice instead of
    // probing plan construction separately, so buffer and base can never
    // evaluate under different views and a predicate that analyzes but
    // fails at execution falls back on both sides together.
    val nsProbe = scala.util.Try(keepIdxOf(toNsView(schema, df)))
    val useNsView = nsProbe.isSuccess
    val keepIdx = nsProbe.getOrElse(keepIdxOf(df))
    // base first (the only step that can fail — a bad rewrite must leave
    // the buffer untouched): the same predicate evaluated distributedly.
    // The ns-view transform is invertible on the base (parquet is
    // µs-granular already), so filter the transformed frame and convert
    // back — no driver round-trip, no index join.
    val baseRemoved = rewriteBase(spark, t, { base =>
      if (useNsView)
        fromNsView(schema, keepNotMatching(whereSql)(toNsView(schema, base)))
          .select(schema.fieldNames.map(col).toSeq: _*)
      else keepNotMatching(whereSql)(base)
    })
    val kept = data.zipWithIndex.collect { case (r, i) if keepIdx(i.toLong) => r }
    data.clear()
    data ++= kept
    refresh(spark, t)
    (before - data.size).toLong + baseRemoved
  }

  /** rows NOT matching a DELETE predicate (NULL keeps the row). */
  private def keepNotMatching(whereSql: String)(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    d.filter(!coalesce(expr(whereSql).cast("boolean"), lit(false)))
  }

  /** timestamp columns as epoch-ns longs (machbase numeric-datetime
    * predicate evaluation), and the exact inverse. */
  private def toNsView(schema: StructType, d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    schema.fields.foldLeft(d) { (acc, fld) =>
      if (fld.dataType == TimestampType)
        acc.withColumn(fld.name, unix_micros(col(fld.name)) * 1000L)
      else acc
    }
  }

  private def fromNsView(schema: StructType, d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    schema.fields.foldLeft(d) { (acc, fld) =>
      if (fld.dataType == TimestampType)
        acc.withColumn(fld.name, timestamp_micros(expr(s"`${fld.name}` div 1000")))
      else acc
    }
  }

  /** Bulk insert: one view refresh for the whole batch (the statement
    * sinks loop per record — per-row refresh would be O(n^2)). The rows
    * are built before the writer lock is taken: a sink's iterator runs
    * Spark jobs, which must not hold up the table's other writers. */
  def insertAll(spark: SparkSession, table: String, columns: Seq[String],
                valueRows: Iterator[Seq[Any]]): Long = {
    val t = table.toLowerCase
    val fresh = valueRows.map(buildRow(t, columns, _)).toVector
    writing(t) {
      ensure(spark, t)
      rows.getOrElseUpdate(t, ArrayBuffer.empty[Row]) ++= fresh
      refresh(spark, t)
    }
    fresh.size.toLong
  }

  /** Re-register a table from an archived descriptor (Backup.restore):
    * the defineTable half of createTagTable without re-parsing DDL. */
  def defineTable(spark: SparkSession, name: String, kind: String,
                  descs: Seq[ColDesc], rollup: Boolean): Unit = writing(name) {
    val t = name.toLowerCase
    dynamicSchemas.put(t, StructType(descs.map(d =>
      f(d.name, sparkTypeOf(d.typ), machTypeOf(d.typ)))))
    dynamicDescs.put(t, descs)
    dynamicTypes.put(t, kind)
    rollupEnabled.put(t, rollup)
    reorder(o => if (o.contains(t)) o else o :+ t)
    rows.putIfAbsent(t, ArrayBuffer.empty[Row])
    refresh(spark, t)
  }

  /** Append already-typed storage rows (Backup.restore replaying an
    * archive) — rows must match [[storageSchemaFor]] positionally; log
    * tables keep the supplied order as arrival order. */
  def restoreRows(spark: SparkSession, table: String, data: Seq[Row]): Long = writing(table) {
    val t = table.toLowerCase
    ensure(spark, t)
    val buf = rows.getOrElseUpdate(t, ArrayBuffer.empty[Row])
    buf ++= data
    refresh(spark, t)
    data.size.toLong
  }

  /** Append a DISTRIBUTED base segment (Backup.restore above its collect
    * guard): the frame is aligned to the storage schema and rewritten to
    * a private parquet segment — a straight executor-parallel copy, so
    * the archive directory can be deleted afterwards and nothing but the
    * manifest ever rides the driver. Log tables keep `_ARRIVAL_TIME`
    * from the archive (the default view orders on it, so replay order is
    * inherent, not a write-order property). Keyed classes are excluded:
    * their upsert/PK machinery scans the in-memory buffer. */
  def restoreSegment(spark: SparkSession, table: String, df: DataFrame): Long = writing(table) {
    val t = table.toLowerCase
    require(!isKeyedClass(t),
      s"table '$t' is a keyed class; restore it through restoreRows")
    ensure(spark, t)
    val dest = s"$segRoot/$t/seg-${segCounter.incrementAndGet()}"
    try alignToStorage(t, df).write.parquet(dest)
    catch { case e: Throwable => deleteDir(dest); throw e }
    // explicit schema: an empty frame writes a part-less directory that
    // schema inference cannot read back (manifest rows can overshoot the
    // filtered data) — count it readably and drop the no-op segment
    val n = spark.read.schema(storageSchemaFor(t)).parquet(dest).count()
    if (n == 0L) { deleteDir(dest); return 0L }
    baseSegs.updateWith(t)(prev => Some(prev.getOrElse(Vector.empty) :+ dest))
    baseRows.put(t, baseRows.getOrElse(t, 0L) + n)
    refresh(spark, t)
    n
  }

  def dropAll(spark: SparkSession): Unit =
    (rows.keySet ++ baseSegs.keySet).foreach(t => writing(t) {
      if (rows.remove(t).isDefined) {
        spark.catalog.dropTempView(t)
        // log tables also registered an arrival view in refresh()
        try spark.catalog.dropTempView(arrivalViewName(t)) catch { case NonFatal(_) => }
      }
      dropBase(t)
    })

  private[server] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: graft.script.Interp.JsDate, TimestampType) =>
      new java.sql.Timestamp(d.ms.toLong)
    case (t: java.sql.Timestamp, TimestampType) => t
    case (n: java.lang.Number, TimestampType) =>
      // epoch-ns convention for numeric datetimes; keep sub-ms precision
      // (Spark stores µs — enough for the ns-granular goldens)
      val ns = n.longValue()
      val ts = new java.sql.Timestamp(Math.floorDiv(ns, 1000000L))
      ts.setNanos(Math.floorMod(ns, 1000000000L).toInt)
      ts
    case (n: java.lang.Number, DoubleType) => java.lang.Double.valueOf(n.doubleValue())
    case (n: java.lang.Number, FloatType) => java.lang.Float.valueOf(n.floatValue())
    case (n: java.lang.Number, LongType) => java.lang.Long.valueOf(n.longValue())
    case (n: java.lang.Number, IntegerType) => java.lang.Integer.valueOf(n.intValue())
    case (n: java.lang.Number, ShortType) => java.lang.Short.valueOf(n.shortValue())
    case (s: String, StringType) => s
    case (s: String, TimestampType) =>
      // machbase datetime literal 'yyyy-MM-dd HH:mm:ss[.fff]' (local tz)
      try java.sql.Timestamp.valueOf(s)
      catch { case _: IllegalArgumentException =>
        java.sql.Timestamp.from(java.time.Instant.parse(s)) }
    case (n: java.lang.Number, _: DecimalType) =>
      new java.math.BigDecimal(n.toString)
    // string cells bound to numeric columns parse EAGERLY — the engine
    // appender rejects the row at bind time, not lazily at scan
    // (http_write_test.go TestHandleFileWriteErrors "insert failure
    // removes just-written file": metadata JSON into an integer column)
    case (s: String, IntegerType) =>
      java.lang.Integer.valueOf(rangeChecked(intStr(s, "int32"), s,
        Int.MinValue, Int.MaxValue, "int32").toInt)
    case (s: String, LongType) => java.lang.Long.valueOf(intStr(s, "int64"))
    case (s: String, ShortType) =>
      java.lang.Short.valueOf(rangeChecked(intStr(s, "int16"), s,
        Short.MinValue, Short.MaxValue, "int16").toShort)
    case (s: String, DoubleType) => java.lang.Double.valueOf(numStr(s, "double").doubleValue())
    case (s: String, FloatType) => java.lang.Float.valueOf(numStr(s, "float").floatValue())
    case (b: Array[Byte], BinaryType) => b
    case (s: String, BinaryType) if s.startsWith("0x") || s.startsWith("0X") =>
      // hex-literal binary ('0x0102…', tql_test.go insert-binary)
      s.drop(2).grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    case (s: String, BinaryType) => s.getBytes("UTF-8")
    case (a: ArrayBuffer[_], BinaryType) =>
      a.map(x => graft.script.Interp.toNum(x).toByte).toArray
    case (other, StringType) => graft.script.Interp.display(other)
    case (other, _) => other
  }

  private def numStr(s: String, kind: String): java.lang.Double =
    try java.lang.Double.valueOf(s.trim)
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"incompatible conv '$s' (string) to $kind")
    }

  /** integral targets parse exactly (an epoch-ns string above 2^53 must
    * not round through double — util.ToInt64's ParseInt-first policy);
    * the float form stays a fallback like the reference. */
  private def intStr(s: String, kind: String): Long =
    try java.lang.Long.parseLong(s.trim)
    catch {
      case _: NumberFormatException => numStr(s, kind).longValue()
    }

  /** int32/int16 targets reject out-of-range values at bind time (Go
    * strconv.ParseInt with the column's bit size errors; a silent wrap
    * would accept garbage rows). */
  private def rangeChecked(v: Long, s: String, lo: Long, hi: Long,
                           kind: String): Long =
    if (v < lo || v > hi) throw new IllegalArgumentException(
      s"incompatible conv '$s' (string) to $kind")
    else v
}
