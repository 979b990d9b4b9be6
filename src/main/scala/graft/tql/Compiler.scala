package graft.tql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Fake

/** TQL → DataFrame compiler (reference: mods/tql — task compile
  * task.go:202-312, execution model §3.2 of SURVEY.md).
  *
  * The reference runs one goroutine per statement with per-record
  * channels; here each statement is a DataFrame transformation, so the
  * whole script becomes ONE Catalyst plan — predicate pushdown, column
  * pruning and limit pushdown happen across statement boundaries for
  * free, which the reference cannot do (its optimizer note: SURVEY §4).
  *
  * Record model (reference task_record.go): key + value tuple. The key is
  * the hidden `_key` column; `value(i)` addresses the i-th value column.
  * Sinks emit the value columns.
  */
object Compiler extends CompilerSources with CompilerMaps with CompilerExprs {
  case class Pipe(df: DataFrame, keyCol: String, values: Seq[String],
                  /** JSON-envelope column metadata override (SCRIPT nodes:
                    * `$.result` or reference input-node semantics) */
                  envelope: Option[(Seq[String], Seq[String])] = None,
                  /** Display name of the key column when demoted into the
                    * values by PUSHKEY — the reference names the implicit
                    * rownum key "ROWNUM" and any PUSHKEY/MAPKEY-made key
                    * "key" (fm_monad.go:1578,1602 MakeColumnOf("key",…)) */
                  keyName: String = "ROWNUM")

  case class Sink(format: String, options: graft.sinks.Codecs.Options,
                  /** SQL sink statement: (sql text, per-record bind exprs)
                    * — fm_dbsrc.go's SQL('insert …', value(0), …) */
                  sqlExec: Option[(String, List[Expr])] = None,
                  /** INSERT(cols…, table(t)[, tag(n)]) / APPEND(table(t))
                    * statement sinks (fm_dbsink.go:38-253) */
                  tableIns: Option[TableInsert] = None,
                  /** CHART/GEOMAP spec sinks — sink options kept as raw
                    * AST calls, applied at render time */
                  chartArgs: Option[List[Expr]] = None,
                  /** `bridge('name')` routing for SQL/INSERT sinks */
                  bridge: Option[String] = None,
                  /** `cache(key, ttl[, preemptiveRatio])` — serve the
                    * rendered sink text from the result cache
                    * (mods/tql/tqlcache.go) */
                  cacheSpec: Option[(String, Long, Double)] = None)

  case class TableInsert(append: Boolean, table: String, tag: Option[String],
                         columns: Seq[String])

  case class Compiled(pipe: Pipe, sink: Sink) {
    /** The sink-facing DataFrame (values only, like the reference). */
    def output: DataFrame =
      // already in output shape → no re-select; duplicate user aliases
      // (two 'PREDICT' columns, TestGroupByTimeWindow) are legal in a
      // result frame but not name-resolvable
      if (pipe.values == pipe.df.columns.toSeq) pipe.df
      else pipe.df.select(pipe.values.map(Compiler.vcol): _*)
  }

  /** Column ref tolerant of names with dots/spaces (user-given aliases). */
  private[tql] def vcol(name: String): Column = col(s"`$name`")

  /** serving root for sink `file()` templates (the reference resolves
    * them against its tql filesystem root). */
  @volatile var templateRoot: String = "."

  /** task deadline (System.nanoTime) for runaway-SCRIPT interruption —
    * the reference runs each task under a context with timeout. */
  private[tql] val currentDeadline = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = java.lang.Long.MAX_VALUE
  }

  /** run with a task timeout (the CtxTimeout seam tql_test.go:2191). */
  def runWithTimeout(spark: SparkSession, script: String,
                     timeoutMs: Long): String = {
    currentDeadline.set(System.nanoTime() + timeoutMs * 1000000L)
    try run(spark, script)
    finally currentDeadline.set(java.lang.Long.MAX_VALUE)
  }

  private[tql] val currentParams = new ThreadLocal[Map[String, Seq[String]]] {
    override def initialValue(): Map[String, Seq[String]] = Map.empty
  }
  private[tql] def paramFirst(k: String): Option[String] =
    currentParams.get.get(k).flatMap(_.headOption)
  private[tql] val currentNowNs = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Namespace for `cache(key, …)`: the reference keys its result cache by
    * `sourcePath:sourceHash:key` (mods/tql/tqlcache.go:142) so two scripts
    * sharing a user key never serve each other's bytes and an edited
    * script can't serve stale output. Scripts here are compiled from text
    * (no file path), so the namespace is the source hash alone. */
  private[tql] val currentScriptHash = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }
  private[tql] def scriptHash(script: String): String = {
    // hash the full UTF-8 byte array — char count under-reads multi-byte
    // scripts and could collide two same-length, same-prefix sources
    val bytes = script.getBytes("UTF-8")
    java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42).toLong & 0xffffffffL) + f"${bytes.length}%x"
  }

  /** Row-order key for sequential semantics (TAKE/DROP/rownum keys).
    * The reference keys SQL-source records by arrival rownum. Derived
    * scale-safely (per-partition offsets, no single-partition window) —
    * see [[graft.operators.RowOps.zipRownum]]. */
  private[tql] def withRownum(df: DataFrame, order: Seq[Column] = Nil): DataFrame =
    graft.operators.RowOps.zipRownum(df, "_key", order)

  /** Compile a script against a session (its tables registered) — the
    * one TQL entry point. `nowNs` pins the clock that `between('now-…', …)`
    * resolves against (default: the wall clock, as the reference reads
    * it); `params` binds `param('key')` references, multi-valued like the
    * reference's url.Values request params (fm_context.go:22-186), so
    * `$.params.p1` in SCRIPT sees the full list. */
  def compile(spark: SparkSession, script: String,
              nowNs: Long = System.currentTimeMillis() * 1000000L,
              params: Map[String, Seq[String]] = Map.empty): Compiled = {
    val stmts = Parser.parseScript(script)
    require(stmts.nonEmpty, "empty script")
    // SRC → MAP* → SINK applicability errors with the reference's kinds
    // and positions (script_validate.go; task_test.go TestSrcError).
    // Statements the introspection walker can't re-parse (tagged
    // heredoc bodies) skip shape validation — the runtime compiler
    // still enforces it operationally below.
    try {
      ScriptStructure.validate(ScriptStructure.parse(script)).foreach(e => throw e)
    } catch { case _: ScriptStructure.ParseError => }
    val src = stmts.head
    val sinkStmt = stmts.last
    require(stmts.size >= 2, "script needs at least a source and a sink")
    val maps = stmts.slice(1, stmts.size - 1)
    // The rownum key forces a global ordering window (a single-partition
    // exchange). Only pay for it when a downstream statement actually
    // consumes record order or the key.
    val needKey = maps.exists(st => statementNeedsKey(st.call)) ||
      Set("rownum").exists(o => sinkStmt.text.contains("rownum("))
    // save/restore: WHEN(do(…)) sub-routines re-enter compile with
    // their own params — the outer pipeline's context must survive
    val prevParams = currentParams.get
    val prevNow = currentNowNs.get
    val prevHash = currentScriptHash.get
    val prevLogLevel = TqlLog.levelIndex
    currentParams.set(params)
    currentNowNs.set(nowNs)
    currentScriptHash.set(scriptHash(script))
    // #pragma log-level=<lvl> and the //+ comment form gate the task
    // log (task_test.go TestPragma / tql_pragma_test.go TestPragma2)
    "(?im)^\\s*(?:#pragma|//\\+)\\s+.*?log-level\\s*=\\s*(\\w+)".r
      .findFirstMatchIn(script)
      .foreach(m => TqlLog.setLevel(m.group(1)))
    try {
      val pipe0 = compileSource(spark, src, needKey, nowNs)
      val piped = maps.foldLeft(pipe0)((p, st) => compileMap(p, st))
      // sink compile diagnostics carry the statement position, like the
      // reference's CompileString → ScriptError{Kind:"sink_compile_error"}
      // wrap (task_test.go TestCompileErrorIsScriptErrorForSink)
      val sink = try compileSink(sinkStmt) catch {
        case e: ScriptStructure.ScriptError => throw e
        case e: IllegalArgumentException =>
          throw decorateSinkError(script, e)
      }
      Compiled(piped, sink)
    } finally {
      currentParams.set(prevParams); currentNowNs.set(prevNow)
      currentScriptHash.set(prevHash)
      // restore, don't reset: WHEN sub-routines must not clobber the
      // outer script's pragma
      TqlLog.setLevelIndex(prevLogLevel)
    }
  }

  /** Position-decorate a sink compile diagnostic from the introspection
    * parse (best-effort: heredoc-bearing scripts fall back to the bare
    * message, like internal encoder construction in the reference). */
  private[tql] def decorateSinkError(script: String,
                                e: IllegalArgumentException): IllegalArgumentException =
    try {
      ScriptStructure.parse(script).statements.filter(_.isCode).lastOption match {
        case Some(ps) => ScriptStructure.ScriptError("sink_compile_error",
          e.getMessage, ps.line, ps.span.start.column, ps.text)
        case None => e
      }
    } catch { case _: Exception => e }

  private[tql] def isHttpUrl(path: String): Boolean =
    path.startsWith("http://") || path.startsWith("https://")

  /** file() content: local filesystem path, or an http(s) GET — the
    * reference serves both through its server-side filesystem. */
  private[tql] def contentBytes(path: String): Array[Byte] =
    if (isHttpUrl(path)) {
      graft.server.HttpLoop.requireLoopback(java.net.URI.create(path).getHost)
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(path)).GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() / 100 == 2,
        s"file($path) fetch failed: HTTP ${resp.statusCode()}")
      resp.body()
    } else java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  /** One CSV line split with RFC-4180 quoting (encoding/csv semantics:
    * `"escaped, string"` is one cell, doubled quotes escape). */
  private[tql] def splitCsvLine(l: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    var quoted = false
    while (i < l.length) {
      val c = l.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < l.length && l.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQ = false
        } else cur.append(c)
      } else c match {
        case '"' if cur.isEmpty && !quoted => inQ = true; quoted = true
        case ',' => out += cur.toString; cur.clear(); quoted = false
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Substitute top-level '?' placeholders (outside quoted literals). */
  private[tql] def bindPlaceholders(sql: String, lits: Seq[String]): String = {
    val out = new StringBuilder
    var inStr = false
    var li = 0
    var i = 0
    while (i < sql.length) {
      val c = sql(i)
      if (inStr) {
        out.append(c)
        if (c == '\'') inStr = false
      } else c match {
        case '\'' => inStr = true; out.append(c)
        case '?' if li < lits.length => out.append(lits(li)); li += 1
        case _ => out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** Auto-register the machbase fixture tables when a query names them —
    * the reference's test DB ships tag_data/tag_simple pre-created. */
  private[tql] def ensureTagTables(spark: SparkSession, sql: String): Unit =
    "(?i)\\b(tag_data|tag_simple)\\b".r.findAllIn(sql).toSet[String]
      .foreach(t => graft.server.TagTables.ensure(spark, t))

  private[tql] def statementNeedsKey(e: Expr): Boolean = e match {
    // HISTOGRAM(v, bins(n)) is the streaming sketch — record order matters
    case Expr.Call("HISTOGRAM", args)
      if args.exists { case Expr.Call("bins", List(_: Expr.Num)) => true; case _ => false } => true
    case Expr.Call(n, args) =>
      // TAKE/DROP are deliberately NOT here: they consume arrival ORDER,
      // not the key VALUE, so when they are the only order consumers the
      // pipeline compiles to plain ordered offset/limit and skips the
      // zipRownum pass entirely (the keyless branches in compileMap).
      Set("PUSHKEY", "POPKEY", "MAPKEY", "GROUPBYKEY", "FFT",
        "key", "first", "last", "TRANSPOSE", "SCRIPT", "TIMEWINDOW",
        "MAP_DIFF", "MAP_ABSDIFF", "MAP_NONEGDIFF", "MAP_AVG", "MAP_MOVAVG",
        "MAP_LOWPASS", "MAP_KALMAN", "MAP_DISTANCE",
        "FILTER_CHANGED")(n) || args.exists(statementNeedsKey)
    case Expr.Bin(_, l, r) => statementNeedsKey(l) || statementNeedsKey(r)
    case Expr.Unary(_, x) => statementNeedsKey(x)
    case Expr.Ternary(c, t, f) => Seq(c, t, f).exists(statementNeedsKey)
    case Expr.In(v, set) => (v :: set).exists(statementNeedsKey)
    case Expr.Index(a, i) => statementNeedsKey(a) || statementNeedsKey(i)
    case _ => false
  }

  /** Shared TQL result cache (tqlcache.go — one cache per server). */
  private[graft] val resultCache = new graft.sinks.ResultCache()

  /** Render a compiled pipeline, applying any SCRIPT envelope override. */
  def renderCompiled(c: Compiled): String = {
    if (c.sink.format == "SQLEXEC") return runSqlSink(c)
    if (c.sink.format == "TABLEINS") return runTableSink(c)
    if (c.sink.chartArgs.isDefined) return ChartRender.run(c)
    val o = c.pipe.envelope match {
      case Some((cols, types)) =>
        c.sink.options.copy(colsOverride = Some(cols), typesOverride = Some(types))
      case None => c.sink.options
    }
    def compute() = graft.sinks.Codecs.render(c.output, c.sink.format, o)
    c.sink.cacheSpec match {
      case Some((key, ttlNs, ratio)) =>
        // cache(key, ttl): a hit skips the pipeline execution entirely —
        // the cached sink text is the contract (tqlcache_test.go pins a
        // random()-bearing script returning the identical bytes)
        resultCache.getOrCompute(key, ttlNs, ratio)(compute())
      case None => compute()
    }
  }

  /** INSERT/APPEND statement sinks (fm_dbsink.go): per-record insert into
    * the named tag table; APPEND takes the table's full column order. */
  private[tql] def runTableSink(c: Compiled): String = {
    val spec = c.sink.tableIns.get
    val spark = c.pipe.df.sparkSession
    c.sink.bridge.foreach { bridgeName =>
      // INSERT(bridge('x'), cols…, table(t)): one INSERT statement per
      // record. The reference's bridge path overwrites rowsAffected per
      // statement instead of summing (fm_dbsink.go:137-142), so the DML
      // message reports only the LAST statement — mimicked verbatim
      // (tql_test.go:2291-2301 expects "1 row inserted." after 2 rows).
      val db = graft.server.Bridge(bridgeName)
      import scala.jdk.CollectionConverters._
      var last = 0L
      c.output.toLocalIterator().asScala.foreach { row =>
        val sqlText = s"INSERT INTO ${spec.table}(${spec.columns.mkString(",")}) " +
          s"VALUES(${spec.columns.zipWithIndex.map { case (_, i) => db.parameterMarker(i) }.mkString(",")})"
        last = db.exec(spark, sqlText, row.toSeq).rowsAffected
      }
      val unit = if (last <= 1) "row" else "rows"
      return s"""{"data":{"message":"$last $unit inserted."},"success":true,"reason":"success"}"""
    }
    graft.server.TagTables.ensure(spark, spec.table)
    val columns =
      if (spec.append) graft.server.TagTables.columnsOf(spec.table)
      else (if (spec.tag.isDefined) Seq("NAME") else Nil) ++ spec.columns
    import scala.jdk.CollectionConverters._
    val n = graft.server.TagTables.insertAll(spark, spec.table, columns,
      c.output.toLocalIterator().asScala.map(row =>
        spec.tag.map(t => (t: Any)).toSeq ++ row.toSeq))
    val msg =
      if (spec.append) s"append $n rows (success $n, fail 0)"
      else if (n == 1) "a row inserted." else s"$n rows inserted."
    s"""{"data":{"message":"$msg"},"success":true,"reason":"success"}"""
  }

  private[tql] val InsertRe =
    "(?is)^\\s*insert\\s+into\\s+([A-Za-z0-9_]+)\\s*\\(([^)]*)\\)\\s*values\\s*\\((.*)\\)\\s*$".r

  /** a constant bind expression (param()/literals — no row context). */
  private[tql] def constBindValue(e: Expr): Any = e match {
    case Expr.Str(v) => v
    case Expr.Num(v) => if (v == math.rint(v)) Long.box(v.toLong) else Double.box(v)
    case Expr.Bool(b) => Boolean.box(b)
    case Expr.Call("param", List(Expr.Str(n))) =>
      currentParams.get.get(n).flatMap(_.headOption).orNull
    case other => throw new IllegalArgumentException(s"unsupported SQL bind: $other")
  }

  /** Execute an SQL sink statement per record (insert with ? binds), or
    * once (exec/DDL), and render the DML message envelope. */
  private[tql] def runSqlSink(c: Compiled): String = {
    val (sql, bindExprs) = c.sink.sqlExec.get
    val spark = c.pipe.df.sparkSession
    def envelope(msg: String): String =
      s"""{"data":{"message":"$msg"},"success":true,"reason":"success"}"""
    c.sink.bridge.foreach { bridgeName =>
      // bridged SQL sink: execute per record with value(i) binds bound
      // from the row; counts accumulate into one DML message
      val db = graft.server.Bridge(bridgeName)
      import scala.jdk.CollectionConverters._
      var total = 0L
      var verb = "inserted"
      c.output.toLocalIterator().asScala.foreach { row =>
        val binds = bindExprs.map {
          case Expr.Call("value", List(Expr.Num(i))) => row.get(i.toInt)
          case Expr.Call("value", Nil) => row.get(0)
          case other => constBindValue(other)
        }
        val res = db.exec(spark, sql, binds)
        total += res.rowsAffected
        verb = res.verb
      }
      val msg =
        if (verb == "created") "Created successfully."
        else if (total == 1) s"a row $verb."
        else s"$total rows $verb."
      return envelope(msg)
    }
    sql.trim.toLowerCase match {
      case s if s.startsWith("insert") =>
        val (table, columns, valuesBody) = sql match {
          case InsertRe(t, cols, vals) =>
            (t, cols.split(",").map(_.trim).toSeq, vals)
          case _ => throw new IllegalArgumentException(s"unsupported insert: $sql")
        }
        // the VALUES list mixes `?` binds with SQL literals — machbase's
        // `now` keyword included (fm_dbsrc_test.go:539-548:
        // `values(?,now,?)`); binds fill the ?s left-to-right
        val tokens = graft.server.QueryDoor.splitValues(valuesBody)
        val nowNs = currentNowNs.get()
        def bindValue(e: Expr, row: org.apache.spark.sql.Row): Any = e match {
          case Expr.Call("value", List(Expr.Num(i))) => row.get(i.toInt)
          case Expr.Call("value", Nil) => row.get(0)
          case Expr.Str(v) => v
          case Expr.Num(v) => if (v == math.rint(v)) Long.box(v.toLong) else Double.box(v)
          case Expr.Bool(b) => Boolean.box(b)
          case other => throw new IllegalArgumentException(s"unsupported bind: $other")
        }
        import scala.jdk.CollectionConverters._
        val valueRows = c.output.toLocalIterator().asScala.map { row =>
          var bi = 0
          tokens.map {
            case "?" =>
              val v = bindValue(bindExprs(bi), row); bi += 1; v
            case t if t.equalsIgnoreCase("now") => Long.box(nowNs)
            case t => graft.server.QueryDoor.literalValue(t)
          }: Seq[Any]
        }
        val n = graft.server.TagTables.insertAll(spark, table, columns, valueRows)
        envelope(if (n == 1) "a row inserted." else s"$n rows inserted.")
      case s if s.startsWith("exec") =>
        c.output.count() // drive the pipeline once, like the reference
        envelope("executed.")
      case _ =>
        // surface the door's DDL classification ("Created successfully."
        // etc. — spi/machsvr/mach_rows.go definedMessage)
        val res = graft.server.QueryDoor.execute(spark, sql)
        val msg =
          if (res.columns.sameElements(Array("MESSAGE")))
            res.collect().headOption.map(_.getString(0)).getOrElse("executed.")
          else "executed."
        envelope(msg)
    }
  }

  /** Compile + render through the sink codec; arguments as [[compile]]. */
  def run(spark: SparkSession, script: String,
          nowNs: Long = System.currentTimeMillis() * 1000000L,
          params: Map[String, Seq[String]] = Map.empty): String =
    renderCompiled(compile(spark, script, nowNs, params))


  // ---------------- sinks ----------------
  private[tql] def compileSink(st: Statement): Sink = {
    import Expr._
    val fmt = st.call.name
    if (fmt == "SQL") {
      // statement sink: SQL([bridge('x'),] 'insert|exec|ddl …', binds…)
      // executed per record (fm_dbsrc.go SQL sink). Renders the DML
      // message envelope.
      val bridgeName = st.call.args.collectFirst {
        case Call("bridge", List(Str(b))) => b }
      val rest = st.call.args.filterNot {
        case Call("bridge", _) => true; case _ => false }
      val sql = rest.headOption.flatMap(constStringOpt).getOrElse(
        throw new IllegalArgumentException(s"SQL sink needs a statement: ${st.text}"))
      // fetch verbs are source-side only (fm_dbsink_sql_test.go:9-18)
      val verb = sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase
      if (verb == "SELECT")
        throw new IllegalArgumentException(
          s"""f(SQL) sink does not allow fetch verb "$verb"""")
      return Sink("SQLEXEC", graft.sinks.Codecs.Options(),
        Some((sql, rest.drop(1))), bridge = bridgeName)
    }
    if (fmt == "CHART" || fmt == "GEOMAP" || fmt.startsWith("CHART_")) {
      // presentation spec sinks (mods/codec/internal/chart, geomap);
      // options applied when rendering
      return Sink(fmt, graft.sinks.Codecs.Options(), chartArgs = Some(st.call.args))
    }
    if (fmt == "INSERT" || fmt == "APPEND") {
      // INSERT('c1','c2',…, table('t') [, tag('name')]) / APPEND(table('t'))
      val table = st.call.args.collectFirst {
        case Call("table", List(Str(t))) => t
      }.getOrElse(throw new IllegalArgumentException(s"$fmt needs table(): ${st.text}"))
      val tag = st.call.args.collectFirst { case Call("tag", List(Str(t))) => t }
      val cols = st.call.args.collect { case Str(c) => c }
      val bridgeName = st.call.args.collectFirst {
        case Call("bridge", List(Str(b))) => b }
      return Sink("TABLEINS", graft.sinks.Codecs.Options(),
        tableIns = Some(TableInsert(fmt == "APPEND", table, tag, cols)),
        bridge = bridgeName)
    }
    val known = Set("CSV", "JSON", "NDJSON", "MARKDOWN", "BOX", "DISCARD",
      "TEXT", "HTML")
    require(known(fmt), s"unsupported sink: ${st.text}")
    var opts = graft.sinks.Codecs.Options()
    if (fmt == "TEXT" || fmt == "HTML" || fmt == "MARKDOWN") {
      // TEXT/HTML/MARKDOWN(template…) — string args are template content
      // (fm_encoder.go:68; markdown TEMPLATE case tql_test.go:1056);
      // file('/x.html') args load from the serving root (templates may
      // span files via define/template — tql_test.go:2352-2366)
      val tpl = st.call.args.collect {
        case Str(s) => s
        case Call("file", List(Str(path))) =>
          val p = java.nio.file.Paths.get(templateRoot, path)
          if (!java.nio.file.Files.exists(p))
            throw new IllegalArgumentException(s"template file '$path' not found")
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      }
      if (tpl.nonEmpty)
        opts = opts.copy(template = Some(tpl.mkString),
          templateParams = currentParams.get)
    }
    st.call.args.foreach {
      case Call("header", List(Bool(b))) => opts = opts.copy(heading = b)
      case Call("heading", List(Bool(b))) => opts = opts.copy(heading = b)
      case Call("header", _) | Call("heading", _) => opts = opts.copy(heading = true)
      case Call("rownum", List(Bool(b))) => opts = opts.copy(rownum = b)
      case Call("rownum", _) => opts = opts.copy(rownum = true)
      case Call("rowsFlatten", List(Bool(b))) => opts = opts.copy(rowsFlatten = b)
      case Call("rowsFlatten", _) => opts = opts.copy(rowsFlatten = true)
      // MARKDOWN brief mode: brief(true) = first 5 rows (md_encode.go
      // SetBrief), briefCount(n) = first n
      case Call("brief", List(Bool(b))) => opts = opts.copy(brief = if (b) 5L else 0L)
      case Call("brief", _) => opts = opts.copy(brief = 5L)
      case Call("briefCount", List(Num(n))) => opts = opts.copy(brief = n.toLong)
      case Call("rowsArray", List(Bool(b))) => opts = opts.copy(rowsArray = b)
      case Call("rowsArray", _) => opts = opts.copy(rowsArray = true)
      case Call("boxStyle", List(Str(st))) => opts = opts.copy(boxStyle = st)
      case Call("boxSeparateColumns", List(Bool(b))) =>
        opts = opts.copy(separateColumns = b)
      case Call("boxDrawBorder", List(Bool(b))) => opts = opts.copy(drawBorder = b)
      case Call("transpose", List(Bool(b))) => opts = opts.copy(transpose = b)
      case Call("transpose", _) => opts = opts.copy(transpose = true)
      // nullValue/substituteNull: custom token for NULL cells
      // (task_test.go TestJsonToCsv pins both spellings)
      case Call("nullValue" | "substituteNull", List(Str(nv))) =>
        opts = opts.copy(nullAs = nv)
      // non-string substitutes render with their Go value format
      // (TestJsonToCsv: nullValue(false) → "false", nullValue(3.14) → "3.14")
      case Call("nullValue" | "substituteNull", List(Bool(b))) =>
        opts = opts.copy(nullAs = b.toString)
      // numeric substitutes stay TYPED so precision() applies to the
      // rendered cell (csv_encode.go AddRow routes nullAlternative
      // through the float switch; csv_encode_test.go
      // TestCsvEncoderNullValue pins 1.234567@precision(2) → "1.23")
      case Call("nullValue" | "substituteNull", List(Num(v))) =>
        opts = opts.copy(nullAsNum = Some(v))
      case Call("delimiter", List(Str(d))) => opts = opts.copy(delimiter = d)
      case Call("timeformat", List(Str(f))) =>
        f.toLowerCase match {
          case "s" | "ms" | "us" | "ns" => opts = opts.copy(timeformat = Some(f.toLowerCase))
          // FormatEpoch's string-epoch twins (util/types.go:175-199):
          // same number, marshalled as TEXT (JSON quotes it)
          case e @ ("s.str" | "ms.str" | "us.str" | "ns.str") =>
            opts = opts.copy(timeformat = Some(e))
          case _ =>
            // full named table + Go layouts (util/time_formats.go); the
            // sink's java formatter renders zone tokens itself, and the
            // ".999" styles trim trailing fraction zeros
            val (jp, trim) = graft.time.TimeFns.resolveNamedOrGoFormat(f)
            opts = opts.copy(timeformat = Some(jp), trimFractionZeros = trim)
        }
      case Call("sqlTimeformat", List(Str(f))) =>
        // faithful two-step: SQL tokens → Go layout → pattern, with the
        // Go ".999" trim riding the 9-run (types.go ToTimeformatSql)
        val (sp, st) = graft.time.TimeFns.goLayoutPattern(graft.time.TimeFns.toSqlGoLayout(f))
        opts = opts.copy(timeformat = Some(sp), trimFractionZeros = st)
      case Call("ansiTimeformat", List(Str(f))) =>
        val (ap, at) = graft.time.TimeFns.goLayoutPattern(graft.time.TimeFns.toAnsiGoLayout(f))
        opts = opts.copy(timeformat = Some(ap), trimFractionZeros = at)
      case Call("tz", List(Str(z))) =>
        opts = opts.copy(tz = graft.time.TimeFns.resolveTz(z))
      case Call("precision", List(Num(p))) => opts = opts.copy(precision = p.toInt)
      case Call("substituteNull", List(Str(s))) => opts = opts.copy(nullAs = s)
      case Call("binaryformat", List(Str(b))) => opts = opts.copy(binaryFormat = b)
      case Call("html", List(Bool(b))) if fmt == "MARKDOWN" =>
        opts = opts.copy(htmlRender = b)
      // bare non-string literals are never valid encoder options
      // (fm_encoder.go newEncoder: "encoder '%s' invalid option %v (%T)")
      case Bool(b) => throw new IllegalArgumentException(
        s"encoder '${fmt.toLowerCase}' invalid option $b (bool)")
      case Num(v) => throw new IllegalArgumentException(
        s"encoder '${fmt.toLowerCase}' invalid option ${graft.sinks.Codecs.goFloat(v)} (float64)")
      case Str(s) if fmt != "TEXT" && fmt != "HTML" && fmt != "MARKDOWN" =>
        throw new IllegalArgumentException(
          s"encoder '${fmt.toLowerCase}' invalid option $s (string)")
      case _ =>
    }
    val cacheSpec = st.call.args.collectFirst {
      case Call("cache", keyE :: Str(ttl) :: rest) =>
        // only row encoders cache (fm_encoder.go:21-27)
        if (!Set("JSON", "CSV", "NDJSON", "TEXT", "HTML", "BOX")(fmt))
          throw new IllegalArgumentException(
            s"encoder '${fmt.toLowerCase}' does not support cache")
        val ratio = rest.collectFirst { case Num(r) => r }.getOrElse(1.0)
        // namespace by script source (tqlcache.go:142 uses path:hash:key)
        (currentScriptHash.get + ":" + constString(keyE),
          graft.time.TimeFns.parseDurationNs(ttl), ratio)
    }
    Sink(fmt, opts, cacheSpec = cacheSpec)
  }

  // ---------------- expressions → Column ----------------
}
