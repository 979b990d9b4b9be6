package graft.tql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Fake

/** Source-statement compilation (SQL/CSV/FAKE/QUERY/BYTES/ARGS/HTTP…) —
  * split out of Compiler.scala (same object via self-type; see the
  * Compiler scaladoc for the execution model). */
private[tql] trait CompilerSources { this: Compiler.type =>
  // ---------------- sources ----------------
  private[tql] def compileSource(spark: SparkSession, st: Statement, needKey: Boolean,
                            nowNs: Long): Pipe = {
    import Expr._
    def keyed(df: org.apache.spark.sql.DataFrame): Pipe = {
      val d = if (needKey) withRownum(df) else df
      Pipe(d, "_key", df.columns.toSeq)
    }
    st.call match {
      case Call("SCRIPT", args) => compileScriptSource(spark, args)
      case Call("SQL", Call("bridge", List(Str(bridgeName))) :: Str(sql) :: binds) =>
        // bridged database source (tql_test.go:2258-2572): SELECT yields
        // rows, anything else executes and yields the result message
        val db = graft.server.Bridge(bridgeName)
        val bindVals = binds.map(constBindValue)
        if (sql.trim.toLowerCase.startsWith("select"))
          keyed(db.query(spark, sql, bindVals))
        else {
          val res = db.exec(spark, sql, bindVals)
          import spark.implicits._
          keyed(Seq(res.message).toDF("MESSAGE"))
        }
      case Call("SQL", List(Str(sql))) =>
        ensureTagTables(spark, sql)
        // route through the query door so SHOW/DESC/EXPLAIN get the
        // machbase catalog shapes (SELECT passes straight to spark.sql)
        keyed(graft.server.QueryDoor.execute(spark, sql))
      case Call("SQL", Str(sql) :: binds) if binds.nonEmpty =>
        // '?' placeholder binding with constant args (fm_dbsrc.go SQL
        // src); placeholders inside quoted literals don't count
        val lits = binds.map {
          case Str(v) => "'" + v.replace("'", "''") + "'"
          case Num(v) => if (v == math.rint(v)) v.toLong.toString else v.toString
          case Bool(v) => v.toString
          case other => throw new IllegalArgumentException(s"unsupported SQL bind: $other")
        }
        val bound = bindPlaceholders(sql, lits)
        ensureTagTables(spark, bound)
        keyed(spark.sql(bound))
      case Call("SQL_SELECT", args) =>
        compileSqlSelect(spark, args, needKey, nowNs)
      case Call("QUERY", args) =>
        // v1 generator: QUERY(valueCols..., from(table, tag[, timeCol]),
        // between(...)) — emits (timeCol, cols...) with the time column
        // surfaced as a datetime (reference fm_dbsrc.go:56-92)
        compileQueryV1(spark, args, needKey, nowNs)
      case Call("FAKE", List(Num(_))) =>
        // FAKE(123) (tql_test.go FAKE_invalid_generator_type)
        throw new IllegalArgumentException("f(FAKE) arg(0) should be fakeSource, but float64")
      case Call("FAKE", List(gen: Call)) =>
        compileFake(spark, gen, needKey)
      case Call("CSV", Call("file", List(Str(path))) :: rest)
          if !isHttpUrl(path) =>
        // http(s) file() URLs fall through to the literal branch below,
        // which fetches the content (task_test.go TestHttpFile)
        val header = rest.exists { case Call("header", _) => true; case _ => false }
        val charset = rest.collectFirst { case Call("charset", List(Str(c))) => c }
        val progress = csvProgressCount(rest)
        val fields = rest.collect {
          case Call("field", List(Num(i), Call(tpe, targs), Str(nm))) => (i.toInt, tpe, targs, nm)
          case Call("col", List(Num(i), Call(tpe, targs), Str(nm))) => (i.toInt, tpe, targs, nm)
        }
        val reader0 = spark.read.option("header", header.toString)
        val reader = charset.fold(reader0)(c => reader0.option("encoding", c))
        // read as strings, then cast per declared field() — the same
        // type set and undeclared-columns-stay-strings rule as the
        // payload/literal branch (previously the file branch knew only
        // 4 of the 6 field types)
        val rawNoProgress = reader.csv(path)
        // logProgress(n): the reference's single-reader loop logs a
        // global "Loading N records" line every n rows (fm_csv.go:231).
        // A parallel scan has no global sequential rownum, so the
        // counter is per reader task — same cadence, executor-side.
        // Only wraps the scan when the option is present (the pass-through
        // iterator leaves whole-stage codegen, so the default path is
        // untouched).
        val raw = progress match {
          case Some(n) if n > 0 =>
            rawNoProgress.mapPartitions { it =>
              var i = 0L
              it.map { r =>
                i += 1L
                if (i % n == 0) TqlLog.log("INFO", csvProgressMsg(i))
                r
              }
            }(org.apache.spark.sql.Encoders.row(rawNoProgress.schema))
          case _ => rawNoProgress
        }
        if (fields.isEmpty)
          keyed(raw.toDF(raw.columns.indices.map(i => s"column$i"): _*))
        else {
          val byIdx = fields.map(f => f._1 -> f).toMap
          val cols = raw.columns.indices.map { i =>
            byIdx.get(i) match {
              case Some((_, tpe, targs, nm)) =>
                csvFieldCast(col(raw.columns(i)), tpe, targs).as(nm)
              case None => col(raw.columns(i)).as(s"column$i")
            }
          }
          keyed(raw.select(cols: _*))
        }
      case Call("CSV", first :: rest) if constStringOpt(first).isDefined =>
        // CSV("a,b\nc,d") / CSV(payload(), field(...)) — literal or
        // request-payload rows; empty lines skipped (reference CSV_CSV)
        val text = constStringOpt(first).get
        val headerOpt = rest.exists {
          case Call("header", Nil) | Call("heading", Nil) => true
          case Call("header", List(Bool(b))) => b
          case Call("heading", List(Bool(b))) => b
          case _ => false
        }
        val allLines = text.split("\n", -1).toIndexedSeq.filter(_.nonEmpty)
        require(allLines.nonEmpty, "CSV literal is empty")
        val (headerNames, lines) =
          if (headerOpt) (Some(splitCsvLine(allLines.head).toSeq), allLines.tail)
          else (None, allLines)
        require(lines.nonEmpty, "CSV literal has no data rows")
        val nCols = lines.map(splitCsvLine(_).length).max
        val names = headerNames.map(_.padTo(nCols, "")).getOrElse(
          (0 until nCols).map(i => s"column$i"))
        val schema0 = org.apache.spark.sql.types.StructType(
          names.map(n => org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.StringType)))
        val progressL = csvProgressCount(rest)
        val rowsC = lines.zipWithIndex.map { case (l, idx) =>
          progressL.foreach { n =>
            if (n > 0 && (idx + 1) % n == 0)
              TqlLog.log("INFO", csvProgressMsg(idx + 1L))
          }
          val cells = splitCsvLine(l).toSeq.padTo(nCols, "")
          org.apache.spark.sql.Row.fromSeq(cells)
        }
        val df0 = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rowsC).asJava), schema0)
        val fields = rest.collect {
          case Call("field", List(Num(i), Call(tpe, targs), Str(nm))) => (i.toInt, tpe, targs, nm)
          case Call("col", List(Num(i), Call(tpe, targs), Str(nm))) => (i.toInt, tpe, targs, nm)
        }
        if (fields.isEmpty) keyed(df0)
        else {
          def castTo(c: Column, t: String, targs: List[Expr]): Column =
            csvFieldCast(c, t, targs)
          // undeclared columns stay in place as strings (TestGroupWhere
          // declares fields 0 and 2, references value(1) untyped)
          val byIdx = fields.map(f => f._1 -> f).toMap
          val cols = df0.columns.indices.map { i =>
            byIdx.get(i) match {
              case Some((_, t, targs, nm)) => castTo(col(s"column$i"), t, targs).as(nm)
              case None => col(s"column$i")
            }
          }
          val df = df0.select(cols: _*)
          keyed(df)
        }

      case Call("HTTP", args) =>
        // HTTP(dsl) source (fm_encoder.go:169-183 fmHttp): execute the
        // request DSL, yield ONE record whose value is the raw response
        // text (status line + headers + body). Loopback-only here (zero
        // egress) — the DSL/raw-request plumbing is the real surface.
        val content = args.headOption match {
          case Some(Str(s)) => s
          case Some(Call("__block", List(Str(s)))) => s
          case _ => throw new IllegalArgumentException("HTTP(request-dsl)")
        }
        val result = graft.server.HttpLoop.executeDsl(content)
        import spark.implicits._
        keyed(spark.createDataset(Seq(result)).toDF("HTTP"))

      case Call("STRING", args) =>
        // STRING(payload() ?? `literal`, separator('\n'), trimspace(true))
        // — one record per separated chunk (reference fm_bytes.go:26-236).
        val sep = args.collectFirst { case Call("separator" | "sep", List(Str(x))) => x }.getOrElse("\n")
        val trimsp = args.exists {
          case Call("trimspace", Nil) => true
          case Call("trimspace", List(Bool(b))) => b
          case _ => false
        }
        val text = args.headOption.flatMap(constStringOpt).getOrElse(
          throw new IllegalArgumentException("STRING needs a payload, literal or file()"))
        val chunks = text.split(java.util.regex.Pattern.quote(sep), -1).toIndexedSeq
          .map(c => if (trimsp) c.trim else c)
        import spark.implicits._
        keyed(spark.createDataset(chunks).toDF("STRING")) // label fm_bytes.go:176

      case Call("BYTES", args) =>
        // BYTES(payload()|'literal'|file(), separator()) — like STRING but
        // binary chunks, label "BYTES" (fm_bytes.go:37-57,174)
        val sep = args.collectFirst { case Call("separator" | "sep", List(Str(x))) => x }
        val text = args.headOption.flatMap(constStringOpt).getOrElse(
          throw new IllegalArgumentException("BYTES needs a payload, literal or file()"))
        val chunks = sep match {
          case Some(s) => text.split(java.util.regex.Pattern.quote(s), -1).toIndexedSeq
          case None => IndexedSeq(text) // no separator: ONE binary record
        }
        import spark.implicits._
        keyed(spark.createDataset(chunks).toDF("BYTES")
          .select(col("BYTES").cast("binary").as("BYTES")))

      case Call("ARGS", Nil) =>
        // ARGS() — one record carrying the task's argument values, bound
        // from the multi-valued request param "args" (the reference's
        // argValues, fm_context.go:113-140)
        val vals = currentParams.get.getOrElse("args", Seq.empty)
        import spark.implicits._
        // no argValues → still ONE record (an empty values list): the
        // generator always emits exactly one record (fm_context.go:113,
        // genRawData; task_test.go TestArgs builds rows onto it)
        if (vals.isEmpty) keyed(spark.range(1).select())
        else {
          val df = spark.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row.fromSeq(vals)),
            org.apache.spark.sql.types.StructType(vals.indices.map(i =>
              org.apache.spark.sql.types.StructField(s"column$i",
                org.apache.spark.sql.types.StringType))))
          keyed(df)
        }

      case other => throw new IllegalArgumentException(s"unsupported source: ${st.text}")
    }
  }

  /** SQL_SELECT('time','value', from('table','tag'), between(a, b)) —
    * the tag-table SQL generator (reference fm_dbsrc.go:93-227). */
  private[tql] def compileSqlSelect(spark: SparkSession, args: List[Expr], needKey: Boolean,
                               nowNs: Long): Pipe = {
    import Expr._
    import graft.operators.Lake
    val cols = args.collect { case Str(c) => c }
    var table = ""
    var tag = ""
    var baseTime = "time"
    var baseName = "name"
    var between: Option[(Lake.TimeBound, Lake.TimeBound)] = None
    var periodNs: Option[Long] = None
    var limitN: Option[Int] = None
    var offsetN = 0
    args.foreach {
      case Call("from", Str(t) :: Str(tg) :: rest) =>
        table = t; tag = tg
        rest match {
          case Str(bt) :: more =>
            baseTime = bt
            more.headOption.foreach { case Str(bn) => baseName = bn; case _ => }
          case _ =>
        }
      case Call("between", List(a, b)) =>
        between = Some((evalTimeBound(a), evalTimeBound(b)))
      case Call("between", List(a, b, p)) =>
        // between(a, b, period): the generator emits a time-bucket
        // GROUP BY — `round(time/period)*period` (fm_dbsrc.go:180-227),
        // column strings become aggregate expressions over the bucket
        between = Some((evalTimeBound(a), evalTimeBound(b)))
        periodNs = Some(p match {
          case Str(d) => graft.time.TimeFns.parseDurationNs(d)
          case Num(n) => n.toLong
          case other => throw new IllegalArgumentException(s"bad period: $other")
        })
      case Call("limit", List(Num(n))) => limitN = Some(n.toInt)
      case Call("limit", List(Num(o), Num(n))) =>
        offsetN = o.toInt; limitN = Some(n.toInt)
      case _ =>
    }
    require(table.nonEmpty, "SQL_SELECT requires from(table, tag)")
    dumpArg(args) match {
      case Some(escape) =>
        return sqlDumpPipe(spark, needKey, escape, refSqlText(
          version = 1, cols, table, tag, baseTime, baseName,
          between, periodNs, offsetN, limitN))
      case None =>
    }
    var df = spark.table(table).filter(col("name") === tag)
    between.foreach { case (a, b) =>
      df = Lake.betweenFilter(df, "time", a, b, nowNs)
    }
    df = periodNs match {
      case Some(p) =>
        // machbase round() is arithmetic (half-up) on the division
        val half = p / 2
        val timeNs = df.schema("time").dataType match {
          case org.apache.spark.sql.types.LongType => col("time")
          case _ => col("time").cast("decimal(38,9)")
            .*(lit(1000000000L)).cast("long")
        }
        val bucket = (floor((timeNs + half).cast("double") / p.toDouble)
          .cast("long") * p).as("time")
        val aggCols = cols.filterNot(_ == "time").map { c =>
          if (c.contains("(")) expr(c)
          else first(col(c)).as(c) // non-aggregated column: any member
        }
        require(aggCols.nonEmpty, "SQL_SELECT(period) needs a value column")
        df.groupBy(bucket).agg(aggCols.head, aggCols.tail: _*)
      case None => df.select(cols.map(c => expr(c)): _*)
    }
    val outCols = df.columns.toSeq
    // keyed + unlimited: the range sort inside zipRownum IS the time
    // ordering, so don't pay a second global sort on top of it
    val out =
      if (needKey && limitN.isEmpty && outCols.contains("time"))
        withRownum(df, Seq(col("time")))
      else {
        var ordered = df.orderBy("time")
        limitN.foreach(n => ordered = ordered.offset(offsetN).limit(n))
        if (needKey) withRownum(ordered) else ordered
      }
    Pipe(out, "_key", outCols)
  }

  private[tql] def compileQueryV1(spark: SparkSession, args: List[Expr], needKey: Boolean,
                             nowNs: Long): Pipe = {
    import Expr._
    import graft.operators.Lake
    val cols = args.collect { case Str(c) => c }
    var table = ""; var tag = ""; var timeCol = "time"; var baseName = "name"
    var between: Option[(Lake.TimeBound, Lake.TimeBound)] = None
    var periodNs: Option[Long] = None
    var limitN: Option[Int] = None
    var offsetN = 0
    args.foreach {
      case Call("from", fargs) => fargs match {
        case Str(t) :: Str(tg) :: rest =>
          table = t; tag = tg
          rest match {
            case Str(tc) :: more =>
              timeCol = tc
              more.headOption.foreach { case Str(bn) => baseName = bn; case _ => }
            case _ =>
          }
        case _ =>
      }
      case Call("between", List(a, b)) =>
        between = Some((evalTimeBound(a), evalTimeBound(b)))
      case Call("between", List(a, b, prd)) =>
        between = Some((evalTimeBound(a), evalTimeBound(b)))
        periodNs = Some(prd match {
          case Str(d) => graft.time.TimeFns.parseDurationNs(d)
          case Num(n) => n.toLong
          case other => throw new IllegalArgumentException(s"bad period: $other")
        })
      case Call("limit", List(Num(n))) => limitN = Some(n.toInt)
      case Call("limit", List(Num(o), Num(n))) =>
        offsetN = o.toInt; limitN = Some(n.toInt)
      case _ =>
    }
    require(table.nonEmpty, "QUERY requires from(table, tag)")
    dumpArg(args) match {
      case Some(escape) =>
        return sqlDumpPipe(spark, needKey, escape, refSqlText(
          version = 2, cols, table, tag, timeCol, baseName,
          between, periodNs, offsetN, limitN))
      case None =>
    }
    var df = spark.table(table).filter(col(baseName) === tag)
    between.foreach { case (a, b) => df = Lake.betweenFilter(df, timeCol, a, b, nowNs) }
    // epoch ns whether the table keeps TIME as LONG ns or as a
    // TIMESTAMP (every tag table does); the type is read through the
    // analyzer, which matches the column name case-insensitively
    val timeNs = df.select(col(timeCol)).schema.head.dataType match {
      case org.apache.spark.sql.types.LongType => col(timeCol)
      case _ => col(timeCol).cast("decimal(38,9)")
        .*(lit(1000000000L)).cast("long")
    }
    df = periodNs match {
      case Some(prd) =>
        // the generator's `round(time/period)*period` bucket — machbase
        // round() is arithmetic half-up (fm_dbsrc.go:188-227); column
        // strings are aggregate expressions over the bucket
        val half = prd / 2
        val bucket = floor((timeNs + half).cast("double") / prd.toDouble)
          .cast("long") * prd
        val aggCols = cols.map { c =>
          if (c.contains("(")) expr(c).as(c) else first(vcol(c)).as(c)
        }
        require(aggCols.nonEmpty, "QUERY(period) needs a value column")
        df.groupBy(bucket.as("__bucket_ns")).agg(aggCols.head, aggCols.tail: _*)
          .select(timestamp_micros(floor(col("__bucket_ns").cast("decimal(25,0)") / lit(1000))
            .cast("long")).as(timeCol) +: cols.map(vcol): _*)
      case None =>
        // time column surfaces as a datetime value (µs timestamp)
        df.select(
          timestamp_micros(floor(timeNs.cast("decimal(25,0)") / lit(1000)).cast("long")).as(timeCol) +:
            cols.map(vcol): _*)
    }
    var ordered = if (needKey) df else df.orderBy(timeCol)
    limitN.foreach { n =>
      ordered = (if (needKey) ordered.orderBy(timeCol) else ordered).offset(offsetN).limit(n)
    }
    val out = if (needKey) {
      if (limitN.isEmpty) withRownum(ordered, Seq(col(timeCol))) else withRownum(ordered)
    } else ordered
    Pipe(out, "_key", timeCol +: cols)
  }

  /** between() bound: ns literal (constant arithmetic folds — the
    * reference evaluates `123456789000-2.34*1000000000` in its expression
    * layer), time(ns), or 'now±dur' / 'last±dur'. */
  private[tql] def evalTimeBound(e: Expr): graft.operators.Lake.TimeBound = e match {
    case Expr.Num(v) => graft.operators.Lake.AbsNs(v.toLong)
    case Expr.Call("time", List(Expr.Num(v))) => graft.operators.Lake.AbsNs(v.toLong)
    case Expr.Str(s) => graft.operators.Lake.TimeBound.parse(s)
    case other => constNumOpt(other).map(v => graft.operators.Lake.AbsNs(v.toLong))
      .getOrElse(throw new IllegalArgumentException(s"unsupported time bound $other"))
  }

  /** dump(true[, escape]) detection: Some(escape) when the SQL text
    * should be emitted instead of executed (fm_dbsrc.go:816-833). */
  private[tql] def dumpArg(args: List[Expr]): Option[Boolean] = args.collectFirst {
    case Expr.Call("dump", dargs) => dargs match {
      case Expr.Bool(flag) :: rest =>
        if (!flag) None
        else Some(rest.headOption.collect { case Expr.Bool(b) => b }.getOrElse(false))
      case _ => None
    }
  }.flatten

  /** The reference generator's SQL text, byte-for-byte (fm_dbsrc.go
    * toSql/toSqlGroup:147-227; goldens in task_test.go TestQuerySql /
    * TestSqlSelect). version 1 = SQL_SELECT (columns as given), else
    * QUERY (baseTime prepended). Defaults: between('last-1s','last'),
    * limit(0, 1000000). */
  private[tql] def refSqlText(version: Int, cols: Seq[String], table: String, tag: String,
                         baseTime: String, baseName: String,
                         between: Option[(graft.operators.Lake.TimeBound, graft.operators.Lake.TimeBound)],
                         periodNs: Option[Long], offset: Int, limitN: Option[Int]): String = {
    import graft.operators.Lake
    val tU = table.toUpperCase
    def durStr(off: Long) = if (off == 0) "" else if (off < 0) off.toString else s"+$off"
    def part(bd: Lake.TimeBound): String = bd match {
      case Lake.LastRel(off) =>
        s"(SELECT MAX_TIME${durStr(off)} FROM V$$${tU}_STAT WHERE name = '$tag')"
      case Lake.NowRel(0L) => "now"
      case Lake.NowRel(off) => s"(now${durStr(off)})"
      case Lake.AbsNs(ns) => ns.toString
    }
    val (a, b) = between.getOrElse((Lake.LastRel(-1000000000L), Lake.LastRel(0L)))
    val where = s"$baseName = '$tag' AND $baseTime BETWEEN ${part(a)} AND ${part(b)}"
    val lim = s"LIMIT $offset, ${limitN.getOrElse(1000000)}"
    val colsOr = if (cols.nonEmpty) cols else Seq("value")
    periodNs match {
      case None =>
        val sel = if (version == 1) colsOr.mkString(", ")
                  else (baseTime +: colsOr).mkString(", ")
        s"SELECT $sel FROM $tU WHERE $where $lim"
      case Some(prd) =>
        val bucket = s"from_timestamp(round(to_timestamp($baseTime)/$prd)*$prd) $baseTime"
        val sel =
          if (version == 1) colsOr.map(c => if (c == baseTime) bucket else c).mkString(", ")
          else (bucket +: colsOr).mkString(", ")
        s"SELECT $sel FROM $tU WHERE $where GROUP BY $baseTime ORDER BY $baseTime $lim"
    }
  }

  /** A one-record SQLDUMP pipe carrying the generated SQL. */
  private[tql] def sqlDumpPipe(spark: SparkSession, needKey: Boolean, escape: Boolean,
                          sqlText: String): Pipe = {
    val text = if (escape) goQueryEscape(sqlText) else sqlText
    import spark.implicits._
    val df = Seq(text).toDF("SQLDUMP")
    Pipe(if (needKey) withRownum(df) else df, "_key", Seq("SQLDUMP"))
  }

  /** Go url.QueryEscape over a constant (escape=true dumps). */
  private[tql] def goQueryEscape(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
      .replace("*", "%2A").replace("%7E", "~")

  /** 'now[±dur]' literal → epoch ns off the injected clock, with the
    * reference's error wrapping (util/types.go:250-271 ToTime inside
    * fm_time.go's "invalid time expression" wrapper). */
  private[tql] def nowRelativeNs(strVal: String): Long = {
    val now = currentNowNs.get.longValue()
    val remain0 = strVal.substring(3).trim
    if (remain0.isEmpty) return now
    val (sig, remain) =
      if (remain0.startsWith("+")) (1L, remain0.substring(1).trim)
      else if (remain0.startsWith("-")) (-1L, remain0.substring(1).trim)
      else throw new IllegalArgumentException(
        s"invalid time expression: incompatible conv '$strVal' (string) to time.Time")
    val dur =
      try graft.time.TimeFns.parseDurationNs(remain)
      catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"invalid time expression: incompatible conv '$strVal', ${e.getMessage}")
      }
    now + sig * dur
  }

  /** Fold a compile-time epoch-ns expression (exact long arithmetic so
    * ns literals like 1685714509*1000000000 don't round through double). */
  private[tql] def evalConstNs(e: Expr): Long = e match {
    case Expr.Num(v) => v.toLong
    case Expr.Call("time", List(Expr.Str("now"))) => currentNowNs.get.longValue()
    case Expr.Call("time", List(Expr.Str(s))) if s.trim.startsWith("now") =>
      // time('now-1s') / time('now + 2h') — clock-relative literal
      nowRelativeNs(s.trim)
    case Expr.Call("time", List(x)) => evalConstNs(x)
    case Expr.Str(s) if s.trim == "now" || s.trim.startsWith("now-") ||
      s.trim.startsWith("now+") || s.trim.startsWith("now ") =>
      // bare 'now'/'now±dur' string where a time is expected
      // (oscillator range('now', …) — fm_fake.go)
      evalConstNs(Expr.Call("time", List(e)))
    case Expr.Call("timeAdd", List(x, Expr.Str(dur))) =>
      evalConstNs(x) + graft.time.TimeFns.parseDurationNs(dur)
    case Expr.Bin("*", a, b) => evalConstNs(a) * evalConstNs(b)
    case Expr.Bin("+", a, b) => evalConstNs(a) + evalConstNs(b)
    case Expr.Bin("-", a, b) => evalConstNs(a) - evalConstNs(b)
    case other => throw new IllegalArgumentException(s"not a constant time: $other")
  }

  /** Fold a compile-time string expression (literals + strTrimSpace +
    * strSprintf with constant args, Go verb subset). */
  /** CSV field() type cast, shared by the file and payload/literal
    * branches. datetimeType(unit): epoch numbers become real timestamps
    * (sink timeformat() modes then apply; TestTimeWindowMs); ns keeps
    * the raw long — the TQL ns convention, and a timestamp would
    * truncate sub-µs digits. */
  /** CSV `logProgress([n])` option (reference fm_csv.go:309
    * fmLogProgress): no arg → every 500,000 rows; a number → that
    * cadence; anything else → the reference's exact arg error
    * (fm_csv_test.go:18-26 battery). */
  private[tql] def csvProgressCount(rest: List[Expr]): Option[Long] = rest.collectFirst {
    case Expr.Call("logProgress", Nil) => 500000L
    case Expr.Call("logProgress", List(Expr.Num(v))) => v.toLong
    case Expr.Call("logProgress", _) => throw new IllegalArgumentException(
      "f(printProgressCount) argument should be int")
  }

  /** "Loading 500,000 records" — English digit grouping like the
    * reference's message printer (fm_csv.go:235). */
  def csvProgressMsg(n: Long): String =
    "Loading " + String.format(java.util.Locale.US, "%,d", Long.box(n)) + " records"

  private[tql] def csvFieldCast(c: Column, t: String, targs: List[Expr]): Column = t match {
    case "doubleType" => c.cast("double")
    case "floatType" => c.cast("float")
    case "stringType" => c
    case "boolType" => c.cast("boolean")
    case "datetimeType" | "timeType" =>
      targs.collectFirst { case Expr.Str(u) => u }.getOrElse("ns") match {
        case "s" => timestamp_seconds(c.cast("long"))
        case "ms" => timestamp_millis(c.cast("long"))
        case "us" => timestamp_micros(c.cast("long"))
        case _ => c.cast("long")
      }
    case other => throw new IllegalArgumentException(s"unknown field type $other")
  }

  /** range(time, duration[, period]) validation with the reference's
    * arg-indexed diagnostics (fm_time.go fmTimeRange:23-51; TestRangeTime
    * pins each message). Returns (startNs, durationNs, periodNs). */
  private[tql] def rangeArgs(rargs: List[Expr]): (Long, Long, Long) = {
    def goType(e: Expr): String = e match {
      case Expr.Bool(_) => "bool"
      case Expr.Num(_) => "float64"
      case Expr.Str(_) => "string"
      case _ => "string"
    }
    def durOf(e: Expr, idx: Int, what: String): Long = e match {
      case Expr.Str(d) =>
        try graft.time.TimeFns.parseDurationNs(d)
        catch { case _: Exception => throw new IllegalArgumentException(
          s"f(range) arg($idx) should be $what, but ${goType(e)}") }
      case Expr.Num(n) => n.toLong
      case other => throw new IllegalArgumentException(
        s"f(range) arg($idx) should be $what, but ${goType(other)}")
    }
    require(rargs.size >= 2, "f(range) invalid number of args")
    val start = rargs.head match {
      case b @ Expr.Bool(_) => throw new IllegalArgumentException(
        s"f(range) arg(0) should be time, but ${goType(b)}")
      case e => evalConstNs(e)
    }
    val dur = durOf(rargs(1), 1, "duration")
    val per = if (rargs.size > 2) durOf(rargs(2), 2, "period") else 0L
    if (rargs.size > 2 && math.abs(dur) <= math.abs(per))
      throw new IllegalArgumentException(
        "f(range) arg(2) period should be smaller than duration")
    (start, dur, per)
  }

  private[tql] def constString(e: Expr): String = constStringOpt(e).getOrElse(
    throw new IllegalArgumentException(s"expected string literal, got $e"))

  private[tql] def constStringOpt(e: Expr): Option[String] = e match {
    case Expr.Str(v) => Some(v)
    case Expr.Call("payload", _) => paramFirst("payload")
    case Expr.Call("file", List(Expr.Str(path))) =>
      // file('path') content source for STRING/BYTES (fm_bytes.go
      // FilePath) — http(s) URLs fetch over the wire like the
      // reference's ssfs HttpFileSystem (task_test.go TestHttpFile)
      Some(new String(contentBytes(path), "UTF-8"))
    case Expr.Bin("??", l, r) => constStringOpt(l).orElse(constStringOpt(r))
    case Expr.Call("param", List(Expr.Str(n))) => paramFirst(n)
    case Expr.Bin("+", l, r) => // constant concatenation ('a' + 'b')
      for (a <- constStringOpt(l); b <- constStringOpt(r)) yield a + b
    case Expr.Call("strTrimSpace", List(x)) => constStringOpt(x).map(_.trim)
    case Expr.Call("strSprintf", Expr.Str(fmt) :: args) =>
      val vals = args.map {
        case Expr.Num(v) => v: Any
        case Expr.Str(v) => v: Any
        case Expr.Bool(b) => b: Any
        case _ => return None
      }
      Some(goSprintf(fmt, vals))
    case _ => None
  }

  /** Minimal Go-style Sprintf: %.f %q %s %d %g %f with width ignored. */
  private[tql] def goSprintf(fmt: String, args: Seq[Any]): String = {
    val out = new StringBuilder
    var ai = 0
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        var j = i + 1
        while (j < fmt.length && !"dfgqsv%".contains(fmt.charAt(j))) j += 1
        val spec = fmt.substring(i, j + 1)
        fmt.charAt(j) match {
          case '%' => out.append('%')
          case 'q' => out.append('"').append(String.valueOf(args(ai))).append('"'); ai += 1
          case 's' | 'v' => out.append(String.valueOf(args(ai))); ai += 1
          case 'd' => out.append(args(ai) match {
              case d: Double => d.toLong.toString
              case o => o.toString
            }); ai += 1
          case 'f' | 'g' =>
            val d = args(ai) match { case x: Double => x; case o => o.toString.toDouble }
            ai += 1
            val prec = "\\.([0-9]*)".r.findFirstMatchIn(spec).map(_.group(1))
            prec match {
              case Some("") => out.append(d.toLong.toString) // %.f
              case Some(p) => out.append(s"%.${p}f".format(d))
              case None => out.append(if (d == d.toLong) d.toLong.toString else d.toString)
            }
        }
        i = j + 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Parse '[[..],[..]]' JSON rows into literal cells (numbers/strings). */
  private[tql] def parseJsonRows(text: String): Seq[Seq[Any]] = {
    // reuse the TQL expression parser: JSON arrays are valid [..] literals
    Parser.parseExpression(text.replace("[", "[").replace("]", "]")) match {
      case Expr.Call("__arr", rows) if rows.forall(_.isInstanceOf[Expr.Call]) &&
          rows.collect { case Expr.Call("__arr", _) => 1 }.size == rows.size =>
        rows.map { case Expr.Call("__arr", cells) => cells.map(cellValue) }
      case Expr.Call("__arr", cells) => Seq(cells.map(cellValue))
      case other => throw new IllegalArgumentException(s"bad json rows: $text")
    }
  }

  private[tql] def cellValue(e: Expr): Any = e match {
    case Expr.Num(v) => v
    case Expr.Str(v) => v
    case Expr.Bool(b) => b
    case Expr.Null => null
    case other => throw new IllegalArgumentException(s"bad json cell $other")
  }

  private[tql] def buildLiteralDf(spark: SparkSession, parsed: Seq[Seq[Any]],
                             needKey: Boolean): Pipe = {
    require(parsed.nonEmpty, "json() needs rows")
    val nCols = parsed.head.size
    val names = (0 until nCols).map(i => s"column$i")
    val schema = org.apache.spark.sql.types.StructType(
      (0 until nCols).map { i =>
        val t = parsed.head(i) match {
          case _: java.lang.Double | _: Double => org.apache.spark.sql.types.DoubleType
          case _: java.lang.Boolean | _: Boolean => org.apache.spark.sql.types.BooleanType
          case _ => org.apache.spark.sql.types.StringType
        }
        org.apache.spark.sql.types.StructField(names(i), t)
      })
    val rowsJ = parsed.map(cs => org.apache.spark.sql.Row.fromSeq(cs))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rowsJ).asJava), schema)
    Pipe(if (needKey) withRownum(df) else df, "_key", names)
  }

  /** Compile-time numeric folding for generator args —
    * FAKE(linspace(parseFloat(param("begin")), …)) (tqlcache_test.go). */
  private[tql] def constNumOpt(e: Expr): Option[Double] = e match {
    case Expr.Num(v) => Some(v)
    case Expr.Unary("-", x) => constNumOpt(x).map(v => -v)
    case Expr.Bin(op, l, r) =>
      for {
        a <- constNumOpt(l); b <- constNumOpt(r)
        v <- op match {
          case "+" => Some(a + b); case "-" => Some(a - b)
          case "*" => Some(a * b); case "/" => Some(a / b)
          case _ => None
        }
      } yield v
    case Expr.Call("parseFloat", List(x)) =>
      constStringOpt(x).flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
    case Expr.Call("param", List(Expr.Str(n))) =>
      paramFirst(n).flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
    case _ => None
  }

  private[tql] def compileFake(spark: SparkSession, gen0: Expr.Call, needKey: Boolean): Pipe = {
    import Expr._
    def keyed(df: org.apache.spark.sql.DataFrame, values: Seq[String]): Pipe =
      Pipe(if (needKey) withRownum(df) else df, "_key", values)
    // fold non-literal numeric args (param()/parseFloat) to literals
    val gen = Call(gen0.name, gen0.args.map(a =>
      if (a.isInstanceOf[Num]) a else constNumOpt(a).map(Num).getOrElse(a)))
    gen match {
      case Call("linspace", List(Num(a), Num(b), Num(n))) =>
        keyed(Fake.linspace(spark, a, b, n.toInt), Seq("x"))
      case Call("arrange", List(Num(a), Num(b), Num(s))) =>
        keyed(Fake.arrange(spark, a, b, s), Seq("x"))
      case Call("meshgrid", List(Call("linspace", List(Num(xa), Num(xb), Num(xn))),
                                 Call("linspace", List(Num(ya), Num(yb), Num(yn))))) =>
        keyed(Fake.meshgrid(spark, xa, xb, xn.toInt, ya, yb, yn.toInt), Seq("x", "y"))
      case Call("oscillator", args) =>
        // argument diagnostics mirror fm_fake.go fmOscillator
        // (tql_test.go FAKE_oscillator_* error battery)
        args.collectFirst { case Num(_) => () }.foreach { _ =>
          throw new IllegalArgumentException("f(oscillator) invalid arg type 'float64'")
        }
        val freqs = args.collect { case Call("freq", List(Num(hz), Num(amp))) => Fake.Freq(hz, amp) }
        val ranges = args.collect {
          case Call("range", rargs) => rangeArgs(rargs)
        }
        if (ranges.length > 1)
          throw new IllegalArgumentException("f(oscillator) duplicated time range")
        val rng = ranges.headOption.getOrElse(
          throw new IllegalArgumentException("f(oscillator) no time range is defined"))
        require(freqs.nonEmpty, "oscillator needs freq(hz, amp)")
        keyed(Fake.oscillator(spark, freqs, rng._1, rng._2, rng._3), Seq("time", "value"))
      case Call("sphere", List(Num(la), Num(lo))) =>
        keyed(Fake.sphere(spark, la.toInt, lo.toInt), Seq("x", "y", "z"))
      case Call("args", Nil) =>
        // FAKE(args()): sub-routine args as one record (task_test.go:1605)
        val vals = currentParams.get.getOrElse("args", Seq.empty)
        if (vals.isEmpty)
          keyed(spark.range(0).select(col("id").cast("string").as("column0")),
            Seq("column0"))
        else
          keyed(spark.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row.fromSeq(vals)),
            org.apache.spark.sql.types.StructType(vals.indices.map(i =>
              org.apache.spark.sql.types.StructField(s"column$i",
                org.apache.spark.sql.types.StringType)))),
            vals.indices.map(i => s"column$i"))
      case Call("linspace50", List(Num(a), Num(b))) =>
        // linspace with the reference's default sample count (fm_fake.go:328)
        keyed(Fake.linspace(spark, a, b, 50), Seq("x"))
      case Call("statz", Num(_) :: keyEs) =>
        // FAKE(statz(interval, 'key'…)): server-metrics timeseries — one
        // row per sample time, one column per key (tql_test.go:1865-1881)
        val keys = keyEs.collect { case Str(k) => k }
        require(keys.nonEmpty, "statz needs at least one metric key")
        val perKey = keys.map(k => k -> graft.server.Metrics.timeseries(k).toMap)
        val times = perKey.flatMap(_._2.keys).distinct.sorted
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("time",
            org.apache.spark.sql.types.TimestampType) +:
          keys.map(k => org.apache.spark.sql.types.StructField(k,
            org.apache.spark.sql.types.DoubleType)))
        val data: java.util.List[org.apache.spark.sql.Row] =
          scala.jdk.CollectionConverters.SeqHasAsJava(times.map { t =>
            val ts = new java.sql.Timestamp(Math.floorDiv(t, 1000000L))
            ts.setNanos(Math.floorMod(t, 1000000000L).toInt)
            org.apache.spark.sql.Row.fromSeq(
              (ts: Any) +: perKey.map { case (_, m) =>
                m.get(t).map(Double.box).orNull
              })
          }).asJava
        keyed(spark.createDataFrame(data, schema), "time" +: keys)

      case Call("once", List(Num(n))) =>
        // FAKE(once(v)): a single record carrying v (fm_fake.go doOnce) —
        // drives one execution of a statement sink (SQL_FLUSH case)
        keyed(spark.range(1).select(
          (if (n == math.rint(n)) lit(n.toLong) else lit(n)).as("x")), Seq("x"))
      case Call("json", List(textE)) if constStringOpt(textE).isDefined =>
        // FAKE(json('[1, "a"]')) — single-row (or rows of arrays) JSON text
        val text = constStringOpt(textE).get.trim
        val rowsText = if (text.startsWith("[[")) text else s"[$text]"
        val parsed = parseJsonRows(rowsText)
        buildLiteralDf(spark, parsed, needKey)

      case Call("json", List(Call("__obj", rows))) =>
        // FAKE(json({ [..],[..] })) — literal rows (reference fm_fake.go:175)
        val parsed: Seq[Seq[Any]] = rows.map {
          case Call("__arr", cells) => cells.map(cellValue)
          case other => throw new IllegalArgumentException(s"bad json row $other")
        }
        buildLiteralDf(spark, parsed, needKey)
      case Call("csv", List(arg)) =>
        // FAKE(csv(`literal`)) — rows as-is, all strings, no header logic
        val text = constString(arg)
        val lines = text.split("\n").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
        require(lines.nonEmpty, "csv() literal is empty")
        val nCols = lines.head.split(",", -1).length
        val names = (0 until nCols).map(i => s"column$i")
        val schema = org.apache.spark.sql.types.StructType(
          names.map(n => org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.StringType)))
        val rowsC = lines.map(l => org.apache.spark.sql.Row.fromSeq(
          l.split(",", -1).toSeq.map(_.trim: Any)))
        val df = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rowsC).asJava), schema)
        keyed(df, names)
      case other => throw new IllegalArgumentException(s"unsupported FAKE generator: $other")
    }
  }
}
