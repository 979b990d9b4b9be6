package graft.server

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.GoJs
import graft.time.TimeFns
import WebApi.HttpReply

/** The machlake cloud REST face — `GET /lakes/tags`,
  * `GET /lakes/values/:type` (raw / calculated / group / last / current /
  * pivoted / stat), `POST /lakes/values[/:type]` append, and
  * `POST /lakes/inter/execquery` (reference mods/server/http_lake.go:
  * routes http.go:341-347, handlers :206-1446, append :2248-2339,
  * helper builders :1650-2110, plan limits :143-193).
  *
  * The reference builds Machbase SQL text per request and runs it through
  * the engine. Here each mode is a declarative DataFrame template over the
  * session tag table (Catalyst prunes/pushes the NAME + TIME predicates
  * into the scan), and only the REST-bounded result — capped by the plan's
  * `limitSelectValue`, ≤100k rows on the largest plan — is collected to
  * render the JSON envelope, exactly what the reference door materializes.
  * The SQL-text helper builders are kept verbatim-compatible (they are
  * pinned by http_lake_test.go TestLakeHelperBuilders) and feed the debug
  * "query" string, not execution.
  */
object LakeDoor {

  // ---- plan limits (http_lake.go:143-193) ---------------------------------
  case class PlanLimit(maxQuery: Long, maxStorage: Long, maxNetwork: Long,
                       maxTagCount: Long, maxConcurrent: Int,
                       limitSelectTag: Int, limitSelectValue: Long,
                       limitAppendTag: Long, limitAppendValue: Long,
                       defaultTagCount: Long)

  val planMap: Map[String, PlanLimit] = Map(
    "TINY" -> PlanLimit(100000L, 10737418240L, 10737418240L, 500L, 5,
      1000, 1000L, 1000L, 1000L, 100L),
    "BASIC" -> PlanLimit(750000L, 107374182400L, 10737418240L, 5000L, 20,
      5000, 5000L, 5000L, 5000L, 500L),
    "BUSINESS" -> PlanLimit(4000000L, 1099511627776L, 10737418240L, 50000L, 50,
      50000, 50000L, 50000L, 50000L, 5000L),
    "ENTERPRISE" -> PlanLimit(10000000L, 5497558138880L, 10737418240L, 500000L, 100,
      100000, 100000L, 100000L, 100000L, 50000L))

  /** PLAN_NAME selection; TINY when unset (http_lake.go:137-140). */
  @volatile var localPlan: String = "TINY"
  private def currentPlan: PlanLimit = planMap.getOrElse(localPlan, planMap("TINY"))

  val EdgeSelectLimit = 10000

  // ---- SQL-text helper builders (pinned by TestLakeHelperBuilders) --------

  /** http_lake.go:986-992 — trim each line, join with single spaces. */
  def sqlTidy(sql: String): String =
    sql.split("\n", -1).map(_.trim).mkString(" ").trim

  /** http_lake.go:1828-1834 */
  def makeLimit(offset: String, limit: String): String =
    if (offset.nonEmpty) s"LIMIT $offset, $limit" else s"LIMIT $limit"

  /** http_lake.go:1836-1855 */
  def makeAndCondition(str: String, sep: String, flag: Boolean): String = {
    val arr = str.split(java.util.regex.Pattern.quote(sep), -1)
    if (arr.isEmpty) return ""
    val sb = new StringBuilder
    if (arr(0).nonEmpty) {
      if (flag) sb.append(" AND ")
      sb.append(arr(0))
    }
    arr.drop(1).foreach(c => sb.append(" AND ").append(c))
    sb.append(" ")
    sb.toString
  }

  /** http_lake.go:1902-1915 — 19-char stamps keep seconds, longer keep ms. */
  def makeToDate(times: String): String = {
    val n = times.length
    if (n == 19) {
      val t = times.substring(0, 10) + " " + times.substring(11)
      s"TO_DATE('$t')"
    } else if (n > 19) {
      val t = times.substring(0, 10) + " " + times.substring(11, 19) + " " + times.substring(20, 23)
      s"TO_DATE('$t', 'YYYY-MM-DD HH24:MI:SS mmm')"
    } else ""
  }

  /** http_lake.go:1928-1952 */
  def makeInCondition(column: String, values: Seq[String], flag: Boolean,
                      stringFlag: Boolean): String = {
    val items = values.map(v => if (stringFlag) s"'$v'" else v).mkString(",")
    val r = s"$column IN($items)"
    if (flag) " AND " + r else r
  }

  /** http_lake.go:1954-1959 — first two dot-segments + wildcard. */
  def makeLikeTag(tag: String): String = {
    val split = tag.split("\\.", -1)
    val head = split.take(math.min(2, split.length)).mkString(".")
    s"'$head.%'"
  }

  /** http_lake.go:1961-1980 */
  def makeValueColumn(columns: Seq[String], aliases: Seq[String]): String = {
    val sb = new StringBuilder
    if (aliases.nonEmpty) {
      columns.zip(aliases).foreach { case (c, a) =>
        sb.append(s""", "${c.trim}"""")
        if (a.nonEmpty) sb.append(s""" AS "${a.trim}"""")
      }
    } else columns.foreach(c => sb.append(s""", "${c.trim}""""))
    sb.toString
  }

  /** http_lake.go:1990-2014 — ns/us/ms/sec → TO_TIMESTAMP with divisor,
    * empty passes through, anything else renders TO_CHAR. */
  def makeTimeColumn(column: String, format: String, alias: String): String = {
    val r = format.toUpperCase match {
      case "NANOSECOND" | "NS" | "NANO" => s"TO_TIMESTAMP($column)"
      case "MICROSECOND" | "US" | "MICRO" => s"TO_TIMESTAMP($column/1000)"
      case "MILLISECOND" | "MS" | "MILLI" => s"TO_TIMESTAMP($column/1000000)"
      case "SECOND" | "S" | "SEC" => s"TO_TIMESTAMP($column/1000000000)"
      case "" => column
      case _ => s"TO_CHAR($column, '$format')"
    }
    if (alias.nonEmpty) s"$r AS $alias" else r
  }

  /** http_lake.go:2016-2022 */
  def makeScanHint(flag: String, tableName: String): String =
    if (flag == "1") s"/*+ SCAN_BACKWARD($tableName) */ " else ""

  /** http_lake.go:1700-1705 — COUNT and SUMSQ re-aggregate with SUM. */
  def makeCalculator(column: String, calcType: String): String = {
    val c = if (calcType == "COUNT" || calcType == "SUMSQ") "SUM" else calcType
    s"$c($column)"
  }

  /** http_lake.go:1692-1698 — rollup granularities are SEC/MIN/HOUR only. */
  def makeRollupHint(timeColumn: String, intervalType: String,
                     calcType: String, valueColumn: String): String = {
    val it = if (intervalType != "SEC" && intervalType != "MIN") "HOUR" else intervalType
    s"$timeColumn ROLLUP 1 $it $timeColumn, $calcType($valueColumn) $valueColumn"
  }

  /** http_lake.go:1857-1879 — pad a unix stamp out to 19 digits. */
  def makeNanoTimeStamp(time: String): String = {
    val gap = 19 - time.length
    time.toLongOption match {
      case Some(t) => (t * math.pow(10, gap).toLong).toString
      case None => ""
    }
  }

  /** http_lake.go:1881-1900 — numeric stamps >13 digits truncate to ms. */
  def makeFromTimestamp(times: String): String =
    times.toLongOption match {
      case Some(_) =>
        val t = if (times.length > 13) times.substring(0, 13) else times
        val ns = makeNanoTimeStamp(t)
        if (ns.nonEmpty) s"FROM_TIMESTAMP($ns)" else ""
      case None => ""
    }

  // ---- checks (pinned by TestLakeHelperChecks) ----------------------------

  /** http_lake.go:281-299 — empty string means OK. */
  def checkSelectTagLimit(limitStr: String, limitSelectTag: Int): String =
    limitStr.toIntOption match {
      case None => "limit param is not number"
      case Some(l) if l > limitSelectTag =>
        s"limit over. (parameter:$l, Available:$limitSelectTag)"
      case _ => ""
    }

  /** http_lake.go:2024-2036 */
  def checkSelectValueLimit(limit: String, limitSelectValue: Long): String =
    limit.toLongOption match {
      case None => "limit param is not number"
      case Some(l) if l > limitSelectValue =>
        s"limit over. (parameter:$l, Available:$limitSelectValue)"
      case _ => ""
    }

  private val dateRe =
    java.util.regex.Pattern.compile("""[\d]{4}-[\d]{2}-[\d]{2}.\d{2}:\d{2}:\d{2}(.\d{3}){0,3}$""")

  /** http_lake.go:2038-2077 — Right(timeType) or Left(error message).
    * Numeric needs ≥10 digits; otherwise the dotted date shape. */
  def checkTimeFormat(timeValue: String, nilOk: Boolean): Either[String, String] = {
    if (timeValue.isEmpty)
      return if (nilOk) Right("") else Left("time is nil")
    timeValue.toLongOption match {
      case Some(_) =>
        if (timeValue.length < 10) Left(s"wrong format ($timeValue)")
        else Right("timestamp")
      case None =>
        if (dateRe.matcher(timeValue).matches()) Right("date")
        else Left(s"wrong format ($timeValue)")
    }
  }

  /** http_lake.go:2079-2110 — types must agree and end > start (string
    * comparison after the reference's normalization). */
  def checkTimePeriod(startTime: String, startType: String,
                      endTime: String, endType: String): Option[String] = {
    if (startType != endType) return Some("StartTime, EndTime Format Different")
    def norm(t: String): String =
      if (startType == "date") t.replace(".", " ")
      else if (t.length == 19) t.substring(0, 10) + " " + t.substring(11)
      else if (t.length > 19) t.substring(0, 10) + " " + t.substring(11, 19) + " " + t.substring(20, 23)
      else t
    if (norm(endTime) <= norm(startTime)) Some("EndTime less than StartTime") else None
  }

  /** http_lake.go:1718-1736 — sec/min/hour/day (+single-letter). */
  def checkTimeUnit(intervalType: String): Either[String, String] =
    intervalType.toUpperCase match {
      case "SEC" | "S" => Right("SEC")
      case "MIN" | "M" => Right("MIN")
      case "HOUR" | "H" => Right("HOUR")
      case "DAY" | "D" => Right("DAY")
      case other => Left(s"wrong format : '$other' not supported")
    }

  /** http_lake.go:1738-1762 — min/max/avg/sum/sumsq, cnt→COUNT. */
  def checkCalcUnit(calcMode: String): Either[String, String] =
    calcMode.toUpperCase match {
      case m @ ("MIN" | "MAX" | "AVG" | "SUM" | "SUMSQ") => Right(m)
      case "CNT" | "COUNT" => Right("COUNT")
      case other => Left(s"wrong format : '$other' not supported")
    }

  // ---- result shaping (pinned by TestLakeMakeReturnFormat) ----------------

  /** machbase SQL column type codes (public machbase DDL type table;
    * the envelope test pins varchar=5, double=20). */
  def machColumnType(mach: String): Int = mach match {
    case "int16" | "short" => 4
    case "string" | "varchar" => 5
    case "datetime" => 6
    case "int32" | "integer" | "int" => 8
    case "int64" | "long" => 12
    case "float" => 16
    case "double" => 20
    case "ipv4" => 32
    case "ipv6" => 36
    case "text" => 49
    case "clob" => 53
    case "blob" => 57
    case "binary" => 57
    case "uint16" | "ushort" => 104
    case "uint32" | "uinteger" => 108
    case "uint64" | "ulong" => 112
    case "json" => 61
    case _ => 5
  }

  case class MachColumn(name: String, typ: Int, length: Int = 0) {
    def toJson: String =
      s"""{"name":${GoJs.jsonQuote(name)},"type":$typ,"length":$length}"""
  }
  /** The door's driver-side result page (REST-bounded rows only). */
  case class MachResult(columns: Seq[MachColumn], data: Seq[Seq[Any]])

  /** selectData envelope (http_lake.go:922-984): one sample with the
    * joined tag names and the row list as column-keyed objects. */
  def selectDataJson(result: MachResult, calcMode: String, tagList: Seq[String]): String = {
    val rows = result.data.map { row =>
      result.columns.zip(row).map { case (c, v) =>
        s"${GoJs.jsonQuote(c.name)}:${jsonValue(v)}"
      }.mkString("{", ",", "}")
    }
    s"""{"calc_mode":${GoJs.jsonQuote(calcMode)},""" +
      s""""columns":${result.columns.map(_.toJson).mkString("[", ",", "]")},""" +
      s""""samples":[{"tag_name":${GoJs.jsonQuote(tagList.mkString(","))},""" +
      s""""data":${rows.mkString("[", ",", "]")}}]}"""
  }

  /** MakeReturnFormat (http_lake.go:1448-1481): leading NAME column is
    * stripped; format 0 groups row-objects per tag, format 1 transposes to
    * column arrays; "log" (pivot) keeps one unnamed sample. */
  def makeReturnFormatJson(result: MachResult, mode: String, format: String,
                           dataType: String, tagList: Seq[String]): String = {
    val stripName = result.columns.nonEmpty && result.columns.head.name == "NAME"
    val cols = if (stripName) result.columns.drop(1) else result.columns
    val colsJson = cols.map(_.toJson).mkString("[", ",", "]")
    val samples: String =
      if (result.data.isEmpty) "[]"
      else (format, dataType) match {
        case ("0", "tag") =>
          tagList.map { name =>
            val rows = result.data.filter(r => r.headOption.contains(name)).map { r =>
              cols.indices.map(i =>
                s"${GoJs.jsonQuote(cols(i).name)}:${jsonValue(r(i + 1))}")
                .mkString("{", ",", "}")
            }
            s"""{"tag_name":${GoJs.jsonQuote(name)},"data":${rows.mkString("[", ",", "]")}}"""
          }.mkString("[", ",", "]")
        case ("1", "tag") =>
          tagList.flatMap { name =>
            val rows = result.data.filter(r => r.headOption.contains(name))
            if (rows.isEmpty) None
            else Some {
              val sets = cols.indices.map { i =>
                s"${GoJs.jsonQuote(cols(i).name)}:" +
                  rows.map(r => jsonValue(r(i + 1))).mkString("[", ",", "]")
              }
              s"""{"tag_name":${GoJs.jsonQuote(name)},"data":${sets.mkString("{", ",", "}")}}"""
            }
          }.mkString("[", ",", "]")
        case ("1", _) =>
          val sets = result.columns.indices.map { i =>
            s"${GoJs.jsonQuote(result.columns(i).name)}:" +
              result.data.map(r => jsonValue(r(i))).mkString("[", ",", "]")
          }
          s"""[{"data":${sets.mkString("{", ",", "}")}}]"""
        case _ => // ("0", log)
          val rows = result.data.map { r =>
            result.columns.indices.map(i =>
              s"${GoJs.jsonQuote(result.columns(i).name)}:${jsonValue(r(i))}")
              .mkString("{", ",", "}")
          }
          s"""[{"data":${rows.mkString("[", ",", "]")}}]"""
      }
    s"""{"calc_mode":${GoJs.jsonQuote(mode)},"columns":$colsJson,"samples":$samples}"""
  }

  private def jsonValue(v: Any): String = v match {
    case ts: java.sql.Timestamp =>
      (ts.getTime / 1000 * 1000000000L + ts.getNanos).toString
    case other => GoJs.jsonMarshal(other)
  }

  // ---- envelope helpers ---------------------------------------------------

  private def resSet(status: Int, state: String, message: Option[String],
                     dataJson: Option[String]): HttpReply = {
    val fields = Seq(Some(s""""status":${GoJs.jsonQuote(state)}"""),
      message.map(m => s""""message":${GoJs.jsonQuote(m)}"""),
      dataJson.map(d => s""""data":$d""")).flatten
    HttpReply(status, "application/json; charset=utf-8",
      fields.mkString("{", ",", "}"))
  }
  private def fail(status: Int, message: String): HttpReply =
    resSet(status, "fail", Some(message), None)
  // GetGroupData/GetLastData/GetCurrentData carry the reference's "fall"
  // status typo (http_lake.go:758,846,997) — kept for envelope parity.
  private def fall(status: Int, message: String): HttpReply =
    resSet(status, "fall", Some(message), None)

  private def one(params: Map[String, Seq[String]], k: String): String =
    params.get(k).flatMap(_.headOption).getOrElse("")

  // ---- GET /lakes/tags (http_lake.go:206-268) -----------------------------

  def getTagList(spark: SparkSession, params: Map[String, Seq[String]],
                 table: String = "TAG"): HttpReply = {
    val name = one(params, "name")
    val limit = one(params, "limit")
    val offset = one(params, "offset")
    val plan = currentPlan
    val effLimit: Long =
      if (limit.nonEmpty && limit != "0") {
        if (checkSelectTagLimit(limit, plan.limitSelectTag).nonEmpty)
          return resSet(412, "fail", None, None)
        limit.toLong
      } else plan.limitSelectValue
    try {
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      var names = t.select(upper(col("NAME")).as("n")).distinct()
        .orderBy("n")
      if (name.nonEmpty)
        names = names.filter(col("n").contains(lit(name.toUpperCase)))
      val off = offset.toLongOption.getOrElse(0L)
      val page = names.limit((off + effLimit).min(Int.MaxValue).toInt)
        .collect().iterator.map(_.getString(0)).drop(off.toInt).toSeq
      val data = page.map(n => s"""{"name":${GoJs.jsonQuote(n)}}""")
        .mkString("""{"tag":[""", ",", "]}")
      resSet(200, "success", Some("get tag meta list success"), Some(data))
    } catch {
      case e: Exception => fail(400, e.getMessage)
    }
  }

  // ---- GET /lakes/values/:type (http_lake.go:301-329) ---------------------

  def getValues(spark: SparkSession, dataType: String,
                params: Map[String, Seq[String]], table: String = "TAG"): HttpReply =
    dataType match {
      case "raw" => getRawData(spark, params, table)
      case "calculated" => getCalculateData(spark, params, table)
      case "group" => getGroupData(spark, params, table)
      case "last" => getLastData(spark, params, table)
      case "current" => getCurrentData(spark, params, table)
      case "pivoted" => getPivotData(spark, params, table)
      case "stat" => getStatData(spark, params, table)
      case _ =>
        HttpReply(400, "application/json; charset=utf-8",
          """{"success":false,"reason":"This type is not available"}""")
    }

  // ---- shared request decoding -------------------------------------------

  private case class TimeRange(startNs: Long, endNs: Long)

  /** Resolve a validated (start,end) pair to epoch-ns bounds; timestamps
    * use the reference's pad-to-19 rule, dates parse as UTC wall-clock. */
  private def resolveRange(startTime: String, startType: String,
                           endTime: String, endType: String): TimeRange = {
    def ns(t: String, typ: String): Long =
      if (typ == "timestamp") {
        val trimmed = if (t.length > 13) t.substring(0, 13) else t
        makeNanoTimeStamp(trimmed).toLong
      } else dateToNs(t)
    TimeRange(ns(startTime, startType), ns(endTime, endType))
  }

  /** Parse "2023-05-16.09:10:20[.123[.456[.789]]]" (any separator chars at
    * the reference's positions) to epoch ns, UTC. */
  private[server] def dateToNs(t: String): Long = {
    val date = t.substring(0, 10)
    val hms = t.substring(11, 19)
    val frac = if (t.length > 19) t.substring(20).split("\\.").toSeq else Nil
    val base = java.time.LocalDateTime.parse(s"${date}T$hms")
      .toInstant(java.time.ZoneOffset.UTC)
    val subNs = frac.zip(Seq(1000000L, 1000L, 1L))
      .map { case (d, mul) => d.toLongOption.getOrElse(0L) * mul }.sum
    base.getEpochSecond * 1000000000L + subNs
  }

  private def tsNsCol(df: DataFrame, timeCol: String = "TIME"): Column =
    df.schema(timeCol).dataType match {
      case TimestampType =>
        (unix_micros(col(timeCol)) * 1000L)
      case LongType => col(timeCol)
      case _ => col(timeCol).cast("long")
    }

  private def machTypeOfField(f: StructField): Int = {
    val mach = if (f.metadata.contains("machtype")) f.metadata.getString("machtype")
    else f.dataType match {
      case StringType => "string"
      case DoubleType => "double"
      case FloatType => "float"
      case LongType => "int64"
      case IntegerType => "int32"
      case ShortType => "int16"
      case TimestampType => "datetime"
      case BinaryType => "binary"
      case _ => "string"
    }
    machColumnType(mach)
  }

  private def collectResult(df: DataFrame, offset: Long, limit: Long): MachResult = {
    val cols = df.schema.fields.map(f => MachColumn(f.name, machTypeOfField(f))).toSeq
    val capped = df.limit(((offset + limit) min Int.MaxValue.toLong).toInt).collect()
    val rows = capped.iterator.drop(offset.toInt)
      .map(r => r.toSeq.map {
        case ts: java.sql.Timestamp => ts
        case bd: java.math.BigDecimal => bd.doubleValue()
        case v => v
      }).toSeq
    MachResult(cols, rows)
  }

  /** The TO_CHAR/TO_TIMESTAMP projection of a ns time column per the
    * date_format parameter (makeTimeColumn semantics, datetime branch
    * rendering epoch in the requested unit). */
  private def timeProjection(ns: Column, dateFormat: String): Column =
    dateFormat.toUpperCase match {
      case "NANOSECOND" | "NS" | "NANO" => ns
      case "MICROSECOND" | "US" | "MICRO" => (ns / 1000L).cast("long")
      case "MILLISECOND" | "MS" | "MILLI" => (ns / 1000000L).cast("long")
      case "SECOND" | "S" | "SEC" => (ns / 1000000000L).cast("long")
      case fmt =>
        date_format(timestamp_micros((ns / 1000L).cast("long")),
          TimeFns.translateTimeformat(fmt))
    }

  // ---- raw (http_lake.go:331-523) ----------------------------------------

  def getRawData(spark: SparkSession, params: Map[String, Seq[String]],
                 table: String): HttpReply = {
    val returnType = one(params, "value_return_form") match {
      case "" => "0"
      case t @ ("0" | "1") => t
      case _ => return resSet(412, "fail", Some("not specified"),
        Some("""{"title":"Wrong Parameter. (value_return_form) : must be 0,1"}"""))
    }
    val sep = one(params, "separator") match { case "" => ","; case s => s }
    val plan = currentPlan
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty)
      return fail(422, "Wrong Parameter. (tagname) : must be a least 1")
    val tagList = tagName.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    if (tagList.length > plan.limitSelectTag)
      return fail(422, s"tag count over. (parameter:${tagList.length}, Available:${plan.limitSelectTag})")
    val dateFormat = one(params, "date_format") match {
      case "" => "YYYY-MM-DD HH24:MI:SS"; case f => f
    }
    val startTime = one(params, "start_time")
    val endTime = one(params, "end_time")
    val startType = checkTimeFormat(startTime, nilOk = false) match {
      case Left(_) => return fail(422, "Wrong Parameter. (startTime)")
      case Right(t) => t
    }
    val endType = checkTimeFormat(endTime, nilOk = false) match {
      case Left(_) => return fail(422, "Wrong Parameter. (endTime)")
      case Right(t) => t
    }
    checkTimePeriod(startTime, startType, endTime, endType)
      .foreach(msg => return fail(422, msg))
    val columns = one(params, "columns") match {
      case "" => Seq("VALUE")
      case c => c.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    }
    val aliases = one(params, "aliases") match {
      case "" => Nil
      case a =>
        val al = a.split(java.util.regex.Pattern.quote(sep), -1).toSeq
        if (al.length != columns.length)
          return fail(422, "The number of 'columns' and 'aliases' is different")
        al
    }
    val tableName = one(params, "table_name") match { case "" => "TAG"; case t => t.toUpperCase }
    val limit: Long = tableName match {
      case "TAGDATA" =>
        one(params, "limit").toLongOption.getOrElse(EdgeSelectLimit.toLong)
      case _ =>
        one(params, "limit") match {
          case "" => plan.limitSelectValue
          case l =>
            val check = checkSelectValueLimit(l, plan.limitSelectValue)
            if (check.nonEmpty) return fail(422, check)
            l.toLong
        }
    }
    val direction = one(params, "direction") match {
      case "" => "0"
      case d @ ("0" | "1") if tableName == "TAG" => d
      case _ if tableName == "TAG" =>
        return fail(422, "Wrong Parameter. (direction) : must be 0, 1")
      case _ => "0"
    }
    try {
      val range = resolveRange(startTime, startType, endTime, endType)
      val actualTable = if (table == "TAG" && tableName != "TAG") tableName else table
      TagTables.ensure(spark, actualTable)
      val t = spark.table(actualTable)
      val ns = tsNsCol(t)
      var q = t.filter(col("NAME").isin(tagList: _*) &&
          ns >= lit(range.startNs) && ns <= lit(range.endNs))
      one(params, "and_condition").split(java.util.regex.Pattern.quote(sep))
        .filter(_.nonEmpty).foreach(cond => q = q.filter(expr(cond)))
      val valueCols = columns.zipWithIndex.map { case (c, i) =>
        val alias = aliases.lift(i).filter(_.nonEmpty).getOrElse(c.trim)
        col(c.trim).as(alias)
      }
      val ordered = q.select(Seq(col("NAME"),
          timeProjection(ns, dateFormat).as("TIME")) ++ valueCols: _*)
        .orderBy(if (direction == "1") col("TIME").desc else col("TIME").asc)
      val result = collectResult(ordered,
        one(params, "offset").toLongOption.getOrElse(0L), limit)
      resSet(200, "success", None,
        Some(selectDataJson(result, "", tagList)))
    } catch {
      case e: Exception => fail(424, e.getMessage)
    }
  }

  // ---- calculated (http_lake.go:539-743) ----------------------------------

  /** The TAG-path calc template (http_lake.go:674-703): a 1×unit rollup
    * sub-aggregate re-aggregated to n×unit buckets with the outer
    * calculator (COUNT/SUMSQ re-sum, AVG averages the sub-averages —
    * reference rollup semantics). Two hash aggregations, no shuffle
    * beyond the (name, bucket) exchange. */
  private[graft] def calcFrame(df: DataFrame, tag: Column, tsNs: Column,
                               value: Column, mode: String, unit: String,
                               n: Int): DataFrame = {
    val innerAgg: Column = mode match {
      case "MIN" => min(value)
      case "MAX" => max(value)
      case "AVG" => avg(value)
      case "SUM" => sum(value)
      case "SUMSQ" => sum(value * value)
      case "COUNT" => count(value)
      case m => throw new IllegalArgumentException(s"calc_mode $m")
    }
    val inner = df.groupBy(tag.as("NAME"),
        TimeFns.dateTruncNs(tsNs, if (unit == "DAY") "HOUR" else unit, 1).as("__t1"))
      .agg(innerAgg.as("__v"))
    val outerAgg: Column = mode match {
      case "MIN" => min(col("__v"))
      case "MAX" => max(col("__v"))
      case "AVG" => avg(col("__v"))
      case _ => sum(col("__v")) // SUM, SUMSQ, COUNT re-aggregate with SUM
    }
    inner.groupBy(col("NAME"), TimeFns.dateTruncNs(col("__t1"), unit, n).as("__tn"))
      .agg(outerAgg.as("VALUE"))
  }

  def getCalculateData(spark: SparkSession, params: Map[String, Seq[String]],
                       table: String): HttpReply = {
    val returnType = one(params, "value_return_form") match {
      case "" => "0"
      case t @ ("0" | "1") => t
      case _ => return fail(412, "Wrong Parameter. (value_return_form) : must be 0,1")
    }
    val _ = returnType // calculated replies via selectData (row objects)
    val sep = one(params, "separator") match { case "" => ","; case s => s }
    val plan = currentPlan
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty)
      return fail(422, "Wrong Parameter. (tag_name) : must be at least 1")
    val tagList = tagName.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    if (tagList.length > plan.limitSelectTag)
      return fail(422, s"tag count over. (parameter:${tagList.length}, Available:${plan.limitSelectTag})")
    val dateFormat = one(params, "date_format") match {
      case "" => "YYYY-MM-DD HH24:MI:SS"; case f => f
    }
    val calcMode = one(params, "calc_mode") match {
      case "" => "AVG"
      case m => checkCalcUnit(m) match {
        case Left(_) => return fail(422,
          "Wrong Parameter. (calc_mode) : form must be min,max,cnt,avg,sum,sumsq")
        case Right(cm) => cm
      }
    }
    val startTime = one(params, "start_time")
    val endTime = one(params, "end_time")
    val startType = checkTimeFormat(startTime, nilOk = false) match {
      case Left(_) => return fail(422, "Wrong Parameter. (start_time)")
      case Right(t) => t
    }
    val endType = checkTimeFormat(endTime, nilOk = false) match {
      case Left(_) => return fail(422, "Wrong Parameter. (end_time)")
      case Right(t) => t
    }
    checkTimePeriod(startTime, startType, endTime, endType)
      .foreach(msg => return fail(422, msg))
    val intervalType = one(params, "interval_type") match {
      case "" => "SEC"
      case it => checkTimeUnit(it) match {
        case Left(_) => return fail(422,
          "Wrong Parameter. (interval_type) : form must be sec,min,hour,day")
        case Right(u) => u
      }
    }
    val intervalValue = one(params, "interval_value") match {
      case "" => 1; case v => v.toIntOption.getOrElse(1)
    }
    val limit: Long = one(params, "limit") match {
      case "" => plan.limitSelectValue
      case l =>
        val check = checkSelectValueLimit(l, plan.limitSelectValue)
        if (check.nonEmpty) return fail(422, check)
        l.toLong
    }
    val direction = one(params, "direction") match {
      case "" => "0"
      case d @ ("0" | "1") => d
      case _ => return fail(422, "Wrong Parameter. (direction) : must be 0, 1")
    }
    val interpolation = one(params, "interpolation").toIntOption.getOrElse(0)
    if (interpolation > 3 || interpolation < 0)
      return fail(422, "Wrong Parameter. (interpolation) : form must be 0,1,2,3")
    try {
      val range = resolveRange(startTime, startType, endTime, endType)
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      val ns = tsNsCol(t)
      val filtered = t.filter(col("NAME").isin(tagList: _*) &&
        ns >= lit(range.startNs) && ns <= lit(range.endNs))
      val calc = calcFrame(filtered, col("NAME"), ns,
        col("VALUE"), calcMode, intervalType, intervalValue)
      val shaped = calc.select(col("NAME"),
          timeProjection(col("__tn"), dateFormat).as("TIME"),
          col("VALUE"))
        .orderBy(if (direction == "1") col("TIME").desc else col("TIME").asc)
      val result = collectResult(shaped,
        one(params, "offset").toLongOption.getOrElse(0L), limit)
      resSet(200, "success", None,
        Some(selectDataJson(result, calcMode, tagList)))
    } catch {
      case e: Exception => fail(424, e.getMessage)
    }
  }

  // ---- group (http_lake.go:754-833) ---------------------------------------

  def getGroupData(spark: SparkSession, params: Map[String, Seq[String]],
                   table: String): HttpReply = {
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty) return fall(422, "tag name is empty")
    val tagList = tagName.split(",", -1).toSeq
    val calcMode = one(params, "calc_mode").toUpperCase match {
      case m @ ("MIN" | "MAX" | "AVG" | "SUM" | "COUNT" | "SUMSQ") => m
      case other => return fall(422, s"""invalid calculate mode: "$other"""")
    }
    try {
      val startTime = one(params, "start_time")
      val endTime = one(params, "end_time")
      val unit = checkTimeUnit(one(params, "interval_type")).getOrElse("SEC")
      val nVal = one(params, "interval_value").toIntOption.getOrElse(1)
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      val ns = tsNsCol(t)
      var q = t.filter(col("NAME").isin(tagList: _*))
      (startTime.toLongOption, endTime.toLongOption) match {
        case (Some(_), Some(_)) =>
          val range = resolveRange(startTime, "timestamp", endTime, "timestamp")
          q = q.filter(ns >= lit(range.startNs) && ns <= lit(range.endNs))
        case _ =>
      }
      val agg: Column = calcMode match {
        case "MIN" => min(col("VALUE"))
        case "MAX" => max(col("VALUE"))
        case "AVG" => avg(col("VALUE"))
        case "SUM" => sum(col("VALUE"))
        case "COUNT" => count(col("VALUE"))
        case "SUMSQ" => sum(col("VALUE") * col("VALUE"))
      }
      // TO_CHAR(MTIME,'YYYY-MM-DD HH:MI:SS') over the trunc'd bucket
      val bucket = TimeFns.dateTruncNs(ns, unit, nVal)
      val shaped = q.groupBy(timeProjection(bucket, "YYYY-MM-DD HH24:MI:SS").as("TIME"))
        .agg(agg.as("VALUE"))
        .orderBy(col("TIME"))
      val result = collectResult(shaped, 0L, currentPlan.limitSelectValue)
      resSet(200, "success", None,
        Some(makeReturnFormatJson(result, one(params, "calc_mode"), "0", "tag", tagList)))
    } catch {
      case e: Exception => fall(424, e.getMessage)
    }
  }

  // ---- last (http_lake.go:842-918) ---------------------------------------

  def getLastData(spark: SparkSession, params: Map[String, Seq[String]],
                  table: String): HttpReply = {
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty) return fall(422, "tag name is empty")
    val tagList = tagName.split(",", -1).toSeq
    val calcMode = one(params, "calc_mode").toUpperCase
    val valueAgg: Option[Column] = calcMode match {
      case "SUM" => Some(sum(col("VALUE")))
      case "MIN" => Some(min(col("VALUE")))
      case "MAX" => Some(max(col("VALUE")))
      case "AVG" => Some(avg(col("VALUE")))
      case "SUMSQ" => Some(sum(col("VALUE") * col("VALUE")))
      case "STDDEV" => Some(stddev_samp(col("VALUE")))
      case "STDDEV_POP" => Some(stddev_pop(col("VALUE")))
      case "VARIANCE" => Some(var_samp(col("VALUE")))
      case "VAR_POP" => Some(var_pop(col("VALUE")))
      case "COUNT" | "CNT" => Some(count(lit(1)))
      case "FIRST" | "LAST" => None
      case other => return fall(422, s"""invalid calculate mode : "$other"""")
    }
    try {
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      val ns = tsNsCol(t)
      var q = t.filter(col("NAME").isin(tagList: _*))
      val startTime = one(params, "start_time")
      val endTime = one(params, "end_time")
      if (startTime.nonEmpty && endTime.nonEmpty) {
        val range = resolveRange(startTime, "timestamp", endTime, "timestamp")
        q = q.filter(ns >= lit(range.startNs) && ns <= lit(range.endNs))
      }
      val (timeAgg, vAgg) = calcMode match {
        case "FIRST" => (min(ns), min_by(col("VALUE"), ns))
        case "LAST" => (max(ns), max_by(col("VALUE"), ns))
        case _ => (max(ns), valueAgg.get)
      }
      val shaped = q.agg(
        timeProjection(timeAgg, "YYYY-MM-DD HH24:MI:SS").as("TIME"),
        vAgg.as("VALUE"))
      val result = collectResult(shaped, 0L, 1L)
      resSet(200, "success", None,
        Some(selectDataJson(result, calcMode, tagList)))
    } catch {
      case e: Exception => fall(424, e.getMessage)
    }
  }

  // ---- current (http_lake.go:994-1148) ------------------------------------

  def getCurrentData(spark: SparkSession, params: Map[String, Seq[String]],
                     table: String): HttpReply = {
    val returnType = one(params, "value_return_form") match {
      case "" => "0"
      case t @ ("0" | "1") => t
      case _ => return resSet(412, "fall", Some("get parameter failed"),
        Some("""{"title":"Wrong Parameter. (value_return_form) : must be 0,1"}"""))
    }
    val sep = one(params, "separator") match { case "" => ","; case s => s }
    val plan = currentPlan
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty)
      return fall(422, "Wrong Parameter. (tag_name) : must be at least 1")
    val tagList = tagName.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    if (tagList.length > plan.limitSelectTag)
      return fall(422, s"tag count over. (parameter:${tagList.length}, Available:${plan.limitSelectTag})")
    val dateFormat = one(params, "date_format") match {
      case "" => "YYYY-MM-DD HH24:MI:SS"; case f => f
    }
    try {
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      val ns = tsNsCol(t)
      // name LIKE 'first.two.%' of the first tag (http_lake.go:1084-1090)
      val likePrefix = {
        val split = tagList.head.split("\\.", -1)
        split.take(math.min(2, split.length)).mkString(".") + "."
      }
      val shaped = t.filter(col("NAME").startsWith(lit(likePrefix)) ||
          col("NAME") === lit(tagList.head))
        .groupBy(col("NAME"))
        .agg(timeProjection(max(ns), dateFormat).as("TIME"),
          max_by(col("VALUE"), ns).as("value"))
        .orderBy("NAME")
      val result = collectResult(shaped, 0L, plan.limitSelectValue)
      // MakeReturnFormat shapes samples by the requested tag list
      // (http_lake.go:1140) — LIKE-matched extras drop out here.
      resSet(200, "success", None,
        Some(makeReturnFormatJson(result, "raw", returnType, "tag", tagList)))
    } catch {
      case e: Exception => fall(424, e.getMessage)
    }
  }

  // ---- stat (http_lake.go:1150-1260) --------------------------------------

  def getStatData(spark: SparkSession, params: Map[String, Seq[String]],
                  table: String): HttpReply = {
    val returnType = one(params, "value_return_form") match {
      case "" => "0"
      case t @ ("0" | "1") => t
      case _ => return resSet(412, "fail", Some("get parameter failed"),
        Some("""{"title":"Wrong Parameter. (value_return_form) : must be 0,1"}"""))
    }
    val sep = one(params, "separator") match { case "" => ","; case s => s }
    val plan = currentPlan
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty)
      return fail(422, "Wrong Parameter. (tag_name) : must be at least 1")
    val tagList = tagName.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    if (tagList.length > plan.limitSelectTag)
      return fail(422, s"tag count over. (parameter:${tagList.length}, Available:${plan.limitSelectTag})")
    val dateFormat = one(params, "date_format") match {
      case "" => "YYYY-MM-DD HH24:MI:SS"; case f => f
    }
    val limit: Long = one(params, "limit") match {
      case "" => plan.limitSelectValue
      case l =>
        val check = checkSelectValueLimit(l, plan.limitSelectValue)
        if (check.nonEmpty) return fail(422, check)
        l.toLong
    }
    try {
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      val ns = tsNsCol(t)
      val shaped = t.filter(col("NAME").isin(tagList: _*))
        .groupBy(col("NAME"))
        .agg(count(lit(1)).as("ROW_COUNT"),
          min(col("VALUE")).as("MIN_VALUE"),
          max(col("VALUE")).as("MAX_VALUE"),
          timeProjection(min(ns), dateFormat).as("MIN_TIME"),
          timeProjection(max(ns), dateFormat).as("MAX_TIME"),
          timeProjection(min_by(ns, col("VALUE")), dateFormat).as("MIN_VALUE_TIME"),
          timeProjection(max_by(ns, col("VALUE")), dateFormat).as("MAX_VALUE_TIME"),
          timeProjection(max(ns), dateFormat).as("RECENT_ROW_TIME"))
        .select(col("NAME"), col("ROW_COUNT"), col("MIN_VALUE"), col("MAX_VALUE"),
          col("MIN_TIME"), col("MAX_TIME"), col("MIN_VALUE_TIME"),
          col("MAX_VALUE_TIME"), col("RECENT_ROW_TIME"))
        .orderBy("NAME")
      val result = collectResult(shaped,
        one(params, "offset").toLongOption.getOrElse(0L), limit)
      resSet(200, "success", None,
        Some(makeReturnFormatJson(result, "raw", returnType, "tag", tagList)))
    } catch {
      case e: Exception => fail(424, e.getMessage)
    }
  }

  // ---- pivoted (http_lake.go:1262-1445) ------------------------------------

  def getPivotData(spark: SparkSession, params: Map[String, Seq[String]],
                   table: String): HttpReply = {
    val returnType = one(params, "value_return_form") match {
      case "" => "0"
      case t @ ("0" | "1") => t
      case _ => return resSet(412, "fail", Some("get parameter failed"),
        Some("""{"title":"Wrong Parameter. (value_return_form) : must be 0,1"}"""))
    }
    val sep = one(params, "separator") match { case "" => ","; case s => s }
    val plan = currentPlan
    val tagName = one(params, "tag_name")
    if (tagName.isEmpty)
      return fail(422, "Wrong Parameter. (tag_name) : must be at least 1")
    val tagList = tagName.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    if (tagList.length > plan.limitSelectTag)
      return fail(422, s"tag count over. (parameter:${tagList.length}, Available:${plan.limitSelectTag})")
    val dateFormat = one(params, "date_format") match {
      case "" => "YYYY-MM-DD HH24:MI:SS"; case f => f
    }
    val calcMode = one(params, "calc_mode") match {
      case "" => "AVG"
      case m => checkCalcUnit(m) match {
        case Left(_) => return fail(422,
          "Wrong Parameter. (calc_mode) : form must be min,max,cnt,avg,sum,sumsq")
        case Right(cm) => cm
      }
    }
    val startTime = one(params, "start_time")
    val endTime = one(params, "end_time")
    val startType = checkTimeFormat(startTime, nilOk = false) match {
      case Left(_) => return fail(422, "Wrong Parameter. (start_time)")
      case Right(t) => t
    }
    val endType = checkTimeFormat(endTime, nilOk = false) match {
      case Left(_) => return fail(422, "Wrong Parameter. (end_time)")
      case Right(t) => t
    }
    checkTimePeriod(startTime, startType, endTime, endType)
      .foreach(msg => return fail(422, msg))
    val intervalType = one(params, "interval_type") match {
      case "" => "SEC"
      case it => checkTimeUnit(it) match {
        case Left(_) => return fail(422,
          "Wrong Parameter. (interval_type) : form must be sec,min,hour,day")
        case Right(u) => u
      }
    }
    val intervalValue = one(params, "interval_value") match {
      case "" => 1; case v => v.toIntOption.getOrElse(1)
    }
    val limit: Long = one(params, "limit") match {
      case "" => plan.limitSelectValue
      case l =>
        val check = checkSelectValueLimit(l, plan.limitSelectValue)
        if (check.nonEmpty) return fail(422, check)
        l.toLong
    }
    val direction = one(params, "direction") match {
      case "" => "0"
      case d @ ("0" | "1") => d
      case _ => return fail(422, "Wrong Parameter. (direction) : must be 0, 1")
    }
    val interpolation = one(params, "interpolation").toIntOption.getOrElse(0)
    if (interpolation > 3 || interpolation < 0)
      return fail(422, "Wrong Parameter. (interpolation) : form must be 0,1,2,3")
    try {
      val range = resolveRange(startTime, startType, endTime, endType)
      TagTables.ensure(spark, table)
      val t = spark.table(table)
      val ns = tsNsCol(t)
      val pivotAgg: Column = calcMode match {
        case "MIN" => min(col("VALUE"))
        case "MAX" => max(col("VALUE"))
        case "AVG" => avg(col("VALUE"))
        case "SUMSQ" => sum(col("VALUE") * col("VALUE"))
        case "COUNT" => count(col("VALUE"))
        case _ => sum(col("VALUE"))
      }
      val shaped = t.filter(col("NAME").isin(tagList: _*) &&
          ns >= lit(range.startNs) && ns <= lit(range.endNs))
        .withColumn("__bucket", TimeFns.dateTruncNs(ns, intervalType, intervalValue))
        .groupBy(timeProjection(col("__bucket"), dateFormat).as("TIME"))
        .pivot(col("NAME").cast("string"), tagList)
        .agg(pivotAgg)
        .orderBy(if (direction == "1") col("TIME").desc else col("TIME").asc)
      val result = collectResult(shaped,
        one(params, "offset").toLongOption.getOrElse(0L), limit)
      resSet(200, "success", None,
        Some(makeReturnFormatJson(result, calcMode, returnType, "log", tagList)))
    } catch {
      case e: Exception => fail(424, e.getMessage)
    }
  }

  // ---- POST /lakes/values[/:type] (http_lake.go:2248-2339) -----------------

  def postValues(spark: SparkSession, dataType: String, body: String,
                 table: String = "TAG"): HttpReply = {
    def reply(status: Int, success: Boolean, reason: String,
              data: Option[String]): HttpReply = {
      val d = data.map(j => s""","data":$j""").getOrElse("")
      HttpReply(status, "application/json; charset=utf-8",
        s"""{"success":$success,"reason":${GoJs.jsonQuote(reason)}$d}""")
    }
    val parsed: Either[String, Seq[(String, Long, Double)]] =
      try {
        val obj = graft.script.Builtins.jsonParse(body)
        dataType match {
          case "standard" =>
            val m = obj.asInstanceOf[collection.Map[String, Any]]
            val tag = m.getOrElse("tag_name", "").toString
            val fmtRaw = m.getOrElse("date_format", "").toString
            val fmt = if (fmtRaw.isEmpty) "YYYY-MM-DD HH24:MI:SS mmm:uuu:nnn" else fmtRaw
            val values = m.getOrElse("values", Seq.empty)
              .asInstanceOf[collection.Seq[Any]].toSeq
            val rows = values.zipWithIndex.map { case (v, i) =>
              val rec = v.asInstanceOf[collection.Seq[Any]].toSeq
              if (rec.length != 2) throw new IllegalArgumentException(
                s"values[$i] should have (time, value), got ${rec.length} elements")
              val ts: Long = rec.head match {
                case s: String => parseYmd(s, fmt).getOrElse(
                  throw new IllegalArgumentException(
                    s"""values[$i] has wrong timeformat "$s", format:"$fmt""""))
                case n: Double => n.toLong
                case n: Long => n
                case other => throw new IllegalArgumentException(
                  s"values[$i] has wrong time in ${other.getClass.getSimpleName} ($other)")
              }
              val vv: Double = rec(1) match {
                case d: Double => d
                case l: Long => l.toDouble
                case other => throw new IllegalArgumentException(
                  s"values[$i] has wrong value in ${other.getClass.getSimpleName} ($other)")
              }
              (tag, ts, vv)
            }
            Right(rows)
          case _ =>
            val m = obj.asInstanceOf[collection.Map[String, Any]]
            val values = m.getOrElse("values", Seq.empty)
              .asInstanceOf[collection.Seq[Any]].toSeq
            Right(values.map { v =>
              val rec = v.asInstanceOf[collection.Map[String, Any]]
              // Go's encoding/json matches struct fields case-insensitively
              def get(k: String): Option[Any] =
                rec.collectFirst { case (key, x) if key.equalsIgnoreCase(k) => x }
              def num(k: String): Double = get(k) match {
                case Some(d: Double) => d
                case Some(l: Long) => l.toDouble
                case Some(l: java.lang.Long) => l.toDouble
                case _ => 0.0
              }
              (get("Tag").map(_.toString).getOrElse(""), num("Ts").toLong, num("Val"))
            })
        }
      } catch {
        case e: Exception => Left(e.getMessage)
      }
    parsed match {
      case Left(msg) => reply(412, success = false, msg, None)
      case Right(rows) if rows.isEmpty =>
        reply(412, success = false, "values is empty", None)
      case Right(rows) =>
        try {
          val n = TagTables.insertAll(spark, table, Seq("NAME", "TIME", "VALUE"),
            rows.iterator.map { case (tag, ts, v) =>
              Seq(tag, Long.box(ts), Double.box(v))
            })
          reply(200, success = true, "success",
            Some(s"""{"success":$n,"fail":0}"""))
        } catch {
          case e: Exception =>
            reply(500, success = false, e.getMessage,
              Some("""{"success":0,"fail":0}"""))
        }
    }
  }

  /** ymd-style parse for the standard append's date_format
    * ("YYYY-MM-DD HH24:MI:SS mmm:uuu:nnn"), UTC; returns epoch ns. */
  /** String time per the request's `date_format` machbase layout
    * (http_lake.go:2264 routes through ymd.NewParser) — a caller's
    * custom layout is honored, not just the default shape. The default
    * `YYYY-MM-DD HH24:MI:SS mmm:uuu:nnn` also accepts the short
    * fraction-less form (the layout's trailing fraction block is
    * optional in practice: the reference testsuite posts both). */
  def parseYmdForTest(s: String, fmt: String): Option[Long] = parseYmd(s, fmt)

  private[server] def parseYmd(s: String, fmt: String): Option[Long] =
    graft.time.Ymd.parse(fmt, s.trim).orElse {
      // trailing literal+fraction tail omitted in the input
      val cut = fmt.lastIndexOf(" mmm")
      if (cut > 0) graft.time.Ymd.parse(fmt.substring(0, cut), s.trim)
      else None
    }

  // ---- POST /lakes/inter/execquery (http_lake.go:2345-2446) ---------------

  def execQuery(spark: SparkSession, body: String): HttpReply = {
    val sqlText =
      try graft.script.Builtins.jsonParse(body)
        .asInstanceOf[collection.Map[String, Any]]
        .getOrElse("query", "").toString
      catch {
        case _: Exception =>
          return resSet(412, "fail", None,
            Some("""{"title":"data is wrong. check data."}"""))
      }
    try {
      val df = QueryDoor.execute(spark, sqlText)
      val result = collectResult(df, 0L, currentPlan.limitSelectValue)
      // getExec maps the first three columns as name/time/value objects
      val rows = result.data.map { r =>
        s"""{"name":${jsonValue(r.head)},"time":${jsonValue(r(1))},""" +
          s""""value":${jsonValue(r(2))}}"""
      }
      resSet(200, "success", None, Some(
        s"""{"columns":${result.columns.map(_.toJson).mkString("[", ",", "]")},""" +
          s""""data":${rows.mkString("[", ",", "]")},""" +
          """"error_code":0,"error_message":""}"""))
    } catch {
      case e: Exception => fail(424, e.getMessage)
    }
  }
}
