package graft.time

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Epoch-nanosecond time kernel.
  *
  * The reference stores `datetime` at nanosecond precision and all its APIs
  * default to `timeformat=ns`; time-bucketing is integer arithmetic
  * `time - time % period` (reference: mods/tql/fm_monad.go:665,
  * mods/server/http_lake.go:1707-1716). Spark's TimestampType is
  * microseconds, so the engine keeps a LongType epoch-ns discipline and
  * converts only at the presentation edge. Every helper here is a pure
  * Column expression — fully codegen'd, no UDFs.
  */
object TimeFns {
  val NsPerUs: Long = 1000L
  val NsPerMs: Long = 1000L * 1000
  val NsPerSec: Long = 1000L * 1000 * 1000
  val NsPerMin: Long = 60L * NsPerSec
  val NsPerHour: Long = 3600L * NsPerSec
  val NsPerDay: Long = 86400L * NsPerSec

  /** Parse a duration literal ("1s", "500ms", "2h45m", "1d12h") to ns —
    * the reference's util.ParseDuration (types.go:350-377): an integer
    * day-prefix extension over Go's time.ParseDuration, with Go's exact
    * error strings (func_test.go pins `time: unknown unit "x" in
    * duration "-2x"` and the day branch's incompatible-conv wrapper). */
  def parseDurationNs(s: String): Long = {
    val t = s.trim
    val i = t.indexOf('d')
    if (i > 0) {
      // day branch: strict integer prefix; any failure inside collapses
      // to the incompatible-conv error, not the Go parse error
      def incompatible = new IllegalArgumentException(
        s"incompatible conv '$t' (string) to time.Duration")
      val dayNs =
        try t.substring(0, i).toLong * NsPerDay
        catch { case _: NumberFormatException => throw incompatible }
      val rest = t.substring(i + 1)
      if (rest.isEmpty) dayNs
      else {
        val tail =
          try goDurationNs(rest, rest)
          catch { case _: IllegalArgumentException => throw incompatible }
        if (dayNs >= 0) dayNs + tail else dayNs - tail
      }
    } else goDurationNs(t, t)
  }

  /** Go time.Duration.String() parity: "0s", "123ns", "1.5µs",
    * "123.456789ms", "1.5s", "1m2.5s", "1h3m4.5s" — fraction digits
    * trimmed. Used by the JSON envelope's "elapse" field
    * (json_encode.go:152 time.Since(tick).String()). */
  def goDurationString(ns0: Long): String = {
    if (ns0 == 0L) return "0s"
    val neg = ns0 < 0
    val u = math.abs(ns0)
    def frac(rem: Long, width: Int): String = {
      if (rem == 0) "" else {
        var f = rem.toString
        f = ("0" * (width - f.length)) + f
        while (f.endsWith("0")) f = f.dropRight(1)
        "." + f
      }
    }
    val body =
      if (u < 1000L) s"${u}ns"
      else if (u < 1000000L) s"${u / 1000L}${frac(u % 1000L, 3)}µs"
      else if (u < 1000000000L) s"${u / 1000000L}${frac(u % 1000000L, 6)}ms"
      else {
        val total = u / 1000000000L
        val sPart = s"${total % 60}${frac(u % 1000000000L, 9)}s"
        if (total < 60) sPart
        else {
          val m = (total / 60) % 60
          val h = total / 3600
          if (h == 0) s"${m}m$sPart" else s"${h}h${m}m$sPart"
        }
      }
    if (neg) "-" + body else body
  }

  /** Go time.ParseDuration proper; `orig` is quoted in error strings. */
  private def goDurationNs(s0: String, orig: String): Long = {
    var s = s0
    var neg = false
    if (s.nonEmpty && (s(0) == '-' || s(0) == '+')) { neg = s(0) == '-'; s = s.substring(1) }
    if (s == "0") return 0L
    def invalid = new IllegalArgumentException(s"""time: invalid duration "$orig"""")
    if (s.isEmpty) throw invalid
    var totalNs = 0L
    while (s.nonEmpty) {
      val numEnd = { val e = s.indexWhere(c => !(c.isDigit || c == '.')); if (e < 0) s.length else e }
      val num = s.substring(0, numEnd)
      if (num.isEmpty || num == ".") throw invalid
      s = s.substring(numEnd)
      val unitEnd = { val e = s.indexWhere(c => c.isDigit || c == '.'); if (e < 0) s.length else e }
      val unit = s.substring(0, unitEnd)
      s = s.substring(unitEnd)
      if (unit.isEmpty)
        throw new IllegalArgumentException(s"""time: missing unit in duration "$orig"""")
      val unitNs = unit match {
        case "ns" => 1L
        case "us" | "µs" | "μs" => NsPerUs
        case "ms" => NsPerMs
        case "s" => NsPerSec
        case "m" => NsPerMin
        case "h" => NsPerHour
        case _ => throw new IllegalArgumentException(
          s"""time: unknown unit "$unit" in duration "$orig"""")
      }
      totalNs += (num.toDouble * unitNs).toLong
    }
    if (neg) -totalNs else totalNs
  }

  /** roundTime: floor an epoch-ns column to a period — the reference's
    * `time / period * period` integer formula. */
  def roundTimeNs(tsNs: Column, periodNs: Long): Column =
    (tsNs - pmod(tsNs, lit(periodNs))).cast("long")

  /** DATE_TRUNC('SEC'|'MIN'|'HOUR'|'DAY', t, n) equivalent on epoch-ns
    * (reference: mods/server/http_lake.go:1692-1716). */
  def dateTruncNs(tsNs: Column, unit: String, n: Int = 1): Column = {
    val per = unit.toUpperCase match {
      case "SEC" | "SECOND" => NsPerSec
      case "MIN" | "MINUTE" => NsPerMin
      case "HOUR" => NsPerHour
      case "DAY" => NsPerDay
      case u => throw new IllegalArgumentException(s"unit $u")
    }
    roundTimeNs(tsNs, per * n)
  }

  /** util.ToTimeformatSql (reference mods/util/types.go:108-126) — the
    * exact replacement SEQUENCE producing a Go layout. Mimicked verbatim,
    * including its quirks: MM fires before MMM (so MMM/DAY rows are
    * unreachable), HH (without 24/12) becomes Go's un-padded 12-hour "3",
    * and mmm/uuu/n all become "9" fraction digits (types_test.go:129-137
    * pins ".nnnnnnnnn" and ".mmmuuunnn" → ".999999999"). */
  def toSqlGoLayout(f: String): String = Seq(
    "YYYY" -> "2006", "YY" -> "06", "MM" -> "01", "MMM" -> "Mon",
    "DAY" -> "EEE", "DD" -> "02", "HH24" -> "15", "HH12" -> "03",
    "HH" -> "3", "MI" -> "04", "SS" -> "05", "AM" -> "a",
    "mmm" -> "999", "uuu" -> "999", "n" -> "9"
  ).foldLeft(f) { case (acc, (from, to)) => acc.replace(from, to) }

  /** util.ToTimeformatAnsi (reference mods/util/types.go:127-140):
    * hh is 24-hour ("15"), th is 12-hour ("03"), nn/tm minutes, every f
    * a trimmed fraction digit (types_test.go:144-147 pins
    * "yyyy-mm-dd hh:nn:ss.fffffffff"). */
  def toAnsiGoLayout(f: String): String = Seq(
    "yyyy" -> "2006", "mm" -> "01", "dd" -> "02", "hh" -> "15",
    "th" -> "03", "nn" -> "04", "tm" -> "04", "ss" -> "05", "f" -> "9"
  ).foldLeft(f) { case (acc, (from, to)) => acc.replace(from, to) }

  /** Go layout (as produced by the sql/ansi translators) → (Java
    * pattern, Go-".999" trim flag). Arbitrary-length "9" fraction runs
    * are normalized first — Go accepts any run length, the token table
    * only carries 3/6/9. */
  def goLayoutPattern(layout: String): (String, Boolean) = {
    val trim = layout.contains("9")
    val norm = "\\.(9+)".r.replaceAllIn(layout,
      m => "." + "S" * m.group(1).length)
    (translateGoTimeformat(norm), trim)
  }

  /** epoch-ns → TimestampType (µs truncation at the presentation edge). */
  def nsToTimestamp(tsNs: Column): Column = timestamp_micros((tsNs / 1000L).cast("long"))

  /** epoch-ns → epoch-µs, exact integer floor division. Goes through
    * decimal because a 2024-era epoch-ns (≈1.7e18) exceeds 2^53: any
    * double-division path silently corrupts the last microsecond digit. */
  def nsToUs(tsNs: Column): Column =
    floor(tsNs.cast("decimal(25,0)") / lit(1000)).cast("long")

  /** Translate the reference's SQL-style timeformat (sqlTimeformat,
    * "YYYY-MM-DD HH24:MI:SS") into a Spark datetime pattern.
    * Named formats from the reference's util timeformatter. */
  def translateTimeformat(fmt: String): String = fmt match {
    case "DEFAULT" => "yyyy-MM-dd HH:mm:ss.SSS"
    case "RFC3339" => "yyyy-MM-dd'T'HH:mm:ss'Z'"
    case "RFC3339NANO" => "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS'Z'"
    case other =>
      // SQL-style tokens, longest first so HH24 wins over HH.
      val tokens = Seq(
        "YYYY" -> "yyyy", "YY" -> "yy",
        "HH24" -> "HH", "HH12" -> "hh", "HH" -> "HH",
        "MI" -> "mm", "SSS" -> "SSS", "SS" -> "ss",
        "MM" -> "MM", "DD" -> "dd", "AM" -> "a", "PM" -> "a",
        "nnnnnnnnn" -> "SSSSSSSSS", "nnnnnn" -> "SSSSSS", "mmm" -> "SSS")
      tokens.foldLeft(other) { case (acc, (from, to)) => acc.replace(from, to) }
  }

  /** tz() name resolution (reference util/time_locations.go:9-42 with
    * its generated tzdb alias table): Local/UTC, then abbreviation
    * aliases (first listed zone wins — its tests pin KST→Asia/Seoul,
    * GMT→Africa/Abidjan, EEST→Africa/Cairo), then IANA region ids and
    * fixed offsets pass through. This is the FULL table the reference's
    * own tests pin (types_test.go:508-771, the first-loadable zone per
    * alias, case-sensitive like Timezones[tzName]). One divergence:
    * "-00" maps to UTC because Java's tzdb omits the "Factory" zone
    * (offset-identical). */
  private val tzAliases = Map(
    "GHST" -> "Africa/Accra", "HAT" -> "America/Adak", "AET" -> "Australia/ACT",
    "GMT-1" -> "Etc/GMT+1", "COST" -> "America/Bogota", "HKST" -> "Asia/Hong_Kong",
    "RET" -> "Indian/Reunion", "CKT" -> "Pacific/Rarotonga", "ALMT" -> "Asia/Almaty",
    "LHST" -> "Australia/LHI", "GMT-4" -> "Etc/GMT+4", "MDT" -> "America/Boise",
    "BNT" -> "Asia/Brunei", "WIT" -> "Asia/Jayapura", "PKST" -> "Asia/Karachi",
    "GMT-11" -> "Etc/GMT+11", "CAT" -> "Africa/Blantyre", "BRT" -> "America/Araguaina",
    "OMSST" -> "Asia/Omsk", "GMT+5" -> "Etc/GMT-5", "CCT" -> "Indian/Cocos",
    "SST" -> "Pacific/Midway", "AZT" -> "Asia/Baku", "GMT+2" -> "Etc/GMT-2",
    "TKT" -> "Pacific/Fakaofo", "EGT" -> "America/Scoresbysund", "WITA" -> "Asia/Makassar",
    "NOVT" -> "Asia/Novosibirsk", "SAKT" -> "Asia/Sakhalin", "FKT" -> "Atlantic/Stanley",
    "MVT" -> "Indian/Maldives", "CLT" -> "America/Punta_Arenas", "NZT" -> "Antarctica/McMurdo",
    "AQTT" -> "Asia/Aqtau", "PHST" -> "Asia/Manila", "AEST" -> "Australia/ACT",
    "GMT+6" -> "Etc/GMT-6", "TOST" -> "Pacific/Tongatapu", "ACST" -> "America/Eirunepe",
    "AWST" -> "Antarctica/Casey", "TLT" -> "Asia/Dili", "-00" -> "UTC",
    "CHAT" -> "NZ-CHAT", "WAKT" -> "Pacific/Wake", "DDUT" -> "Antarctica/DumontDUrville",
    "KRAT" -> "Asia/Barnaul", "TMT" -> "Asia/Ashgabat", "HOVT" -> "Asia/Hovd",
    "PHOT" -> "Pacific/Enderbury", "CAST" -> "Africa/Khartoum", "BRST" -> "America/Araguaina",
    "ECT" -> "America/Guayaquil", "AZST" -> "Asia/Baku", "ULAST" -> "Asia/Ulaanbaatar",
    "EET" -> "Africa/Cairo", "AT" -> "America/Anguilla", "IST" -> "Asia/Calcutta",
    "MMT" -> "Asia/Rangoon", "GMT" -> "Africa/Abidjan", "WET" -> "Africa/Casablanca",
    "ACT" -> "America/Eirunepe", "VUT" -> "Pacific/Efate", "PWT" -> "Pacific/Palau",
    "NT" -> "America/St_Johns", "GET" -> "Asia/Tbilisi", "GMT+9" -> "Etc/GMT-9",
    "MUST" -> "Indian/Mauritius", "PET" -> "America/Lima", "SRET" -> "Asia/Srednekolymsk",
    "ACWT" -> "Australia/Eucla", "CKHST" -> "Pacific/Rarotonga", "TOT" -> "Pacific/Tongatapu",
    "EDT" -> "America/Detroit", "TJT" -> "Asia/Dushanbe", "BTT" -> "Asia/Thimbu",
    "LHDT" -> "Australia/LHI", "VUST" -> "Pacific/Efate", "NCT" -> "Pacific/Noumea",
    "PONT" -> "Pacific/Pohnpei", "KGT" -> "Asia/Bishkek", "BORTST" -> "Asia/Kuching",
    "MAGT" -> "Asia/Magadan", "SCT" -> "Indian/Mahe", "MLAST" -> "Asia/Kuala_Lumpur",
    "YEKST" -> "Asia/Yekaterinburg", "ACWST" -> "Australia/Eucla", "AWT" -> "Antarctica/Casey",
    "KST" -> "Asia/Seoul", "MALST" -> "Asia/Singapore", "IRST" -> "Asia/Tehran",
    "LHT" -> "Australia/LHI", "ART" -> "America/Argentina/Buenos_Aires", "AFT" -> "Asia/Kabul",
    "QYZST" -> "Asia/Qyzylorda", "UYT" -> "America/Montevideo", "GMT-10" -> "Etc/GMT+10",
    "VOLT" -> "Europe/Volgograd", "ARST" -> "America/Argentina/Buenos_Aires", "ADT" -> "America/Barbados",
    "VLAT" -> "Asia/Ust-Nera", "MSK" -> "Europe/Kirov", "WSDT" -> "Pacific/Apia",
    "ChST" -> "Pacific/Guam", "EEST" -> "Africa/Cairo", "CVT" -> "Atlantic/Cape_Verde",
    "GMT+13" -> "Etc/GMT-13", "GMT+8" -> "Etc/GMT-8", "SAMT" -> "Europe/Astrakhan",
    "GMT+04:00" -> "Europe/Saratov", "ACWDT" -> "Australia/Eucla", "FNST" -> "America/Noronha",
    "CHOT" -> "Asia/Choibalsan", "HOVST" -> "Asia/Hovd", "PKT" -> "Asia/Karachi",
    "OMST" -> "Asia/Omsk", "QYZT" -> "Asia/Qyzylorda", "YEKT" -> "Asia/Yekaterinburg",
    "SAST" -> "Africa/Johannesburg", "PEST" -> "America/Lima", "GMT-3" -> "Etc/GMT+3",
    "AMST" -> "America/Boa_Vista", "MAWT" -> "Antarctica/Mawson", "GMT-12" -> "Etc/GMT+12",
    "GMT+7" -> "Etc/GMT-7", "MUT" -> "Indian/Mauritius", "PYT" -> "America/Asuncion",
    "BST" -> "America/La_Paz", "BDT" -> "Asia/Dacca", "GMT+4" -> "Etc/GMT-4",
    "HADT" -> "America/Adak", "NZST" -> "Antarctica/McMurdo", "VOST" -> "Antarctica/Vostok",
    "ICT" -> "Asia/Bangkok", "YAKT" -> "Asia/Chita", "AWDT" -> "Australia/Perth",
    "EASST" -> "Chile/EasterIsland", "ALMST" -> "Asia/Almaty", "UZST" -> "Asia/Samarkand",
    "WST" -> "Pacific/Apia", "VET" -> "America/Caracas", "MSD" -> "Europe/Kirov",
    "WAT" -> "Africa/Bangui", "ET" -> "America/Atikokan", "EHDT" -> "America/Santo_Domingo",
    "EAST" -> "Chile/EasterIsland", "GMT+11" -> "Etc/GMT-11", "GMT+12" -> "Etc/GMT-12",
    "BOT" -> "America/La_Paz", "BDST" -> "Asia/Dacca", "ULAT" -> "Asia/Ulaanbaatar",
    "UTC" -> "UTC", "GMT+1" -> "Etc/GMT-1", "AST" -> "America/Anguilla",
    "AQTST" -> "Asia/Aqtobe", "HKT" -> "Asia/Hong_Kong", "JDT" -> "Asia/Tokyo",
    "AZOST" -> "Atlantic/Azores", "IOT" -> "Indian/Chagos", "TAHT" -> "Pacific/Tahiti",
    "HAST" -> "America/Adak", "CST" -> "America/Bahia_Banderas", "NDT" -> "America/St_Johns",
    "UZT" -> "Asia/Samarkand", "CHADT" -> "NZ-CHAT", "EGST" -> "America/Scoresbysund",
    "GST" -> "Asia/Dubai", "GMT-6" -> "Etc/GMT+6", "FJST" -> "Pacific/Fiji",
    "KOST" -> "Pacific/Kosrae", "COT" -> "America/Bogota", "IRT" -> "Iran",
    "MET" -> "MET", "CHUT" -> "Pacific/Chuuk", "UYST" -> "America/Montevideo",
    "CLST" -> "America/Santiago", "MIST" -> "Antarctica/Macquarie", "KRAST" -> "Asia/Krasnoyarsk",
    "AZOT" -> "Atlantic/Azores", "GMT-5" -> "Etc/GMT+5", "TFT" -> "Indian/Kerguelen",
    "EAT" -> "Africa/Addis_Ababa", "CHOST" -> "Asia/Choibalsan", "NPT" -> "Asia/Kathmandu",
    "CT" -> "America/Bahia_Banderas", "SYOT" -> "Antarctica/Syowa", "IDT" -> "Asia/Jerusalem",
    "GMT+3" -> "Etc/GMT-3", "EST" -> "America/Atikokan", "SRT" -> "America/Paramaribo",
    "NST" -> "America/St_Johns", "GMT+10" -> "Etc/GMT-10", "MEST" -> "MET",
    "AEDT" -> "Australia/ACT", "NFT" -> "Pacific/Norfolk", "IRKT" -> "Asia/Irkutsk",
    "PHT" -> "Asia/Manila", "KDT" -> "Asia/Seoul", "NRT" -> "Pacific/Nauru",
    "CEST" -> "Africa/Ceuta", "PT" -> "America/Dawson", "CHAST" -> "NZ-CHAT",
    "MART" -> "Pacific/Marquesas", "NCST" -> "Pacific/Noumea", "MT" -> "America/Boise",
    "PMDT" -> "America/Miquelon", "ACDT" -> "Australia/Adelaide", "LINT" -> "Pacific/Kiritimati",
    "IRKST" -> "Asia/Irkutsk", "GDT" -> "Pacific/Guam", "CET" -> "Africa/Algiers",
    "WGT" -> "America/Godthab", "TRT" -> "Asia/Istanbul", "WEST" -> "Africa/Casablanca",
    "AKST" -> "America/Anchorage", "ORAT" -> "Asia/Oral", "GMT+14" -> "Etc/GMT-14",
    "GFT" -> "America/Cayenne", "PST" -> "America/Dawson", "PDT" -> "America/Ensenada",
    "DAVT" -> "Antarctica/Davis", "YAKST" -> "Asia/Chita", "GMT-8" -> "Etc/GMT+8",
    "WFT" -> "Pacific/Wallis", "PYST" -> "America/Asuncion", "MST" -> "America/Boise",
    "NZDT" -> "Antarctica/McMurdo", "GILT" -> "Pacific/Tarawa", "AKT" -> "America/Anchorage",
    "GYT" -> "America/Guyana", "GMT-2" -> "Etc/GMT+2", "CXT" -> "Indian/Christmas",
    "SBT" -> "Pacific/Guadalcanal", "NFDT" -> "Pacific/Norfolk", "PGT" -> "Pacific/Port_Moresby",
    "VLAST" -> "Asia/Ust-Nera", "MHT" -> "Kwajalein", "TVT" -> "Pacific/Funafuti",
    "AMT" -> "America/Boa_Vista", "ANAT" -> "Asia/Anadyr", "TSD" -> "Asia/Dushanbe",
    "PETT" -> "Asia/Kamchatka", "SGT" -> "Asia/Singapore", "FJT" -> "Pacific/Fiji",
    "WIB" -> "Asia/Jakarta", "KT" -> "Asia/Seoul", "JST" -> "Asia/Tokyo",
    "GAMT" -> "Pacific/Gambier", "PMST" -> "America/Miquelon", "MAGST" -> "Asia/Magadan",
    "IRDT" -> "Asia/Tehran", "GMT-7" -> "Etc/GMT+7", "AKDT" -> "America/Anchorage",
    "NUT" -> "Pacific/Niue", "CDT" -> "America/Bahia_Banderas", "WGST" -> "America/Godthab",
    "FNT" -> "America/Noronha", "ROTT" -> "Antarctica/Palmer", "MYT" -> "Asia/Kuala_Lumpur",
    "GALT" -> "Pacific/Galapagos", "GMT-9" -> "Etc/GMT+9")

  def resolveTz(name: String): String = name.toLowerCase match {
    case "local" => "UTC" // this engine pins the task clock to UTC
    case "utc" => "UTC"
    // unknown zones fail eagerly with the Go LoadLocation error string
    // (func_test.go TestParseTime: `unknown time zone wrong/place`)
    case _ => validateTz(tzAliases.getOrElse(name, name), name)
  }

  /** Go reference-layout ("2006-01-02 15:04:05") → DateTimeFormatter
    * pattern; the reference's util.Timeformatter accepts both Go layouts
    * and named/SQL formats. Longest tokens first. */
  def translateGoTimeformat(layout: String): String = Seq(
    // a quote in a Go layout is literal text; Java needs it doubled
    "'" -> "''",
    "2006" -> "yyyy", ".999999999" -> ".SSSSSSSSS", ".999999" -> ".SSSSSS",
    ".999" -> ".SSS", ".000000000" -> ".SSSSSSSSS", ".000000" -> ".SSSSSS",
    ".000" -> ".SSS", "January" -> "MMMM", "Jan" -> "MMM", "Monday" -> "EEEE",
    "Mon" -> "EEE",
    // RFC3339's bare 'T' separator must be quoted for Java patterns
    "T15" -> "'T'HH",
    "15" -> "HH", "03" -> "hh", "04" -> "mm", "05" -> "ss",
    "01" -> "MM", "_2" -> "d", "02" -> "dd", "06" -> "yy", "PM" -> "a",
    "MST" -> "zzz", "Z07:00" -> "XXX", "-07:00" -> "xxx", "-0700" -> "xx",
    "Z0700" -> "XX",
    // Go's standalone "3" is the un-padded 12-hour token (must run last,
    // after "03"/zone tokens have consumed their digits)
    "3" -> "h"
  ).foldLeft(layout) { case (acc, (from, to)) => acc.replace(from, to) }

  /** The reference's named-timeformat table (util/time_formats.go:15-48),
    * resolved case-insensitively like GetTimeformat, each entry expressed
    * as its Go layout. KITCHEN's bare single-digit hour ("3") has no
    * direct token in translateGoTimeformat, so entries are stored as Go
    * layouts and translated with a KITCHEN-safe pre-step. */
  private val namedGoFormats: Map[String, String] = Map(
    "-" -> "2006-01-02 15:04:05.999",
    "DEFAULT" -> "2006-01-02 15:04:05.999",
    "DEFAULT_MS" -> "2006-01-02 15:04:05.999",
    "DEFAULT_US" -> "2006-01-02 15:04:05.999999",
    "DEFAULT_NS" -> "2006-01-02 15:04:05.999999999",
    "DEFAULT.MS" -> "2006-01-02 15:04:05.000",
    "DEFAULT.US" -> "2006-01-02 15:04:05.000000",
    "DEFAULT.NS" -> "2006-01-02 15:04:05.000000000",
    "NUMERIC" -> "01/02 03:04:05PM '06 -0700",
    "ANSIC" -> "Mon Jan _2 15:04:05 2006",
    "UNIX" -> "Mon Jan _2 15:04:05 MST 2006",
    "RUBY" -> "Mon Jan 02 15:04:05 -0700 2006",
    "RFC822" -> "02 Jan 06 15:04 MST",
    "RFC822Z" -> "02 Jan 06 15:04 -0700",
    "RFC850" -> "Monday, 02-Jan-06 15:04:05 MST",
    "RFC1123" -> "Mon, 02 Jan 2006 15:04:05 MST",
    "RFC1123Z" -> "Mon, 02 Jan 2006 15:04:05 -0700",
    "RFC3339" -> "2006-01-02T15:04:05Z07:00",
    "RFC3339NANO" -> "2006-01-02T15:04:05.999999999Z07:00",
    "DATETIME" -> "2006-01-02 15:04:05",
    "KITCHEN" -> "3:04:05PM",
    "STAMP" -> "Jan _2 15:04:05",
    "STAMPMILLI" -> "Jan _2 15:04:05.000",
    "STAMPMICRO" -> "Jan _2 15:04:05.000000",
    "STAMPNANO" -> "Jan _2 15:04:05.000000000",
    "S_NS" -> "05.999999999",
    "S_US" -> "05.999999",
    "S_MS" -> "05.999",
    "S.NS" -> "05.000000000",
    "S.US" -> "05.000000",
    "S.MS" -> "05.000")

  /** Resolve a strTime format: named table entry or literal Go layout →
    * (Java pattern, Go-".999" trim flag). Non-Go text (SQL tokens) falls
    * through to translateTimeformat untrimmed. */
  def resolveNamedOrGoFormat(fmt: String): (String, Boolean) = {
    val goLayout = namedGoFormats.get(fmt.toUpperCase) match {
      case Some(l) => Some(l)
      case None => if (fmt.contains("2006")) Some(fmt) else None
    }
    goLayout match {
      case Some(l) =>
        val trim = l.contains(".9")
        // KITCHEN's "3" (bare hour): translate before "03" would match
        val pat = translateGoTimeformat(if (l.startsWith("3:")) "h" + l.substring(1) else l)
        (pat, trim)
      case None => (translateTimeformat(fmt), false)
    }
  }

  /** Substitute zone tokens with literals for a fixed target zone: Spark's
    * date_format renders in the session zone, so after from_utc_timestamp
    * shifts the wall-clock the zone NAME/OFFSET tokens would lie. The tz
    * argument is a compile-time literal in TQL, so the abbreviation and
    * offset are resolved here (at `atEpochSec`, so a DST-observing zone
    * uses the query clock's offset — documented approximation: rows
    * crossing a DST boundary within one query keep the clock's token). */
  def zoneSubstitutedPattern(pat: String, zoneId: String, atEpochSec: Long): String = {
    val zid = java.time.ZoneId.of(zoneId)
    val inst = java.time.Instant.ofEpochSecond(atEpochSec)
    val offset = zid.getRules.getOffset(inst)
    val secs = offset.getTotalSeconds
    val sign = if (secs < 0) "-" else "+"
    val hh = f"${math.abs(secs) / 3600}%02d"
    val mm = f"${(math.abs(secs) % 3600) / 60}%02d"
    val abbrev = java.util.TimeZone.getTimeZone(zid)
      .getDisplayName(zid.getRules.isDaylightSavings(inst), java.util.TimeZone.SHORT)
    def q(s: String) = "'" + s + "'"
    pat
      .replace("zzz", q(abbrev))
      .replace("XXX", q(if (secs == 0) "Z" else s"$sign$hh:$mm"))
      .replace("xxx", q(s"$sign$hh:$mm"))
      .replace("XX", q(if (secs == 0) "Z" else s"$sign$hh$mm"))
      .replace("xx", q(s"$sign$hh$mm"))
  }

  /** String-side twin of [[trimFractionZeros]] — ONE home for the Go
    * ".999" trim policy (Codecs.fmtTime and the template timeformat func
    * both render driver-side). */
  def trimFractionZerosStr(rendered: String): String =
    if (!rendered.contains(".")) rendered
    else rendered.replaceAll("(\\.\\d*?)0+(?=\\D|$)", "$1")
      .replaceAll("\\.(?=\\D|$)", "")

  /** Go-".999" trailing-zero trim on a rendered fraction (the fraction may
    * sit mid-string — RFC3339NANO's zone suffix follows it). */
  def trimFractionZeros(rendered: Column): Column =
    regexp_replace(regexp_replace(rendered,
      "(\\.\\d*?)0+(?=\\D|$)", "$1"), "\\.(?=\\D|$)", "")

  /** Validate a tz() zone name eagerly with the reference's error string
    * (func_test.go: `unknown time zone wrong/place`). */
  def validateTz(resolved: String, original: String): String = {
    try { java.time.ZoneId.of(resolved); resolved }
    catch {
      case _: Exception =>
        throw new IllegalArgumentException(s"unknown time zone $original")
    }
  }

  /** Format an epoch-ns column with a reference-style timeformat + tz. */
  def formatNs(tsNs: Column, fmt: String): Column = fmt match {
    case "ns" => tsNs
    case "us" => nsToUs(tsNs)
    case "ms" => floor(tsNs / 1000000L).cast("long")
    case "s" => floor(tsNs / 1000000000L).cast("long")
    case pattern => date_format(nsToTimestamp(tsNs), translateTimeformat(pattern))
  }

  /** Driver-side wall-clock text → epoch ns for a named/Go-layout
    * timeformat in a zone (the write door's CSV datetime decode —
    * reference mods/codec/internal/csv/csv_decode.go via
    * api.DataType.Apply; csv_decode_test.go pins "Default" and literal
    * Go layouts). Go ".999" fractions are OPTIONAL on parse, so the
    * fraction variants are tried longest-first then fractionless, same
    * policy as TQL parseTime. */
  def parseWallNs(s: String, fmt: String, tz: String = "UTC"): Long = {
    val (jp, goStyle) = resolveNamedOrGoFormat(fmt)
    val zone = java.time.ZoneId.of(resolveTz(tz))
    val patterns = "\\.S+".r.findFirstMatchIn(jp) match {
      case Some(m) if goStyle =>
        val nmax = m.end - m.start - 1
        (nmax to 1 by -1).map { n =>
          jp.substring(0, m.start) + "." + "S" * n + jp.substring(m.end)
        } :+ (jp.substring(0, m.start) + jp.substring(m.end))
      case _ => Seq(jp)
    }
    val parsed = patterns.iterator.flatMap { p =>
      try {
        val f = java.time.format.DateTimeFormatter.ofPattern(p)
        f.parseBest(s, java.time.ZonedDateTime.from _,
            java.time.LocalDateTime.from _) match {
          case z: java.time.ZonedDateTime => Some(z.toInstant)
          case l: java.time.LocalDateTime => Some(l.atZone(zone).toInstant)
          case _ => None
        }
      } catch { case _: Exception => None }
    }.nextOption().getOrElse(
      throw new IllegalArgumentException(
        s"""cannot parse "$s" with timeformat "$fmt""""))
    parsed.getEpochSecond * 1000000000L + parsed.getNano
  }
}
