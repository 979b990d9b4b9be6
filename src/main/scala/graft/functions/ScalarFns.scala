package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar-function surface (reference:
  * mods/tql/fx_definitions.go:77-334) mapped onto Spark built-ins.
  * Everything is a pure Column composition — codegen'd, no UDFs.
  * Only the names Spark lacks get a helper here; the rest are 1:1
  * (see `aliases`).
  */
object ScalarFns {
  /** 1:1 name mapping: TQL function → Spark SQL function. Documentation +
    * the TQL front-end's symbol table. */
  val aliases: Map[String, String] = Map(
    "abs" -> "abs", "acos" -> "acos", "asin" -> "asin", "atan" -> "atan",
    "ceil" -> "ceil", "cos" -> "cos", "cosh" -> "cosh", "exp" -> "exp",
    "floor" -> "floor", "log" -> "ln", "log10" -> "log10", "log2" -> "log2",
    "mod" -> "mod", "pow" -> "pow", "round" -> "round", "sin" -> "sin",
    "sinh" -> "sinh", "sqrt" -> "sqrt", "tan" -> "tan", "tanh" -> "tanh",
    "strTrimSpace" -> "trim", "strToUpper" -> "upper", "strToLower" -> "lower",
    "strReplaceAll" -> "replace", "strHasPrefix" -> "startswith",
    "strHasSuffix" -> "endswith", "strSprintf" -> "format_string",
    "strIndex" -> "instr", "strSub" -> "substring",
    "parseFloat" -> "cast", "parseBool" -> "cast", "len" -> "length",
    "element" -> "element_at", "list" -> "array", "dict" -> "map",
    "nullValue" -> "coalesce", "random" -> "rand")

  /** Go-style glob match (reference `glob(pattern, text)`,
    * fm_monad.go:2144-2169): `*` and `?` wildcards → anchored regex. */
  def globToRegex(pattern: String): String =
    "^" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  def glob(pattern: String, text: Column): Column = text.rlike(globToRegex(pattern))

  /** Great-circle distance in meters (reference mods/nums/geography.go,
    * haversine used by MAP_DISTANCE fm_monad.go:2109-2143). */
  val EarthRadiusM = 6378137d // WGS84 equatorial, as paulmach/orb uses
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2d
    val dLon = radians(lon2 - lon1) / 2d
    val a = sin(dLat) * sin(dLat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon) * sin(dLon)
    lit(2d * EarthRadiusM) * asin(sqrt(a))
  }

  /** timeAdd / roundTime and friends live in [[graft.time.TimeFns]]. */
}
