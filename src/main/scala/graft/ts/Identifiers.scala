package graft.ts

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Series-id URL grammar (SURVEY.md §1.2), as Catalyst column expressions so
  * parsing/cleaning runs codegen'd inside the scan stage — never a UDF.
  *
  * Grammar (reference: weather/data_sources/netatmo/identifiers.py:32-56,
  * weather/data_sources/heartbeat.py:122-124, weather/test/utilities.py:31-45):
  * {{{
  *   netatmo://?station_name=<s>&module_name=<m>&data_type=<d>
  *   shyft://<container>/<station>/<module>/<data_type>
  *   heartbeat://callback/<message>
  *   mock1://<name>/<float_value>
  * }}}
  */
object Identifiers {

  /** URL scheme, the routing key
    * (reference: weather/service/dtss_host.py:238-245).
    */
  def scheme(url: Column): Column =
    regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)

  /** Query-parameter extraction; the reference's regex is
    * `(\w+)=(.*?)(?:&|$)` (identifiers.py:10).
    */
  def queryParam(url: Column, key: String): Column =
    regexp_extract(url, java.util.regex.Pattern.quote(key) + "=([^&]*)", 1)

  /** ascii-clean a path component: non-[a-zA-Z0-9] → '-', drop remaining
    * non-ascii, lowercase. `Eftasåsen4` → `eftas-sen4`
    * (reference: weather/utilities/ascii_clean.py:6-10,
    * weather/test/test_ascii_clean.py:3-6).
    */
  def cleanName(c: Column): Column =
    lower(regexp_replace(regexp_replace(c, "[^a-zA-Z0-9]", "-"), "[^\\x00-\\x7F]", ""))

  /** CamelCase → snake_case (reference: weather/utilities/camel_converter.py:8-11). */
  def camelToSnake(c: Column): Column =
    lower(regexp_replace(regexp_replace(c, "(.)([A-Z][a-z]+)", "$1_$2"),
      "([a-z0-9])([A-Z])", "$1_$2"))

  /** Build a netatmo:// source id (identifiers.py:40-43). */
  def netatmoId(station: Column, module: Column, dataType: Column): Column =
    concat(lit("netatmo://?station_name="), station,
      lit("&module_name="), module, lit("&data_type="), dataType)

  /** Build a shyft:// store id from raw (unclean) names (identifiers.py:32-37). */
  def storeId(container: String, station: Column, module: Column, dataType: Column): Column =
    concat(lit(s"shyft://$container/"), cleanName(station), lit("/"),
      cleanName(module), lit("/"), cleanName(dataType))

  // Driver-side (plain String) variants for source routing of small id lists.
  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://(.*)$".r

  def schemeOf(url: String): Option[String] = url match {
    case SchemeRe(s, _) => Some(s)
    case _              => None
  }

  def cleanNameStr(s: String): String =
    s.replaceAll("[^a-zA-Z0-9]", "-").replaceAll("[^\\x00-\\x7F]", "").toLowerCase

  def storeIdStr(container: String, station: String, module: String, dataType: String): String =
    s"shyft://$container/${cleanNameStr(station)}/${cleanNameStr(module)}/${cleanNameStr(dataType)}"

  def netatmoIdStr(station: String, module: String, dataType: String): String =
    s"netatmo://?station_name=$station&module_name=$module&data_type=$dataType"

  private val ParamRe = "(\\w+)=([^&]*)".r

  /** Parse query params; unknown scheme → error, mirroring the reference's
    * scheme validation (identifiers.py:46-50,
    * weather/test/test_netatmo_identifiers.py:23-30).
    */
  def parseNetatmoIdStr(url: String): Map[String, String] = {
    require(schemeOf(url).contains("netatmo"), s"not a netatmo:// id: $url")
    ParamRe.findAllMatchIn(url).map(m => m.group(1) -> m.group(2)).toMap
  }
}
