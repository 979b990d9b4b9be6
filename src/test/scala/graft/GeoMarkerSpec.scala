package graft

import graft.tql.ChartRender

/** Geo marker/feature constructor functions (reference
  * fx_definitions.go:111-119, nums/geography.go): geoPoint/geoCircle/
  * geoLineString and the marker variants built inside MAPVALUE, rendered
  * through the GEOMAP sink. Layer shapes mirror leafletobj_test.go
  * (markers carry [lat,lon]; GeoJSON features [lon,lat]).
  */
class GeoMarkerSpec extends SparkSpec {

  private def geomapJs(out: String): String = {
    val id = "\"geomapID\":\"([^\"]+)\"".r.findFirstMatchIn(out)
      .map(_.group(1)).getOrElse(fail(s"no geomapID in $out"))
    ChartRender.lastAssets.files(s"/web/api/tql-assets/$id.js")
  }

  test("geoPointMarker in MAPVALUE renders L.marker layers with popup binds") {
    val out = runTrim(
      """FAKE(json({
        |    [37.497850, 127.027756],
        |    [37.503058, 127.018666]
        |}))
        |MAPVALUE(0, geoPointMarker(latlon(value(0), value(1)), '{"popup": {"content": "<b>Gangnam</b>", "open": true}}'))
        |POPVALUE(1)
        |GEOMAP()
        |""".stripMargin)
    val js = geomapJs(out)
    assert(js.contains("L.marker([37.49785,127.027756],{}).addTo(map)"), js)
    assert(js.contains("L.marker([37.503058,127.018666],{}).addTo(map)"), js)
    assert(js.contains("bindPopup(\"<b>Gangnam</b>\"") && js.contains(".openPopup()"), js)
  }

  test("geoCircleMarker/geoCircle carry radius in properties (geography.go:201-219)") {
    val out = runTrim(
      """FAKE(json({
        |    [37.503058, 127.018666]
        |}))
        |MAPVALUE(0, geoCircleMarker(latlon(value(0), value(1)), 100))
        |POPVALUE(1)
        |GEOMAP()
        |""".stripMargin)
    assert(geomapJs(out).contains("L.circleMarker([37.503058,127.018666],{radius:100})"),
      geomapJs(out))

    val out2 = runTrim(
      """FAKE(json({
        |    [37.503058, 127.018666]
        |}))
        |MAPVALUE(0, geoCircle(latlon(value(0), value(1)), 250, dict("color", "red")))
        |POPVALUE(1)
        |GEOMAP()
        |""".stripMargin)
    val js2 = geomapJs(out2)
    assert(js2.contains("L.circle([37.503058,127.018666],"), js2)
    assert(js2.contains("radius:250") && js2.contains("color:\"red\""), js2)
  }

  test("geoPoint/geoLineString are GeoJSON features in [lon,lat] order") {
    val out = runTrim(
      """FAKE(json({
        |    [37.497850, 127.027756]
        |}))
        |MAPVALUE(0, geoPoint(latlon(value(0), value(1))))
        |POPVALUE(1)
        |GEOMAP()
        |""".stripMargin)
    val js = geomapJs(out)
    assert(js.contains("L.geoJSON("), js)
    assert(js.contains("[127.027756,37.49785]"), js) // lon first
    assert(js.contains("\"Point\"") || js.contains("type:\"Point\""), js)

    val out2 = runTrim(
      """FAKE(json({
        |    [37.497850, 127.027756]
        |}))
        |MAPVALUE(0, geoLineString(latlon(value(0), value(1)), latlon(37.503058, 127.018666)))
        |POPVALUE(1)
        |GEOMAP()
        |""".stripMargin)
    val js2 = geomapJs(out2)
    assert(js2.contains("[[127.027756,37.49785],[127.018666,37.503058]]"), js2)
    assert(js2.contains("\"LineString\"") || js2.contains("type:\"LineString\""), js2)
  }

  test("SQL registry exposes the geo constructors") {
    graft.functions.SqlRegistry.registerAll(spark)
    val row = spark.sql(
      "SELECT geoPointMarker(latlon(37.5, 127.0)) AS m, geoPoint(latlon(37.5, 127.0)) AS pt, " +
        "geoCircleMarker(latlon(37.5, 127.0), 42.0) AS cm").head()
    assert(row.getString(0) ==
      """{"type":"marker","coordinates":[37.5,127.0],"properties":{}}""")
    assert(row.getString(1) ==
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[127.0,37.5]},"properties":{}}""")
    assert(row.getString(2) ==
      """{"type":"circleMarker","coordinates":[37.5,127.0],"properties":{"radius":42}}""")
  }
}
