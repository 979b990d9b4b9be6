package graft

import graft.tql.ChartRender

/** Reproduces TestGeoJSON (tql_test.go:2574-2700): SCRIPT-yielded GeoJSON
  * objects through the GEOMAP sink, including require("mathx/spatial")
  * .parseGeoJSON — envelope fields plus the volatile js asset byte-exact
  * against the reference's own goldens. */
class GeoJsonTqlSpec extends SparkSpec {

  private val RefTest = "/root/reference/mods/tql/test"

  private def golden(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(RefTest, name)), "UTF-8").replace("\r\n", "\n")

  private def checkEnvelope(result: String): String = {
    // the reference asserts via gjson (whitespace-agnostic); the envelope
    // itself is pretty-printed
    assert(result.contains(""""width": "600px""""), result)
    assert(result.contains(""""height": "600px""""), result)
    assert(result.contains(""""grayscale": 0"""), result)
    assert(result.contains(""""jsAssets": ["/web/geomap/leaflet.js"]"""), result)
    assert(result.contains(""""cssAssets": ["/web/geomap/leaflet.css"]"""), result)
    val id = "\"geomapID\":\"([^\"]+)\"".r.findFirstMatchIn(result)
      .map(_.group(1)).getOrElse(fail(s"no geomapID in $result"))
    assert(result.contains(s""""/web/api/tql-assets/${id}_opt.js""""), result)
    assert(result.contains(s""""/web/api/tql-assets/$id.js""""), result)
    id
  }

  test("js-geojson-point: yielded Feature object (tql_test.go:2578-2609)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  var lat = 37.497850;
        |  var lon =  127.027756;
        |  var name = "Gangnam-cross";
        |  $.yield({
        |    type: "Feature",
        |    geometry: {
        |      type: "Point",
        |      coordinates: [lon, lat]
        |    }
        |  });
        |})
        |GEOMAP(geomapID("MTY3NzQ2MDY4NzQyNTc4MTc2"))""".stripMargin)
    val id = checkEnvelope(out)
    // the reference's VolatileFileWriterMock buffers BOTH asset writes
    assert(ChartRender.lastAssets.files(s"/web/api/tql-assets/${id}_opt.js") +
      ChartRender.lastAssets.files(s"/web/api/tql-assets/$id.js") ==
      golden("js-geojson-point.js"))
  }

  test("js-parse-geojson-point: mathx/spatial.parseGeoJSON (tql_test.go:2611-2650)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  var lat = 37.497850;
        |  var lon =  127.027756;
        |  m = require("mathx/spatial");
        |  var obj = m.parseGeoJSON({
        |    type: "Feature",
        |    geometry: {
        |      type: "Point",
        |      coordinates: [lon, lat]
        |    }
        |  });
        |  if( obj instanceof Error ) {
        |    $.yield(obj.message);
        |  } else {
        |    $.yield(obj);
        |  }
        |})
        |GEOMAP(geomapID("MTY3NzQ2MDY4NzQyNTc4MTc2"))""".stripMargin)
    val id = checkEnvelope(out)
    // the reference's VolatileFileWriterMock buffers BOTH asset writes
    assert(ChartRender.lastAssets.files(s"/web/api/tql-assets/${id}_opt.js") +
      ChartRender.lastAssets.files(s"/web/api/tql-assets/$id.js") ==
      golden("js-geojson-point.js"))
  }

  test("js-geojson-polygon: parsed MultiPolygon (tql_test.go:2652-2692)") {
    val out = runTrim(
      """SCRIPT("js", {
        |  m = require("mathx/spatial");
        |  obj = m.parseGeoJSON({
        |    type:"Feature",
        |    geometry: {
        |      type: "MultiPolygon",
        |      coordinates: [
        |        [
        |          [ [ 2.291863239086439, 48.8577137262115 ], [ 2.293452085617105, 48.856693553273885 ], [ 2.2968403487010107, 48.85892279314069 ], [ 2.2951175030651143, 48.86006886087142 ], [ 2.291863239086439, 48.8577137262115 ] ]
        |        ],
        |        [
        |          [ [ 2.288226120523035, 48.86156752523257 ], [ 2.2899681088877344, 48.86042149181674 ], [ 2.290810388976098, 48.86063558796482 ], [ 2.2909826735397587, 48.8611015587675 ], [ 2.28947039792655, 48.862234983151495 ], [ 2.288226120523035, 48.86156752523257 ] ]
        |        ],
        |        [
        |          [ [ 2.2912927602678224, 48.85709062155263 ], [ 2.2905402133688426, 48.85661663833349 ], [ 2.291917551492446, 48.855746990243716 ], [ 2.2926328654095016, 48.85624492205244 ], [ 2.2912927602678224, 48.85709062155263 ] ]
        |        ]
        |      ]
        |    }
        |  })
        |  $.yield(obj)
        |})
        |GEOMAP(geomapID("MTY3NzQ2MDY4NzQyNTc4MTc2"))""".stripMargin)
    val id = checkEnvelope(out)
    assert(ChartRender.lastAssets.files(s"/web/api/tql-assets/${id}_opt.js") +
      ChartRender.lastAssets.files(s"/web/api/tql-assets/$id.js") ==
      golden("js-geojson-polygon.js"))
  }

  test("parseGeoJSON rejects missing/unknown types; haversine sanity") {
    val out = runTrim(
      """SCRIPT("js", {
        |  m = require("mathx/spatial");
        |  var bad = m.parseGeoJSON({geometry: {}});
        |  $.yield(bad instanceof Error ? bad.message : "no-error");
        |  var bad2 = m.parseGeoJSON({type: "Blob"});
        |  $.yield(bad2 instanceof Error ? bad2.message : "no-error");
        |  $.yield(Math.round(m.haversine([37.5665, 126.9780], [35.1796, 129.0756])/1000));
        |})
        |CSV()""".stripMargin)
    val lines = out.stripSuffix("\n").split("\n")
    assert(lines(0) == "GeoJSONError missing a GeoJSON type")
    assert(lines(1) == "GeoJSONError unsupported GeoJSON type")
    assert(lines(2).toLong == 325L) // Seoul–Busan ≈ 325 km
  }
}
