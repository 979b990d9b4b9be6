package graft.tql

import graft.sinks.{Chart, ChartCompat, GeoMap, GoJs}
import graft.tql.Compiler.Compiled
import Expr._
import scala.util.control.NonFatal

/** TQL CHART()/GEOMAP()/CHART_LINE… statement sinks: apply the codec
  * options from the statement args (reference: fx_codec_opts.gen.go name
  * table, fm_encoder.go routing) and render the spec envelope from the
  * collected rows. Presentation sinks are driver-side by design — callers
  * bound row counts (the reference charts the same way through a single
  * encoder loop). */
object ChartRender {
  private def str(e: Expr): Option[String] = e match {
    case Str(s) => Some(s)
    case _ => None
  }
  private def num(e: Expr): Option[Double] = e match {
    case Num(n) => Some(n)
    case Unary("-", Num(n)) => Some(-n)
    case _ => None
  }

  /** In-memory stand-in for the server's volatile tql-assets store; the
    * last written .js bodies are observable for tests/clients (the
    * reference serves them at /web/api/tql-assets/<id>.js). */
  final class MemAssets extends graft.sinks.VolatileFileWriter {
    val files = scala.collection.mutable.LinkedHashMap[String, String]()
    def volatileFilePrefix: String = "/web/api/tql-assets/"
    def volatileFileWrite(name: String, data: Array[Byte]): Unit =
      files(name) = new String(data, "UTF-8")
  }
  @volatile var lastAssets: MemAssets = new MemAssets

  def run(c: Compiled): String = {
    val fmt = c.sink.format
    val args = c.sink.chartArgs.getOrElse(Nil)
    lastAssets = new MemAssets
    if (fmt == "GEOMAP") runGeomap(c, args)
    else runChart(c, fmt, args)
  }

  private def rowValues(c: Compiled): Iterator[Seq[Any]] = {
    import scala.jdk.CollectionConverters._
    c.output.toLocalIterator().asScala.map(_.toSeq.map {
      case ts: java.sql.Timestamp => ts.toInstant
      case arr: collection.Seq[_] => arr.toSeq
      case v => v
    })
  }

  private def runChart(c: Compiled, fmt: String, args: List[Expr]): String = {
    val chart: Chart = fmt match {
      case "CHART" => new Chart
      case "CHART_LINE" => new ChartCompat("line")
      case "CHART_SCATTER" => new ChartCompat("scatter")
      case "CHART_BAR" => new ChartCompat("bar")
      case "CHART_LINE3D" => new ChartCompat("line3D")
      case "CHART_SCATTER3D" => new ChartCompat("scatter3D")
      case "CHART_BAR3D" => new ChartCompat("bar3D")
      case "CHART_SURFACE3D" => new ChartCompat("surface3D")
      case other => throw new IllegalArgumentException(s"unsupported chart sink $other")
    }
    // headless runner: JSON spec envelope by default; assets captured
    // in-memory (the server would persist them under /web/api/tql-assets)
    chart.toJsonOutput = true
    chart.volatileFileWriter = Some(lastAssets)
    args.foreach {
      case Call("chartID", List(Str(id))) => chart.chartID = id
      case Call("chartId", List(Str(id))) => chart.chartID = id
      case Call("theme", List(Str(t))) => chart.theme = t
      case Call("size", List(Str(w), Str(h))) => chart.width = w; chart.height = h
      case Call("chartJson", List(Bool(b))) => chart.toJsonOutput = b
      case Call("chartOption", List(Str(o))) => chart.setChartOption(o)
      // option('…') is the generic spelling (fm_context.go fmOption:171)
      case Call("option", List(Str(o))) => chart.setChartOption(o)
      case Call("chartJSCode", List(Str(js))) => chart.setChartJSCode(js)
      case Call("chartDispatchAction", List(Str(a))) => chart.setDispatchAction(a)
      case Call("plugins", ps) => chart.setPlugins(ps.flatMap(str): _*)
      case Call("chartAssets", as) => chart.setChartAssets(as.flatMap(str): _*)
      case other => (chart, other) match {
        case (w: ChartCompat, Call(name, cargs)) => applyCompat(w, name, cargs)
        case _ => ()
      }
    }
    rowValues(c).foreach(r => chart.addRow(r))
    chart.close()
  }

  private def applyCompat(w: ChartCompat, name: String, args: List[Expr]): Unit =
    (name, args) match {
      case ("title", List(Str(t))) => w.setTitle(t)
      case ("subtitle", List(Str(t))) => w.setSubtitle(t)
      case ("globalOptions", List(Str(o))) => w.setGlobalOptions(o)
      case ("xAxis", Num(i) :: Str(l) :: rest) =>
        w.setXAxis(i.toInt, l, rest.headOption.flatMap(str).orNull)
      case ("yAxis", Num(i) :: Str(l) :: rest) =>
        w.setYAxis(i.toInt, l, rest.headOption.flatMap(str).orNull)
      case ("zAxis", Num(i) :: Str(l) :: rest) =>
        w.setZAxis(i.toInt, l, rest.headOption.flatMap(str).orNull)
      case ("dataZoom", List(Str(t), a, b)) =>
        w.setDataZoom(t, num(a).getOrElse(0d).toFloat, num(b).getOrElse(0d).toFloat)
      case ("seriesLabels", ls) => w.setSeriesLabels(ls.flatMap(str): _*)
      case ("visualMap", List(a, b)) =>
        w.setVisualMap(num(a).getOrElse(0d), num(b).getOrElse(0d))
      case ("visualMapColor", a :: b :: colors) =>
        w.setVisualMapColor(num(a).getOrElse(0d), num(b).getOrElse(0d),
          colors.flatMap(str): _*)
      case ("toolboxSaveAsImage", List(Str(n))) => w.setToolboxSaveAsImage(n)
      case ("toolboxDataZoom", _) => w.setToolboxDataZoom()
      case ("toolboxDataView", _) => w.setToolboxDataView()
      case ("opacity", List(o)) => w.setOpacity(num(o).getOrElse(1d))
      case ("lineWidth", List(o)) => w.setLineWidth(num(o).getOrElse(1d))
      case ("gridSize", gs) => w.setGridSize(gs.flatMap(num): _*)
      case ("autoRotate", o) => w.setAutoRotate(o.headOption.flatMap(num).getOrElse(180d))
      case ("markLineXAxisCoord" | "markXAxis", List(v, Str(n))) =>
        w.setMarkLineXAxisCoord(num(v).getOrElse(0d), n)
      case ("markLineYAxisCoord" | "markYAxis", List(v, Str(n))) =>
        w.setMarkLineYAxisCoord(num(v).getOrElse(0d), n)
      case _ => ()
    }

  private def runGeomap(c: Compiled, args: List[Expr]): String = {
    val gm = new GeoMap
    gm.toJsonOutput = true
    gm.volatileFileWriter = Some(lastAssets)
    args.foreach {
      case Call("geomapID", List(Str(id))) => gm.geomapID = id
      case Call("size", List(Str(w), Str(h))) => gm.width = w; gm.height = h
      case Call("geoMapJson", List(Bool(b))) => gm.toJsonOutput = b
      case Call("tileTemplate", List(Str(t))) => gm.setTileTemplate(t)
      case Call("tileOption", List(Str(o))) => gm.setTileOption(o)
      case Call("tileGrayscale", List(g)) =>
        gm.setTileGrayscale(num(g).getOrElse(0d))
      case Call("initialLocation", List(Call("latlon", List(a, b)), z)) =>
        gm.setInitialLocation(num(a).getOrElse(0d), num(b).getOrElse(0d),
          num(z).getOrElse(13d).toInt)
      case Call("icon", List(Str(n), Str(o))) => gm.setIcon(n, o)
      case Call("mapAssets", as) =>
        gm.setMapAssets(as.collect { case Str(s) => s }: _*)
      case _ => ()
    }
    rowValues(c).foreach { r =>
      gm.addRow(r.map {
        case s: String if s.trim.startsWith("{") =>
          try graft.script.Builtins.jsonParse(s) catch { case NonFatal(_) => s }
        case v => v
      })
    }
    gm.close()
  }
}
