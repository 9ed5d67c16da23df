package graft.fuel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.operators.DriverResolve

/** Static-HTML twin of the reference's Dash dashboard
  * (`DataAnalysis.py:59-165`): the three standing queries — average
  * price per fuel type (bar), per-fuel-type price series (line),
  * latest price per station (a geographic SVG scatter, the
  * `scatter_mapbox` twin, plus the same data as a filterable table)
  * — rendered as ONE self-contained HTML file with inline SVG. No external
  * libraries, no network: the file a `foreachBatch` sink can
  * atomically republish every micro-batch, which is the engine-side
  * equivalent of the reference's per-interval Dash callback refresh.
  *
  * Scale note: everything collected here is presentation-bounded —
  * ≤|fuel types| bar rows, ≤|fuel types|×|days| line points and
  * |stations| Q-map rows, which feed both the map and the capped
  * station table. The heavy lifting (aggregation, latest-per-group,
  * joins) stays distributed; only the chart-sized result crosses to
  * the driver, which also sets the charts' order. A refresh is one
  * concurrent wave of three Spark actions on threads created per
  * render, and the line chart aggregates the price rows directly,
  * not the ordered [[FuelQueries.qLine]] (see [[render]]).
  *
  * Charts follow the data-viz method: one measure over categories →
  * single-hue bars (category identity lives on the axis); the
  * multi-series line gets fixed-order categorical hues + a legend
  * (never cycled; capped at the 8 validated slots with a "+N more
  * not shown" legend note, axis scaled to plotted series only);
  * text wears text tokens, never series
  * color; native SVG `<title>` tooltips are the dependency-free
  * hover layer; light/dark both ship via `prefers-color-scheme`.
  */
object FuelDashboard {

  /** Fixed categorical order (validated default palette; light/dark
    * steps of the same hues). Series beyond 8 are cut with a legend
    * note — never a generated 9th hue.
    */
  private val SeriesLight = Seq(
    "#2a78d6", "#eb6834", "#1baf7a", "#eda100",
    "#e87ba4", "#008300", "#4a3aa7", "#e34948")
  private val SeriesDark = Seq(
    "#3987e5", "#d95926", "#199e70", "#c98500",
    "#d55181", "#008300", "#9085e9", "#e66767")

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  // Locale-pinned: the f interpolator is locale-dependent (decimal
  // comma on e.g. de JVMs) — determinism is the repo invariant.
  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  /** Horizontal single-hue bar chart (rounded data-end, 2px gaps via
    * stroke-free spacing, direct value labels in text ink).
    */
  private def svgBar(rows: Seq[(String, Double)]): String = {
    if (rows.isEmpty) return "<p class=\"muted\">no data</p>"
    val w = 560; val barH = 22; val gap = 8; val labelW = 60; val valueW = 56
    val h = rows.size * (barH + gap) + gap
    val max = math.max(rows.map(_._2).max, 1e-9)
    val bars = rows.zipWithIndex.map { case ((label, v), i) =>
      val y = gap + i * (barH + gap)
      val bw = math.max(((w - labelW - valueW) * v / max).toInt, 2)
      s"""<g><title>${esc(label)}: ${fmt(v)}</title>
         |<text x="${labelW - 8}" y="${y + barH - 6}" text-anchor="end" class="lbl">${esc(label)}</text>
         |<rect x="$labelW" y="$y" width="$bw" height="$barH" rx="4" class="bar"/>
         |<text x="${labelW + bw + 6}" y="${y + barH - 6}" class="val">${fmt(v)}</text>
         |</g>""".stripMargin
    }.mkString("\n")
    s"""<svg viewBox="0 0 $w $h" role="img" aria-label="average price per fuel type">$bars</svg>"""
  }

  /** Multi-series line chart: fixed-order hues, 2px lines, legend
    * with colored marks and text-ink labels, per-vertex tooltips.
    */
  private def svgLine(allSeries: Seq[(String, Seq[(Long, Double)])]): String = {
    // Cap at the validated 8-slot palette; the axis scales to the
    // PLOTTED series only (a dropped series must not stretch the
    // range), and the legend names how many were cut.
    val series = allSeries.take(SeriesLight.size)
    val dropped = allSeries.size - series.size
    val pts = series.flatMap(_._2)
    if (pts.isEmpty) return "<p class=\"muted\">no data</p>"
    val w = 560; val h = 200; val pad = 30
    val (x0, x1) = (pts.map(_._1).min, math.max(pts.map(_._1).max, pts.map(_._1).min + 1))
    val (y0, y1) = (pts.map(_._2).min, math.max(pts.map(_._2).max, pts.map(_._2).min + 1e-9))
    def sx(t: Long) = pad + ((w - 2 * pad) * (t - x0).toDouble / (x1 - x0)).toInt
    def sy(v: Double) = h - pad - ((h - 2 * pad) * (v - y0) / (y1 - y0)).toInt
    val axes =
      s"""<line x1="$pad" y1="${h - pad}" x2="${w - pad}" y2="${h - pad}" class="axis"/>
         |<text x="$pad" y="${h - 8}" class="lbl">${fmt(y0)}–${fmt(y1)}</text>""".stripMargin
    val lines = series.zipWithIndex.map { case ((name, ps), i) =>
      val path = ps.sortBy(_._1)
        .map { case (t, v) => s"${sx(t)},${sy(v)}" }.mkString(" ")
      val dots = ps.map { case (t, v) =>
        s"""<circle cx="${sx(t)}" cy="${sy(v)}" r="3" class="s$i"><title>${esc(name)} @ $t: ${fmt(v)}</title></circle>"""
      }.mkString
      s"""<polyline points="$path" fill="none" stroke-width="2" class="s$i"/>$dots"""
    }.mkString("\n")
    val more = if (dropped > 0) s"""<span class="key muted">+$dropped more not shown</span>""" else ""
    val legend = series.zipWithIndex.map { case ((name, _), i) =>
      s"""<span class="key" data-series="s$i" role="button" tabindex="0" title="click to toggle"><svg width="10" height="10"><rect width="10" height="10" rx="2" class="s$i"/></svg> ${esc(name)}</span>"""
    }.mkString(" ") + more
    s"""<svg viewBox="0 0 $w $h" role="img" aria-label="price over time per fuel type">$axes$lines</svg>
       |<div class="legend">$legend</div>""".stripMargin
  }

  /** Geographic scatter — the SVG twin of the reference's
    * `scatter_mapbox` station map (`DataAnalysis.py:125-138`): one
    * fixed accent hue (the reference paints every station red),
    * equirectangular lon/lat projection over the data's own bounding
    * box (no tiles, no network — the basemap is presentation, the
    * DATA is the stations), native `<title>` hover carrying the same
    * name/brand/address/prices payload as the reference's hover_data.
    */
  private def svgGeoScatter(pts: Seq[(Double, Double, String)]): String = {
    if (pts.isEmpty) return "<p class=\"muted\">no data</p>"
    val w = 560; val h = 400; val pad = 18
    val lons = pts.map(_._1); val lats = pts.map(_._2)
    val x0 = lons.min; val x1 = math.max(lons.max, x0 + 1e-6)
    val y0 = lats.min; val y1 = math.max(lats.max, y0 + 1e-6)
    def sx(lon: Double) = pad + (lon - x0) / (x1 - x0) * (w - 2 * pad)
    def sy(lat: Double) = h - pad - (lat - y0) / (y1 - y0) * (h - 2 * pad)
    val dots = pts.map { case (lon, lat, title) =>
      s"""<circle class="geo" cx="${fmt(sx(lon))}" cy="${fmt(sy(lat))}" r="3"><title>${esc(title)}</title></circle>"""
    }.mkString
    val frame = s"""<rect class="geoframe" x="1" y="1" width="${w - 2}" height="${h - 2}" fill="none"/>"""
    s"""<svg viewBox="0 0 $w $h" role="img" aria-label="service station map">$frame$dots</svg>
       |<p class="muted">${pts.size} stations — lon ${fmt(x0)}…${fmt(x1)}, lat ${fmt(y0)}…${fmt(y1)}</p>""".stripMargin
  }

  private def tableHtml(header: Seq[String], rows: Seq[Seq[String]]): String = {
    val th = header.map(c => s"<th>${esc(c)}</th>").mkString
    val trs = rows.map(r => r.map(c => s"<td>${esc(c)}</td>").mkString("<tr>", "", "</tr>")).mkString("\n")
    s"<table><thead><tr>$th</tr></thead><tbody>$trs</tbody></table>"
  }

  /** Assemble the full document. All inputs are already chart-sized.
    * `refreshSecs > 0` adds a meta-refresh: with the pipeline
    * atomically republishing the file per micro-batch, the browser
    * polls its way to the same live-updating view the reference's
    * Dash interval callback produces — still zero dependencies.
    */
  def html(
      bar: Seq[(String, Double)],
      line: Seq[(String, Seq[(Long, Double)])],
      stationHeader: Seq[String],
      stationRows: Seq[Seq[String]],
      generatedAt: String,
      refreshSecs: Int = 0,
      geo: Seq[(Double, Double, String)] = Nil): String = {
    val seriesCssLight = SeriesLight.zipWithIndex
      .map { case (c, i) => s".s$i{fill:$c;stroke:$c}" }.mkString
    val seriesCssDark = SeriesDark.zipWithIndex
      .map { case (c, i) => s".s$i{fill:$c;stroke:$c}" }.mkString
    val refresh =
      if (refreshSecs > 0) s"""<meta http-equiv="refresh" content="$refreshSecs">""" else ""
    s"""<!doctype html><html><head><meta charset="utf-8">$refresh
       |<title>graft fuel dashboard</title>
       |<style>
       |body{color-scheme:light;background:#fcfcfb;color:#0b0b0b;
       |  font:14px/1.45 system-ui,sans-serif;max-width:640px;margin:2rem auto;padding:0 1rem}
       |h1{font-size:1.2rem}h2{font-size:1rem;margin-top:1.6rem}
       |.muted,.lbl{fill:#52514e;color:#52514e;font-size:11px}
       |.val{fill:#0b0b0b;font-size:11px}
       |.bar{fill:#2a78d6}.axis{stroke:#d8d7d2;stroke-width:1}
       |.geo{fill:#e34948;fill-opacity:.75}.geoframe{stroke:#d8d7d2}
       |$seriesCssLight
       |.legend{margin-top:.3rem}.key{margin-right:.8rem;white-space:nowrap}
       |.key[data-series]{cursor:pointer}.key.off{opacity:.35}
       |#stfilter{font:inherit;padding:2px 6px}
       |table{border-collapse:collapse;width:100%;font-size:12px}
       |td,th{border-bottom:1px solid #e5e4df;padding:3px 6px;text-align:left}
       |@media (prefers-color-scheme: dark){
       |  body{color-scheme:dark;background:#1a1a19;color:#fff}
       |  .muted,.lbl{fill:#c3c2b7;color:#c3c2b7}.val{fill:#fff}
       |  .bar{fill:#3987e5}.axis{stroke:#3a3a38}
       |  .geo{fill:#e66767}.geoframe{stroke:#3a3a38}
       |  $seriesCssDark
       |  td,th{border-color:#33332f}}
       |</style></head><body>
       |<h1>graft fuel dashboard</h1>
       |<p class="muted">generated $generatedAt — engine twin of the reference's three standing queries</p>
       |<h2>Average price per fuel type</h2>
       |${svgBar(bar)}
       |<h2>Price over time</h2>
       |${svgLine(line)}
       |<h2>Maps of service stations</h2>
       |${svgGeoScatter(geo)}
       |<h2>Latest prices per station</h2>
       |<p><input id="stfilter" type="search" placeholder="filter stations…" aria-label="filter stations"></p>
       |${tableHtml(stationHeader, stationRows)}
       |<script>
       |// Browser-side interactivity, dependency-free (the Dash-app
       |// behaviors that matter: series toggling + table filtering).
       |document.querySelectorAll('.key[data-series]').forEach(function (k) {
       |  k.addEventListener('click', function () {
       |    var cls = k.dataset.series;
       |    var off = k.classList.toggle('off');
       |    document.querySelectorAll('svg .' + cls).forEach(function (el) {
       |      el.style.visibility = off ? 'hidden' : 'visible';
       |    });
       |  });
       |});
       |var f = document.getElementById('stfilter');
       |if (f) f.addEventListener('input', function () {
       |  var q = f.value.toLowerCase();
       |  document.querySelectorAll('tbody tr').forEach(function (tr) {
       |    tr.style.display = tr.textContent.toLowerCase().indexOf(q) >= 0 ? '' : 'none';
       |  });
       |});
       |</script>
       |</body></html>""".stripMargin
  }

  /** Render from the warehouse frames. `maxStations` caps the station
    * table.
    *
    * One refresh is one concurrent wave of three Spark actions (bar,
    * line, Q-map), each collected on a thread of its own
    * ([[concurrently]]). The driver then puts the bars, the line series
    * and the station table in Spark's `orderBy` order (nulls first,
    * UTF-8 byte order), so no action pays a range-partitioned sort.
    * The line aggregates `prices` itself, not [[FuelQueries.qLine]]:
    * Catalyst keeps qLine's global Sort under a double `avg` (float
    * sums depend on order), so every refresh would sort every price
    * row and then discard that order.
    */
  def render(
      prices: DataFrame,
      stations: DataFrame,
      maxStations: Int = 20,
      generatedAt: String = "n/a",
      refreshSecs: Int = 0): String = {
    val lineQ = prices
      .groupBy(col("fueltype"),
        date_trunc("day", col("lastupdated")).cast("timestamp").as("day"))
      .agg(avg("price").as("p"))
    // ONE Q-map execution feeds both the map and the station table:
    // the map payload is every station (presentation-bounded —
    // |stations|, the same cardinality the reference ships into
    // scatter_mapbox), so the table's sort + cut runs on the driver
    // over the same rows.
    val fuelPrices = regexp_replace(col("fuelinfo_agg"), "<br>", "; ")
    val qmapQ = FuelQueries.qMap(stations, prices)
      .select(col("name"), col("brand"), fuelPrices.as("prices"),
        col("location_longitude").cast("double"),
        col("location_latitude").cast("double"),
        // hover = the reference's hover_data set
        concat_ws(" — ", col("name"), col("brand"), col("address"), fuelPrices))
    val Seq(barRows, lineRows, qmap) = concurrently(
      "bar" -> FuelQueries.qBar(prices), "line" -> lineQ, "map" -> qmapQ)

    val sparkOrder = Ordering.Option(DriverResolve.sparkOrdering(StringType).get)
    val bar = barRows.sortBy(r => Option(r.get(0)))(sparkOrder)
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val line = lineRows
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(s => Option(s._1: Any))(sparkOrder)
      .map { case (ft, xs) => ft -> xs.map(x => (x._2, x._3)).sortBy(_._1).toSeq }
    val stationRows = qmap.sortBy(r => Option(r.get(0)))(sparkOrder)
      .take(maxStations)
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2))).toSeq
    val geo = qmap.filter(r => !r.isNullAt(3) && !r.isNullAt(4))
      .map(r => (r.getDouble(3), r.getDouble(4), r.getString(5))).toSeq
    html(bar, line, Seq("station", "brand", "latest prices"), stationRows, generatedAt,
      refreshSecs, geo)
  }

  /** Collects each named frame on a thread created for this call
    * (`graft-render-<name>`), joins them all, then returns the rows in
    * argument order, or rethrows the first failure in argument order.
    * Fresh threads, not a pool: Spark clones the caller's local
    * properties (job group, scheduler pool, trace tags) into a thread
    * when it is created, so only a fresh thread carries the caller's
    * current ones to its jobs. An interrupt of the caller is passed to
    * the workers, and the join still waits for them.
    */
  private def concurrently(frames: (String, DataFrame)*): Seq[Array[Row]] = {
    val workers = frames.map { case (name, df) => new Collect(name, df) }
    workers.foreach(_.start())
    var interrupted = false
    workers.foreach { w =>
      while (w.isAlive)
        try w.join()
        catch { case _: InterruptedException => interrupted = true; workers.foreach(_.interrupt()) }
    }
    if (interrupted) Thread.currentThread.interrupt()
    workers.map(_.rows.fold(t => throw t, identity))
  }

  private final class Collect(name: String, df: DataFrame) extends Thread(s"graft-render-$name") {
    setDaemon(true)
    @volatile var rows: Either[Throwable, Array[Row]] = _
    override def run(): Unit =
      rows = try Right(df.collect()) catch { case t: Throwable => Left(t) }
  }

  /** Atomic publish: write to a temp sibling, then rename — readers
    * never observe a half-written dashboard (same discipline as the
    * REST landing drop).
    */
  def writeAtomic(path: String, content: String): Unit = {
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Batch main: render the dashboard from a warehouse directory
    * (`prices`/`stations` parquet) to an HTML file.
    */
  def main(args: Array[String]): Unit = {
    val Array(warehouseDir, outPath) = args.take(2)
    val spark = SparkSession.getActiveSession.getOrElse(graft.GraftSession.get())
    try {
      val prices = spark.read.parquet(s"$warehouseDir/prices")
      val stations = spark.read.parquet(s"$warehouseDir/stations")
      writeAtomic(outPath, render(prices, stations,
        generatedAt = java.time.Instant.now().toString))
      println(s"[dashboard] wrote $outPath")
    } finally spark.stop()
  }
}
