package graft.fuel

import java.math.MathContext
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileStatus, Path}
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.operators.DriverResolve
import graft.sources.LeafFingerprint
import graft.streaming.StreamOps

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
  * per file, ≤|fuel types| bar sums, ≤|fuel types|×|days| line sums,
  * ≤|stations|×|fuel types| latest rows and the file's station rows;
  * after the fold, the same bounds for the whole warehouse. The
  * per-row work (casts, day truncation, the `fuelinfo` string, the
  * per-file aggregation) stays distributed, and a refresh runs it only
  * over the files no earlier render has seen: the warehouse is
  * append-only and a parquet file immutable, so its partials are
  * cached under (path, mtime, len, schema) and a refresh after one
  * append reads one file (see [[render]]). The driver folds the
  * partials, joins them to the stations and sets the charts' order.
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
    * A refresh aggregates only the files it has not seen. Each table
    * reduces to associative per-file partials: `prices` to (sum, count)
    * per fuel type and per (fuel type, day), the sums exact decimals
    * (see [[ExactPrice]]), and the latest row by
    * (`lastupdated`, `seq`) per (station code, fuel type), `stations`
    * to its rows. One Spark action per table computes the partials of
    * its unseen files, grouped by file; the two run concurrently, each
    * on a thread of its own ([[concurrently]]). The driver folds them
    * with the cached ones in file path order, equi-joins the latest
    * prices to the stations on the long key and groups the result by
    * (name, brand, address, lat, lon), as [[FuelQueries.qMap]] does
    * (left outer: a station without prices shows `""`; a duplicate
    * station row repeats its prices). Every per-row expression — the
    * `cast("long")` keys, `date_trunc("day")`, the `fuelinfo` string —
    * is Spark's, computed in the action; the driver only adds sums,
    * picks the latest, joins, groups and orders (Spark's `orderBy`
    * order: nulls first, UTF-8 byte order; the bar is rounded by
    * Catalyst's own `Round`).
    *
    * One deviation from [[FuelQueries.qBar]], by design: a bar rounds
    * the exact mean, where `qBar` rounds a double `avg` whose last bits
    * depend on the order its rows are added in. At a 2 dp tie the two
    * can differ: prices 206.9 and 175.51 have the mean 191.205, which
    * the bar shows as 191.21 and `qBar` as 191.20 (its double sum is
    * 382.40999999999997). Prices the exact sum cannot hold (NaN,
    * ±Infinity, 1e20 and beyond) make their bar and day the double
    * `avg` that `qBar` computes.
    *
    * Partials are kept only for a frame that is a bare parquet scan
    * (`spark.read.parquet`, no partition columns), per file in
    * [[LeafFingerprint]] under (path, mtime, len, data schema), and
    * the files are the relation's own listing, so the render shows
    * exactly the frame it was given. Any other frame is aggregated
    * whole by the same action and nothing is cached.
    */
  def render(
      prices: DataFrame,
      stations: DataFrame,
      maxStations: Int = 20,
      generatedAt: String = "n/a",
      refreshSecs: Int = 0): String = {
    val priceParts = new Partials("prices", prices, pricePartials, PriceParts.of)
    val stationParts = new Partials("stations", stations, stationRows, (rs: Seq[Row]) => rs.map(Station.of))
    val actions = Seq(priceParts, stationParts).flatMap(_.action)
    val rows = concurrently(prices.sparkSession, actions: _*).iterator
    def next(p: Partials[_]) = if (p.action.isEmpty) Array.empty[Row] else rows.next()
    val ps = PriceParts.fold(priceParts.parts(next(priceParts)))
    val sts = stationParts.parts(next(stationParts)).flatten

    val sparkOrder = Ordering.Option(DriverResolve.sparkOrdering(StringType).get)
    val bar = ps.bar.toSeq.sortBy(b => Option(b._1: Any))(sparkOrder)
      .map { case (ft, s) => ft -> Round(Literal(s.mean), Literal(2)).eval().asInstanceOf[Double] }
    val line = ps.line.toSeq.groupBy(_._1._1).toSeq.sortBy(s => Option(s._1: Any))(sparkOrder)
      .map { case (ft, days) => ft -> days.map { case ((_, day), s) => day -> s.mean }.sortBy(_._1) }

    // The Q-map: latest prices joined to the stations, grouped.
    val fuelinfo = ps.latest.values.toSeq.collect { case l if l.key != null => l.key -> l.fuelinfo }
      .groupMap(_._1)(_._2)
    val infoOrder = DriverResolve.sparkOrdering(StringType).get
    val qmap = sts.groupBy(_.group).values.map { members =>
      val infos = members.flatMap { s =>
        Option(s.key).flatMap(fuelinfo.get).fold(Seq(""))(_.filter(_ != null))
      }
      QRow(members.head, infos.sorted(infoOrder).mkString("<br>").replace("<br>", "; "))
    }.toSeq.sorted(QRow.order(sparkOrder))
    val stationTable = qmap.take(maxStations).map(q => Seq(q.s.name, q.s.brand, q.prices))
    val geo = qmap.collect { case q if q.s.lon != null && q.s.lat != null =>
      (q.s.lon.doubleValue, q.s.lat.doubleValue,
        Seq(q.s.name, q.s.brand, q.s.address, q.prices).filter(_ != null).mkString(" — "))
    }
    html(bar, line, Seq("station", "brand", "latest prices"), stationTable, generatedAt,
      refreshSecs, geo)
  }

  /** The prices partials, by file: (sum, count) of `price` per fuel type
    * and per (fuel type, day), and the latest row by (`lastupdated`,
    * `seq`) per (station code, fuel type) with its join key, order and
    * `fuelinfo` — one grouping-sets aggregate, one shuffle. `fuelinfo`
    * is [[FuelQueries.qMap]]'s expression, over the latest row's price.
    */
  private def pricePartials(prices: DataFrame, fileOf: Column): DataFrame = {
    val fuelinfo = when(col("price").isNotNull,
        concat(col("fueltype"), lit(": "), col("price").cast("string")))
      .otherwise(lit(""))
    val day = unix_millis(date_trunc("day", col("lastupdated")).cast("timestamp")).as("day")
    val (file, fueltype, station) = (col("__file"), col("fueltype"), col("stationcode"))
    prices
      .select(fileOf.as("__file"), fueltype, day, station, col("price"),
        struct(col("lastupdated"), col("seq")).as("at"),
        struct(station.cast("long").as("key"), unix_micros(col("lastupdated")).as("ts"),
          col("seq"), fuelinfo.as("fuelinfo")).as("latest"))
      .groupingSets(
        Seq(Seq(file, fueltype), Seq(file, fueltype, col("day")), Seq(file, station, fueltype)),
        file, fueltype, col("day"), station)
      .agg(grouping(col("day")).as("noDay"), grouping(station).as("noStation"),
        try_sum(col("price").try_cast(ExactPrice)).as("sum"), count("price").as("n"),
        max_by(col("latest"), col("at")).as("latest"),
        count(col("price").try_cast(ExactPrice)).as("nExact"), sum(col("price")).as("dsum"))
  }

  /** The station rows, by file: the long join key, the Q-map's grouping
    * columns and the map's double-cast coordinates.
    */
  private def stationRows(stations: DataFrame, fileOf: Column): DataFrame =
    stations.select(fileOf, col("code").cast("long"), col("name"), col("brand"),
      col("address"), col("location_latitude"), col("location_longitude"),
      col("location_longitude").cast("double"), col("location_latitude").cast("double"))

  /** Prices are summed as decimals, Spark's cast of each double (its
    * shortest decimal form): a decimal sum is exact, so it does not
    * depend on the order files and rows are added in, and a render
    * from cached partials equals one over the whole frame to the last
    * bit. A double sum would differ between the two in its last bits,
    * enough to flip a 2 dp label at a tie. The decimal holds only
    * finite prices below 1e20 and sums below 1e20: for NaN, ±Infinity
    * and larger values the cast gives null, for a larger sum the sum
    * does, and such a sum falls back to the double sum, the one
    * `avg` takes (see [[Sum]]).
    */
  private val ExactPrice = DecimalType(38, 18)

  /** A (sum, count) of prices: `exact` the decimal sum when every
    * counted price and their sum fit [[ExactPrice]], `dsum` the double
    * sum of the same prices.
    */
  private final case class Sum(exact: Option[java.math.BigDecimal], dsum: Double, n: Long) {
    def +(o: Sum): Sum = Sum(exact.zip(o.exact).map { case (a, b) => a.add(b) }, dsum + o.dsum, n + o.n)
    /** The mean: the decimal one rounded once to the nearest double, or
      * else the double sum over the count, as Spark's `avg` computes it
      * (its last bits then depend on the order the files are added in,
      * as `avg`'s do on the order of its rows).
      */
    def mean: Double = exact.fold(dsum / n)(
      _.divide(java.math.BigDecimal.valueOf(n), MathContext.DECIMAL128).doubleValue)
  }

  /** A latest-row candidate: join key and fuelinfo nullable, order
    * (`lastupdated` micros, `seq`) nulls first, as Spark compares
    * structs.
    */
  private final case class Latest(key: java.lang.Long, at: (Option[Long], Option[Long]), fuelinfo: String)

  private val LatestOrder = Ordering.Tuple2(Ordering.Option(Ordering.Long), Ordering.Option(Ordering.Long))

  /** One file's prices partials, or all files' folded. */
  private final case class PriceParts(bar: collection.Map[String, Sum],
      line: collection.Map[(String, Long), Sum], latest: collection.Map[(String, String), Latest])

  private object PriceParts {
    /** `parts` folded in order: sums add, a later row replaces an
      * earlier one, and of two tied rows the earlier part's stays.
      */
    def fold(parts: Seq[PriceParts]): PriceParts = {
      val (bar, line) = (mutable.HashMap.empty[String, Sum], mutable.HashMap.empty[(String, Long), Sum])
      val latest = mutable.HashMap.empty[(String, String), Latest]
      parts.foreach { p =>
        p.bar.foreach { case (k, s) => bar(k) = bar.get(k).fold(s)(_ + s) }
        p.line.foreach { case (k, s) => line(k) = line.get(k).fold(s)(_ + s) }
        p.latest.foreach { case (k, l) =>
          if (latest.get(k).forall(o => LatestOrder.lt(o.at, l.at))) latest(k) = l
        }
      }
      PriceParts(bar, line, latest)
    }

    /** One file's partials from its rows of [[pricePartials]]. */
    def of(rows: Seq[Row]): PriceParts = {
      def opt(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      // A null decimal sum of counted prices is one that overflowed.
      def sum(r: Row) = {
        val n = r.getLong(7)
        val exact = if (r.getLong(9) != n) None
          else if (n == 0) Some(java.math.BigDecimal.ZERO) else Option(r.getDecimal(6))
        Sum(exact, if (r.isNullAt(10)) 0d else r.getDouble(10), n)
      }
      val (station, fuel) = rows.partition(_.getByte(5) == 0)
      val (bar, line) = fuel.partition(_.getByte(4) == 1)
      PriceParts(
        bar.map(r => r.getString(1) -> sum(r)).toMap,
        line.map(r => (r.getString(1), r.getLong(2)) -> sum(r)).toMap,
        station.map { r =>
          val l = r.getStruct(8)
          (r.getString(3), r.getString(1)) ->
            Latest(if (l.isNullAt(0)) null else l.getLong(0), (opt(l, 1), opt(l, 2)), l.getString(3))
        }.toMap)
    }
  }

  /** One station row; `group` is its Q-map group, with the doubles
    * normalized as Spark groups them (-0.0 with 0.0, every NaN as one).
    */
  private final case class Station(key: java.lang.Long, name: String, brand: String, address: String,
      group: Seq[Any], lon: java.lang.Double, lat: java.lang.Double)

  private object Station {
    private def normalized(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(if (d == 0d) 0d else d)
      case other => other
    }
    def of(r: Row): Station = {
      def boxed[A <: AnyRef](i: Int) = r.get(i).asInstanceOf[A]
      Station(boxed(1), r.getString(2), r.getString(3), r.getString(4),
        Seq(r.getString(2), r.getString(3), r.getString(4),
          normalized(r.get(5)), normalized(r.get(6))),
        boxed(7), boxed(8))
    }
  }

  /** A Q-map row: its group's first station and its prices string. */
  private final case class QRow(s: Station, prices: String)

  private object QRow {
    /** Name order, then every other column: a total order, so the HTML
      * does not depend on the fold's order.
      */
    def order(str: Ordering[Option[Any]]): Ordering[QRow] = {
      val dbl = Ordering.Option(Ordering.Double.TotalOrdering)
      Ordering.by[QRow, (Option[Any], Option[Any], Option[Any], Option[Any], Option[Double], Option[Double])](
        q => (Option(q.s.name), Option(q.s.brand), Option(q.s.address), Option(q.prices),
          Option(q.s.lat).map(_.doubleValue), Option(q.s.lon).map(_.doubleValue)))(
        Ordering.Tuple6(str, str, str, str, dbl, dbl))
    }
  }

  /** One table of a render: the per-file partials `fold` makes of the
    * rows `query` returns, whose first column is the file column it is
    * given (`_metadata.file_path`, or `""` for a frame aggregated
    * whole). For a bare parquet scan, the files
    * are the relation's listing, those cached under kind
    * `fuel.render.<name>` are reused, and [[action]] reads only the
    * rest; for any other frame, [[action]] aggregates the whole frame
    * and nothing is cached.
    */
  private final class Partials[P](name: String, df: DataFrame, query: (DataFrame, Column) => DataFrame,
      fold: Seq[Row] => P) {
    private val spark = df.sparkSession
    // date_trunc("day") depends on the session time zone
    private val kind = s"fuel.render.$name@${spark.sessionState.conf.sessionLocalTimeZone}"
    private val scan = bareParquetScan(df)
    private val files = scan.toSeq.flatMap(_.files).sortBy(_.getPath.toString)
    private val schema = scan.fold("")(_.relation.dataSchema.json)
    private val known: Map[Path, P] = files.flatMap(f =>
      LeafFingerprint.cachedFile[P](kind, f, schema).map(f.getPath -> _)).toMap
    private val unseen = files.filterNot(f => known.contains(f.getPath))

    /** The one action this table needs, as (table, its jobs' call
      * site, the action); None when every file is cached.
      */
    val action: Option[(String, String, () => Array[Row])] =
      if (scan.isEmpty)
        Some((name, s"fuel.render $name (whole frame)",
          () => query(df, lit("")).collect()))
      else if (unseen.isEmpty) None
      else {
        val read = if (unseen.size == files.size) df else scan.get.read(unseen)
        Some((name, s"fuel.render $name partials (${unseen.size} files)",
          () => query(read, col("_metadata.file_path")).collect()))
      }

    /** Every file's partial in path order (one for a whole frame), the
      * unseen ones made from `rows` (the action's) and cached.
      */
    def parts(rows: Array[Row]): Seq[P] =
      if (scan.isEmpty) Seq(fold(rows.toSeq))
      else {
        // `_metadata.file_path` is the URL-encoded path URI
        val byFile = rows.toSeq.groupBy(r => new Path(new URI(r.getString(0))))
        files.map { f =>
          known.getOrElse(f.getPath, {
            val fileRows = byFile.getOrElse(f.getPath, Nil)
            val p = fold(fileRows)
            LeafFingerprint.cacheFile(spark, kind, f, schema, p, bytes(fileRows))
            p
          })
        }
      }
  }

  /** ≈ heap bytes of one file's partial: its rows' fields and strings. */
  private def bytes(rows: Seq[Row]): Long = rows.iterator.map { r =>
    r.toSeq.iterator.map {
      case s: String => 48L + 2L * s.length
      case r: Row => r.toSeq.iterator.map { case s: String => 48L + 2L * s.length; case _ => 24L }.sum
      case _ => 24L
    }.sum + 32L
  }.sum

  /** A frame that is a bare parquet scan: its analyzed plan is one
    * relation over a parquet `HadoopFsRelation` without partition
    * columns.
    */
  private final class ParquetScan(spark: SparkSession, val relation: HadoopFsRelation) {
    /** The relation's listing: the files a scan of it reads (non-empty
      * data files).
      */
    def files: Seq[FileStatus] = relation.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))

    /** A read of just `some` of its files, with its schema and options. */
    def read(some: Seq[FileStatus]): DataFrame =
      spark.read.format("parquet").schema(relation.dataSchema)
        .options(relation.options.filter { case (k, _) => !Set("path", "paths")(k.toLowerCase) })
        .option(DataSource.GLOB_PATHS_KEY, "false") // file names are not patterns
        .load(some.map(_.getPath.toString): _*)
  }

  private def bareParquetScan(df: DataFrame): Option[ParquetScan] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.partitionSchema.isEmpty &&
            r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            !r.dataSchema.fieldNames.contains("_metadata") =>
          Some(new ParquetScan(df.sparkSession, r))
        case _ => None
      }
      case _ => None
    }

  /** Runs each (table, call site, body) on a thread created for this
    * call (`graft-render-<table>`), its jobs named by the call site,
    * joins them all, then returns the results in argument order, or
    * rethrows the first failure in argument order. Fresh threads, not
    * a pool: Spark clones the caller's local properties (job group,
    * scheduler pool, trace tags) into a thread when it is created, so
    * only a fresh thread carries the caller's current ones to its
    * jobs. An interrupt of the caller is passed to the workers, and
    * the join still waits for them.
    */
  private def concurrently[A](spark: SparkSession, bodies: (String, String, () => A)*): Seq[A] = {
    val workers = bodies.map { case (name, site, body) => new Worker(spark, name, site, body) }
    workers.foreach(_.start())
    var interrupted = false
    workers.foreach { w =>
      while (w.isAlive)
        try w.join()
        catch { case _: InterruptedException => interrupted = true; workers.foreach(_.interrupt()) }
    }
    if (interrupted) Thread.currentThread.interrupt()
    workers.map(_.result.fold(t => throw t, identity))
  }

  private final class Worker[A](spark: SparkSession, name: String, site: String, body: () => A)
      extends Thread(s"graft-render-$name") {
    setDaemon(true)
    @volatile var result: Either[Throwable, A] = _
    override def run(): Unit =
      result = try Right(StreamOps.withCallSite(spark, site)(body())) catch { case t: Throwable => Left(t) }
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
