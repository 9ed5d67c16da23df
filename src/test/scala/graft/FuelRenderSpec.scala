package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Locale
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{JobExecutionStatus, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{Bridge, SparkInternals}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.fuel.{FuelCleaning, FuelDashboard, FuelPipeline, FuelQueries}
import graft.sources.{LeafFingerprint, Warehouse}

/** `FuelDashboard.render` on the golden corpus: every part of its HTML
  * against a batch reference, its cached per-file partials (the same
  * HTML cold, warm and uncached; the cache follows rewritten and
  * deleted files), the actions and jobs one refresh runs, and the
  * contract of its concurrent actions (the caller's local properties
  * reach every job; a failure surfaces only after every render thread
  * has finished).
  */
class FuelRenderSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def golden(s: SparkSession): (DataFrame, DataFrame) = (
    FuelCleaning.cleanPrices(s.read.json(resource("/fuel/prices.jsonl"))).valid,
    FuelCleaning.cleanStations(s.read.json(resource("/fuel/stations.jsonl"))).valid)
  private lazy val (prices, stations) = golden(spark)

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))
  private def unesc(s: String): String =
    s.replace("&quot;", "\"").replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
  private def section(html: String, from: String, to: String): String =
    html.substring(html.indexOf(s"<h2>$from</h2>"), html.indexOf(s"<h2>$to</h2>"))
  private def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  private val BarTitle = """<title>([^<]*): (-?[0-9.]+|NaN|-?Infinity)</title>""".r
  private val LinePoint =
    """<circle cx="[^"]*" cy="[^"]*" r="3" class="s(\d+)"><title>([^<]*) @ (-?\d+): (-?[0-9.]+|NaN|-?Infinity)</title></circle>""".r
  private val GeoTitle = """<circle class="geo" [^>]*><title>(.*?)</title></circle>""".r
  private val TableRow = """<tr><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>""".r

  /** Every part of `html` against the batch queries over the frames it
    * was rendered from (`maxStations = Int.MaxValue`).
    */
  private def assertParity(html: String, prices: DataFrame, stations: DataFrame): Unit = {
    // Bars: qBar in fuel-type order, labels and values.
    val bars = BarTitle.findAllMatchIn(section(html, "Average price per fuel type", "Price over time"))
      .map(m => unesc(m.group(1)) -> m.group(2)).toSeq
    val wantBars = FuelQueries.qBar(prices).orderBy("fueltype").collect()
      .map(r => r.getString(0) -> fmt(r.getDouble(1))).toSeq
    assert(bars === wantBars)

    // Line: the daily mean of qLine's ordered series, exact on the
    // driver. qLine's order gives the series order and the day order.
    val daily = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Long, Vector[Double]]]
    FuelQueries.qLine(prices)
      .select(col("fueltype"), date_trunc("day", col("lastupdated")).cast("timestamp"), col("price"))
      .collect().foreach { r =>
        val days = daily.getOrElseUpdate(r.getString(0), mutable.LinkedHashMap.empty)
        days(r.getTimestamp(1).getTime) = days.getOrElse(r.getTimestamp(1).getTime, Vector.empty) :+ r.getDouble(2)
      }
    val wantLine = daily.toSeq.map { case (ft, days) =>
      ft -> days.toSeq.map { case (t, ps) => t -> mean(ps) }
    }
    val drawn = wantLine.take(8) // the chart's palette cap
    if (wantLine.size > drawn.size) assert(html.contains(s"+${wantLine.size - drawn.size} more not shown"))
    val points = LinePoint.findAllMatchIn(section(html, "Price over time", "Maps of service stations"))
      .map(m => (m.group(1).toInt, unesc(m.group(2)), m.group(3).toLong, m.group(4))).toSeq
    val gotLine = points.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, ps) =>
      ps.head._2 -> ps.map(p => p._3 -> p._4)
    }
    assert(gotLine.map(_._1) === drawn.map(_._1), "series and their order")
    gotLine.zip(drawn).foreach { case ((ft, got), (_, want)) =>
      assert(got.map(_._1) === want.map(_._1), s"$ft days")
      got.zip(want).foreach { case ((t, v), (_, mean)) =>
        // The HTML carries 2 dp; Spark's double avg may differ from the
        // exact mean in its last bits, so allow 1e-9 either side.
        assert(v == fmt(mean - 1e-9) || v == fmt(mean + 1e-9), s"$ft @ $t: $v vs $mean")
      }
    }

    // Table and map: Q-map, the table in name order.
    val qmap = FuelQueries.qMap(stations, prices)
      .select("name", "brand", "address", "fuelinfo_agg", "location_latitude", "location_longitude")
      .collect().toSeq
    val rows = TableRow.findAllMatchIn(html)
      .map(m => Seq(m.group(1), m.group(2), m.group(3)).map(unesc)).toSeq
    assert(multiset(rows) ===
      multiset(qmap.map(r => Seq(r.getString(0), r.getString(1), r.getString(3).replace("<br>", "; ")))))
    val wantNames = FuelQueries.qMap(stations, prices).orderBy("name").select("name").collect()
      .map(_.getString(0)).toSeq
    assert(rows.map(_.head) === wantNames)
    val titles = GeoTitle.findAllMatchIn(html).map(m => unesc(m.group(1))).toSeq
    val wantTitles = qmap.filter(r => !r.isNullAt(4) && !r.isNullAt(5)).map { r =>
      Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3).replace("<br>", "; "))
        .filter(_ != null).mkString(" — ")
    }
    assert(titles.nonEmpty && multiset(titles) === multiset(wantTitles))
  }

  /** The exact mean of `ps`, or, when one of them is not finite, their
    * double mean.
    */
  private def mean(ps: Seq[Double]): Double =
    if (ps.forall(p => !p.isNaN && !p.isInfinite)) (ps.map(BigDecimal(_)).sum / ps.size).toDouble
    else ps.sum / ps.size

  private def renderAll(p: DataFrame, s: DataFrame): String =
    FuelDashboard.render(p, s, maxStations = Int.MaxValue, generatedAt = "test")

  /** The same frames, not bare file scans: rendered whole, never cached. */
  private def renderUncached(p: DataFrame, s: DataFrame): String =
    renderAll(p.where(lit(true)), s.where(lit(true)))

  test("render parity: bar, line, table and map equal the batch queries") {
    // JSON fixtures through the cleaning: not a file scan, rendered whole
    assertParity(renderAll(prices, stations), prices, stations)
  }

  /** The golden stations (one file) and prices in `waves` parts of one
    * file each, as a warehouse dir whose prices are not yet appended.
    */
  private def warehouse(waves: Int): (String, Seq[DataFrame]) = {
    val wh = Files.createTempDirectory("graft_render_wh").toString
    Warehouse.append(stations.coalesce(1), s"$wh/stations")
    (wh, (0 until waves).map(k => prices.where(col("seq") % waves === k).coalesce(1)))
  }
  private def appendPrices(wh: String, part: DataFrame): Unit = Warehouse.append(part, s"$wh/prices")
  private def read(s: SparkSession, wh: String): (DataFrame, DataFrame) =
    FuelPipeline.readWarehouse(s, wh).get
  private def priceFiles(wh: String): Seq[Path] =
    Files.list(Paths.get(wh, "prices")).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted

  test("cached partials: cold, warm after each append and uncached renders of one warehouse are byte-identical") {
    LeafFingerprint.clearCache()
    val (wh, parts) = warehouse(3)
    val warm = parts.map { part =>
      appendPrices(wh, part)
      val (p, s) = read(spark, wh)
      renderAll(p, s)
    }.last
    LeafFingerprint.clearCache()
    val (p, s) = read(spark, wh)
    val cold = renderAll(p, s)
    assert(LeafFingerprint.cachedBytes > 0)
    val before = LeafFingerprint.cachedBytes
    val fresh = spark.newSession()
    val (fp, fs) = read(fresh, wh)
    val uncached = renderUncached(fp, fs)
    assert(LeafFingerprint.cachedBytes === before, "a derived frame was cached")
    assert(warm === cold)
    assert(uncached === cold)
    assertParity(cold, p, s)
  }

  test("the cache follows the files: a rewritten file is read again, a deleted one stops contributing, a tiny cap stays correct") {
    val (wh, parts) = warehouse(3)
    parts.foreach(appendPrices(wh, _))
    def check(what: String): Unit = {
      val (p, s) = read(spark, wh)
      val html = renderAll(p, s)
      assert(html === renderUncached(p, s), what)
      assertParity(html, p, s)
    }
    check("warm-up")
    // Rewrite the first file in place with a tenth of its rows: a new
    // (mtime, len) under the same name.
    val first = priceFiles(wh).head
    val (total, inFirst) = (read(spark, wh)._1.count(), spark.read.parquet(first.toString).count())
    val tmp = Files.createTempDirectory("graft_render_rewrite")
    spark.read.parquet(first.toString).limit(50).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val rewritten = Files.list(tmp).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    Files.deleteIfExists(first.resolveSibling(s".${first.getFileName}.crc"))
    Files.move(rewritten, first, StandardCopyOption.REPLACE_EXISTING)
    check("rewritten file")
    assert(read(spark, wh)._1.count() === total - inFirst + 50)
    // Delete the second file.
    val second = priceFiles(wh)(1)
    Files.deleteIfExists(second.resolveSibling(s".${second.getFileName}.crc"))
    Files.delete(second)
    check("deleted file")
    // A cap no partial fits under: nothing is kept, and renders stay right.
    spark.conf.set(LeafFingerprint.CacheMaxBytesKey, "1")
    try {
      LeafFingerprint.clearCache()
      check("tiny cap, first render")
      assert(LeafFingerprint.cachedBytes === 0L)
      check("tiny cap, second render")
    } finally spark.conf.unset(LeafFingerprint.CacheMaxBytesKey)
  }

  test("duplicate station codes and rows, a station without prices: parquet and in-memory frames render as FuelQueries says") {
    import spark.implicits._
    val some = stations.orderBy("code").limit(6).collect().toSeq
    val schema = stations.schema
    def station(r: org.apache.spark.sql.Row, code: String, name: String) =
      org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map {
        case "code" => code
        case "name" => name
        case f => r.get(r.fieldIndex(f))
      })
    val odd = Seq(
      some.head, // the same row twice
      station(some(1), some(1).getAs[String]("code"), "Second Name Same Code"),
      station(some(2), "999999999", "Station Without Prices"))
    val rows = some ++ odd
    val mem = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = Files.createTempDirectory("graft_render_odd").resolve("stations").toString
    Warehouse.append(mem.coalesce(1), dir)
    val onDisk = spark.read.parquet(dir)
    val (fromDisk, fromMem) = (renderAll(prices, onDisk), renderAll(prices, mem))
    assert(fromDisk === fromMem)
    assertParity(fromDisk, prices, onDisk)
    assert(TableRow.findAllMatchIn(fromDisk).exists(m => m.group(1) == "Station Without Prices" && m.group(3) == ""))
    assert(Seq(mem, onDisk).forall(_.where($"code" === some(1).getAs[String]("code")).count() === 2))
  }

  test("prices an exact sum cannot hold (1e20 and beyond, NaN, ±Infinity, a sum past 1e20) render as FuelQueries says, whole, cached and uncached") {
    import spark.implicits._
    val raw = spark.read.json(resource("/fuel/prices.jsonl")).withColumn("price", col("price").cast("string"))
    // Fuel types that sort before the golden ones, so the line draws them;
    // each one's double sum is the same in any order.
    val odd = (Seq(
        ("496", "ABIG", "1e20"), ("18695", "ABIG", "2.5"), ("17299", "ABIG", "3.5"),
        ("496", "ANAN", "NaN"), ("18695", "ANAN", "201.9"),
        ("17299", "AINF", "Infinity"), ("1868", "AINF", "199.9"), ("496", "AINF", "-1e300"),
        ("18695", "ANEG", "-Infinity"), ("17299", "ANEG", "1e300")) ++
      Seq.fill(15)(("1868", "ASUM", "9e18")))
      .zipWithIndex.map { case ((code, ft, price), i) => (code, ft, price, "06/10/2023 09:00:00", 100000L + i) }
      .toDF("stationcode", "fueltype", "price", "lastupdated", "seq")
    val prices = FuelCleaning.cleanPrices(raw.unionByName(odd)).valid
    assert(prices.where(col("seq") >= 100000).count() === odd.count(), "the cleaning keeps every odd price")
    assertParity(renderAll(prices, stations), prices, stations)

    val wh = Files.createTempDirectory("graft_render_odd_prices").toString
    Warehouse.append(stations.coalesce(1), s"$wh/stations")
    LeafFingerprint.clearCache()
    val warm = (0 until 2).map { k =>
      appendPrices(wh, prices.where(col("seq") % 2 === k).coalesce(1))
      val (p, s) = read(spark, wh)
      renderAll(p, s)
    }.last
    LeafFingerprint.clearCache()
    val (p, s) = read(spark, wh)
    val cold = renderAll(p, s)
    assert(warm === cold)
    assert(renderUncached(p, s) === cold)
    assertParity(cold, p, s)
    Seq("ABIG: 33333333333333330000.00", "ANAN: NaN", "AINF: Infinity", "ANEG: -Infinity",
      "ASUM: 9000000000000000000.00").foreach(bar => assert(cold.contains(s"<title>$bar</title>"), bar))
  }

  test("a bar at a 2 dp tie rounds the exact mean: 206.9 and 175.51 read 191.21, where qBar's double avg reads 191.20") {
    val tie = prices.where(col("seq") < 2).withColumn("fueltype", lit("ATIE"))
      .withColumn("price", when(col("seq") === 0, 206.9).otherwise(175.51))
    val labels = Seq(tie, tie.orderBy(col("seq").desc)).map { p =>
      BarTitle.findAllMatchIn(section(renderAll(p, stations), "Average price per fuel type", "Price over time"))
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(labels === Seq.fill(2)(Seq("ATIE" -> "191.21")))
    assert(FuelQueries.qBar(tie).collect().map(r => fmt(r.getDouble(1))).toSeq === Seq("191.20"))
  }

  test("plan shape: a warm render with one new prices file runs one action over that file in at most two jobs, one with nothing new runs none, and no action has a range shuffle or a global sort") {
    // A session of its own: its listeners hear only its own queries and jobs.
    val session = spark.newSession()
    val tag = SparkInternals.sessionJobTag(session)
    def observe(body: => Unit): (Seq[QueryExecution], Int) = {
      val plans = new ConcurrentLinkedQueue[QueryExecution]()
      val failures = new ConcurrentLinkedQueue[String]()
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val qeListener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          failures.add(s"$funcName: $e")
      }
      val jobListener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.job.tags", "").split(",").contains(tag)))
            jobs.incrementAndGet()
      }
      Bridge.drainListenerBus(spark.sparkContext)
      session.listenerManager.register(qeListener)
      spark.sparkContext.addSparkListener(jobListener)
      try {
        body
        Bridge.drainListenerBus(spark.sparkContext)
      } finally {
        session.listenerManager.unregister(qeListener)
        spark.sparkContext.removeSparkListener(jobListener)
      }
      assert(failures.isEmpty, failures)
      (plans.asScala.toSeq, jobs.get)
    }
    def filesRead(qe: QueryExecution): Long =
      collect(qe.executedPlan) { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum

    val (wh, parts) = warehouse(3)
    parts.take(2).foreach(appendPrices(wh, _))
    val (p0, s0) = read(session, wh)
    val (cold, _) = observe(FuelDashboard.render(p0, s0, generatedAt = "test"))
    assert(cold.size === 2, "cold: one action per table")
    assert(cold.map(filesRead).sorted === Seq(1L, 2L), "cold: every file once")

    appendPrices(wh, parts(2))
    val (p1, s1) = read(session, wh)
    val (warm, warmJobs) = observe(FuelDashboard.render(p1, s1, generatedAt = "test"))
    assert(warm.size === 1, "warm: one action, over the prices")
    assert(filesRead(warm.head) === 1L, "warm: only the new file is read")
    assert(warmJobs >= 1 && warmJobs <= 2, s"warm: $warmJobs jobs")

    val (idle, idleJobs) = observe(FuelDashboard.render(p1, s1, generatedAt = "test"))
    assert(idle.isEmpty && idleJobs === 0, "nothing new: no action, no job")

    (cold ++ warm).foreach { qe =>
      val plan = qe.executedPlan
      val ranged = collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      val globalSorts = collect(plan) { case sort: SortExec if sort.global => sort }
      assert(ranged.isEmpty, s"range-partitioned exchange in\n$plan")
      assert(globalSorts.isEmpty, s"global sort in\n$plan")
    }
  }

  test("every render job carries the caller's local properties and job group") {
    val sc = spark.sparkContext
    // A session of its own: its job tag picks out the render's jobs.
    val session = spark.newSession()
    val (p, s) = golden(session)
    val tag = SparkInternals.sessionJobTag(session)
    val props = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.tags", "").split(",").contains(tag)))
          props.add(e.properties)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.caller", "render-contract")
    sc.setJobGroup("render-contract-group", "render contract", interruptOnCancel = false)
    try {
      FuelDashboard.render(p, s, generatedAt = "test")
      Bridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.caller", null)
      sc.removeSparkListener(listener)
    }
    assert(props.size >= 3, s"expected the render's jobs, saw ${props.size}")
    props.asScala.foreach { p =>
      assert(p.getProperty("graft.spec.caller") === "render-contract")
      assert(p.getProperty("spark.jobGroup.id") === "render-contract-group")
    }
  }

  test("a failing action surfaces its SparkException after every render thread has finished") {
    val boom = udf((p: Double) => { if (p > -1.0) throw new IllegalStateException("boom"); p })
    val bad = prices.withColumn("price", boom(col("price")))
    val e = intercept[SparkException](FuelDashboard.render(bad, stations, generatedAt = "test"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
      String.valueOf(t.getMessage).contains("boom")), e)
    assert(renderThreads().isEmpty, s"render threads still alive: ${renderThreads()}")
  }

  test("an interrupted caller interrupts the render threads, joins them and keeps its flag") {
    val sc = spark.sparkContext
    val group = "render-interrupt"
    FuelRenderSpec.stall = new CountDownLatch(1)
    // Every task blocks until the spec opens the latch (local mode: one JVM).
    val held = udf((p: Double) => { FuelRenderSpec.stall.await(); p })
    val stalled = prices.withColumn("price", held(col("price")))
    @volatile var outcome: Option[Throwable] = None
    @volatile var flagKept = false
    @volatile var aliveAfter = Set.empty[String]
    val caller = new Thread(() => {
      sc.setJobGroup(group, "render interrupt")
      try FuelDashboard.render(stalled, stations, generatedAt = "test")
      catch { case t: Throwable => outcome = Some(t) }
      flagKept = Thread.currentThread.isInterrupted
      aliveAfter = renderThreads()
    })
    def running: Boolean = sc.statusTracker.getJobIdsForGroup(group)
      .flatMap(sc.statusTracker.getJobInfo).exists(_.status == JobExecutionStatus.RUNNING)
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    }
    caller.start()
    try {
      waitFor(running)
      assert(running, "the render's jobs never started")
      caller.interrupt()
      caller.join(30000L)
      assert(!caller.isAlive, "render did not return after the interrupt")
      assert(outcome.nonEmpty && flagKept)
      assert(aliveAfter.isEmpty, s"render threads still alive: $aliveAfter")
    } finally {
      FuelRenderSpec.stall.countDown()
      sc.cancelJobGroup(group)
      waitFor(!running)
    }
  }

  private def renderThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_.startsWith("graft-render-")).toSet
}

object FuelRenderSpec {
  @volatile var stall = new CountDownLatch(0)
}
