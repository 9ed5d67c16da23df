package graft

import java.util.Locale
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{JobExecutionStatus, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{Bridge, SparkInternals}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.fuel.{FuelCleaning, FuelDashboard, FuelQueries}

/** `FuelDashboard.render` on the golden corpus: every part of its HTML
  * against a batch reference, the shape of the plans one refresh runs,
  * and the contract of its concurrent actions (the caller's local
  * properties reach every job; a failure surfaces only after every
  * render thread has finished).
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

  private val BarTitle = """<title>([^<]*): ([-0-9.]+)</title>""".r
  private val LinePoint =
    """<circle cx="[^"]*" cy="[^"]*" r="3" class="s(\d+)"><title>([^<]*) @ (-?\d+): ([-0-9.]+)</title></circle>""".r
  private val GeoTitle = """<circle class="geo" [^>]*><title>(.*?)</title></circle>""".r
  private val TableRow = """<tr><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>""".r

  test("render parity: bar, line, table and map equal the batch queries") {
    val html = FuelDashboard.render(prices, stations, maxStations = Int.MaxValue, generatedAt = "test")

    // Bars: qBar in fuel-type order, labels and values.
    val bars = BarTitle.findAllMatchIn(section(html, "Average price per fuel type", "Price over time"))
      .map(m => unesc(m.group(1)) -> m.group(2)).toSeq
    val wantBars = FuelQueries.qBar(prices).orderBy("fueltype").collect()
      .map(r => r.getString(0) -> fmt(r.getDouble(1))).toSeq
    assert(bars === wantBars)

    // Line: the daily mean of qLine's ordered series, exact on the
    // driver. qLine's order gives the series order and the day order.
    val daily = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Long, (BigDecimal, Int)]]
    FuelQueries.qLine(prices)
      .select(col("fueltype"), date_trunc("day", col("lastupdated")).cast("timestamp"), col("price"))
      .collect().foreach { r =>
        val days = daily.getOrElseUpdate(r.getString(0), mutable.LinkedHashMap.empty)
        val (sum, n) = days.getOrElse(r.getTimestamp(1).getTime, (BigDecimal(0), 0))
        days(r.getTimestamp(1).getTime) = (sum + BigDecimal(r.getDouble(2)), n + 1)
      }
    val wantLine = daily.toSeq.map { case (ft, days) =>
      ft -> days.toSeq.map { case (t, (sum, n)) => t -> (sum / n).toDouble }
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

  test("plan shape: one refresh is three actions, none with a range shuffle or a global sort") {
    // A session of its own: its listener hears only its own queries.
    val session = spark.newSession()
    val (p, s) = golden(session)
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val failures = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        failures.add(s"$funcName: $e")
    }
    session.listenerManager.register(listener)
    try {
      FuelDashboard.render(p, s, generatedAt = "test")
      Bridge.drainListenerBus(spark.sparkContext)
    } finally session.listenerManager.unregister(listener)
    assert(failures.isEmpty, failures)
    assert(plans.size === 3, "render must issue exactly three actions")
    plans.asScala.foreach { qe =>
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
