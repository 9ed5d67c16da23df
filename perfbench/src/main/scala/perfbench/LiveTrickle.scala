package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{ClosedWatchServiceException, Path, StandardWatchEventKinds}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.fuel.{FuelPipeline, FuelQueries}
import graft.sources.{MqttLanding, Mqtt}

/** `live_trickle`: seeded price events over MQTT (QoS 1, open loop at
  * [[LiveTrickle.Rate]] events/s) into `FuelPipeline.start` with all four
  * queries running. Set-up publishes the golden stations and waits for
  * them to land.
  */
object LiveTrickle {
  val Rate = 25
  val WarmupS = 5
  val SetupReps = 2
  /** An event the live Q-map view has not taken in this long after the last
    * event was due counts as missed, at this deadline.
    */
  val DeadlineS = 10
  val StationsTopic = "fuel/stations"
  val PricesTopic = "fuel/prices"
  private val Wait = Main.WaitS * 1000.0

  private final class Pipeline(ctx: Ctx, port: Int, dir: Path) {
    val pricesDir: Path = dir.resolve("land/prices")
    val wh: Path = dir.resolve("wh")
    // Two landing subscribers; with the publisher, three MQTT connections.
    private val landPrices = new MqttLanding("127.0.0.1", port, PricesTopic, pricesDir.toString, "land-prices")
    private val landStations = new MqttLanding("127.0.0.1", port, StationsTopic,
      dir.resolve("land/stations").toString, "land-stations")
    // No dashboard file: its render competes with the 1 s triggers for
    // the cores and made freshness unsteady from run to run; the render
    // is measured on its own by dash_refresh. Without it, each qmap_live
    // tick only lists the warehouse and swaps in the lazy fuel_qmap_live
    // view, which nothing reads: no Q-map is computed here.
    val queries: Seq[StreamingQuery] = FuelPipeline.start(ctx.spark, pricesDir.toString,
      dir.resolve("land/stations").toString, wh.toString)
    def runId(name: String): String = queries.find(_.name == name).get.runId.toString
    def rows(name: String): Long = ctx.progress.of(name, runId(name)).map(_.rows).sum
    def stop(): Unit = {
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      landPrices.close()
      landStations.close()
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val stations = FuelData.stations(ctx.golden("stations.jsonl"))
    val pairs = FuelData.pairs(ctx.golden("prices.jsonl"))
    val broker = new Broker
    val pub = new Mqtt.Client("127.0.0.1", broker.port, "bench-publisher").connect()
    try {
      var pipe: Pipeline = null
      val setupS = (1 to SetupReps).map { k =>
        if (pipe != null) pipe.stop()
        val t0 = Clock.now()
        pipe = ctx.spans("setup", s"setup$k") { _ =>
          val p = new Pipeline(ctx, broker.port, ctx.fresh(s"rep$k"))
          stations.foreach(s => pub.publish(StationsTopic, s.wire.getBytes(UTF_8), qos = 1))
          ctx.checks.check(Main.await(Wait)(p.rows("ingest_stations") >= stations.size),
            s"set-up $k: stations did not land within ${Main.WaitS} s")
          p
        }
        (Clock.now() - t0) / 1000
      }

      val landWatch = if (ctx.trace) Some(new LandWatch(pipe.pricesDir)) else None

      // Open loop: event i is due at t0 + i / Rate whatever the program does.
      val total = (WarmupS + ctx.seconds) * Rate
      val events = (0 until total).map(i => FuelData.event(ctx.seed, i, pairs))
      val due = new Array[Double](total)
      val sent = new Array[Double](total)
      val publishUs = new Array[Double](total)
      val t0 = Clock.now() + 200
      val gen = new Thread(() =>
        for (i <- 0 until total) {
          due(i) = t0 + i * 1000.0 / Rate
          var wait = due(i) - Clock.now()
          while (wait > 0) {
            LockSupport.parkNanos((wait * 1e6).toLong)
            wait = due(i) - Clock.now()
          }
          sent(i) = Clock.now()
          ctx.spans("mqtt.publish", s"e$i") { _ =>
            try pub.publish(PricesTopic, events(i).wire.getBytes(UTF_8), qos = 1)
            catch { case e: Throwable => ctx.checks.fail(s"publish $i threw: $e") }
          }
          publishUs(i) = (Clock.now() - sent(i)) * 1000
        }, "bench-publisher")
      gen.start()
      gen.join()
      val oracle = new Oracle(stations)
      events.foreach(oracle.add)

      val deadline = due.last + DeadlineS * 1000.0
      for (q <- Seq("ingest_prices", "fuel_qbar_live"))
        ctx.checks.check(Main.await(Wait)(pipe.rows(q) >= total),
          s"drain: $q read ${pipe.rows(q)} of $total events within ${Main.WaitS} s")
      // qmap_live never reads its input rows (its batch only triggers the
      // refresh), so its progress counts none: wait until it is idle.
      val qmap = pipe.queries.find(_.name == "qmap_live").get
      ctx.checks.check(Main.await(Wait)(!qmap.status.isDataAvailable && !qmap.status.isTriggerActive),
        s"drain: qmap_live still busy after ${Main.WaitS} s")
      val progress = Seq("ingest_prices", "fuel_qbar_live", "qmap_live", "ingest_stations")
        .flatMap(q => ctx.progress.of(q, pipe.runId(q)))
      pipe.stop()

      check(ctx, pipe, events, oracle)
      val landed = landWatch.map(_.stop()).getOrElse(Nil)
      Map(
        "setup_reps_s" -> setupS,
        "warmup_events" -> WarmupS * Rate,
        "events" -> (0 until total).map(i => Seq(due(i), sent(i), publishUs(i))),
        "deadline" -> deadline,
        "progress" -> progress.map(p => Map("q" -> p.name, "batch" -> p.batch, "start" -> p.start,
          "dur" -> p.durations, "rows" -> p.rows)),
        "landed" -> landed,
        "warehouse" -> Main.warehouseFiles(pipe.wh))
    } finally {
      pub.close()
      broker.close()
    }
  }

  private def check(ctx: Ctx, pipe: Pipeline, events: Seq[Event], oracle: Oracle): Unit = {
    val spark = ctx.spark
    val stored = spark.read.parquet(pipe.wh.resolve("prices").toString)
    val storedStations = spark.read.parquet(pipe.wh.resolve("stations").toString)
    // Every published seq exactly once: each lost or duplicated row fails.
    val counts = stored.groupBy("seq").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    events.foreach(e => ctx.checks.check(counts.get(e.seq).contains(1L),
      s"seq ${e.seq} stored ${counts.getOrElse(e.seq, 0L)} times"))
    ctx.checks.check(counts.size == events.size, s"warehouse holds ${counts.size} seqs, ${events.size} published")

    def bars(df: DataFrame): Seq[(String, Double)] = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    Main.checkBar(ctx, "fuel_qbar_live", bars(spark.table("fuel_qbar_live")), oracle)
    Main.checkBar(ctx, "qBar", bars(FuelQueries.qBar(stored)), oracle)
    Main.checkQMap(ctx, FuelQueries.qMap(storedStations, stored), oracle)
  }
}

/** Records when each landing file appears (inotify through `WatchService`):
  * file `msg-n` is the n-th message the landing daemon received.
  */
final class LandWatch(dir: Path) {
  private val ws = dir.getFileSystem.newWatchService()
  dir.register(ws, StandardWatchEventKinds.ENTRY_CREATE)
  private val seen = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val thread = new Thread(() =>
    try {
      while (true) {
        val key = ws.take()
        val now = Clock.now()
        key.pollEvents().forEach { e =>
          val name = e.context().toString
          if (name.startsWith("msg-")) seen.putIfAbsent(name.drop(4).takeWhile(_.isDigit).toInt, now)
        }
        key.reset()
      }
    } catch { case _: InterruptedException | _: ClosedWatchServiceException => () },
    "bench-land-watch")
  thread.setDaemon(true)
  thread.start()

  /** Stop watching; the arrival time of each landed message, in order
    * (-1 for one not seen).
    */
  def stop(): Seq[Double] = {
    ws.close()
    thread.join(2000)
    (1 to seen.size).map(i => seen.getOrDefault(i, -1.0))
  }
}
