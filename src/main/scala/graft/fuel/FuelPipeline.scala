package graft.fuel

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.sources.Warehouse
import graft.streaming.StreamOps

/** The reference pipeline end-to-end (SURVEY.md §3 entry point 3) as
  * one Structured Streaming program:
  *
  * {{{
  * JSONL source dir (stand-in for the MQTT raw topics — transport,
  *   not semantics)
  *   → cleaning with dead-letter split        (P2–P8)
  *   → parquet warehouse, batched appends     (S8–S10)
  *   → live views: Q-bar (complete mode) + latest-per-group
  * }}}
  *
  * Usage: `runMain graft.fuel.FuelPipeline <pricesDir> <stationsDir>
  * <warehouseDir>` — reads any *.jsonl placed in the source dirs,
  * processes each file exactly once (file-source offsets +
  * checkpoints under `<warehouseDir>/_checkpoints` = the reference's
  * high-water-mark St1, done by the engine, durable across
  * restarts), stops when idle.
  */
object FuelPipeline {

  def main(args: Array[String]): Unit = {
    val Array(pricesDir, stationsDir, warehouseDir) = args.take(3)
    val dashboardPath = args.lift(3)
    // Optional 5th arg: a port to PUSH-serve the dashboard on for the
    // run's duration (SSE reload on each republish tick — the Dash
    // callback-server twin; 0 picks a free port).
    val dashServer = for (p <- args.lift(4); d <- dashboardPath) yield
      new FuelDashboardServer(java.nio.file.Paths.get(d), p.toInt)
    dashServer.foreach(s => println(s"[pipeline] dashboard live at ${s.address}/"))
    val spark = graft.GraftSession.get()
    val qs = start(spark, pricesDir, stationsDir, warehouseDir, dashboardPath)
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    val stored = spark.read.parquet(s"$warehouseDir/prices")
    println(s"[pipeline] warehouse prices rows=${stored.count()}")
    println(s"[pipeline] live qbar:")
    spark.table("fuel_qbar_live").orderBy("fueltype").show(20, truncate = false)
    // One-shot runs may finish before the 1 s live-map trigger fires
    // with the warehouse in place; report the standing query straight
    // off the warehouse (what the live view converges to).
    val storedStations = spark.read.parquet(s"$warehouseDir/stations")
    val qmap = FuelQueries.qMap(storedStations, stored)
    println(s"[pipeline] qmap rows=${qmap.count()}")
    // One-shot runs can drain before the live-map tick sees a
    // populated warehouse; publish the converged dashboard here (the
    // same render the per-tick republish produces once data exists).
    dashboardPath.foreach { p =>
      FuelDashboard.writeAtomic(p, FuelDashboard.render(
        stored, storedStations,
        generatedAt = java.time.Instant.now().toString))
      println(s"[pipeline] dashboard -> $p")
    }
    dashServer.foreach(_.close())
    spark.stop()
  }

  /** Ingest raw API envelope snapshots (the reference's actual wire
    * shape — one nested `{stations:[...], prices:[...]}` JSON per
    * fetch, `DataGathering.py:28-39`) as streams: explode both arrays
    * in the stream, synthesize a deterministic per-record sequence id
    * from (snapshot file, position) for tie-breaking, and feed the
    * same cleaning pipeline. `from_json`+`explode` IS the engine's
    * `pd.json_normalize` (SURVEY §1.4).
    *
    * Live fetch: `sources.Rest.snapshotToLanding` (OAuth2 client-
    * credentials GET, `DataGathering.py:5-39`) drops each periodic
    * snapshot into `envelopeDir` as one atomically-renamed file — the
    * file source's unit of exactly-once — closing the loop from the
    * real API to this stream without a custom source.
    */
  def envelopeStreams(spark: SparkSession, envelopeDir: String): (DataFrame, DataFrame) = {
    val raw = spark.readStream
      .schema(FuelModel.apiEnvelopeSchema)
      .json(envelopeDir)
      .withColumn("__src", input_file_name())
    val prices = raw
      .select(col("__src"), posexplode(col("prices")).as(Seq("pos", "p")))
      .select(col("p.stationcode"), col("p.fueltype"),
        col("p.price").cast("string").as("price"), col("p.lastupdated"),
        xxhash64(col("__src"), col("pos")).as("seq"))
    val stations = raw
      .select(explode(col("stations")).as("s"))
      .select(col("s.brandid"), col("s.stationid"), col("s.brand"),
        col("s.code"), col("s.name"), col("s.address"),
        col("s.location.latitude").cast("string").as("location_latitude"),
        col("s.location.longitude").cast("string").as("location_longitude"))
    (prices, stations)
  }

  /** S10 — the content-based-router variant of the ingest leg: ONE
    * mixed cleaned topic (a dir of raw JSON wire lines standing in
    * for the MQTT transport, like the other legs) consumed by a
    * SINGLE streaming query that dispatches each record by key
    * presence (`'code' in data` — reference `DataIngesting.py:55-64`)
    * via [[Warehouse.routedSink]]. Three outcomes per record, all
    * landed: station half, price half, dead letters (unparseable JSON
    * from [[FuelCleaning.parseWire]] + parseable-but-unroutable rows
    * from the router — the reference crashes on the former, §2.10
    * bug 2). One source pass per micro-batch; the warehouse gets the
    * same surrogate-id append discipline as the per-topic legs.
    */
  def startRouted(
      spark: SparkSession,
      mixedDir: String,
      warehouseDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .text(mixedDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val split = FuelCleaning.parseWire(batch, "value", FuelModel.mixedWireSchema)
        Warehouse.routedSink(
          s"$warehouseDir/stations", s"$warehouseDir/prices",
          deadPath = Some(s"$warehouseDir/dead_letters"))(
          Warehouse.withSurrogateId(split.valid), batchId)
        // parseWire keeps the unparseable original in _corrupt
        Warehouse.append(
          split.rejected.select(col("_corrupt").as("raw"), col("_reject_reason")),
          s"$warehouseDir/dead_letters_raw")
      }
      .queryName("ingest_routed")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_routed")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()
  }

  /** The two warehouse tables (prices, stations) as `qmap_live` reads
    * them each tick: with their declared schemas, so the read runs no
    * Spark job. None until both table directories exist.
    */
  private[graft] def readWarehouse(
      spark: SparkSession, warehouseDir: String): Option[(DataFrame, DataFrame)] = {
    val (prices, stations) = (s"$warehouseDir/prices", s"$warehouseDir/stations")
    val fs = new Path(warehouseDir).getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(prices)) && fs.exists(new Path(stations)))
      Some((Warehouse.readTable(spark, prices, FuelModel.warehousePricesSchema),
        Warehouse.readTable(spark, stations, FuelModel.warehouseStationsSchema)))
    else None
  }

  /** Wire and start the three streaming queries; returns them running. */
  def start(
      spark: SparkSession,
      pricesDir: String,
      stationsDir: String,
      warehouseDir: String,
      dashboardPath: Option[String] = None): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {

    val rawPrices = spark.readStream
      .schema(FuelModel.rawPriceSchema)
      .json(pricesDir)
    val rawStations = spark.readStream
      .schema(FuelModel.rawStationSchema)
      .json(stationsDir)

    val prices = FuelCleaning.cleanPrices(rawPrices)
    val stations = FuelCleaning.cleanStations(rawStations)

    // Warehouse ingest: batched appends per micro-batch (the
    // reference does one row/connection/commit per message —
    // SURVEY §6; foreachBatch restores sane write granularity).
    // Dead letters land next to the tables, with reasons.
    val ingestPrices = prices.valid.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Warehouse.append(Warehouse.withSurrogateId(batch), s"$warehouseDir/prices")
      }
      .queryName("ingest_prices")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_prices")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()

    val ingestStations = stations.valid
      // St2 first-wins keyed dedup, engine-managed state
      .dropDuplicates("code")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Warehouse.append(Warehouse.withSurrogateId(batch), s"$warehouseDir/stations")
      }
      .queryName("ingest_stations")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_stations")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()

    // Dashboard live view: the standing Q-bar aggregation (the batch
    // query over the stream), complete mode, 1 s trigger (St5) —
    // incremental, not recompute-per-tick; a running mean over all
    // messages ever received, without unbounded driver memory.
    val live = StreamOps.liveView(
      FuelQueries.qBar(prices.valid), "fuel_qbar_live", 1000L)

    // Live Q-map: the flagship join needs the *current* station
    // dimension per tick, so it runs as a per-micro-batch batch query
    // (stream→foreachBatch→FuelQueries.qMap against the warehouse
    // dimension) — the streaming twin of the dashboard's 1 s
    // recompute, but incremental on the stream side.
    val liveMap = prices.valid.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (_: DataFrame, _: Long) =>
        readWarehouse(spark, warehouseDir).foreach { case (pricesNow, stationsNow) =>
          val qm = FuelQueries.qMap(stationsNow, pricesNow)
          qm.createOrReplaceTempView("fuel_qmap_live")
          // Live dashboard: atomically republish the static-HTML twin
          // each tick — the engine-side equivalent of the reference's
          // Dash interval callback (`DataAnalysis.py:73-89`). The view
          // above is lazy, so the render runs the flagship join itself
          // (once per render), concurrently with the bar and line
          // actions on threads it creates per call; they inherit this
          // query's job group, so stopping the query cancels them. A
          // failed publish is best-effort — it must not kill the
          // streaming query (an interrupt from stop() still ends it).
          dashboardPath.foreach { p =>
            try FuelDashboard.writeAtomic(p, FuelDashboard.render(
              pricesNow, stationsNow,
              generatedAt = java.time.Instant.now().toString,
              // browser polls the republished file ≈ the Dash
              // interval callback's live refresh
              refreshSecs = 2))
            catch { case NonFatal(e) =>
              System.err.println(s"[pipeline] dashboard publish failed: ${e.getMessage}")
            }
          }
        }
      }
      .queryName("qmap_live")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/qmap_live")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()

    Seq(ingestPrices, ingestStations, live, liveMap)
  }
}
