package graft.fuel

import java.io.FileNotFoundException
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.Warehouse
import graft.streaming.StreamOps

/** The reference pipeline end-to-end (SURVEY.md §3 entry point 3) as
  * one Structured Streaming program:
  *
  * {{{
  * JSONL landing dir (stand-in for the MQTT raw topics — transport,
  *   not semantics), one reader each: ingest_prices / ingest_stations
  *   → cleaning with dead-letter split        (P2–P8)
  *   → parquet warehouse, one file per micro-batch, committed on
  *     arrival; the landing files of a committed batch are moved
  *     out of the source's sight, into `_committed/` (S8–S10)
  *   → live views tail the committed warehouse on the 1 s dashboard
  *     interval: fuel_qbar_live (Q-bar, complete mode) and qmap_live
  *     (swaps in fuel_qmap_live, republishes the dashboard)
  * }}}
  *
  * Usage: `runMain graft.fuel.FuelPipeline <pricesDir> <stationsDir>
  * <warehouseDir>` — reads any *.jsonl placed in the source dirs,
  * processes each file exactly once (file-source offsets +
  * checkpoints under `<warehouseDir>/_checkpoints` = the reference's
  * high-water-mark St1, done by the engine, durable across
  * restarts) and moves it into the dir's `_committed/` once its rows
  * are in the warehouse (the source dirs are topics, consumed as
  * read; committed files go after an hour), stops when idle.
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
    // In start's order: the ingests drain first, so the live views'
    // last ticks run after the final commit and show every row.
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    val stored = spark.read.parquet(s"$warehouseDir/prices")
    println(s"[pipeline] warehouse prices rows=${stored.count()}")
    println(s"[pipeline] live qbar:")
    spark.table("fuel_qbar_live").orderBy("fueltype").show(20, truncate = false)
    // A qmap_live tick swapped the view in and published the dashboard.
    if (spark.catalog.tableExists("fuel_qmap_live")) {
      println(s"[pipeline] qmap rows=${spark.table("fuel_qmap_live").count()}")
      dashboardPath.foreach(p => println(s"[pipeline] dashboard -> $p"))
    }
    dashServer.foreach(_.close())
    spark.stop()
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
      warehouseDir: String): StreamingQuery = {
    landing(spark)
      .text(mixedDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val split = FuelCleaning.parseWire(batch, "value", FuelModel.mixedWireSchema)
        Warehouse.routedSink(
          s"$warehouseDir/stations", s"$warehouseDir/prices",
          deadPath = Some(s"$warehouseDir/dead_letters"))(
          Warehouse.withSurrogateId(split.valid, batchId), batchId)
        // parseWire keeps the unparseable original in _corrupt
        Warehouse.append(
          split.rejected.select(col("_corrupt").as("raw"), col("_reject_reason")),
          s"$warehouseDir/dead_letters_raw")
        consume(batch, "ingest_routed", batchId)
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

  /** At most this many landing files (one MQTT message each) per
    * ingest micro-batch: [[Warehouse.withSurrogateId]] writes a batch
    * as one task and one file, so a backlog after downtime drains as a
    * run of bounded batches rather than one unbounded write.
    */
  private val LandingFilesPerBatch = 2000

  /** A landing directory as read by its one reader, in bounded batches. */
  private def landing(spark: SparkSession): DataStreamReader =
    spark.readStream.option("maxFilesPerTrigger", LandingFilesPerBatch.toLong)

  /** Subdirectory of a landing directory that holds its committed
    * files. The leading `_` hides it from the file source's listing.
    */
  val Committed = "_committed"

  /** Move a micro-batch's landing files into the landing directory's
    * [[Committed]] subdirectory once their rows are in the warehouse,
    * so an on-arrival poll lists only the backlog. Done here rather
    * than by the source's `cleanSource`: Spark cleans a batch's files
    * only when the NEXT batch starts, so after a burst the last
    * batch's files (up to [[LandingFilesPerBatch]]) stayed and were
    * listed 100 times a second.
    *
    * Moved, not deleted: a rename frees no disk block. On a file
    * system mounted with online discard, every deleted one-block
    * message costs a TRIM. On a 4-vCPU VM (ext4, `discard`), deleting
    * the messages of a 16 s run at 25 messages/s left the disk slow
    * for tens of seconds after the pipeline stopped: the next
    * program's 500 file creates and renames took 68–181 ms, against
    * 20–29 ms after a run that moved them. Committed files are kept
    * for [[CommittedRetentionMs]], then deleted in bulk off the ingest
    * path (see [[sweepDue]]).
    *
    * A batch replayed after a crash between this move and Spark's
    * commit finds its files gone and appends nothing (a missing root
    * path lists as empty).
    *
    * A rename never replaces a file (`InProcessLocalFileSystem`), so a
    * name already in [[Committed]] (a file landed again under a reused
    * name) moves under a name made unique for it instead of staying in
    * the landing dir, where every poll would list it.
    */
  private def consume(batch: DataFrame, query: String, batchId: Long): Unit =
    StreamOps.withCallSite(batch.sparkSession, s"fuel.$query consume (batch $batchId)") {
      val files = batchFiles(batch)
      if (files.nonEmpty) {
        val fs = files.head.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
        files.groupBy(_.getParent).foreach { case (dir, inDir) =>
          val committed = new Path(dir, Committed)
          fs.mkdirs(committed)
          inDir.foreach { f =>
            try {
              if (!fs.rename(f, new Path(committed, f.getName)) && fs.exists(f))
                fs.rename(f, new Path(committed, s"${UUID.randomUUID()}-${f.getName}"))
            } catch { case _: FileNotFoundException => } // moved by an earlier attempt
          }
          if (sweepDue(committed, System.currentTimeMillis())) sweep(fs, committed)
        }
      }
    }

  /** How long a committed landing file is kept, and the least time
    * between two sweeps of one [[Committed]] directory. The reference
    * fetches one API snapshot an hour, so a sweep deletes about one
    * snapshot's messages at once, never one delete per message.
    */
  private[graft] val CommittedRetentionMs = 60L * 60 * 1000

  // committed dir -> wall-clock ms of its last sweep in this JVM
  private val lastSweepMs = scala.collection.mutable.Map.empty[Path, Long]

  /** Whether `committed` is due a sweep at `nowMs`, recording one if
    * so: at its first commit in this JVM (files left from before a
    * restart go then), and [[CommittedRetentionMs]] after its last.
    * All the ingest path does for retention: it never lists the
    * directory, and it starts a thread only when this says so.
    */
  private[graft] def sweepDue(committed: Path, nowMs: Long): Boolean = lastSweepMs.synchronized {
    val due = lastSweepMs.get(committed).forall(nowMs - _ >= CommittedRetentionMs)
    if (due) lastSweepMs(committed) = nowMs
    due
  }

  /** Deletes the files in `committed` that landed more than
    * [[CommittedRetentionMs]] ago (a move keeps a landing file's
    * mtime), on a thread started for the sweep.
    */
  private def sweep(fs: FileSystem, committed: Path): Unit = {
    val cutoffMs = System.currentTimeMillis() - CommittedRetentionMs
    val t = new Thread(() =>
      try fs.listStatus(committed).foreach { st =>
        if (st.isFile && st.getModificationTime < cutoffMs) fs.delete(st.getPath, false)
      } catch { case NonFatal(e) =>
        System.err.println(s"[pipeline] sweep of $committed failed: ${e.getMessage}")
      }, "graft-committed-sweep")
    t.setDaemon(true)
    t.start()
  }

  /** The files a file-source micro-batch reads, found without a job:
    * `foreachBatch` hands the batch over as a `LogicalRDD` over its
    * physical RDD, whose lineage holds the `FileScanRDD`. An empty
    * file has no scan split, so it is not listed.
    */
  private def batchFiles(batch: DataFrame): Seq[Path] = {
    def scans(rdd: RDD[_]): Seq[FileScanRDD] = rdd match {
      case f: FileScanRDD => Seq(f)
      case r => r.dependencies.flatMap(d => scans(d.rdd))
    }
    batch.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      .flatMap(scans)
      .flatMap(_.filePartitions.flatMap(_.files.map(_.toPath)))
      .distinct
  }

  /** Wire and start the four streaming queries; returns them running. */
  def start(
      spark: SparkSession,
      pricesDir: String,
      stationsDir: String,
      warehouseDir: String,
      dashboardPath: Option[String] = None): Seq[StreamingQuery] = {

    val prices = FuelCleaning.cleanPrices(
      landing(spark).schema(FuelModel.rawPriceSchema).json(pricesDir))
    val stations = FuelCleaning.cleanStations(
      landing(spark).schema(FuelModel.rawStationSchema).json(stationsDir))

    val (pricesTable, stationsTable) = (s"$warehouseDir/prices", s"$warehouseDir/stations")
    // The live views tail both tables, and a file stream source needs
    // its directory to exist when it starts.
    val fs = new Path(warehouseDir).getFileSystem(spark.sessionState.newHadoopConf())
    Seq(pricesTable, stationsTable).foreach(t => fs.mkdirs(new Path(t)))

    // Warehouse ingest: one append per micro-batch (the reference does
    // one row/connection/commit per message — SURVEY §6), run as soon
    // as messages land rather than on the dashboard's 1 s interval, so
    // a commit is not held back to the next second. Each landing
    // message is parsed and cleaned here and nowhere else.
    val ingestPrices = prices.valid.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamOps.withCallSite(spark, s"fuel.ingest_prices append (batch $batchId)") {
          Warehouse.append(Warehouse.withSurrogateId(batch, batchId), pricesTable)
        }
        consume(batch, "ingest_prices", batchId)
      }
      .queryName("ingest_prices")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_prices")
      .start()

    val ingestStations = stations.valid
      // St2 first-wins keyed dedup, engine-managed state
      .dropDuplicates("code")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // sorted so a replayed batch numbers its rows the same way
        StreamOps.withCallSite(spark, s"fuel.ingest_stations append (batch $batchId)") {
          Warehouse.append(
            Warehouse.withSurrogateId(batch.sortWithinPartitions("code"), batchId), stationsTable)
        }
        consume(batch, "ingest_stations", batchId)
      }
      .queryName("ingest_stations")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/ingest_stations")
      .start()

    // The committed warehouse as a stream: a new file is a committed
    // ingest batch. Nothing here deletes: the tables are the
    // warehouse, not a landing topic.
    def committed(table: String, schema: StructType) =
      spark.readStream.schema(schema).parquet(table)
    val committedPrices = committed(pricesTable, FuelModel.warehousePricesSchema)

    // Dashboard live view: the standing Q-bar aggregation over the
    // committed prices, complete mode, on the dashboard's 1 s interval
    // (St5) — incremental, not recompute-per-tick; a running mean over
    // all rows ever committed, without unbounded driver memory.
    val live = StreamOps.liveView(
      FuelQueries.qBar(committedPrices), "fuel_qbar_live", 1000L)

    // Live Q-map: the flagship join needs the *current* station
    // dimension, so each tick runs it as a batch query over both
    // tables. The stream only says when: it tails both tables, so
    // the 1 s tick runs exactly when the warehouse has changed,
    // including after the final commit.
    val liveMap = committedPrices.select(col("id"))
      .union(committed(stationsTable, FuelModel.warehouseStationsSchema).select(col("id")))
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        StreamOps.withCallSite(spark, s"fuel.qmap_live refresh (batch $batchId)") {
          readWarehouse(spark, warehouseDir).foreach { case (pricesNow, stationsNow) =>
            val qm = FuelQueries.qMap(stationsNow, pricesNow)
            qm.createOrReplaceTempView("fuel_qmap_live")
            // Live dashboard: atomically republish the static-HTML twin
            // each tick — the engine-side equivalent of the reference's
            // Dash interval callback (`DataAnalysis.py:73-89`). The view
            // above is lazy; the render aggregates only the warehouse
            // files no earlier tick has seen, on threads it creates per
            // call, which inherit this query's job group, so stopping
            // the query cancels them. A failed publish is best-effort —
            // it must not kill the streaming query (an interrupt from
            // stop() still ends it).
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
      }
      .queryName("qmap_live")
      .option("checkpointLocation", s"$warehouseDir/_checkpoints/qmap_live")
      .trigger(Trigger.ProcessingTime(1000L))
      .start()

    Seq(ingestPrices, ingestStations, live, liveMap)
  }
}
