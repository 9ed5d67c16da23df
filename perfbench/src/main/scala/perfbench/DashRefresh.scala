package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.types._

import graft.fuel.FuelDashboard
import graft.sources.Warehouse

/** `dash_refresh`: one caller in a closed loop over a warehouse of
  * [[DashRefresh.HistoryRows]] seeded price rows and the golden
  * stations. Each operation appends one landing batch of
  * [[DashRefresh.BatchRows]] new events with `Warehouse.append`, then
  * runs `FuelDashboard.render` over the whole warehouse. No MQTT and no
  * streaming.
  */
object DashRefresh {
  val HistoryRows = 60000
  val Appends = 4
  val BatchRows = 25
  val SetupReps = 2
  /** Operations before the window: at least [[WarmupOps]], for at least
    * [[WarmupS]]. Render times keep falling for about the first dozen
    * operations (the first two take twice as long) while the JIT and
    * codegen warm; with six, one JVM's window read 10-25 % above another's.
    */
  val WarmupOps = 12
  val WarmupS = 8

  private val priceSchema = StructType(Seq(
    StructField("stationcode", StringType), StructField("fueltype", StringType),
    StructField("price", DoubleType), StructField("lastupdated", TimestampType),
    StructField("seq", LongType)))

  private def row(e: Event): Row =
    Row(e.stationcode, e.fueltype, e.price, new Timestamp(e.lastupdated * 1000), e.seq)

  /** Events `from until to` as a DataFrame, generated inside the tasks. */
  private def prices(spark: SparkSession, seed: Long, pairs: IndexedSeq[(String, String)],
      from: Long, to: Long, slices: Int): DataFrame = {
    val rdd = spark.sparkContext.range(from, to, 1, slices).map(i => row(FuelData.event(seed, i, pairs)))
    spark.createDataFrame(rdd, priceSchema).withColumn("id", monotonically_increasing_id())
  }

  /** Same shape as the pipeline's warehouse: prices and stations parquet. */
  private def build(ctx: Ctx, dir: Path, stations: IndexedSeq[Station],
      pairs: IndexedSeq[(String, String)]): Unit = {
    val spark = ctx.spark
    val per = HistoryRows / Appends
    for (k <- 0 until Appends)
      Warehouse.append(prices(spark, ctx.seed, pairs, k.toLong * per, (k + 1L) * per, 1),
        dir.resolve("prices").toString)
    val rows = stations.map(s => Row(s.code, s.name, s.brand, s.address, s.lat, s.lon))
    val schema = StructType(Seq("code", "name", "brand", "address").map(StructField(_, StringType)) ++
      Seq(StructField("location_latitude", DoubleType), StructField("location_longitude", DoubleType)))
    Warehouse.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .withColumn("id", monotonically_increasing_id()), dir.resolve("stations").toString)
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val stations = FuelData.stations(ctx.golden("stations.jsonl"))
    val pairs = FuelData.pairs(ctx.golden("prices.jsonl"))
    var wh: Path = null
    val setupS = (1 to SetupReps).map { k =>
      val t0 = Clock.now()
      wh = ctx.fresh(s"rep$k")
      ctx.spans("setup", s"setup$k")(_ => build(ctx, wh, stations, pairs))
      (Clock.now() - t0) / 1000
    }
    val oracle = new Oracle(stations)
    (0L until HistoryRows).foreach(i => oracle.add(FuelData.event(ctx.seed, i, pairs)))
    val pricesPath = wh.resolve("prices").toString
    val stationsPath = wh.resolve("stations").toString

    var seq = HistoryRows.toLong
    var html = ""
    /** One operation: land a batch, then refresh the dashboard. */
    def op(i: Int): Seq[Double] = {
      val batch = seq until seq + BatchRows
      seq += BatchRows
      batch.foreach(s => oracle.add(FuelData.event(ctx.seed, s, pairs)))
      spark.sparkContext.setLocalProperty(JobLog.OpKey, i.toString)
      try ctx.spans("op", s"op$i") { opId =>
        val t0 = Clock.now()
        ctx.spans("warehouse.append", s"op$i", opId) { _ =>
          Warehouse.append(prices(spark, ctx.seed, pairs, batch.start, batch.end, 1), pricesPath)
        }
        val t1 = Clock.now()
        html = ctx.spans("fuel.render", s"op$i", opId) { _ =>
          FuelDashboard.render(spark.read.parquet(pricesPath), spark.read.parquet(stationsPath),
            generatedAt = s"op $i")
        }
        Seq(t0, t1, Clock.now())
      } catch { case e: Throwable =>
        ctx.checks.fail(s"op $i threw: $e")
        Nil
      } finally spark.sparkContext.setLocalProperty(JobLog.OpKey, null)
    }

    val warmEnd = Clock.now() + WarmupS * 1000.0
    var warmups = 0
    while (warmups < WarmupOps || Clock.now() < warmEnd) {
      warmups += 1
      op(-warmups)
    }
    val windowEnd = Clock.now() + ctx.seconds * 1000.0
    val ops = Iterator.from(0).takeWhile(_ => Clock.now() < windowEnd).map { i =>
      val t = op(i)
      if (t.nonEmpty) Main.checkBar(ctx, s"op $i bar", html, oracle)
      t
    }.toVector
    Main.checkStations(ctx, html, oracle)
    Map(
      "setup_reps_s" -> setupS,
      "ops" -> ops.filter(_.nonEmpty),
      "history_rows" -> HistoryRows,
      "batch_rows" -> BatchRows,
      "warmup_ops" -> warmups,
      "warehouse" -> Main.warehouseFiles(wh))
  }
}
