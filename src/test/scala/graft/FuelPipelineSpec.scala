package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Bridge

import graft.fuel.FuelPipeline

/** `FuelPipeline.start` on the golden corpus, and the warehouse read
  * its `qmap_live` query repeats every tick.
  */
class FuelPipelineSpec extends SparkSpecBase {

  test("qmap_live's warehouse read runs no Spark job and returns the stored rows") {
    val root = Files.createTempDirectory("graft_fuel_pipeline")
    val (pricesIn, stationsIn, wh) =
      (root.resolve("prices"), root.resolve("stations"), root.resolve("wh").toString)
    Files.createDirectories(pricesIn)
    Files.createDirectories(stationsIn)
    Files.copy(Paths.get(resource("/fuel/prices.jsonl")), pricesIn.resolve("prices.jsonl"))
    Files.copy(Paths.get(resource("/fuel/stations.jsonl")), stationsIn.resolve("stations.jsonl"))
    assert(FuelPipeline.readWarehouse(spark, wh).isEmpty, "no tables yet: the tick skips")
    val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
    try qs.foreach(_.processAllAvailable())
    finally qs.foreach(_.stop())

    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val read =
      try {
        val r = FuelPipeline.readWarehouse(spark, wh)
        Bridge.drainListenerBus(sc)
        r
      } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0, "the tick's read must not infer a schema")

    val (prices, stations) = read.getOrElse(fail("both tables exist after start"))
    Seq(prices -> s"$wh/prices", stations -> s"$wh/stations").foreach { case (got, path) =>
      val want = spark.read.parquet(path)
      assert(got.schema === want.schema)
      def multiset(rows: Array[org.apache.spark.sql.Row]) =
        rows.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      val wantRows = want.collect()
      assert(wantRows.nonEmpty)
      assert(multiset(got.collect()) === multiset(wantRows))
    }
  }
}
