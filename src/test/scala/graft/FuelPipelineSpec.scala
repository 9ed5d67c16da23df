package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge

import graft.fuel.{FuelCleaning, FuelModel, FuelPipeline, FuelQueries}
import graft.sources.Warehouse

/** `FuelPipeline.start` on the golden corpus: the live views equal the
  * batch queries over the warehouse, the ingests move what they
  * committed out of their landing dirs and number rows uniquely
  * across micro-batches, and the warehouse read `qmap_live` repeats
  * every tick.
  */
class FuelPipelineSpec extends SparkSpecBase {

  private def multiset(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (k, v) => k -> v.size }

  private def landingFiles(dir: Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".jsonl")).toSet

  /** The golden prices dropped into the landing directory of a running
    * pipeline in three waves (one file each, like three messages), each
    * drained before the next: ingest first, then the live views.
    * Returns the warehouse dir, the two landing dirs and the last
    * wave's lines.
    */
  private lazy val waves: (String, Seq[Path], Seq[String]) = {
    val root = Files.createTempDirectory("graft_fuel_waves")
    val (pricesIn, stationsIn, wh) =
      (root.resolve("prices"), root.resolve("stations"), root.resolve("wh").toString)
    Files.createDirectories(pricesIn)
    Files.createDirectories(stationsIn)
    Files.copy(Paths.get(resource("/fuel/stations.jsonl")), stationsIn.resolve("stations.jsonl"))
    val lines = Files.readAllLines(Paths.get(resource("/fuel/prices.jsonl"))).asScala.toSeq
    val parts = lines.grouped((lines.size + 2) / 3).toSeq
    assert(parts.size === 3)
    val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
    try parts.zipWithIndex.foreach { case (part, k) =>
      val tmp = pricesIn.resolve(s".wave-$k") // hidden until renamed, as a landing daemon does
      Files.write(tmp, part.asJava)
      Files.move(tmp, pricesIn.resolve(s"wave-$k.jsonl"), StandardCopyOption.ATOMIC_MOVE)
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    (wh, Seq(pricesIn, stationsIn), parts.last)
  }

  test("live ≡ batch: golden prices in three waves land once, the live views equal the batch queries, the landing is emptied") {
    val (wh, landings, lastWave) = waves
    val (prices, stations) = FuelPipeline.readWarehouse(spark, wh).get
    val golden = FuelCleaning.cleanPrices(
      spark.read.schema(FuelModel.rawPriceSchema).json(resource("/fuel/prices.jsonl"))).valid
    val goldenRows = golden.collect().toSeq
    assert(goldenRows.size === 1673)
    // each valid cleaned event exactly once
    assert(multiset(prices.drop("id").collect().toSeq) === multiset(goldenRows))

    val bars = spark.table("fuel_qbar_live").collect().toSeq
    assert(multiset(bars) === multiset(FuelQueries.qBar(prices).collect().toSeq))

    val qmap = multiset(spark.table("fuel_qmap_live").collect().toSeq)
    assert(qmap === multiset(FuelQueries.qMap(stations, prices).collect().toSeq))
    // The last wave changes the map: a view one tick behind would fail above.
    import spark.implicits._
    val lastWaveSeqs = spark.read.json(lastWave.toDS()).select("seq")
    val beforeLast = prices.join(lastWaveSeqs, Seq("seq"), "left_anti")
    assert(qmap !== multiset(FuelQueries.qMap(stations, beforeLast).collect().toSeq))

    // each ingest is its landing's one reader and moves what it
    // committed out of the source's sight
    landings.foreach(d => assert(landingFiles(d).isEmpty, s"left in $d: ${landingFiles(d)}"))
    assert(landingFiles(landings.head.resolve(FuelPipeline.Committed)) ===
      Set("wave-0.jsonl", "wave-1.jsonl", "wave-2.jsonl"))
  }

  test("a batch replayed after its landing files were moved out appends nothing") {
    val root = Files.createTempDirectory("graft_fuel_replay")
    val (pricesIn, stationsIn, wh) =
      (root.resolve("prices"), root.resolve("stations"), root.resolve("wh").toString)
    Files.createDirectories(pricesIn)
    Files.createDirectories(stationsIn)
    Files.copy(Paths.get(resource("/fuel/prices.jsonl")), pricesIn.resolve("prices.jsonl"))
    def drive(): Unit = {
      val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    drive()
    assert(landingFiles(pricesIn).isEmpty)
    // a crash after the batch body, before Spark recorded the batch as
    // done: drop the commit entry, so the restart runs batch 0 again
    val commits = Paths.get(wh, "_checkpoints", "ingest_prices", "commits")
    assert(Files.deleteIfExists(commits.resolve("0")))
    Files.deleteIfExists(commits.resolve(".0.crc"))
    drive()
    val stored = spark.read.parquet(s"$wh/prices")
    assert(stored.count() === 1673L)
    assert(stored.select("seq").distinct().count() === 1673L)
  }

  test("warehouse ids are unique across micro-batches") {
    val (wh, _, _) = waves
    val (prices, stations) = FuelPipeline.readWarehouse(spark, wh).get
    Seq(prices, stations).foreach { t =>
      val r = t.agg(count(lit(1)), countDistinct(col("id"))).head()
      assert(r.getLong(0) > 0 && r.getLong(0) === r.getLong(1))
    }
  }

  test("withSurrogateId: each batch id owns its own range, and a replay gets the same ids") {
    val df = spark.range(0, 1000, 1, 4).toDF("v")
    def ids(b: Long): Seq[(Long, Long)] =
      Warehouse.withSurrogateId(df, b).select("v", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (b7, b8) = (ids(7L), ids(8L))
    assert(ids(7L) === b7, "a replayed batch numbers its rows the same way")
    assert(b7.map(_._2).distinct.size === 1000)
    assert(b7.map(_._2).toSet.intersect(b8.map(_._2).toSet).isEmpty)
    assert(Warehouse.withSurrogateId(df, 7L).rdd.getNumPartitions === 1, "one file per append")
  }

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
      val wantRows = want.collect().toSeq
      assert(wantRows.nonEmpty)
      assert(multiset(got.collect().toSeq) === multiset(wantRows))
    }
  }
}
