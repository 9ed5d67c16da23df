package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge

import graft.fuel.{FuelCleaning, FuelModel, FuelPipeline, FuelQueries}
import graft.sources.{Mqtt, MqttLanding, Warehouse}
import graft.streaming.StreamOps

/** `FuelPipeline.start` on the golden corpus: the live views equal the
  * batch queries over the warehouse, the ingests move what they
  * committed out of their landing dirs (under a name of its own when
  * the name is taken) and number rows uniquely across micro-batches,
  * a restarted MQTT landing's messages land, a burst of landing files
  * is listed without a Spark job, committed files are kept for an
  * hour, each stage names its jobs, and the warehouse read `qmap_live`
  * repeats every tick.
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

  /** Landing and warehouse dirs under a fresh temp dir, the landing
    * dirs created. */
  private def pipelineDirs(prefix: String): (Path, Path, String) = {
    val root = Files.createTempDirectory(prefix)
    val (pricesIn, stationsIn) = (root.resolve("prices"), root.resolve("stations"))
    Files.createDirectories(pricesIn)
    Files.createDirectories(stationsIn)
    (pricesIn, stationsIn, root.resolve("wh").toString)
  }

  test("a burst of landing files, one message each, is listed on the driver and each station lands once") {
    val (pricesIn, stationsIn, wh) = pipelineDirs("graft_fuel_burst")
    val lines = Files.readAllLines(Paths.get(resource("/fuel/stations.jsonl"))).asScala.toSeq
    // more files than Spark's parallel-listing threshold (32), and
    // some messages twice, as a re-published snapshot would land them
    val messages = lines.take(64) ++ lines.take(8)
    messages.zipWithIndex.foreach { case (m, k) =>
      Files.write(stationsIn.resolve(f"msg-$k%03d.jsonl"), Seq(m).asJava)
    }

    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => descriptions.add(d))
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    val listings = descriptions.asScala.filter(_.startsWith("Listing leaf files and directories"))
    assert(listings.isEmpty, "a listing job ran")

    val codes = spark.read.parquet(s"$wh/stations").select("code").collect().map(_.get(0)).toSeq
    import spark.implicits._
    val landed = FuelCleaning.cleanStations(
      spark.read.schema(FuelModel.rawStationSchema).json(messages.toDS())).valid
      .select("code").collect().map(_.get(0)).toSet
    assert(landed.size > 32)
    assert(codes.size === codes.distinct.size, "a station landed twice")
    assert(codes.toSet === landed)
    assert(landingFiles(stationsIn).isEmpty)
  }

  private def waitUntil(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  private def cleanSeqs(lines: Seq[String]): Set[Long] = {
    import spark.implicits._
    FuelCleaning.cleanPrices(spark.read.schema(FuelModel.rawPriceSchema).json(lines.toDS())).valid
      .select("seq").collect().map(_.getLong(0)).toSet
  }

  test("a landing restarted over its dir under a running pipeline lands the second instance's messages too") {
    val (pricesIn, stationsIn, wh) = pipelineDirs("graft_fuel_relanding")
    val lines = Files.readAllLines(Paths.get(resource("/fuel/prices.jsonl"))).asScala.toSeq.take(10)
    val broker = new MiniMqttBroker
    try {
      val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
      try {
        val pub = new Mqtt.Client("127.0.0.1", broker.port, "spec-relanding-pub").connect()
        try Seq(lines.take(5), lines.drop(5)).zipWithIndex.foreach { case (part, k) =>
          // each instance counts its messages from 1 again
          val landing = new MqttLanding("127.0.0.1", broker.port, "fuel/prices", pricesIn.toString,
            s"spec-relanding-$k")
          try {
            part.foreach(m => pub.publish("fuel/prices", m.getBytes(StandardCharsets.UTF_8), qos = 1))
            waitUntil(s"instance $k landed its messages")(landing.landed == part.size)
          } finally landing.close()
          qs.foreach(_.processAllAvailable())
        } finally pub.close()
      } finally qs.foreach(_.stop())
    } finally broker.close()
    val stored = spark.read.parquet(s"$wh/prices").select("seq").collect().map(_.getLong(0)).toSeq
    assert(stored.size === stored.distinct.size)
    assert(stored.toSet === cleanSeqs(lines))
    assert(landingFiles(pricesIn).isEmpty)
    assert(landingFiles(pricesIn.resolve(FuelPipeline.Committed)).size === 10)
  }

  test("a landing file whose name is already committed moves under a name of its own, not left to be listed again") {
    val (pricesIn, stationsIn, wh) = pipelineDirs("graft_fuel_recommit")
    val committed = Files.createDirectories(pricesIn.resolve(FuelPipeline.Committed))
    Files.write(committed.resolve("msg-1.jsonl"), Seq("{}").asJava)
    val lines = Files.readAllLines(Paths.get(resource("/fuel/prices.jsonl"))).asScala.toSeq.take(3)
    Files.write(pricesIn.resolve("msg-1.jsonl"), lines.asJava)
    val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())

    assert(landingFiles(pricesIn).isEmpty)
    val names = landingFiles(committed)
    assert(names.size === 2 && names("msg-1.jsonl"), names)
    assert(Files.readAllLines(committed.resolve("msg-1.jsonl")).asScala === Seq("{}"), "the earlier file was replaced")
    val moved = committed.resolve((names - "msg-1.jsonl").head)
    assert(moved.getFileName.toString.endsWith("-msg-1.jsonl"))
    assert(Files.readAllLines(moved).asScala === lines)
    val stored = spark.read.parquet(s"$wh/prices").select("seq").collect().map(_.getLong(0)).toSet
    assert(stored === cleanSeqs(lines))
  }

  test("each stage names its jobs and the micro-batch keeps its description; the caller's call site comes back") {
    val (pricesIn, stationsIn, wh) = pipelineDirs("graft_fuel_sites")
    Files.copy(Paths.get(resource("/fuel/stations.jsonl")), stationsIn.resolve("stations.jsonl"))
    Files.copy(Paths.get(resource("/fuel/prices.jsonl")), pricesIn.resolve("prices.jsonl"))
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]() // (call site, description)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        jobs.add((site, desc.getOrElse("")))
      }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh,
        dashboardPath = Some(Paths.get(wh).resolveSibling("dash.html").toString))
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    val seen = jobs.asScala.toSeq
    Seq("ingest_prices" -> "fuel.ingest_prices append (batch 0)",
        "ingest_stations" -> "fuel.ingest_stations append (batch 0)",
        "qmap_live" -> "fuel.render prices partials (1 files)",
        "qmap_live" -> "fuel.render stations partials (1 files)").foreach { case (query, site) =>
      assert(seen.exists { case (s, d) => s == site && d.startsWith(query) }, s"no job at $site in $seen")
    }

    sc.setCallSite("caller")
    try {
      StreamOps.withCallSite(spark, "stage") { assert(sc.getLocalProperty("callSite.short") === "stage") }
      assert(sc.getLocalProperty("callSite.short") === "caller")
    } finally sc.clearCallSite()
    StreamOps.withCallSite(spark, "stage")(())
    assert(sc.getLocalProperty("callSite.short") === null)
  }

  test("committed landing files older than the retention age are swept on the ingest's own thread, the rest stay") {
    val (pricesIn, stationsIn, wh) = pipelineDirs("graft_fuel_retention")
    val committed = Files.createDirectories(pricesIn.resolve(FuelPipeline.Committed))
    val now = System.currentTimeMillis()
    val ages = Map( // minutes
      "old-0.jsonl" -> 24 * 60, "old-1.jsonl" -> 61, "kept-0.jsonl" -> 59, "kept-1.jsonl" -> 1)
    ages.foreach { case (name, minutes) =>
      val f = Files.write(committed.resolve(name), Seq("{}").asJava)
      Files.setLastModifiedTime(f, FileTime.fromMillis(now - minutes * 60000L))
    }
    Files.copy(Paths.get(resource("/fuel/prices.jsonl")), pricesIn.resolve("prices.jsonl"))
    val qs = FuelPipeline.start(spark, pricesIn.toString, stationsIn.toString, wh)
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())

    val want = Set("kept-0.jsonl", "kept-1.jsonl", "prices.jsonl")
    def left = Files.list(committed).iterator().asScala.map(_.getFileName.toString).toSet
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (left != want && System.nanoTime() < deadline) Thread.sleep(50)
    assert(left === want)
  }

  test("a committed dir is swept at its first commit, then at most once per retention age") {
    val (a, b) = (new HPath("file:/sweep-gate/a/_committed"), new HPath("file:/sweep-gate/b/_committed"))
    val t0 = 1000000L
    val age = FuelPipeline.CommittedRetentionMs
    assert(FuelPipeline.sweepDue(a, t0))
    assert(!FuelPipeline.sweepDue(a, t0 + 1))
    assert(!FuelPipeline.sweepDue(a, t0 + age - 1))
    assert(FuelPipeline.sweepDue(b, t0 + 1), "each landing dir has its own clock")
    assert(FuelPipeline.sweepDue(a, t0 + age))
    assert(!FuelPipeline.sweepDue(a, t0 + age + 1))
  }
}
