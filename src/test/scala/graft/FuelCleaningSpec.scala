package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.fuel.{FuelCleaning, FuelModel}

/** Unit coverage for the cleaning rules (SURVEY.md §2 P2–P8),
  * including the intended semantics of the reference's two bugs
  * (§2.10: zero-price drop; type errors take the drop path).
  */
class FuelCleaningSpec extends SparkSpecBase {

  private def priceDf(rows: Seq[(String, String, String, String)])  = {
    val data = rows.zipWithIndex.map { case ((sc, ft, p, ts), i) =>
      Row(sc, ft, p, ts, i.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data), FuelModel.rawPriceSchema)
  }

  test("valid record passes with typed columns") {
    val split = FuelCleaning.cleanPrices(priceDf(Seq(
      ("972", "U91", "181.5", "05/10/2023 08:19:59"))))
    val r = split.valid.collect().head
    assert(r.getAs[String]("stationcode") === "972")
    assert(r.getAs[Double]("price") === 181.5)
    assert(r.getAs[java.sql.Timestamp]("lastupdated").toString === "2023-10-05 08:19:59.0")
    assert(split.rejected.count() === 0)
  }

  test("missing / empty fields reject with reasons") {
    val split = FuelCleaning.cleanPrices(priceDf(Seq(
      (null, "U91", "181.5", "05/10/2023 08:19:59"),
      ("972", "", "181.5", "05/10/2023 08:19:59"),
      ("972", "U91", null, "05/10/2023 08:19:59"))))
    assert(split.valid.count() === 0)
    val reasons = split.rejected.select("_reject_reason").collect().map(_.getString(0)).toSet
    assert(reasons === Set("missing stationcode", "missing fueltype", "missing price"))
  }

  test("zero price drops silently — NOT a dead letter (intended semantics of bug 1)") {
    val split = FuelCleaning.cleanPrices(priceDf(Seq(
      ("972", "U91", "0", "05/10/2023 08:19:59"),
      ("972", "U91", "0.0", "05/10/2023 08:19:59"))))
    assert(split.valid.count() === 0)
    assert(split.rejected.count() === 0)
  }

  test("unparseable price / timestamp take the reject path (intended semantics of bug 2)") {
    val split = FuelCleaning.cleanPrices(priceDf(Seq(
      ("972", "U91", "not-a-number", "05/10/2023 08:19:59"),
      ("972", "U91", "181.5", "2023-10-05 08:19:59"), // ISO, wrong format
      ("972", "U91", "181.5", "32/13/2023 08:19:59")))) // impossible date
    assert(split.valid.count() === 0)
    val reasons = split.rejected.select("_reject_reason").collect().map(_.getString(0))
    assert(reasons.count(_ == "invalid price") === 1)
    assert(reasons.count(_ == "invalid lastupdated format") === 2)
  }

  test("day-first parsing: 05/10/2023 is October 5th, not May 10th") {
    val split = FuelCleaning.cleanPrices(priceDf(Seq(
      ("972", "U91", "181.5", "05/10/2023 00:00:00"))))
    val ts = split.valid.collect().head.getAs[java.sql.Timestamp]("lastupdated")
    assert(ts.toString.startsWith("2023-10-05"))
  }

  private def stationDf(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), FuelModel.rawStationSchema)

  test("station default-fill: empty brandid <- brand, empty stationid <- code") {
    val split = FuelCleaning.cleanStations(stationDf(Seq(
      Row("", "", "United", "972", "United Umina", "307 Ocean Beach Rd", "-33.51", "151.31"))))
    val r = split.valid.collect().head
    assert(r.getAs[String]("brandid") === "United")
    assert(r.getAs[String]("stationid") === "972")
    assert(r.getAs[Double]("location_latitude") === -33.51)
  }

  test("station with bad coordinates rejects") {
    val split = FuelCleaning.cleanStations(stationDf(Seq(
      Row("b", "s", "United", "972", "N", "A", "not-a-lat", "151.31"))))
    assert(split.valid.count() === 0)
    assert(split.rejected.collect().head.getAs[String]("_reject_reason")
      === "invalid location_latitude")
  }

  test("parseWire: malformed JSON takes the corrupt-record dead-letter path") {
    import spark.implicits._
    val raw = Seq(
      """{"stationcode":"972","fueltype":"U91","price":"181.5","lastupdated":"05/10/2023 08:19:59","seq":1}""",
      """not json at all{{{""").toDF("payload")
    val split = graft.fuel.FuelCleaning.parseWire(raw, "payload", FuelModel.rawPriceSchema)
    assert(split.valid.count() === 1)
    assert(split.valid.collect().head.getAs[String]("stationcode") === "972")
    assert(split.rejected.count() === 1)
    assert(split.rejected.collect().head.getAs[String]("_reject_reason") === "malformed json")
  }

  test("decodeBatch (mapPartitions plumbing): stub fallback over non-image binary column") {
    import spark.implicits._
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
      .withColumn("bytes", org.apache.spark.sql.functions.col("text").cast("binary"))
    val out = graft.operators.Multimodal.decodeBatch(df, "bytes")(
      graft.operators.Multimodal.stubDecode)
    val r = out.select("decoded.*").collect().head
    assert(r.getAs[Long]("n_bytes") === 11L)
    assert(r.getAs[Long]("width") === 12L)  // 11 % 640 + 1
    assert(r.getAs[Long]("height") === 78L) // 77 % 480 + 1
  }

  test("decodeBatch default decodes REAL PNG bytes (dims + raster mean from javax.imageio)") {
    import spark.implicits._
    val df = Seq((1L, 20, 10, 37), (2L, 33, 48, 200)).toDF("doc_id", "w", "h", "g")
    val out = graft.operators.Multimodal.decodeBatch(
      graft.operators.Multimodal.withTestPng(df, "w", "h", "g"), "img")()
    val got = out.select("doc_id", "decoded.width", "decoded.height", "decoded.px_mean")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 20L, 10L, 37L), (2L, 33L, 48L, 200L)))
    // the decoded n_bytes is the true PNG size, not the raster size —
    // proof the bytes really are an encoded image, not a fake
    val n = out.select("decoded.n_bytes").collect().map(_.getLong(0))
    assert(n.forall(_ > 8L)) // beyond the PNG magic alone
    // and the bytes carry the PNG signature
    val sig = out.select("img").collect().map(_.getAs[Array[Byte]](0).take(4))
    assert(sig.forall(s => (s(0) & 0xFF) == 0x89 && s(1) == 'P' && s(2) == 'N' && s(3) == 'G'))
  }

  test("imageioDecode rejects non-image bytes with a clear error") {
    val e = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.imageioDecode("not an image".getBytes)
    }
    assert(e.getMessage.contains("stubDecode"))
  }

  test("nested API envelope explodes to flat rows (P1)") {
    val json = """{"stations":[{"brandid":"b","stationid":"s","brand":"United",
      "code":"972","name":"N","address":"A",
      "location":{"latitude":-33.5,"longitude":151.3}}],
      "prices":[{"stationcode":"972","fueltype":"U91","price":181.5,
      "lastupdated":"05/10/2023 08:19:59"},
      {"stationcode":"973","fueltype":"E10","price":175.0,
      "lastupdated":"05/10/2023 09:00:00"}]}""".replaceAll("\n\\s*", "")
    import spark.implicits._
    val env = spark.read.schema(FuelModel.apiEnvelopeSchema).json(Seq(json).toDS())
    val p = FuelCleaning.explodePrices(env)
    assert(p.count() === 2)
    assert(p.columns.contains("seq")) // posexplode: input-order sequence
    val s = FuelCleaning.explodeStations(env)
    val sr = s.collect().head
    assert(sr.getAs[Double]("location_latitude") === -33.5)
  }

  test("envelope streams: raw API snapshots explode and clean in-stream") {
    val dir = java.nio.file.Files.createTempDirectory("env").toFile
    val json = """{"stations":[{"brandid":"","stationid":"","brand":"United",
      "code":"972","name":"N","address":"A",
      "location":{"latitude":-33.5,"longitude":151.3}}],
      "prices":[{"stationcode":"972","fueltype":"U91","price":181.5,
      "lastupdated":"05/10/2023 08:19:59"},
      {"stationcode":"972","fueltype":"E10","price":0.0,
      "lastupdated":"05/10/2023 09:00:00"}]}""".replaceAll("\n\\s*", "")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "snap1.json").toPath, json)
    val raw = spark.readStream.schema(FuelModel.apiEnvelopeSchema).json(dir.toString)
    val q = FuelCleaning.cleanPrices(FuelCleaning.explodePrices(raw)).valid.writeStream
      .format("memory").queryName("env_prices").outputMode("append").start()
    val q2 = FuelCleaning.cleanStations(FuelCleaning.explodeStations(raw)).valid.writeStream
      .format("memory").queryName("env_stations").outputMode("append").start()
    try {
      q.processAllAvailable()
      q2.processAllAvailable()
      val p = spark.table("env_prices").collect()
      assert(p.length === 1) // zero-price record dropped in-stream
      assert(p.head.getAs[Double]("price") === 181.5)
      val st = spark.table("env_stations").collect()
      assert(st.length === 1)
      assert(st.head.getAs[String]("brandid") === "United") // default-filled
    } finally { q.stop(); q2.stop() }
  }
}
