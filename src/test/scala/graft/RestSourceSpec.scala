package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll

import graft.sources.Rest
import graft.sources.Rest.OAuth2Config

/** REST source against a local JDK HttpServer that enforces the
  * reference's OAuth2 contract (`DataGathering.py`): Basic-auth'd
  * client-credentials token GET, then Bearer + apikey on the data
  * endpoints. No network egress — everything is loopback.
  */
class RestSourceSpec extends SparkSpecBase with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val token = "tok-12345"

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes); os.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // RFC 6749 §4.4 contract: POST + form-encoded grant in the body.
    server.createContext("/oauth/token", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (ex.getRequestMethod == "POST"
          && auth == "Basic aWQtMTIzOnNlY3JldC00NTY=" // base64("id-123:secret-456")
          && ctype.startsWith("application/x-www-form-urlencoded")
          && body.contains("grant_type=client_credentials"))
        respond(ex, 200, s"""{"token_type":"Bearer","access_token":"$token"}""")
      else respond(ex, 401, """{"error":"bad credentials"}""")
    })
    // The reference API's nonstandard variant: GET, grant in the query.
    server.createContext("/oauth/legacy-token", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val grant = Option(ex.getRequestURI.getQuery).getOrElse("")
      if (ex.getRequestMethod == "GET"
          && auth == "Basic aWQtMTIzOnNlY3JldC00NTY="
          && grant.contains("grant_type=client_credentials"))
        respond(ex, 200, s"""{"token_type":"Bearer","access_token":"$token"}""")
      else respond(ex, 401, """{"error":"bad credentials"}""")
    })
    server.createContext("/fuel/prices", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val apikey = Option(ex.getRequestHeaders.getFirst("apikey")).getOrElse("")
      if (auth != s"Bearer $token" || apikey != "key-789")
        respond(ex, 401, """{"error":"unauthorized"}""")
      else {
        val page = Option(ex.getRequestURI.getQuery)
          .flatMap(q => "page=(\\d+)".r.findFirstMatchIn(q)).map(_.group(1).toInt)
        page match {
          case Some(p) =>
            respond(ex, 200,
              s"""{"prices":[{"stationcode":"P$p","fueltype":"U91","price":${100 + p}}]}""")
          case None =>
            respond(ex, 200,
              """{"prices":[
                |  {"stationcode":"A1","fueltype":"U91","price":150.5},
                |  {"stationcode":"A2","fueltype":"E10","price":148.9}
                |]}""".stripMargin)
        }
      }
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def cfg = OAuth2Config(
    tokenUrl = s"$base/oauth/token",
    clientId = "id-123",
    clientSecret = "secret-456",
    extraHeaders = Map("apikey" -> "key-789"))

  test("token fetch: basic-auth client credentials -> access_token") {
    assert(Rest.fetchToken(cfg) === token)
  }

  test("legacy GET token mode targets the reference's query-param flow") {
    val legacy = cfg.copy(
      tokenUrl = s"$base/oauth/legacy-token", legacyGetToken = true)
    assert(Rest.fetchToken(legacy) === token)
    // and the RFC endpoint rejects the legacy-shaped request
    val e = intercept[IllegalArgumentException](
      Rest.fetchToken(cfg.copy(legacyGetToken = true)))
    assert(e.getMessage.contains("401"))
  }

  test("token fetch fails loudly on bad credentials") {
    val bad = cfg.copy(clientSecret = "wrong")
    val e = intercept[IllegalArgumentException](Rest.fetchToken(bad))
    assert(e.getMessage.contains("401"))
  }

  test("snapshot -> DataFrame through the distributed JSON reader") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val body = Rest.fetchSnapshot(s"$base/fuel/prices", cfg)
    val df = spark.read.option("multiLine", "true").json(Seq(body).toDS())
    val rows = df.select(explode(col("prices")).as("p"))
      .select("p.stationcode", "p.fueltype", "p.price")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows === Set(("A1", "U91", 150.5), ("A2", "E10", 148.9)))
  }

  test("snapshot lands as one atomic JSONL file for the file-stream ingest") {
    val dir = java.nio.file.Files.createTempDirectory("rest_landing").toString
    val path = Rest.snapshotToLanding(s"$base/fuel/prices", cfg, dir, "snap_0001.json")
    val df = spark.read.option("multiLine", "true").json(path)
    assert(df.selectExpr("size(prices)").head.getInt(0) === 2)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "snap_0001.json"))) // landed under its final name
  }

  test("paged fetch distributes over executors, one row per page") {
    val ds = Rest.fetchPaged(spark, s"$base/fuel/prices", cfg, 1 to 6, partitions = 3)
    assert(ds.rdd.getNumPartitions === 3)
    val bodies = ds.collect()
    assert(bodies.length === 6)
    val codes = spark.read.option("multiLine", "true").json(ds)
      .selectExpr("explode(prices) AS p").select("p.stationcode")
      .collect().map(_.getString(0)).toSet
    assert(codes === (1 to 6).map(p => s"P$p").toSet)
  }

  test("token extraction is structural, not positional") {
    assert(Rest.extractToken("""{"a":1,"access_token" : "x-y_z","b":2}""") === Some("x-y_z"))
    assert(Rest.extractToken("""{"a":1}""") === None)
  }
}
