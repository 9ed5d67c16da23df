package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.Base64

import org.apache.spark.sql.{Dataset, SparkSession}

/** REST source with the reference's OAuth2 client-credentials flow
  * (SURVEY §2 S1; `DataGathering.py:5-39`): fetch a bearer token with
  * Basic-auth'd `grant_type=client_credentials`, then GET the
  * API snapshot with the token (+ any vendor headers, e.g. apikey /
  * transactionid). Pure JDK `java.net.http` — no added dependencies.
  *
  * Scale shape: a snapshot endpoint is ONE url — that fetch is
  * inherently driver-side and tiny (the reference's payload is a few
  * hundred KB), so [[fetchSnapshot]] runs on the driver and returns the
  * body for the distributed JSON reader. When the API pages, the fetch
  * itself distributes: [[fetchPaged]] ships page numbers to executors
  * and opens one HTTP client per partition (`mapPartitions`), so a
  * 1000-executor cluster pulls 1000 pages concurrently — the
  * connection-storm cap is the page frame's partition count.
  */
object Rest {

  /** `legacyGetToken = true` reproduces the reference's nonstandard
    * token request (GET with `grant_type` in the query string,
    * `DataGathering.py:6-17`) for APIs that expect exactly that; the
    * default is the RFC 6749 §4.4 POST + form-encoded body, which is
    * what real providers accept and keeps grant params out of server
    * access logs.
    */
  final case class OAuth2Config(
      tokenUrl: String,
      clientId: String,
      clientSecret: String,
      extraHeaders: Map[String, String] = Map.empty,
      legacyGetToken: Boolean = false)

  private def newClient(): HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  private def get(
      client: HttpClient,
      url: String,
      headers: Map[String, String]): String = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET()
      .timeout(Duration.ofSeconds(30))
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"GET $url -> HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    resp.body()
  }

  private def postForm(
      client: HttpClient,
      url: String,
      headers: Map[String, String],
      form: String): String = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(form))
      .timeout(Duration.ofSeconds(30))
      .header("Content-Type", "application/x-www-form-urlencoded")
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() / 100 == 2,
      s"POST $url -> HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    resp.body()
  }

  /** Client-credentials token fetch: Basic auth from id:secret,
    * `grant_type=client_credentials` POSTed as a form body (RFC 6749
    * §4.4), `access_token` out of the JSON body. The token is an
    * opaque string — extracted structurally (no full JSON mapper
    * needed on the driver; the payload contract is one scalar field).
    * Set [[OAuth2Config.legacyGetToken]] for the reference API's
    * query-param GET variant (`DataGathering.py:6-17`).
    */
  def fetchToken(cfg: OAuth2Config, client: HttpClient = newClient()): String = {
    val basic = Base64.getEncoder.encodeToString(
      s"${cfg.clientId}:${cfg.clientSecret}".getBytes(StandardCharsets.UTF_8))
    val headers =
      Map("Authorization" -> s"Basic $basic", "Accept" -> "application/json")
    val body =
      if (cfg.legacyGetToken) {
        val sep = if (cfg.tokenUrl.contains("?")) "&" else "?"
        get(client, s"${cfg.tokenUrl}${sep}grant_type=client_credentials", headers)
      } else postForm(client, cfg.tokenUrl, headers, "grant_type=client_credentials")
    extractToken(body).getOrElse(
      throw new IllegalStateException(s"no access_token in: ${body.take(200)}"))
  }

  private[graft] def extractToken(json: String): Option[String] =
    """"access_token"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))

  /** One authorized snapshot GET (`DataGathering.py:19-35`): returns
    * the raw JSON body. Driver-side by design — see the scale note.
    */
  def fetchSnapshot(
      url: String,
      cfg: OAuth2Config,
      client: HttpClient = newClient()): String = {
    val token = fetchToken(cfg, client)
    get(client, url,
      Map("Authorization" -> s"Bearer $token", "Accept" -> "application/json")
        ++ cfg.extraHeaders)
  }

  /** Append one fetched snapshot to a landing directory as a
    * timestamp-named JSONL file — the bridge from the REST source to
    * the engine's file-stream ingest (read with `apiEnvelopeSchema`,
    * flattened by `FuelCleaning.explodePrices`/`explodeStations`):
    * each periodic fetch becomes exactly one atomic file,
    * which is the file source's unit of exactly-once.
    */
  def snapshotToLanding(
      url: String,
      cfg: OAuth2Config,
      landingDir: String,
      fileName: String): String = {
    val body = fetchSnapshot(url, cfg)
    Files.createDirectories(Paths.get(landingDir))
    val tmp = Paths.get(landingDir, s".$fileName.tmp")
    val dst = Paths.get(landingDir, fileName)
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dst) // rename = atomic visibility to the file source
    dst.toString
  }

  /** Distributed paged fetch: page numbers live in a Dataset, each
    * executor partition opens ONE client and fetches its pages
    * sequentially (`mapPartitions` — connection count = partition
    * count, not row count). The token is fetched once on the driver
    * and broadcast with the closure; pass `pageParam` to name the
    * API's page query parameter.
    */
  def fetchPaged(
      spark: SparkSession,
      baseUrl: String,
      cfg: OAuth2Config,
      pages: Range,
      pageParam: String = "page",
      partitions: Int = 8): Dataset[String] = {
    import spark.implicits._
    val token = fetchToken(cfg)
    val headers =
      Map("Authorization" -> s"Bearer $token", "Accept" -> "application/json") ++
        cfg.extraHeaders
    val sep = if (baseUrl.contains("?")) "&" else "?"
    spark.createDataset(pages.toSeq)
      .repartition(math.min(partitions, math.max(1, pages.size)))
      .mapPartitions { it =>
        val client = newClient()
        it.map(p => get(client, s"$baseUrl$sep$pageParam=$p", headers))
      }
  }
}
