package graft.fuel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's cleaning stage (`DataCleaning.py:42-131`),
  * re-expressed as declarative dataset transformations with a
  * dead-letter split.
  *
  * The reference validates one dict at a time and `raise`s; records
  * failing validation are dropped with a log line
  * (`DataCleaning.py:154-155,166-167`). Here every record gets a
  * `_reject_reason` computed in one codegen'd projection; the valid
  * stream is `reason IS NULL`, the dead-letter stream carries the
  * reason — same policy, but set-oriented, so Catalyst pushes the
  * whole thing into the scan and the split costs one pass, not two.
  *
  * Intended-semantics notes (SURVEY §2.10): zero-price records are
  * dropped (the reference *means* to but crashes downstream — bug 1);
  * type errors take the same drop path as value errors (bug 2).
  */
object FuelCleaning {

  import FuelModel.TsFormat

  private def missing(c: Column): Column = c.isNull || trim(c) === ""

  /** Clean raw price messages. Input columns per
    * [[FuelModel.rawPriceSchema]]; output: typed
    * (stationcode, fueltype, price, lastupdated, seq) + dead letters.
    *
    *  - key presence / null / empty → reject (`DataCleaning.py:44-52`)
    *  - price == 0 → drop silently, NOT a dead letter
    *    (`DataCleaning.py:54-56` returns None without raising)
    *  - price not castable to double → reject (`:65-69`)
    *  - lastupdated not `dd/MM/yyyy HH:mm:ss` → reject (`:71-76`)
    *  - stationcode coerced to string (`:58-60`)
    */
  def cleanPrices(raw: DataFrame): CleanSplit = {
    val price = try_cast_double(col("price"))
    val ts = try_to_timestamp(col("lastupdated"), lit(TsFormat))
    val reason =
      when(missing(col("stationcode")), "missing stationcode")
        .when(missing(col("fueltype")), "missing fueltype")
        .when(missing(col("price")), "missing price")
        .when(missing(col("lastupdated")), "missing lastupdated")
        .when(price.isNull, "invalid price")
        .when(ts.isNull, "invalid lastupdated format")
    val staged = raw.withColumn("_reject_reason", reason)
    val valid = staged
      .filter(col("_reject_reason").isNull)
      .filter(price =!= 0d) // intended semantics of the zero-price rule
      .select(
        col("stationcode").cast("string").as("stationcode"),
        col("fueltype").cast("string").as("fueltype"),
        price.as("price"),
        ts.as("lastupdated"),
        col("seq").cast("long").as("seq"))
    CleanSplit(valid, staged.filter(col("_reject_reason").isNotNull))
  }

  /** Clean raw station messages (`DataCleaning.py:84-131`):
    *
    *  - key presence / null → reject
    *  - empty `brandid` ← `brand`; empty `stationid` ← `code`
    *    (default-fill, `:96-100`) — coalesce-with-sentinel
    *  - `code` coerced to string; lat/lon cast to double, reject on
    *    failure
    *  - empty strings in other fields → reject (`:93-95` rejects ""
    *    for every key except the two default-filled ones)
    */
  def cleanStations(raw: DataFrame): CleanSplit = {
    val lat = try_cast_double(col("location_latitude"))
    val lon = try_cast_double(col("location_longitude"))
    val reason =
      when(col("brandid").isNull, "missing brandid")
        .when(col("stationid").isNull, "missing stationid")
        .when(missing(col("brand")), "missing brand")
        .when(missing(col("code")), "missing code")
        .when(missing(col("name")), "missing name")
        .when(missing(col("address")), "missing address")
        .when(missing(col("location_latitude")), "missing location_latitude")
        .when(missing(col("location_longitude")), "missing location_longitude")
        .when(lat.isNull, "invalid location_latitude")
        .when(lon.isNull, "invalid location_longitude")
    val staged = raw.withColumn("_reject_reason", reason)
    val valid = staged
      .filter(col("_reject_reason").isNull)
      .select(
        when(trim(col("brandid")) === "", col("brand"))
          .otherwise(col("brandid")).cast("string").as("brandid"),
        when(trim(col("stationid")) === "", col("code"))
          .otherwise(col("stationid")).cast("string").as("stationid"),
        col("brand").cast("string").as("brand"),
        col("code").cast("string").as("code"),
        col("name").cast("string").as("name"),
        col("address").cast("string").as("address"),
        lat.as("location_latitude"),
        lon.as("location_longitude"))
    CleanSplit(valid, staged.filter(col("_reject_reason").isNotNull))
  }

  /** Flatten the nested API envelope (`pd.json_normalize` equivalent,
    * SURVEY §2 P1): one row per price / per station, nested
    * `location` struct → flat columns.
    */
  def explodePrices(envelope: DataFrame): DataFrame =
    envelope.select(posexplode(col("prices")).as(Seq("seq", "p")))
      .select(col("p.stationcode"), col("p.fueltype"), col("p.price"),
        col("p.lastupdated"), col("seq").cast("long"))

  def explodeStations(envelope: DataFrame): DataFrame =
    envelope.select(explode(col("stations")).as("s"))
      .select(col("s.brandid"), col("s.stationid"), col("s.brand"),
        col("s.code"), col("s.name"), col("s.address"),
        col("s.location.latitude").as("location_latitude"),
        col("s.location.longitude").as("location_longitude"))

  /** `try_cast(... AS DOUBLE)` as a Column helper (null on failure —
    * the validation filter turns that into a reject reason; under
    * ANSI a plain cast would abort the job instead).
    */
  private def try_cast_double(c: Column): Column = c.try_cast("double")

  /** Parse raw JSON wire messages with a corrupt-record column
    * (SURVEY §1.4): malformed JSON lands in `_corrupt` instead of
    * killing the consumer — the dead-letter path for *unparseable*
    * messages, before field-level validation even starts. (The
    * reference's handler crashes the consumer thread on these —
    * §2.10 bug 2.)
    */
  def parseWire(raw: DataFrame, jsonCol: String,
      schema: org.apache.spark.sql.types.StructType): CleanSplit = {
    val withCorrupt = schema.add("_corrupt", "string")
    val parsed = raw.select(
      from_json(col(jsonCol), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
      .select("r.*")
    CleanSplit(
      parsed.filter(col("_corrupt").isNull).drop("_corrupt"),
      parsed.filter(col("_corrupt").isNotNull)
        .withColumn("_reject_reason", lit("malformed json")))
  }
}

/** Valid stream + dead letters (with `_reject_reason`). */
final case class CleanSplit(valid: DataFrame, rejected: DataFrame)
