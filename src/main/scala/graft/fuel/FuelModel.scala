package graft.fuel

import org.apache.spark.sql.types._

/** Data model of the reference pipeline (SURVEY.md §1): two logical
  * datasets — a `prices` event stream and a `stations` dimension.
  *
  * Typed case classes give `Dataset[T]` ergonomics in operators and
  * tests; `StructType`s declare the wire schemas that replace the
  * reference's hand-written per-record validation
  * (`DataCleaning.py:42-131`).
  */
object FuelModel {

  /** One price observation (`DataIngesting.py:34-43`). `lastupdated`
    * lives as a parsed timestamp inside the engine — the reference
    * keeps it as a `dd/MM/yyyy HH:mm:ss` string end-to-end and
    * re-parses at every use (SURVEY §1.2), which we do exactly once
    * at the boundary. `seq` is a monotonic ingest sequence id used to
    * break event-time ties deterministically (pandas `.last()` uses
    * input order — SURVEY §7 hard part 2).
    */
  final case class PriceRecord(
      stationcode: String,
      fueltype: String,
      price: Double,
      lastupdated: java.sql.Timestamp,
      seq: Long)

  /** One service station (`DataIngesting.py:20-32`), with the nested
    * `location` struct flattened to two plain doubles at the model
    * boundary (the reference flattens to dotted names via
    * `pd.json_normalize`, then renames at the DB edge).
    */
  final case class Station(
      brandid: String,
      stationid: String,
      brand: String,
      code: String,
      name: String,
      address: String,
      location_latitude: Double,
      location_longitude: Double)

  /** Raw price message as it arrives on the wire (all-string-ish JSON;
    * `stationcode` may arrive numeric, `price` may arrive as string —
    * `DataCleaning.py:58-69`).
    */
  val rawPriceSchema: StructType = StructType(Seq(
    StructField("stationcode", StringType),
    StructField("fueltype", StringType),
    StructField("price", StringType),
    StructField("lastupdated", StringType),
    StructField("seq", LongType)))

  /** Raw station message (flattened form, as published on the cleaned
    * topic — `DataCleaning.py:207`; dotted keys renamed `location_*`).
    */
  val rawStationSchema: StructType = StructType(Seq(
    StructField("brandid", StringType),
    StructField("stationid", StringType),
    StructField("brand", StringType),
    StructField("code", StringType),
    StructField("name", StringType),
    StructField("address", StringType),
    StructField("location_latitude", StringType),
    StructField("location_longitude", StringType)))

  /** S10 mixed cleaned topic: the union of both cleaned wire shapes
    * (field sets are disjoint) — one consumer reads BOTH message
    * kinds off one topic and the router dispatches by key presence
    * (`DataIngesting.py:55-64`). A station message leaves the price
    * fields null and vice versa.
    */
  val mixedWireSchema: StructType =
    StructType(rawStationSchema.fields ++ rawPriceSchema.fields)

  /** Raw API envelope (`DataGathering.py:28-39`): nested arrays of
    * structs, `stations[i].location` nested. `from_json` + `inline`
    * replace `pd.json_normalize` (SURVEY §1.4).
    */
  val apiEnvelopeSchema: StructType = StructType(Seq(
    StructField("stations", ArrayType(StructType(Seq(
      StructField("brandid", StringType),
      StructField("stationid", StringType),
      StructField("brand", StringType),
      StructField("code", StringType),
      StructField("name", StringType),
      StructField("address", StringType),
      StructField("location", StructType(Seq(
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType)))))))),
    StructField("prices", ArrayType(StructType(Seq(
      StructField("stationcode", StringType),
      StructField("fueltype", StringType),
      StructField("price", DoubleType),
      StructField("lastupdated", StringType)))))))

  /** The warehouse `prices` table [[FuelPipeline.start]] lands: the
    * cleaned price columns ([[FuelCleaning.cleanPrices]]) plus the
    * surrogate `id`. Declared, so a reader skips parquet schema
    * inference — one Spark job per read.
    */
  val warehousePricesSchema: StructType = StructType(Seq(
    StructField("stationcode", StringType),
    StructField("fueltype", StringType),
    StructField("price", DoubleType),
    StructField("lastupdated", TimestampType),
    StructField("seq", LongType),
    StructField("id", LongType)))

  /** The warehouse `stations` table: the cleaned station columns
    * ([[FuelCleaning.cleanStations]]) plus the surrogate `id`.
    */
  val warehouseStationsSchema: StructType = StructType(Seq(
    StructField("brandid", StringType),
    StructField("stationid", StringType),
    StructField("brand", StringType),
    StructField("code", StringType),
    StructField("name", StringType),
    StructField("address", StringType),
    StructField("location_latitude", DoubleType),
    StructField("location_longitude", DoubleType),
    StructField("id", LongType)))

  /** The reference's one-and-only timestamp format (day-first, no TZ). */
  val TsFormat = "dd/MM/yyyy HH:mm:ss"
}
