package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.sources.LeafFingerprint

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * Every table is a single parquet file under `dir`. Reads go through
  * the DataSource V2 parquet scan, so Catalyst pushes filters and
  * prunes columns into the scan for free — callers should express
  * selection/projection declaratively and never pre-materialize.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The parquet schema of the table at `path`. Inferring it reads a
    * footer in a Spark job, once per table per query, so it is cached
    * in [[LeafFingerprint]] under the file's (name, mtime, len): a
    * table rewritten in place misses and is read again. That matters
    * for `events.ts`, whose type decides its normalization (see
    * [[events]]). The cached schema is the one this JVM's
    * [[GraftSession]] reads, whose parquet read conf is fixed.
    */
  private[graft] def schema(spark: SparkSession, path: String): StructType =
    LeafFingerprint.cached[StructType](spark, SchemaKind, path).getOrElse {
      val read = spark.read.parquet(path).schema
      LeafFingerprint.cache(spark, SchemaKind, path, read, 2L * read.json.length)
      read
    }

  private val SchemaKind = "table.schema"

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across driver
    * testdata generations: INT64 TIMESTAMP(NANOS,false) — which
    * Spark's µs timestamp type cannot represent, so with
    * `spark.sql.legacy.parquet.nanosAsLong` (set by [[GraftSession]])
    * it arrives as a long of epoch-nanos — and plain TIMESTAMP(MICROS)
    * which arrives as a timestamp already. Normalize BY SCHEMA, not by
    * generation: longs truncate nanos→µs (the corpus has none beyond
    * µs), timestamps pass through; either way callers see one
    * `timestamp_ntz` column matching what DuckDB/pyarrow see.
    */
  def events(s: SparkSession, d: String): DataFrame = withNtzTs(apply(s, d, "events"))

  /** `events` with `ts` normalized by its type, as described at [[events]]. */
  private[graft] def withNtzTs(raw: DataFrame): DataFrame = {
    val ts = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _ => col("ts")
    }
    raw.withColumn("ts", ts.cast("timestamp_ntz"))
  }

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
