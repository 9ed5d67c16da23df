package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.TimestampNTZType

/** Catalog reads take the table's schema from the driver cache: no
  * footer-inference job after the first read of a file, and a table
  * rewritten in place is read with its new schema.
  */
class TablesSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      Bridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a second catalog read runs no Spark job and returns the inferred schema") {
    Tables.orders(spark, sf)
    Tables.events(spark, sf)
    val ((orders, events), jobs) =
      jobsOf((Tables.orders(spark, sf).schema, Tables.events(spark, sf).schema))
    assert(jobs === 0, "a read inferred a schema")

    assert(orders === spark.read.parquet(s"$sf/orders.parquet").schema)
    val rawEvents = spark.read.parquet(s"$sf/events.parquet")
    assert(events === Tables.withNtzTs(rawEvents).schema)
    assert(events("ts").dataType === TimestampNTZType)
  }

  test("a table rewritten in place is read with its new schema, and events.ts normalized by it") {
    val dir = Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/events.parquet"
    val nanos = 1700000000123456000L
    spark.range(1).select(lit(nanos).as("ts")).write.parquet(path)
    val want = java.time.LocalDateTime.of(2023, 11, 14, 22, 13, 20, 123456000)
    assert(Tables.events(spark, dir).head().get(0) === want)

    spark.range(1).select(timestamp_micros(lit(nanos / 1000)).as("ts"), lit("x").as("tag"))
      .write.mode("overwrite").parquet(path)
    val asTimestamp = Tables.events(spark, dir)
    assert(asTimestamp.schema.fieldNames.toSeq === Seq("ts", "tag"))
    assert(asTimestamp.head().get(0) === want)
  }
}
