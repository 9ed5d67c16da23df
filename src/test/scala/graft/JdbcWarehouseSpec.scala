package graft

import graft.sources.Warehouse
import org.apache.spark.sql.functions._

/** JDBC sink/source parity (SURVEY §1.4; reference S8/S9,
  * `DataIngesting.py:48-64`) against embedded Derby — the JDBC
  * database that ships with Spark, standing in for the reference's
  * SQLite file. Exercises the real `df.write.jdbc` path: DDL
  * lifecycle (overwrite), steady-state append, and partitioned
  * read-back.
  */
class JdbcWarehouseSpec extends SparkSpecBase {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftwh;create=true"
  private val driver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")

  private def prices(from: Int, n: Int) =
    (from until from + n).map { i =>
      (i.toLong, s"ST$i", "U91", 150.0 + i)
    }.toDF("id", "stationcode", "fueltype", "price")

  test("overwrite creates the table; append adds rows; read-back round-trips") {
    Warehouse.overwriteJdbc(prices(0, 10), url, "prices_jdbc", driver)
    Warehouse.appendJdbc(prices(10, 5), url, "prices_jdbc", driver)

    val back = Warehouse.readJdbc(spark, url, "prices_jdbc", driver)
    assert(back.count() === 15)
    val got = back.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
    val want = (0 until 15).map(i => (i.toLong, s"ST$i", "U91", 150.0 + i))
    assert(got.toSeq === want)
  }

  test("overwrite replaces prior contents (DDL lifecycle, S8)") {
    Warehouse.overwriteJdbc(prices(0, 10), url, "prices_cycle", driver)
    Warehouse.overwriteJdbc(prices(100, 3), url, "prices_cycle", driver)
    val ids = Warehouse.readJdbc(spark, url, "prices_cycle", driver)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(100L, 101L, 102L))
  }

  test("partitioned read splits into parallel range scans") {
    Warehouse.overwriteJdbc(prices(0, 40), url, "prices_part", driver)
    val part = Warehouse.readJdbc(spark, url, "prices_part", driver,
      partitionCol = Some("id"), lowerBound = 0L, upperBound = 40L, numPartitions = 4)
    assert(part.rdd.getNumPartitions === 4)
    assert(part.count() === 40)
    assert(part.agg(sum("id")).head.getLong(0) === (0L until 40L).sum)
  }

  test("append caps connections via repartition to maxConnections") {
    val wide = prices(0, 32).repartition(16)
    // The sink repartitions to maxConnections partitions (repartition,
    // not coalesce — see Warehouse scaladoc: coalesce would fuse the
    // narrowing into upstream stages and shrink THEIR parallelism);
    // verify the rows all land exactly once through the renarrowing.
    Warehouse.overwriteJdbc(prices(0, 0), url, "prices_conn", driver)
    Warehouse.appendJdbc(wide, url, "prices_conn", driver, maxConnections = 2)
    assert(Warehouse.readJdbc(spark, url, "prices_conn", driver).count() === 32)
  }
}
