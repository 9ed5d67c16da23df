package graft

import org.apache.spark.sql.functions._

import graft.sources.Warehouse

/** Bucketed co-located joins: both sides pre-hash-partitioned on the
  * join key ⇒ the join plans with NO shuffle exchange. The write-once
  * / join-forever layout for 100 TB fact tables.
  */
class BucketingSpec extends SparkSpecBase {

  test("join of two tables bucketed on the key runs without an Exchange") {
    val sf = "/root/testdata/sf0.001"
    Warehouse.writeBucketed(Tables.orders(spark, sf),
      "bkt_orders", Seq("o_orderkey"), 8, Seq("o_orderkey"))
    Warehouse.writeBucketed(Tables.lineitem(spark, sf),
      "bkt_lineitem", Seq("l_orderkey"), 8, Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), plan.take(800))
      // and it still computes the right thing
      assert(joined.count() === Tables.lineitem(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("writeBucketed: overwrites an orphaned managed location from a previous process") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS bkt_orphan")
    // simulate a prior JVM's leftovers: location exists, catalog entry
    // doesn't. warehouse.dir comes back as a QUALIFIED URI (file:/tmp/…),
    // so build the fixture with hadoop Path exactly as writeBucketed
    // resolves the managed location — java.io.File would treat the URI as
    // a relative path and plant the junk under the repo CWD, making the
    // test pass without ever exercising the sweep.
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "bkt_orphan")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new org.apache.hadoop.fs.Path(loc, "junk")).close()
    assert(fs.exists(loc))
    try {
      Warehouse.writeBucketed(Tables.orders(spark, sf).limit(10),
        "bkt_orphan", Seq("o_orderkey"), 2)
      assert(spark.table("bkt_orphan").count() === 10)
    } finally spark.sql("DROP TABLE IF EXISTS bkt_orphan")
  }

  test("aggregation on the bucket key also skips the exchange") {
    val sf = "/root/testdata/sf0.001"
    Warehouse.writeBucketed(Tables.lineitem(spark, sf),
      "bkt_li2", Seq("l_orderkey"), 8)
    try {
      val agg = spark.table("bkt_li2")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(agg.count() === Tables.lineitem(spark, sf)
        .select("l_orderkey").distinct().count())
    } finally spark.sql("DROP TABLE IF EXISTS bkt_li2")
  }
}
