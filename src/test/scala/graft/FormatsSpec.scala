package graft

import org.apache.spark.sql.types._

import graft.sources.Warehouse

/** CSV ingest with dead-letter routing of malformed lines. */
class FormatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("CSV dead-letter: malformed lines route whole to rejects, clean rows parse") {
    val dir = tmp("csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"),
      """id,name,qty
        |1,widget,10
        |2,gadget,notanumber
        |3,doohickey,7
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("qty", IntegerType)))
    val (clean, rejects) = Warehouse.readCsvWithRejects(spark, dir, schema)
    assert(clean.select("id").as[Long].collect().toSet === Set(1L, 3L))
    val bad = rejects.select("raw_line").as[String].collect()
    assert(bad.length === 1 && bad.head.contains("notanumber"),
      s"the malformed line must survive verbatim for replay: ${bad.mkString}")
  }

  test("CSV dead-letter: a fully clean file yields zero rejects") {
    val dir = tmp("csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"),
      "id,name,qty\n1,a,2\n2,b,3\n")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("qty", IntegerType)))
    val (clean, rejects) = Warehouse.readCsvWithRejects(spark, dir, schema)
    assert(clean.count() === 2L && rejects.count() === 0L)
  }
}
