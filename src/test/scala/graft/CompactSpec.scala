package graft

import org.apache.spark.sql.functions._

import graft.sources.Compact

/** Small-files compaction: content preservation, file-count collapse,
  * sorted rewrite, crash leftovers, and the partitioned-dir guard.
  */
class CompactSpec extends SparkSpecBase {

  import spark.implicits._

  private def fragmented(dir: String, parts: Int = 48): Unit =
    (1L to 10000L).map(i => (i, i % 97, s"row-$i")).toDF("id", "key", "payload")
      .repartition(parts).write.mode("overwrite").parquet(dir)

  test("compaction collapses tiny files and preserves every row") {
    val dir = java.nio.file.Files.createTempDirectory("cmp").toString + "/t"
    fragmented(dir)
    val stats = Compact.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(stats.filesBefore === 48)
    assert(stats.filesAfter === 1)
    assert(stats.rows === 10000L)
    val back = spark.read.parquet(dir)
    assert(back.count() === 10000L)
    assert(back.agg(sum("id")).head.getLong(0) === (1L to 10000L).sum)
    // no stray staging dirs survive
    assert(!new java.io.File(dir + ".compact-tmp").exists)
    assert(!new java.io.File(dir + ".compact-old").exists)
  }

  test("sorted compaction leaves per-file ranges tight for skipping") {
    val dir = java.nio.file.Files.createTempDirectory("cmp").toString + "/t"
    fragmented(dir)
    Compact.compact(spark, dir, targetBytes = 64L * 1024, sortBy = Seq("id"))
    val m = graft.sources.Manifest.build(spark, dir, Seq("id"))
      .select("min_id", "max_id").as[(Long, Long)].collect()
    assert(m.length > 1) // actually split into multiple files
    // ranges must be disjoint (sorted layout), i.e. total overlap 0
    val sorted = m.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("a crashed run's leftover tmp dir does not break the next compaction") {
    val dir = java.nio.file.Files.createTempDirectory("cmp").toString + "/t"
    fragmented(dir, parts = 8)
    // simulate a crash that left stale staging output behind
    (1L to 5L).toDF("junk").write.parquet(dir + ".compact-tmp")
    val stats = Compact.compact(spark, dir)
    assert(stats.rows === 10000L)
    assert(spark.read.parquet(dir).columns.toSeq === Seq("id", "key", "payload"))
  }

  test("compact then a manifest rebuild: pruned reads work right after the rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("cmp").toString
    (0L until 4096L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(16).write.mode("overwrite").parquet(dir)
    Compact.compact(spark, dir, targetBytes = 64L * 1024, sortBy = Seq("k"))
    val m = graft.sources.Manifest.buildWithBlooms(spark, dir, Seq("k"), Seq("k"), 4096L)
    // no staleness window: the fresh catalog matches the rewritten dir
    import org.apache.spark.sql.functions.{col, input_file_name}
    val hit = graft.sources.Manifest.prunedReadEq(spark, m, Map("k" -> 99L))
    assert(hit.count() === 1L)
    // sorted rewrite → zone cut bites before blooms even matter
    assert(hit.select(input_file_name()).distinct().count() <= 2L)
    val ranged = graft.sources.Manifest.prunedRead(spark, m,
      Map("k" -> (org.apache.spark.sql.functions.lit(0L),
        org.apache.spark.sql.functions.lit(63L))))
    assert(ranged.count() === 64L)
  }

  test("partitioned directories are rejected with a per-leaf hint") {
    val dir = java.nio.file.Files.createTempDirectory("cmp").toString + "/t"
    (1L to 100L).map(i => (i, i % 3)).toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException](Compact.compact(spark, dir))
    assert(e.getMessage.contains("per leaf"))
  }
}
