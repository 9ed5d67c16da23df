package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.streaming.AggStream

/** Exact incremental aggregate view ([[graft.streaming.AggStream]]):
  * serve-over-partials EQUALS (not approximates) the one-shot
  * aggregate of the full history, replay is idempotent, and state
  * stays partials-sized.
  */
class AggStreamSpec extends SparkSpecBase {

  import spark.implicits._

  // .x5 values included on purpose: a double sum would be
  // partition-order-dependent exactly there.
  private def rows = (1L to 6000L).map(i => (s"g${i % 3}", (i % 40) + 0.25))

  test("serving over streamed partials equals the one-shot exact aggregate") {
    val stateDir = java.nio.file.Files.createTempDirectory("agg_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("agg_ckpt").toString
    val input = MemoryStream[(String, Double)](spark)
    val q = AggStream.stream(
      input.toDF().toDF("grp", "v"), stateDir, ckpt, Seq("grp"), "v")
    val batches = rows.grouped(1700).toSeq // 4 uneven batches
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()

    val served = AggStream.serve(spark, stateDir, Seq("grp"))
      .select(col("grp"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val direct = rows.toDF("grp", "v").groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(18, 2))).as("s"))
      .select(col("grp"), col("n"), col("s").cast("string"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(served === direct) // exact, DECIMAL-string compare
  }

  test("folding compaction: serve identical to unfolded, partitions bounded, replay + sweep crash-safe") {
    val key = "spark.graft.streaming.partialsCompactEvery"
    val prev = spark.conf.getOption(key)
    def dirs(stateDir: String) =
      new java.io.File(stateDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).toSet
    def servedOf(stateDir: String) =
      AggStream.serve(spark, stateDir, Seq("grp"))
        .select(col("grp"), col("n"), col("sum_value").cast("string"))
        .as[(String, Long, String)].collect().toSet
    val batches = rows.grouped(600).toSeq // 10 batches
    try {
      // unfolded reference + folded run advance in lockstep so the
      // serve can be compared INSIDE every fold-to-sweep window too
      // (marker pruning must hide the not-yet-swept history)
      val plain = java.nio.file.Files.createTempDirectory("agg_plain").toString
      val folded = java.nio.file.Files.createTempDirectory("agg_fold").toString
      val foldsBefore = AggStream.foldsPerformed.get()
      batches.zipWithIndex.foreach { case (b, i) =>
        spark.conf.set(key, "0")
        AggStream.appendPartials(b.toDF("grp", "v"), i.toLong, plain, Seq("grp"), "v")
        spark.conf.set(key, "3")
        AggStream.appendPartials(b.toDF("grp", "v"), i.toLong, folded, Seq("grp"), "v")
        assert(servedOf(folded) === servedOf(plain), s"divergence after batch $i")
      }
      assert(dirs(plain).size === 10)
      val reference = servedOf(plain)
      assert(AggStream.foldsPerformed.get() - foldsBefore >= 2L,
        "folds must engage on a 10-batch stream at compactEvery=3")
      assert(servedOf(folded) === reference)
      assert(dirs(folded).size <= 5,
        s"partition count must stay bounded, got ${dirs(folded)}")

      // crash-replay of the LAST batch (idempotent overwrite): the
      // fold/plain decision and the served totals must not change
      AggStream.appendPartials(batches.last.toDF("grp", "v"), 9L, folded,
        Seq("grp"), "v")
      assert(servedOf(folded) === reference)

      // next batch sweeps folded-away dirs and keeps serving exactly
      AggStream.appendPartials(
        Seq(("g0", 1.25)).toDF("grp", "v"), 10L, folded, Seq("grp"), "v")
      AggStream.appendPartials(
        Seq(("g0", 1.25)).toDF("grp", "v"), 10L, plain, Seq("grp"), "v")
      assert(servedOf(folded) === servedOf(plain))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("folding compaction: combined table serves both surfaces exactly through folds") {
    val key = "spark.graft.streaming.partialsCompactEvery"
    val prev = spark.conf.getOption(key)
    val evs = (1L to 900L).map(i =>
      (s"u${i % 7}", s"t${i % 3}", i, (i % 50) + 0.25))
    def append(stateDir: String)(b: Seq[(String, String, Long, Double)], id: Long) =
      AggStream.appendCombinedPartials(
        b.toDF("user", "etype", "eid", "v"), id, stateDir,
        Seq("user", "etype"), Seq("eid"), "v")
    def surfaces(stateDir: String) = {
      val bar = AggStream.serve(spark, stateDir, Seq("etype"))
        .select(col("etype"), col("n"), col("sum_value").cast("string"))
        .as[(String, Long, String)].collect().toSet
      val latest = AggStream.serveLatest(spark, stateDir,
          Seq("user", "etype"), Seq("eid"), Seq("v"))
        .select(col("user"), col("etype"), col("eid"), col("v"))
        .as[(String, String, Long, Double)].collect().toSet
      (bar, latest)
    }
    try {
      spark.conf.set(key, "0")
      val plain = java.nio.file.Files.createTempDirectory("aggc_plain").toString
      evs.grouped(150).zipWithIndex.foreach { case (b, i) =>
        append(plain)(b, i.toLong) }
      spark.conf.set(key, "2")
      val folded = java.nio.file.Files.createTempDirectory("aggc_fold").toString
      evs.grouped(150).zipWithIndex.foreach { case (b, i) =>
        append(folded)(b, i.toLong) }
      assert(surfaces(folded) === surfaces(plain))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("replayed batch id overwrites its own partition; state is partials-sized") {
    val stateDir = java.nio.file.Files.createTempDirectory("agg_replay").toString
    val df0 = rows.take(3000).toDF("grp", "v")
    val df1 = rows.drop(3000).toDF("grp", "v")
    AggStream.appendPartials(df0, 0L, stateDir, Seq("grp"), "v")
    AggStream.appendPartials(df1, 1L, stateDir, Seq("grp"), "v")
    val once = AggStream.serve(spark, stateDir, Seq("grp"))
      .select(col("grp"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect().toSet
    AggStream.appendPartials(df1, 1L, stateDir, Seq("grp"), "v") // recovery re-run
    val twice = AggStream.serve(spark, stateDir, Seq("grp"))
      .select(col("grp"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect().toSet
    assert(twice === once)
    // one partial row per (group, batch), regardless of batch row counts
    assert(spark.read.parquet(stateDir).count() === 6L)
  }

  test("latest-state partials: per-batch max_by partials re-merge to the exact latest-per-group") {
    val stateDir = java.nio.file.Files.createTempDirectory("agg_latest").toString
    // batch 0 carries the NEWEST row of group a (ts 9); batch 1's later
    // arrival for a is OLDER (ts 5) and must not displace it — the
    // algebraic merge, not last-write-wins
    val b0 = Seq(("a", 9L, 100L, 1.0), ("a", 2L, 101L, 2.0), ("b", 1L, 102L, 3.0))
      .toDF("grp", "ts", "event_id", "v")
    val b1 = Seq(("a", 5L, 103L, 4.0), ("b", 7L, 104L, 5.0), ("c", 1L, 105L, 6.0))
      .toDF("grp", "ts", "event_id", "v")
    AggStream.appendLatestPartials(b0, 0L, stateDir,
      Seq("grp"), Seq("ts", "event_id"), Seq("v"))
    AggStream.appendLatestPartials(b1, 1L, stateDir,
      Seq("grp"), Seq("ts", "event_id"), Seq("v"))
    def served = AggStream.serveLatest(spark, stateDir,
        Seq("grp"), Seq("ts", "event_id"), Seq("v"))
      .select("grp", "ts", "v")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(served === Seq(("a", 9L, 1.0), ("b", 7L, 5.0), ("c", 1L, 6.0)))
    // idempotent under batch replay (dynamic partition overwrite)
    AggStream.appendLatestPartials(b1, 1L, stateDir,
      Seq("grp"), Seq("ts", "event_id"), Seq("v"))
    assert(served === Seq(("a", 9L, 1.0), ("b", 7L, 5.0), ("c", 1L, 6.0)))
    // state is partials-sized: one row per (group, batch) — batch 0
    // touched {a, b}, batch 1 touched {a, b, c}
    assert(spark.read.parquet(stateDir).count() === 5L)
  }

  test("a legally-empty micro-batch still commits a typed zero-row shell — serve never hits UNABLE_TO_INFER_SCHEMA") {
    val stateDir = java.nio.file.Files.createTempDirectory("agg_empty").toString
    AggStream.appendPartials(
      rows.toDF("grp", "v").limit(0), 0L, stateDir, Seq("grp"), "v")
    assert(AggStream.serve(spark, stateDir, Seq("grp")).count() === 0L)
    val latestDir = java.nio.file.Files.createTempDirectory("agg_empty_l").toString
    AggStream.appendLatestPartials(
      Seq(("a", 1L, 2L, 3.0)).toDF("grp", "ts", "event_id", "v").limit(0),
      0L, latestDir, Seq("grp"), Seq("ts", "event_id"), Seq("v"))
    assert(AggStream.serveLatest(spark, latestDir,
      Seq("grp"), Seq("ts", "event_id"), Seq("v")).count() === 0L)
  }

  test("combined partials: one state table serves BOTH the coarse sum/count surface and the fine latest surface, exactly") {
    val stateDir = java.nio.file.Files.createTempDirectory("agg_comb").toString
    // fine group (u, t); coarse bar surface re-merges over t alone
    val all = (1L to 4000L).map(i =>
      (s"u${i % 7}", s"t${i % 3}", i, i * 10, (i % 40) + 0.25))
    val (b0, b1) = all.splitAt(1500)
    AggStream.appendCombinedPartials(b0.toDF("u", "t", "ts", "eid", "v"),
      0L, stateDir, Seq("u", "t"), Seq("ts", "eid"), "v")
    AggStream.appendCombinedPartials(b1.toDF("u", "t", "ts", "eid", "v"),
      1L, stateDir, Seq("u", "t"), Seq("ts", "eid"), "v")
    // coarse: serve over t equals the one-shot DECIMAL aggregate
    val bar = AggStream.serve(spark, stateDir, Seq("t"))
      .select(col("t"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val barDirect = all.toDF("u", "t", "ts", "eid", "v").groupBy("t")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(18, 2))).as("s"))
      .select(col("t"), col("n"), col("s").cast("string"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(bar === barDirect)
    // fine: latest-per-(u, t) equals the one-shot max_by
    val latest = AggStream.serveLatest(spark, stateDir,
        Seq("u", "t"), Seq("ts", "eid"), Seq("v"))
      .select("u", "t", "ts", "v")
      .as[(String, String, Long, Double)].collect().sorted.toSeq
    val latestDirect = all.toDF("u", "t", "ts", "eid", "v")
      .groupBy("u", "t")
      .agg(max_by(struct(col("ts"), col("eid"), col("v")),
        struct(col("ts"), col("eid"))).as("l"))
      .select(col("u"), col("t"), col("l.ts"), col("l.v"))
      .as[(String, String, Long, Double)].collect().sorted.toSeq
    assert(latest === latestDirect)
    // replay idempotence holds for the combined commit too
    AggStream.appendCombinedPartials(b1.toDF("u", "t", "ts", "eid", "v"),
      1L, stateDir, Seq("u", "t"), Seq("ts", "eid"), "v")
    assert(AggStream.serve(spark, stateDir, Seq("t"))
      .select(col("t"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap === barDirect)
  }
}
