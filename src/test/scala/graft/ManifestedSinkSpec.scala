package graft

import org.apache.spark.sql.functions._

import graft.sources.{LeafFingerprint, Manifest, ManifestedSink}

/** Transactional manifest sink: data-dir ↔ manifest coherence after
  * every batch, idempotent replay, orphan cleanup, crash-staged
  * publish recovery, and live pruning mid-ingest.
  */
class ManifestedSinkSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def batchDf(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"row$i")).toDF("k", "payload")

  test("two batches: every file cataloged, staleness guard passes, blooms prune") {
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    // appendBatch is the foreachBatch body — drive it directly
    ManifestedSink.appendBatch(batchDf(0, 64).repartition(4, col("k")),
      dir, mdir, Seq("k"), Seq("k"), batchId = 0L, expectedPerFile = 1024L)
    ManifestedSink.appendBatch(batchDf(64, 128).repartition(4, col("k")),
      dir, mdir, Seq("k"), Seq("k"), batchId = 1L, expectedPerFile = 1024L)

    val m = graft.operators.Materialize(
      ManifestedSink.readManifest(spark, mdir).get)
    assert(m.agg(sum("n_rows")).head.getLong(0) === 128L)
    assert(m.select("batch_id").distinct().count() === 2L)
    // coherence: prunedReadEq must NOT see a stale manifest
    val hit = Manifest.prunedReadEq(spark, m, Map("k" -> 7L))
    assert(hit.count() === 1L)
    val scanned = hit.select(input_file_name()).distinct().count()
    assert(scanned <= 3L, s"expected bloom-pruned scan, got $scanned files")
  }

  test("replaying a batch id is idempotent (no duplicate rows, no duplicate catalog)") {
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    ManifestedSink.appendBatch(batchDf(0, 32), dir, mdir, Seq("k"), Seq("k"), 0L)
    ManifestedSink.appendBatch(batchDf(32, 64), dir, mdir, Seq("k"), Seq("k"), 1L)
    // crash-replay of batch 1
    ManifestedSink.appendBatch(batchDf(32, 64), dir, mdir, Seq("k"), Seq("k"), 1L)
    assert(spark.read.parquet(dir).count() === 64L)
    assert(spark.read.parquet(dir).select("k").distinct().count() === 64L)
    val m = ManifestedSink.readManifest(spark, mdir).get
    assert(m.agg(sum("n_rows")).head.getLong(0) === 64L)
  }

  test("uncommitted orphan files are swept on the next append") {
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    ManifestedSink.appendBatch(batchDf(0, 32), dir, mdir, Seq("k"), Seq("k"), 0L)
    // simulate a batch that crashed after writing data, before publish
    batchDf(1000, 1032).write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() === 64L) // orphans visible raw
    ManifestedSink.appendBatch(batchDf(32, 64), dir, mdir, Seq("k"), Seq("k"), 1L)
    val rows = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(rows === (0L until 64L).toSet) // orphans gone, batches intact
    // and the manifest still exactly matches the directory
    val m = ManifestedSink.readManifest(spark, mdir).get
    assert(Manifest.prunedReadEq(spark, m, Map("k" -> 33L)).count() === 1L)
  }

  test("crash between manifest delete and rename recovers from the stage") {
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    ManifestedSink.appendBatch(batchDf(0, 32), dir, mdir, Seq("k"), Seq("k"), 0L)
    // simulate the crash window: live manifest deleted, stage present
    val fs = new org.apache.hadoop.fs.Path(mdir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(mdir),
      new org.apache.hadoop.fs.Path(mdir + ".stage"))
    val m = ManifestedSink.readManifest(spark, mdir)
    assert(m.isDefined)
    assert(m.get.agg(sum("n_rows")).head.getLong(0) === 32L)
  }

  test("readChangesSince: incremental consumption touches only new batches") {
    val dir = tmp("msink_cdf"); val mdir = tmp("msink_cdf_meta")
    ManifestedSink.appendBatch(batchDf(0, 32), dir, mdir, Seq("k"), Seq("k"), 0L)
    ManifestedSink.appendBatch(batchDf(32, 64), dir, mdir, Seq("k"), Seq("k"), 1L)
    // consumer materialized through batch 0, resumes:
    assert(ManifestedSink.latestBatchId(spark, mdir) === 1L)
    val delta = ManifestedSink.readChangesSince(spark, mdir, sinceBatchId = 0L)
    assert(delta.select("k").as[Long].collect().toSet === (32L until 64L).toSet)
    // only batch-1 files were opened
    assert(delta.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).nonEmpty))
    // bounded window
    ManifestedSink.appendBatch(batchDf(64, 96), dir, mdir, Seq("k"), Seq("k"), 2L)
    assert(ManifestedSink.readChangesSince(spark, mdir, 0L, untilBatchId = 1L)
      .count() === 32L)
    // caught-up consumer: empty, schema intact
    val none = ManifestedSink.readChangesSince(spark, mdir, sinceBatchId = 2L)
    assert(none.count() === 0L)
    assert(none.columns.contains("k"))
  }

  test("out-of-band manifest rewrite invalidates the driver cache (fingerprint guard)") {
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    ManifestedSink.appendBatch(batchDf(0, 32), dir, mdir, Seq("k"), Seq("k"), 0L)
    // snapshot the batch-0 manifest, append batch 1 (cache now holds
    // batches {0,1}), then restore the snapshot — simulating another
    // process rolling the manifest back out-of-band
    val snap = tmp("msink_snap")
    val fs = new org.apache.hadoop.fs.Path(mdir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(mdir),
      fs, new org.apache.hadoop.fs.Path(snap, "m"), false, true,
      spark.sessionState.newHadoopConf())
    ManifestedSink.appendBatch(batchDf(32, 64), dir, mdir, Seq("k"), Seq("k"), 1L)
    fs.delete(new org.apache.hadoop.fs.Path(mdir), true)
    fs.rename(new org.apache.hadoop.fs.Path(snap, "m"),
      new org.apache.hadoop.fs.Path(mdir))
    // the manifest (truth) now says only batch 0 committed — batch 1's
    // files are orphans and MUST be swept by the next append; a stale
    // cache would have kept cataloging them
    ManifestedSink.appendBatch(batchDf(64, 96), dir, mdir, Seq("k"), Seq("k"), 2L)
    val rows = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(rows === ((0L until 32L) ++ (64L until 96L)).toSet,
      "restored manifest must win over the in-JVM cache")
    val m = ManifestedSink.readManifest(spark, mdir).get
    assert(m.agg(sum("n_rows")).head.getLong(0) === 64L)
  }

  test("the cached and freshly-read manifest publish identical rows") {
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    ManifestedSink.appendBatch(batchDf(0, 32).repartition(2, col("k")),
      dir, mdir, Seq("k"), Seq("k"), 0L)
    ManifestedSink.appendBatch(batchDf(32, 64).repartition(2, col("k")),
      dir, mdir, Seq("k"), Seq("k"), 1L) // cache-hit publish
    val viaCache = ManifestedSink.readManifest(spark, mdir).get
      .select("file", "n_rows", "min_k", "max_k", "batch_id")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // same sequence with the cache wiped before every append
    val dir2 = tmp("msink_data2"); val mdir2 = tmp("msink_meta2")
    LeafFingerprint.clearCache()
    ManifestedSink.appendBatch(batchDf(0, 32).repartition(2, col("k")),
      dir2, mdir2, Seq("k"), Seq("k"), 0L)
    LeafFingerprint.clearCache()
    ManifestedSink.appendBatch(batchDf(32, 64).repartition(2, col("k")),
      dir2, mdir2, Seq("k"), Seq("k"), 1L)
    val viaDisk = ManifestedSink.readManifest(spark, mdir2).get
      .select("file", "n_rows", "min_k", "max_k", "batch_id")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    def stripDir(s: Set[(String, Long, Long, Long, Long)]) =
      s.map { case (f, n, lo, hi, b) =>
        (f.substring(f.lastIndexOf('/') + 1).replaceAll("part-\\d+-[-0-9a-f]+", "part"),
          n, lo, hi, b) }
    assert(viaCache.size === viaDisk.size)
    assert(stripDir(viaCache).map(t => (t._2, t._3, t._4, t._5))
      === stripDir(viaDisk).map(t => (t._2, t._3, t._4, t._5)))
  }

  test("the driver cache keeps two sinks' manifests within one global byte cap") {
    val key = LeafFingerprint.CacheMaxBytesKey
    val prev = spark.conf.getOption(key)
    def sink(): (String, String) = (tmp("msink_data"), tmp("msink_meta"))
    def append(s: (String, String), b: Long): Unit =
      ManifestedSink.appendBatch(batchDf(b * 32, b * 32 + 32).repartition(2, col("k")),
        s._1, s._2, Seq("k"), Seq("k"), b)
    try {
      LeafFingerprint.clearCache()
      append(sink(), 0L)
      val one = LeafFingerprint.cachedBytes
      assert(one > 0L, "a published manifest is cached")
      // each manifest fits the cap; the two together do not
      val cap = one + one / 2
      spark.conf.set(key, cap.toString)
      LeafFingerprint.clearCache()
      val (a, b) = (sink(), sink())
      append(a, 0L)
      append(b, 0L)
      assert(LeafFingerprint.cachedBytes <= cap)
      assert(LeafFingerprint.cachedBytes > 0L, "the latest manifest stays cached")
      // the evicted sink falls back to its parquet manifest
      append(a, 1L)
      assert(LeafFingerprint.cachedBytes <= cap)
      assert(ManifestedSink.readManifest(spark, a._2).get
        .agg(sum("n_rows")).head.getLong(0) === 64L)
      assert(spark.read.parquet(a._1).count() === 64L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      LeafFingerprint.clearCache()
    }
  }

  test("real writeStream drive: the sink body commits per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp("msink_data"); val mdir = tmp("msink_meta")
    val ckpt = tmp("msink_ckpt")
    val input = MemoryStream[(Long, String)](spark)
    val q = ManifestedSink.sink(
      input.toDF().toDF("k", "payload"), dir, mdir, Seq("k"), Seq("k"), ckpt)
    try {
      input.addData((0L until 32L).map(i => (i, s"row$i")))
      q.processAllAvailable()
      input.addData((32L until 64L).map(i => (i, s"row$i")))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(dir).count() === 64L)
    val m = ManifestedSink.readManifest(spark, mdir).get
    assert(m.agg(sum("n_rows")).head.getLong(0) === 64L)
    assert(m.select("batch_id").distinct().count() === 2L)
    // pruning is live immediately after ingest — no rebuild step
    assert(Manifest.prunedReadEq(spark, m, Map("k" -> 5L)).count() === 1L)
  }
}
