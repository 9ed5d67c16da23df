package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming append sink that keeps a zone+bloom [[Manifest]]
  * TRANSACTIONALLY in step with the data directory — the manifest
  * doubles as the commit log, which is the core trick of every table
  * format (Delta/Iceberg) expressed in plain Spark + rename-atomic
  * filesystem ops.
  *
  * Invariant after every committed batch: manifest file set == data
  * directory file set (so [[Manifest.prunedRead]]/[[Manifest
  * .prunedReadEq]]'s staleness guard passes and pruning is always
  * live, even mid-ingest), and every file is tagged with the batch id
  * that wrote it.
  *
  * Exactly-once on replay: foreachBatch re-delivers a batch after a
  * crash. Recovery is manifest-driven, run at the START of every
  * append:
  *  1. files in the directory but NOT in the manifest = a batch that
  *     crashed after writing data but before publishing its manifest
  *     → deleted (they were never committed);
  *  2. manifest rows carrying THIS batch id = a previous COMPLETE
  *     attempt whose checkpoint commit didn't land → its files are
  *     deleted and its rows dropped, then the batch applies fresh.
  * The manifest itself publishes via a staged sibling + rename dance
  * (the [[Compact]] discipline): a crash mid-publish leaves either
  * the old manifest (batch rolls back as case 1) or the staged one
  * recoverable.
  *
  * Scale shape: per batch, one listing of the data directory, one
  * stats pass over the NEW files only, and a driver-side rewrite of
  * the manifest (file-count-sized, the same bound every consult
  * already carries).
  */
object ManifestedSink {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  // ---- driver-side survivor-manifest cache (round 20) ----
  // appendBatch used to re-read and re-collect the live manifest every
  // micro-batch: one parquet footer inference + one collect job per
  // tick, plus a manifest REWRITE plan that re-read the live parquet —
  // per-tick driver latency the crawl-loop decomposition measured as
  // the suite's biggest unattacked cost (round-19 verdict item 1).
  // The collected manifest rows stay in the [[LeafFingerprint]] cache
  // between ticks, keyed by manifest dir. CRASH-SAFE INVALIDATION:
  // every use is guarded by the live manifest dir's fingerprint — one
  // fs listing, no Spark job — and manifest publishes write
  // uniquely-named part files, so ANY out-of-band rewrite (another
  // process, a crash-recovered stage promotion, a test poking at the
  // dir) misses the fingerprint and falls back to the parquet read.
  // The cache is only ever WRITTEN after a successful publish, from
  // the exact rows just published. Bloom blobs dominate row size
  // (~120 KB/file at default sizing), so entries are sized in bytes
  // against the cache's global byte cap.
  private val CacheKind = "ManifestedSink.manifest"

  private def rowBytes(r: org.apache.spark.sql.Row): Long = {
    var b = 64L
    var i = 0
    while (i < r.length) {
      r.get(i) match {
        case a: Array[Byte] => b += a.length
        case s: String => b += 2L * s.length
        case _ => b += 16L
      }
      i += 1
    }
    b
  }

  private def dataFiles(fs: FileSystem, dir: Path): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.toUri.getPath).toSet

  /** Load the live manifest, finishing a crashed publish if the
    * staged sibling is the only copy. Returns None before the first
    * committed batch.
    */
  def readManifest(spark: SparkSession, manifestDir: String): Option[DataFrame] = {
    val fs = fsOf(spark, manifestDir)
    val live = new Path(manifestDir)
    val stage = new Path(manifestDir + ".stage")
    def hasData(p: Path) = fs.exists(p) &&
      fs.listStatus(p).exists(s => s.isFile && !s.getPath.getName.startsWith("_"))
    if (!hasData(live) && hasData(stage)) {
      if (fs.exists(live)) fs.delete(live, true) // empty husk blocks the rename
      fs.rename(stage, live)
    }
    if (hasData(live)) Some(spark.read.parquet(manifestDir)) else None
  }

  /** Append one micro-batch under the manifest transaction (the
    * foreachBatch body; idempotent per `batchId`).
    *
    * Per-tick cost since round 20: ONE fs listing validates the
    * driver-cached manifest rows (cache miss → one parquet read +
    * collect, the old cost), one stats job over the NEW files only
    * (collected once — the DataFrame form executed it twice), and a
    * LOCAL-RELATION manifest rewrite (the old rewrite plan re-read
    * the live manifest parquet every batch). Semantics unchanged:
    * recovery, idempotent replay, and the staged-publish rename are
    * byte-for-byte the same transaction.
    */
  def appendBatch(
      batch: DataFrame,
      dir: String,
      manifestDir: String,
      cols: Seq[String],
      bloomCols: Seq[String],
      batchId: Long,
      expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, dir)
    val dirPath = new Path(dir)
    val mfs = fsOf(spark, manifestDir)

    // ---- recovery: the manifest is the truth ----
    // survivors = committed batches other than this one; everything
    // else in the directory (uncommitted orphans from a crash before
    // manifest publish, or a previous complete attempt of THIS batch
    // whose checkpoint commit never landed) is swept before re-apply
    val prior: Option[(org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])] =
      LeafFingerprint.cached[(org.apache.spark.sql.types.StructType,
          Seq[org.apache.spark.sql.Row])](spark, CacheKind, manifestDir)
        .orElse(readManifest(spark, manifestDir).map(m => (m.schema, m.collect().toSeq)))
    val survivors = prior.map { case (sch, rows) =>
      val bi = sch.fieldIndex("batch_id")
      // null-batch_id rows drop exactly as the old `=!= batchId`
      // Column filter dropped them
      (sch, rows.filter(r => !r.isNullAt(bi) && r.getLong(bi) != batchId))
    }
    val survivorFiles = survivors.map { case (sch, rows) =>
      val fi = sch.fieldIndex("file")
      rows.map(r => new Path(r.getString(fi)).toUri.getPath).toSet
    }.getOrElse(Set.empty[String])
    (dataFiles(fs, dirPath) -- survivorFiles).foreach { f =>
      fs.delete(new Path(f), false)
    }

    // ---- write the batch, catalog only the new files ----
    batch.write.mode("append").parquet(dir)
    val newFiles = (dataFiles(fs, dirPath) -- survivorFiles).toSeq.sorted
    val stats =
      if (newFiles.isEmpty) None
      else {
        val (sch, rows) = Manifest.buildWithBloomsRows(
          spark, cols, bloomCols, expectedPerFile, fpp, newFiles)
        Some((sch.add(org.apache.spark.sql.types.StructField(
            "batch_id", org.apache.spark.sql.types.LongType, nullable = false)),
          rows.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ batchId))))
      }

    // ---- publish: staged write + rename (crash-safe) ----
    val next = (survivors, stats) match {
      case (Some((ss, sr)), Some((ns, nr))) =>
        // unionByName on local rows: align the new rows to the
        // survivor schema's field order (same field set whenever the
        // live manifest was written by this sink with these columns)
        require(ss.fieldNames.toSet == ns.fieldNames.toSet,
          s"manifest column drift at $manifestDir: live manifest has " +
            s"[${ss.fieldNames.mkString(",")}], this batch builds " +
            s"[${ns.fieldNames.mkString(",")}] — rebuild the manifest " +
            "before appending with changed cols/bloomCols")
        val idx = ss.fieldNames.map(ns.fieldIndex).toSeq
        (ss, sr ++ nr.map(r => org.apache.spark.sql.Row.fromSeq(idx.map(r.get))))
      case (Some(s), None)    => s
      case (None, Some(n))    => n
      case (None, None)       => return
    }
    val live = new Path(manifestDir)
    val stage = new Path(manifestDir + ".stage")
    if (mfs.exists(stage)) mfs.delete(stage, true)
    // local-relation write: the rows are already on the driver, so
    // the stage write never re-reads the live manifest
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(next._2.asJava, next._1)
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    if (mfs.exists(live)) mfs.delete(live, true)
    mfs.rename(stage, live)
    // cache the just-published truth for the next tick
    LeafFingerprint.cache(spark, CacheKind, manifestDir, next,
      next._2.iterator.map(rowBytes).sum)
  }

  /** Incremental (change-feed) read: only the rows ingested by
    * batches in `(sinceBatchId, untilBatchId]` — the downstream-
    * consumer surface the manifest's batch column provides for free.
    * An ETL that materialized through batch N resumes with
    * `readChangesSince(N)` and touches ONLY the new files — no
    * full-table diff, no re-scan of history — then records the new
    * high batch id (read it off [[latestBatchId]]). Append-only
    * change feed: this sink never rewrites rows, so "changes" are
    * inserts; compaction invalidates the feed, as it invalidates the
    * manifest.
    *
    * Returns an empty (correctly-schemed) frame when no newer batch
    * has committed.
    */
  def readChangesSince(
      spark: SparkSession,
      manifestDir: String,
      sinceBatchId: Long,
      untilBatchId: Long = Long.MaxValue): DataFrame = {
    val m = readManifest(spark, manifestDir).getOrElse(
      throw new IllegalStateException(s"no manifest at $manifestDir — nothing committed"))
    val all = m.select("file", "batch_id").collect()
    val files = all.filter(r =>
      r.getLong(1) > sinceBatchId && r.getLong(1) <= untilBatchId)
      .map(_.getString(0))
    if (files.isEmpty)
      spark.read.parquet(all.head.getString(0)).limit(0)
    else spark.read.parquet(files.toSeq: _*)
  }

  /** The highest committed batch id — the cursor an incremental
    * consumer persists between [[readChangesSince]] calls.
    */
  def latestBatchId(spark: SparkSession, manifestDir: String): Long =
    readManifest(spark, manifestDir).getOrElse(
        throw new IllegalStateException(s"no manifest at $manifestDir — nothing committed"))
      .agg(max(col("batch_id"))).head.getLong(0)

  /** Start the streaming sink: every micro-batch lands in `dir` with
    * its manifest entries committed in the same appendBatch call.
    */
  def sink(
      stream: DataFrame,
      dir: String,
      manifestDir: String,
      cols: Seq[String],
      bloomCols: Seq[String],
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, dir, manifestDir, cols, bloomCols, batchId)
      }
      .start()
}
