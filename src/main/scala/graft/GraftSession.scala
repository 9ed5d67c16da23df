package graft

import org.apache.spark.sql.SparkSession

/** Canonical session config for every entry point (Verify, Bench,
  * tests). Keeps the contract in one place:
  *
  *  - UTC session time zone — the corpus timestamps are naive
  *    (parquet isAdjustedToUTC=false), and the reference's day-first
  *    `dd/MM/yyyy` format is TZ-hostile (SURVEY §1.2).
  *  - `legacy.parquet.nanosAsLong` — `events.ts` is INT64
  *    TIMESTAMP(NANOS); Spark has no nanosecond timestamp type, so it
  *    is read as a long and truncated to microseconds in
  *    [[Tables.events]].
  *  - shuffle partitions sized to the local core count (not 200) and
  *    AQE on, so local plans mirror what a sized cluster would run.
  *  - file listing stays on the driver: a read or a file-stream batch
  *    over many paths lists them with `stat`s, never with a Spark job
  *    of one task per path.
  *  - local file modes set in-process: `file:` is
  *    [[graft.sources.InProcessLocalFileSystem]], so a local `create`
  *    or `mkdirs` (checkpoint entries, state deltas, parquet appends)
  *    never forks `chmod`.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // Streaming checkpoint metadata through the FileSystem-based
      // manager instead of the FileContext default: both are
      // rename-atomic on a LOCAL filesystem (this session is
      // local-only by construction), and the FileContext path pays
      // ~25-30 ms of per-op setup that the FileSystem path doesn't —
      // measured 33→8 ms walCommit / 38→8 ms commitOffsets /
      // 34→12 ms source latestOffset per micro-batch (round 13), i.e.
      // ~0.1 s per trigger cycle of pure harness. Part of what was
      // left was a forked `chmod` (5.5-7.4 ms each) for every entry
      // and for its `.crc`; `fs.file.impl` below sets modes in-process,
      // and only a FileSystem-based manager sees it: FileContext's
      // `LocalFs` builds its own `LocalFileSystem` and never reads
      // `fs.file.impl`, so it would keep forking. A deployment whose
      // checkpoints live on an object store or HDFS should NOT
      // inherit this: rename-overwrite semantics differ there, which
      // is exactly why Spark defaults to FileContext.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      // File listing on the driver, however many paths: above this
      // threshold (default 32) `InMemoryFileIndex` lists them with a
      // Spark job of one task per path. This session is local-only by
      // construction, so each task does what one `stat` on the driver
      // does in a fraction of a millisecond. On a 4-vCPU VM a
      // file-stream batch of ~1,590 one-message landing files spent
      // 4.5-6.9 s in that job (`getBatch`), against 0.10-0.27 s
      // listing on the driver. Session-wide, since every streaming
      // query runs on a clone of this conf; a read of one root
      // directory already lists on the driver. A deployment whose
      // tables span thousands of object-store directories should NOT
      // inherit this: there the listing job spreads slow remote calls
      // over the executors, which is why Spark defaults to it.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      // Local file modes in-process, not by a forked `chmod` per local
      // `create` and `mkdirs` (see the class): an untraced
      // `live_trickle` JVM started 1,853 processes, 1,843 of them
      // `chmod`, and 5 with this. FileSystem instances are cached per
      // scheme and user, not per conf, so this holds only if nothing
      // in the JVM fetched a `file:` FileSystem before the session.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.InProcessLocalFileSystem].getName)

  // Default to the REAL core count: the old fallback of 4 silently
  // undersized any run that forgot SPARK_GRAFT_CPUS — the exact trap
  // BASELINE.md documents (local[4] manufactured a fake +1.29
  // exponent in round 10, and again inflated round-11's first 100×
  // probes 3-5× before being caught). The driver exports
  // SPARK_GRAFT_CPUS=32 explicitly; now an env-less local run matches
  // it instead of quietly starving.
  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
