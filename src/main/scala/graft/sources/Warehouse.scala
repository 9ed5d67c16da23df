package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warehouse sinks and table lifecycle (SURVEY.md §2 S8–S10).
  *
  * The reference's warehouse is SQLite with per-message single-row
  * inserts (`DataIngesting.py:48-64`); the engine's is partitioned
  * parquet with batched appends — same contents, scale-sane writes.
  * A streaming append's surrogate `id` ([[Warehouse.withSurrogateId]])
  * is unique across appends but NOT densely sequential — the
  * documented semantic difference from SQLite AUTOINCREMENT.
  */
object Warehouse {

  /** S8 — DDL lifecycle: `DROP TABLE IF EXISTS` + `CREATE TABLE` ≡
    * overwrite; the append path is the steady-state ingest.
    */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").option("compression", "zstd").parquet(path)

  /** Bucketed managed table: pre-hash-partitioned (and optionally
    * sorted) on the join/group key, so repeated joins and
    * aggregations on that key run with NO exchange — each bucket
    * pair joins co-located. This is the steady-state layout for fact
    * tables that join on the same key query after query (prices on
    * stationcode, lineitem on orderkey): pay the shuffle once at
    * write time, never again at read time.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val s = df.sparkSession
    // Overwrite must survive a catalog/warehouse split: with an
    // in-memory catalog, a managed location left by a PREVIOUS JVM is
    // unknown to this session's catalog, so saveAsTable plans a
    // CREATE and dies with LOCATION_ALREADY_EXISTS. Drop the table
    // (removes location too when the catalog knows it), then sweep
    // any orphaned location.
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Attach the surrogate id column to micro-batch `batchId` of a
    * streaming append. The batch becomes ONE partition — one task and
    * one file per append, so callers bound their batches — and its
    * row `r` gets id `batchId · 2^33 + r`. Each batch owns its own id
    * range, so ids are unique across appends (a bare
    * `monotonically_increasing_id` restarts at 0 in every batch), and
    * a replayed batch gets the same ids as long as its rows come in
    * the same order. Not dense — the documented difference from
    * SQLite AUTOINCREMENT that [[withDenseId]] closes, at the price
    * of a shuffle.
    */
  def withSurrogateId(df: DataFrame, batchId: Long): DataFrame = {
    require(batchId >= 0 && batchId < (1L << 30), s"withSurrogateId: batch id $batchId out of range")
    df.coalesce(1).withColumn("id", lit(batchId << 33) + monotonically_increasing_id())
  }

  /** DENSE surrogate ids `startAt .. startAt+N-1` under a declared
    * order — true SQLite/`AUTOINCREMENT` parity
    * (`DataIngesting.py:22,37`), where [[withSurrogateId]] only
    * promises uniqueness. Equivalent to
    * `row_number() OVER (ORDER BY order)` but NEVER plans the
    * single-partition global window that formulation forces (at
    * 100 TB that is one task sorting the corpus): the
    * [[graft.operators.Packing]] prefix-sum discipline instead —
    *
    *  1. range-repartition + sort by the declared order (the one
    *     real shuffle; Spark's range partitioner is deterministic),
    *  2. `monotonically_increasing_id` marks each row's PARTITION
    *     (upper bits) and its position IN ITERATION ORDER within it
    *     (lower 33 bits) — after the sort, that position IS the
    *     row's per-partition rank, for free, no window,
    *  3. per-partition row counts (map-side partial aggregate,
    *     O(partitions) rows to the driver) prefix-sum into exclusive
    *     base offsets, broadcast back, `id = start + offset + rank`.
    *
    * The input is materialized once so pass 2 and 3 see the same
    * partitioning. Ids are deterministic when `order` is a total
    * order; rows tied on every order column get arbitrary (still
    * dense, still unique) ids within the tie.
    */
  def withDenseId(
      df: DataFrame,
      idCol: String,
      order: Seq[org.apache.spark.sql.Column],
      startAt: Long = 1L,
      partitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "withDenseId: need at least one order column")
    require(!df.columns.contains(idCol),
      s"withDenseId: input already has a column named $idCol")
    val spark = df.sparkSession
    val nb =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val localMask = (1L << 33) - 1 // mid layout: (pid << 33) | local rank
    val sorted = graft.operators.Materialize(
      df.repartitionByRange(nb, order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("__mid", monotonically_increasing_id()))
    // Exclusive prefix offsets over per-partition counts, in partition
    // order; partitions emptied by the range split simply don't appear
    // (they contribute 0 rows).
    val perPid = sorted
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__c"),
        max(col("__mid").bitwiseAND(lit(localMask))).as("__mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // monotonically_increasing_id holds the in-partition counter in
    // the low 33 bits; a partition beyond 2^33 rows bleeds its
    // overflow rows into the NEXT pid's bit range — and the bled
    // group's own count stops at exactly 2^33, so a plain count
    // ceiling can't see it. Two checks that can: (1) within each
    // observed pid, ranks must be the dense range [0, count) — i.e.
    // max(rank) + 1 == count; a bleed or collision breaks the
    // equality in the receiving pid; (2) every observed pid must be a
    // real partition (< nb) — catches the LAST partition bleeding,
    // which has no receiving group to trip check 1. Fail loudly
    // (raise `partitions` to shrink partitions long before 2^33).
    perPid.foreach { case (p, c, mx) =>
      if (p >= nb)
        throw new IllegalStateException(
          s"withDenseId: observed partition id $p beyond the $nb real " +
            "partitions — a partition overflowed the 33-bit row counter; raise `partitions`")
      if (c != mx + 1)
        throw new IllegalStateException(
          s"withDenseId: partition $p has $c rows but max local rank $mx " +
            "— 33-bit counter bleed or id collision; raise `partitions`")
    }
    val counts = perPid.map { case (p, c, _) => (p, c) }
    val offsets = counts
      .scanLeft((0L, 0L)) { case ((_, acc), (p, c)) => (p, acc + c) }
      .init // scanLeft emits the seed plus one entry per partition
      .zip(counts)
      .map { case ((_, off), (p, _)) => PidOffset(p, off) }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq)
      .select(col("pid").as("__opid"), col("off").as("__ooff"))
    sorted
      .join(broadcast(offDf), shiftright(col("__mid"), 33) === col("__opid"))
      .withColumn(idCol,
        lit(startAt) + col("__ooff") + col("__mid").bitwiseAND(lit(localMask)))
      .select(col(idCol) +: df.columns.map(col): _*) // id first, like the DDL
  }

  /** CSV ingest with DEAD-LETTER routing — the file-drop sibling of
    * the reference's per-row presence/null rejection
    * (`DataCleaning.py:64-117`, P2/P3): PERMISSIVE parse keeps every
    * line, malformed ones (wrong arity, uncastable cells) land whole
    * in a corrupt-record column, and the split returns
    * `(clean rows, rejected raw lines)` — nothing is silently
    * dropped, the dead-letter side stays replayable. The frame is
    * materialized once before splitting: Spark refuses plans that
    * filter ONLY on the corrupt column of a live CSV scan (the parser
    * would need to re-run per filter), and one cut serves both
    * halves anyway.
    */
  def readCsvWithRejects(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "readCsvWithRejects: schema must not already contain _corrupt_record")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val raw = graft.operators.Materialize(spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(path))
    val clean = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val rejects = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, rejects)
  }

  /** S10 — content-based router: the reference dispatches each
    * message by key presence (`'code' in data`,
    * `DataIngesting.py:55-64`). Set-oriented form: filtered
    * projections of one mixed frame — no per-record branching.
    * Records carrying NEITHER routing key are parseable but
    * unroutable; they go to the third frame (dead letters), not
    * silently to the floor — the reference would insert them as an
    * all-null price row (§2.10-adjacent looseness this engine
    * rejects).
    */
  def route(mixed: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val stations = mixed.filter(col("code").isNotNull)
    val prices = mixed.filter(col("code").isNull && col("stationcode").isNotNull)
    val unroutable = mixed.filter(col("code").isNull && col("stationcode").isNull)
    (stations, prices, unroutable)
  }

  /** Streaming ingest: one `foreachBatch` writing both routed halves
    * plus the unroutable dead letters — three sinks, ONE source pass
    * per micro-batch (the batch is pinned before the three filtered
    * writes so the mixed-topic scan runs once, not per sink; S9's
    * streaming form with real batching instead of row-at-a-time
    * inserts).
    */
  def routedSink(stationsPath: String, pricesPath: String,
      deadPath: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val pinned = batch.persist()
    try {
      val (stations, prices, unroutable) = route(pinned)
      append(stations.drop("stationcode", "fueltype", "price", "lastupdated"),
        stationsPath)
      append(prices.drop("brandid", "stationid", "brand", "code", "name",
        "address", "location_latitude", "location_longitude"), pricesPath)
      deadPath.foreach { p =>
        append(unroutable.withColumn("_reject_reason", lit("no routing key")), p)
      }
    } finally { pinned.unpersist(); () }
  }

  /** A warehouse table read with its declared schema: no parquet
    * schema inference, so building the frame runs no Spark job.
    */
  def readTable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  // ---- JDBC parity (SURVEY §1.4; reference S9, DataIngesting.py:48-52) ----
  //
  // The reference ingests into SQLite over a JDBC-shaped API with one
  // INSERT per message. The engine's JDBC sink keeps the contract
  // (same rows land in the same relational table) but writes
  // set-oriented: each partition opens ONE connection and streams
  // `batchsize`-row batched inserts — at 100 TB the knobs that matter
  // are `numPartitions` (concurrent connections; cap it or a
  // 1000-executor write becomes a connection storm against one
  // database) and `batchsize` (rows per round-trip).

  private def jdbcProps(driver: Option[String]): java.util.Properties = {
    val p = new java.util.Properties()
    driver.foreach(p.setProperty("driver", _))
    p
  }

  /** S9 steady-state ingest into a relational table. `maxConnections`
    * REPARTITIONS (one shuffle) so at most that many concurrent
    * connections hit the database regardless of cluster size.
    * Repartition, not coalesce: coalesce propagates as a narrow
    * dependency and would collapse the ENTIRE upstream computation —
    * scan, transforms and all — to `maxConnections` tasks; the
    * shuffle is the price of keeping upstream parallelism while
    * bottlenecking only the write.
    */
  def appendJdbc(
      df: DataFrame,
      url: String,
      table: String,
      driver: Option[String] = None,
      maxConnections: Int = 8,
      batchSize: Int = 1000): Unit =
    df.repartition(maxConnections)
      .write.mode("append")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, jdbcProps(driver))

  /** S8 DDL lifecycle over JDBC: DROP + CREATE + load ≡ overwrite.
    * Repartition rather than coalesce — see [[appendJdbc]].
    */
  def overwriteJdbc(
      df: DataFrame,
      url: String,
      table: String,
      driver: Option[String] = None,
      maxConnections: Int = 8,
      batchSize: Int = 1000): Unit =
    df.repartition(maxConnections)
      .write.mode("overwrite")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, jdbcProps(driver))

  /** JDBC read-back. With a numeric `partitionCol` + bounds the scan
    * splits into `numPartitions` range predicates executed in
    * parallel (the distributed-read shape); without, it is a single
    * connection — fine for dimensions, wrong for facts.
    */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      driver: Option[String] = None,
      partitionCol: Option[String] = None,
      lowerBound: Long = 0L,
      upperBound: Long = Long.MaxValue,
      numPartitions: Int = 8): DataFrame =
    partitionCol match {
      case Some(c) =>
        spark.read.jdbc(url, table, c, lowerBound, upperBound, numPartitions,
          jdbcProps(driver))
      case None =>
        spark.read.jdbc(url, table, jdbcProps(driver))
    }
}

/** Per-partition exclusive prefix offset for [[Warehouse.withDenseId]]. */
final case class PidOffset(pid: Long, off: Long)
