package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Streaming sketch maintenance — the incremental half of the
  * [[Sketches]] lifecycle: each micro-batch aggregates into ONE HLL
  * partial per group (a few KB regardless of batch size) appended to
  * a batch-id-partitioned state table; the serving path union-merges
  * the sketch table and never re-scans history. This is the
  * "distinct users per X, live" dashboard at 100 TB: stream-side
  * cost is one tiny aggregate per batch, serve-side cost is the
  * sketch table's row count (batches × groups), and both ends are
  * exact sketch algebra (merge ≡ direct, pinned in `SketchesSpec`).
  *
  * Exactly-once: partials land under `batch_id=<id>` with dynamic
  * partition overwrite — a replayed micro-batch overwrites its own
  * partition (the same idempotency discipline as [[NearDupGate]] and
  * [[CdcStream]]). Compaction note: a long-lived stream accrues one
  * partition per batch; fold old partitions periodically by
  * re-merging them into a coarser slice ([[Sketches.hllMerge]] output
  * re-written as a single partial — sketch algebra makes the fold
  * lossless), or run [[graft.sources.Compact]] per leaf.
  */
object SketchStream {

  /** One micro-batch step: per-group HLL partials for `batch`,
    * committed idempotently under `stateDir/batch_id=<id>`.
    */
  def appendPartials(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      groupCols: Seq[String],
      valueCol: String,
      lgK: Int = 12): Unit =
    batch.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(stateDir)

  /** Serving path: per-group approx-distinct over ALL committed
    * partials — scans only sketches, never history.
    */
  def serve(spark: SparkSession, stateDir: String, groupCols: Seq[String]): DataFrame =
    Sketches.hllMerge(spark.read.parquet(stateDir), groupCols)

  /** The streaming maintenance query: every micro-batch commits its
    * group partials through [[appendPartials]].
    */
  def stream(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
      groupCols: Seq[String],
      valueCol: String,
      lgK: Int = 12): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendPartials(b, id, stateDir, groupCols, valueCol, lgK)
      }
      .start()

  // ---- Portable-register variant ----
  //
  // Same lifecycle over [[Sketches.hllPortableRegisters]]: per-batch
  // register tables accumulate batch-id-partitioned; serving is one
  // element-wise max-merge. Because merge ≡ union build EXACTLY and
  // the registers are engine-portable integers, the streamed end
  // state equals the one-shot batch registers bit-for-bit — which is
  // what lets the streaming replay share the batch query's ORACLE
  // (`q_stream_hll_registers` vs `q_hll_registers`: same SQL).

  /** One micro-batch step: per-group register rows for `batch`,
    * committed idempotently under `stateDir/batch_id=<id>`. */
  def appendPortable(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      groupCols: Seq[String],
      key: org.apache.spark.sql.Column,
      p: Int = 12): Unit = {
    // batch_id is the partition column stamped below — a group column
    // of that name would be silently overwritten (BudgetGate's guard).
    require(!groupCols.exists(Set("batch_id", "bucket", "register")),
      "SketchStream: groupCols must not contain batch_id/bucket/register")
    Sketches.hllPortableRegisters(batch, groupCols, key, p)
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(stateDir)
  }

  /** Serving path: merged registers over all committed batches —
    * ≡ building over the full history (exact max algebra). */
  def servePortable(
      spark: SparkSession,
      stateDir: String,
      groupCols: Seq[String]): DataFrame =
    Sketches.hllPortableMerge(
      spark.read.parquet(stateDir)
        .select((groupCols.map(col) :+ col("bucket") :+ col("register")): _*),
      groupCols)
}
