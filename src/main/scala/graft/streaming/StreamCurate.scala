package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** Streaming twin of the composed curation pipeline
  * ([[graft.operators.Curation.curate]]): each micro-batch runs
  *
  *   1. quality gate  — [[TextAnalysis.qualityGate]], stateless
  *      map-only pass (identical rule to the batch stage);
  *   2. near-dup gate — [[NearDupGate.acceptBatch]] against the
  *      accumulated signature state (banded equi-joins; state ∝ kept
  *      corpus in the default mode);
  *   3. token budget  — [[BudgetGate.acceptBatch]] against the
  *      accumulated per-language spend;
  *   4. split         — [[TextAnalysis.splitBucket]] id-hash
  *      train/valid tag, stateless. Plain id hashing is leakage-safe
  *      here for the same reason as in batch: stage 2 already removed
  *      near-duplicates, so no duplicate pair can straddle the cut
  *      (modulo the documented batch-boundary truncation of the
  *      default near-dup state mode).
  *
  * Composition preserves each stage's exactness: the whole stream is
  * deterministic given batch contents + prior state, so the driver
  * oracle replays the stage twins per parity batch
  * (`q_stream_curate` = quality-gated universe → [[graft.operators
  * .Dedup.gateReplayDuckCtes]] → the `q_stream_token_budget` window
  * pair → the split CASE).
  *
  * Scale shape: every stage keeps its batch sibling's discipline —
  * no stage introduces a per-batch collect, global sort, or
  * unblocked self-join; both state tables are idempotent
  * dynamic-partition-overwrite writes keyed by `batch_id`
  * (exactly-once under micro-batch replay).
  */
object StreamCurate {

  /** One micro-batch of the composed pipeline. Returns the surviving
    * rows as `(idCol, langCol, n_tokens, split)`; commits near-dup
    * signatures and per-language token spend to their state dirs.
    * Deterministic given batch + prior state; idempotent per
    * `batchId` (both state writes overwrite their own partition).
    */
  def curateBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      langCol: String,
      ndStateDir: String,
      budgetStateDir: String,
      budgetPerLang: Long,
      validPct: Int = 10,
      exact: Boolean = false): DataFrame = {
    require(validPct >= 1 && validPct <= 99,
      "StreamCurate: validPct must be in [1, 99]")
    val gated = TextAnalysis.qualityKeep(batch, textCol) // map-only, no join-back (r19)
    def named(stage: String)(body: => DataFrame): DataFrame =
      StreamOps.withCallSite(batch.sparkSession, s"curate $stage (batch $batchId)")(body)
    val kept = named("near-dup gate")(
      NearDupGate.acceptBatch(gated, batchId, idCol, textCol, ndStateDir, exact = exact))
    val withTokens = kept.select(col(idCol), col(langCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    named("budget gate")(
      BudgetGate.acceptBatch(withTokens, batchId, langCol, idCol, "n_tokens",
        budgetStateDir, budgetPerLang))
      .withColumn("split",
        when(TextAnalysis.splitBucket(col(idCol)) < lit(100 - validPct),
          lit("train")).otherwise(lit("valid")))
  }

  /** The driven stream: surviving docs land in
    * `acceptedDir/batch_id=<id>` (idempotent overwrite — the
    * foreachBatch sink contract), state accumulates under the two
    * state dirs.
    */
  def gate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      ndStateDir: String,
      budgetStateDir: String,
      acceptedDir: String,
      checkpointDir: String,
      budgetPerLang: Long,
      validPct: Int = 10,
      exact: Boolean = false): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // batch-scoped cut release (near-dup sig/resolution + budget
        // window cuts made inside curateBatch) — see NearDupGate.gate
        graft.operators.Materialize.batchScope(
          curateBatch(b, id, idCol, textCol, langCol, ndStateDir,
            budgetStateDir, budgetPerLang, validPct, exact)) { out =>
          StreamOps.withCallSite(b.sparkSession, s"curate accepted write (batch $id)") {
            out.withColumn("batch_id", lit(id))
              .write.partitionBy("batch_id")
              .option("partitionOverwriteMode", "dynamic")
              .mode("overwrite").parquet(acceptedDir)
          }
        }
        ()
      }
      .start()
}
