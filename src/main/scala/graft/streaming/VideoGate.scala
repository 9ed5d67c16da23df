package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

/** Streaming VIDEO near-dup gate — the fifth modality through the
  * shared gate core ([[SigGate]]): first-wins dedup of a video stream
  * by shared-scene similarity, with the same table-backed state,
  * batch-ordered semantics, and idempotent batch-id partitioning as
  * [[NearDupGate]] (text MinHash) and [[Hamming64Gate]] (SimHash /
  * image / audio / embedding signatures).
  *
  * Signature scheme: each video's sampled-frame energy multiset
  * ([[Multimodal.videoFrameEnergies]] — exact integer Σ byte² per
  * every-Nth slice) IS the element set, and the gate minhashes it
  * directly: energies are < frameBytes·255² < 2³¹−1, already inside
  * the mod-p hash domain, so the SAME lane coefficients, banding, and
  * estimated-Jaccard verification as the text gate apply unchanged —
  * and the SAME oracle chain replays them
  * ([[Dedup.minhashPairsFromHsDuckCtes]] over closed-form pattern
  * energies). Estimated Jaccard is the minhash estimate of the exact
  * frame-set Jaccard [[Multimodal.videoNearDup]] computes in batch —
  * the standard LSH trade (a pair near the threshold can land on
  * either side of it; the decision is deterministic given the lane
  * constants, and the oracle reproduces it bit-for-bit).
  */
object VideoGate {

  /** One micro-batch step — [[NearDupGate.acceptBatch]]'s video twin:
    * returns the accepted subset of `batch` and commits banded
    * signatures to `stateDir/batch_id=<id>`. State is shared-schema
    * with the text gate (`doc_id, sig, band, bucket, keeper,
    * batch_id`), read through [[NearDupGate.readState]].
    */
  def acceptBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      bytesCol: String,
      stateDir: String,
      headerBytes: Int = 8,
      frameBytes: Int = 32,
      everyN: Int = 2,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      exact: Boolean = false,
      starIntra: Boolean = false,
      autoStarPairsCap: Long = SigGate.defaultAutoStarPairsCap): DataFrame = {
    require(n % bands == 0, s"signature length $n must divide into $bands bands")
    // The minhash-of-energies scheme is only sound while every frame
    // energy stays inside the mod-p hash domain (lane coefficients and
    // the oracle replay both assume it, and a·h must not overflow
    // Long): Σ byte² over one frame is < frameBytes·255², so bound the
    // frame size rather than trust the scaladoc claim.
    require(frameBytes.toLong * 255L * 255L < graft.functions.ShingleHashModExpr.P,
      s"frameBytes=$frameBytes can produce frame energies >= 2^31-1, " +
        "outside the minhash lane domain — use smaller slices")
    val energies = Multimodal.withFrameEnergies(
      batch.select(col(idCol), col(bytesCol)), bytesCol,
      headerBytes, frameBytes, everyN)
    fromEnergies(batch, batchId, idCol, energies, stateDir, n, bands,
      threshold, exact, starIntra, autoStarPairsCap)
  }

  /** [[acceptBatch]] over REAL MJPEG-in-AVI payloads (round 12): the
    * frame element set is [[Multimodal.withAviFrameEnergies]] —
    * RIFF-walk demux + per-frame `javax.imageio` decode — instead of
    * the fixed-slice pattern envelope; everything from the minhash
    * signature on is the shared path. Decoded energies are bounded
    * by pixelCount·255², which no static `require` can check (frame
    * dimensions live inside the payload), so the hash-domain guard
    * runs IN PLAN per element — a frame too large for the mod-p
    * domain fails the batch loudly instead of silently corrupting
    * the lane algebra.
    */
  def acceptBatchAvi(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      bytesCol: String,
      stateDir: String,
      everyN: Int = 2,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      exact: Boolean = false,
      starIntra: Boolean = false,
      autoStarPairsCap: Long = SigGate.defaultAutoStarPairsCap): DataFrame = {
    require(n % bands == 0, s"signature length $n must divide into $bands bands")
    val p = graft.functions.ShingleHashModExpr.P
    val energies = Multimodal.withAviFrameEnergies(
        batch.select(col(idCol), col(bytesCol)), bytesCol, everyN)
      .withColumn("frames", transform(col("frames"), e =>
        when(e < lit(p), e).otherwise(raise_error(concat(
          lit("VideoGate.acceptBatchAvi: decoded frame energy "), e,
          lit(s" >= 2^31-1 — frame too large for the minhash lane domain"))))))
    fromEnergies(batch, batchId, idCol, energies, stateDir, n, bands,
      threshold, exact, starIntra, autoStarPairsCap)
  }

  /** The shared gate core over any `(idCol, frames array<long>)`
    * energy frame: minhash signature → banding → state match →
    * [[SigGate.acceptBatch]].
    */
  private def fromEnergies(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      energies: DataFrame,
      stateDir: String,
      n: Int,
      bands: Int,
      threshold: Double,
      exact: Boolean,
      starIntra: Boolean,
      autoStarPairsCap: Long): DataFrame = {
    val rows = n / bands
    // Payloads too short for one frame still need a signature (the
    // state schema is fixed): the empty element set signs as [0],
    // mirroring the text chain's zero-token case.
    val hs = when(size(col("frames")) === 0, array(lit(0L)))
      .otherwise(col("frames"))
    // star decision via the zero-extra-job F2 probe riding the
    // compact-signature materialization (Dedup.sigsWithStarDecisionCut);
    // the banded frame the STATE match needs re-bands post-cut, while
    // intra-batch candidates pair/verify straight off the cut (r18 —
    // no full re-band just to filter 15/16 of it for the verify feed)
    val (cut, starNow, probe) = Dedup.sigsWithStarDecisionCutEst(
      energies
        .select(col(idCol).as("doc_id"),
          graft.functions.HashExprs.minhashSig(hs, n).as("sig")),
      bands, rows, starIntra, autoStarPairsCap)
    val sigs = Dedup.bandExplode(cut, bands, rows)
    val state = NearDupGate.bandState(
      NearDupGate.readState(batch.sparkSession, stateDir)
        .filter(col("batch_id") < batchId),
      bands, rows)
    SigGate.acceptBatch(
      batch, batchId, idCol,
      bandedSigs = sigs,
      state = state,
      matchCond =
        col("a.band") === col("s.band") &&
        col("a.bucket") === col("s.bucket") &&
        Dedup.estJaccard(col("a.sig"), col("s.sig"), n) >= threshold,
      intraPairs =
        if (starNow) Dedup.starCandidatesFromCompact(cut, bands, rows, n, threshold)
        else Dedup.candidatesFromCompact(cut, bands, rows, n, threshold),
      stateDir = stateDir,
      exact = exact,
      probe = probe,
      compact = Some(cut),
      driverVerify = Some(Dedup.estJaccardPassDriver(n, threshold)),
      starPairs = starNow,
      // sig-once-per-doc collect for the driver fast path — see
      // NearDupGate.acceptBatch
      compactBanded = Some(cut.select(col("doc_id"), col("sig"),
        Dedup.lshBands(col("sig"), bands, rows).as("__bb"))))
  }
}
