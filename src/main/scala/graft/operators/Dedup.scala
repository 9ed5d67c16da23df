package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Det

/** Deduplication operators for training-data pipelines, from exact to
  * approximate. The scale discipline throughout: never compare all
  * pairs — hash/bucket first so candidate generation is an equi-join
  * Catalyst can shuffle-partition (or broadcast), then verify only
  * candidates.
  *
  *  - exact: hash group-by — one shuffle of (hash, id), map-side
  *    partial aggregation.
  *  - MinHash + LSH: shingle → signature → band buckets → equi-join.
  *  - SimHash: 64-bit near-dup signature, bucket by band.
  *  - n-gram Jaccard: exact verification on candidate pairs.
  *  - embedding cosine: see [[Similarity]].
  */
object Dedup {

  /** Exact dedup: group identical content by md5. Returns one row per
    * distinct content with the group size and the kept (minimum) id.
    * At 100 TB this shuffles only `(16-byte hash, id)` pairs, never
    * the documents themselves.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("canonical_id"))

  /** MinHash signature: `n` permutations `(a_i·h + b_i) mod p` over
    * mod-p shingle hashes, min per permutation, p = 2^31-1.
    * Deterministic constants from a splitmix-style recurrence (no RNG
    * at plan time). The permutation loop runs in the native
    * [[graft.functions.MinHashSigExpr]]: the composed
    * `transform`/`array_min` form made Catalyst re-inline the whole
    * shingle+hash subtree into each of the `n` branches (654 s at
    * sf0.1); the expression takes the hash array once and loops —
    * same math, same results. Per-row cost O(n·|shingles|), no
    * shuffle.
    *
    * Engine-portable end-to-end (round 9): token hashes are
    * [[TextAnalysis.tokenHashP]] (md5-derived, mod p) and the shingle
    * combine is the 31-bit modular [[graft.functions
    * .ShingleHashModExpr]], so every signature lane is exact integer
    * arithmetic a DuckDB oracle replays bit-for-bit
    * ([[minhashCandDuckCtes]]) — which is what flips the whole
    * minhash dedup chain from rows-only to hash-exact. The md5 swap
    * costs ~100 ns/token over xxhash64 — noise against the
    * O(n·|shingles|) lane loop that dominates the signature pass.
    *
    * Round 17 (the 5M probe said the dedup decade lives in THIS map
    * pass — 136 s of 254): tokenize+hash runs in the fused native
    * [[graft.functions.TokenHashesExpr]] — the composed
    * `transform(tokens, tokenHashP)` pays interpreted HOF dispatch
    * (higher-order functions are CodegenFallback) plus a hex-string
    * materialization and base-16 parse PER TOKEN; the fused pass is
    * one byte scan with one digest update per token. Bit-identical
    * (spec-pinned parity), so every oracle is untouched.
    */
  def minhashSignature(text: Column, k: Int, n: Int): Column =
    graft.functions.HashExprs.minhashSig(
      graft.functions.HashExprs.shingleHashesModP(
        graft.functions.HashExprs.tokenHashesP(text), k), n)

  /** Deterministic odd multipliers/offsets (splitmix64 on a fixed
    * seed, reduced mod p; `a` forced odd so it's invertible). The odd
    * force can land exactly on p (raw draw p-1 → `|1` = p ≡ 0 mod p —
    * a DEGENERATE lane whose signature would be the constant b): such
    * a draw is skipped and redrawn (r17 advice). No lane among the
    * first 4096 hits it, so the guard changes nothing for any n in
    * use — it exists so a future n can't silently ship a dead lane.
    */
  private[graft] def minhashCoefs(n: Int): Seq[(Long, Long)] = {
    val p = 2147483647L
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      java.lang.Math.floorMod(z, p)
    }
    def nextOdd(): Long = {
      val a = next() | 1L
      if (a == p) nextOdd() else a
    }
    Seq.fill(n)((nextOdd(), next()))
  }

  /** LSH band keys from a minhash signature: `bands` hashes, each
    * over `rows = n/bands` consecutive signature entries. Docs
    * sharing any band key are near-dup candidates. Bucket =
    * `xxhash64` of the band's lanes joined as a comma-separated
    * decimal string — since round 17 computed by the native
    * [[graft.functions.LshBandsExpr]] (the composed
    * `transform(sequence, b => xxhash64(concat_ws(",", slice…)))`
    * chain paid interpreted HOF dispatch plus 5 string allocations
    * per band per row, TWICE per doc on the compact-cut path: once
    * in the F2 probe fold and once in the post-cut re-banding);
    * values bit-identical, parity spec-pinned.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    graft.functions.HashExprs.lshBands(sig, bands, rows)

  /** Candidate near-dup pairs via MinHash LSH, verified with the
    * signature-estimated Jaccard. The explode produces `bands` rows
    * per doc of only `(band, bucket, id, signature)` — the join that
    * follows is an equi-join on (band, bucket), so Catalyst
    * hash-partitions buckets across the cluster; no cross product
    * ever materializes. `estJaccard` = fraction of agreeing minhashes.
    */
  def minhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(n % bands == 0, s"signature length $n must divide into $bands bands")
    candidatesFromCompact(
      Materialize(compactSigsPlan(docs, idCol, textCol, k, n)),
      bands, n / bands, n, threshold)
  }

  /** Banded MinHash signatures — `bands` rows per doc of
    * `(doc_id, sig, band, bucket)`; the shared first pass of
    * [[minhashCandidates]] and the incremental/streaming gate
    * ([[graft.streaming.NearDupGate]]).
    *
    * Materialized ONCE: every consumer joins this frame against
    * itself or state, and referencing the same DataFrame twice
    * re-instantiates the whole signature subtree per side (the scan
    * + shingle + minhash pass would run 2× — val sharing does not
    * dedupe plans). The cut is |docs|×bands compact rows; strategy
    * (and the executor-loss trade-off) in [[Materialize]].
    */
  def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16): DataFrame =
    Materialize(bandedSigsPlan(docs, idCol, textCol, k, n, bands))

  /** The UN-materialized banded-signature plan of [[bandedSignatures]]
    * — factored so [[sigsWithStarDecision]] can attach the occupancy
    * probe BEFORE the materialization cut.
    */
  /** The compact `(doc_id, sig)` plan — what the round-15 compact
    * materialization cuts; [[bandedSigsPlan]] is its band explode.
    */
  private[graft] def compactSigsPlan(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      n: Int = 64): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      minhashSignature(col(textCol), k, n).as("sig"))

  private[graft] def bandedSigsPlan(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16): DataFrame = {
    require(n % bands == 0, s"signature length $n must divide into $bands bands")
    bandExplode(compactSigsPlan(docs, idCol, textCol, k, n), bands, n / bands)
  }

  /** Signature-estimated Jaccard: fraction of agreeing minhash lanes. */
  private[graft] def estJaccard(a: Column, b: Column, n: Int): Column =
    round(
      size(filter(zip_with(a, b, (x, y) => x === y), x => x))
        .cast("double") / n, 4)

  /** Driver replica of the [[estJaccard]] ≥ threshold verification
    * over two COLLECTED signature arrays — bit-identical to the
    * Column form: the lane-match fraction m/n is binary-exact for
    * power-of-two n, and Spark's `round(double, 4)` evaluates as
    * `BigDecimal.valueOf(x).setScale(4, HALF_UP).doubleValue`,
    * replayed here verbatim (parity pinned over the full m ∈ [0, n]
    * lattice in SigGateDriverResolveSpec). Feeds the streaming gates'
    * driver-resolve fast path.
    */
  private[graft] def estJaccardPassDriver(
      n: Int, threshold: Double): (Any, Any) => Boolean = (a, b) => {
    val sa = a.asInstanceOf[scala.collection.Seq[Any]]
    val sb = b.asInstanceOf[scala.collection.Seq[Any]]
    var m = 0
    var i = 0
    while (i < n) {
      if (sa(i) == sb(i)) m += 1
      i += 1
    }
    java.math.BigDecimal.valueOf(m.toDouble / n)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue >= threshold
  }

  /** Driver replica of [[hamming64]] ≤ maxHamming — trivially
    * bit-identical (`bit_count(a xor b)` IS `Long.bitCount`).
    */
  private[graft] def hamming64PassDriver(
      maxHamming: Int): (Any, Any) => Boolean = (a, b) =>
    java.lang.Long.bitCount(
      a.asInstanceOf[Number].longValue ^
        b.asInstanceOf[Number].longValue) <= maxHamming

  /** One signature row per doc out of a banded frame — the band-0
    * slice (every doc carries exactly one band-0 row, and all of a
    * doc's rows hold the identical sig), so this is a narrow FILTER
    * over the materialized frame, never a 24M-row dropDuplicates
    * shuffle of 520-byte sig payloads. Banded-frame consumers only
    * (the streaming gates, whose state IS banded); the batch path
    * verifies straight off the compact cut ([[verifyPairsCompact]]) —
    * when the banded frame is itself a re-band of a compact cut, this
    * filter pays a full |docs|×bands explode to keep 1/bands of it.
    */
  private def sigPerDoc(sigs: DataFrame): DataFrame =
    sigs.filter(col("band") === 0).select(col("doc_id"), col("sig"))

  /** Attach both sides' signatures to deduped id pairs and verify
    * ONCE per pair — the shared tail of the candidate generators.
    * With a small pair set AQE broadcasts the pairs, so the sig
    * lookups stay map-side; at dup-heavy scale the joins shuffle
    * |docs| sig rows once each, instead of the banded frame's
    * |docs|×bands sig copies.
    */
  private def verifyPairs(
      pairs: DataFrame, sigs: DataFrame, n: Int, threshold: Double): DataFrame =
    verifyPairsCompact(pairs, sigPerDoc(sigs), n, threshold)

  /** [[verifyPairs]] against a compact `(doc_id, sig)` frame —
    * typically the materialized compact cut itself, so the sig
    * lookups read checkpointed rows with NO re-banding pass in front
    * (round 18: the banded-frame form re-derived |docs|×bands rows
    * through [[bandExplode]] and filtered 15/16 of them away).
    */
  private[graft] def verifyPairsCompact(
      pairs: DataFrame, perDoc: DataFrame, n: Int, threshold: Double): DataFrame =
    pairs
      .join(perDoc.select(col("doc_id").as("id_a"), col("sig").as("__sa")),
        Seq("id_a"))
      .join(perDoc.select(col("doc_id").as("id_b"), col("sig").as("__sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("__sa"), col("__sb"), n).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)

  /** LSH bucket self-join over [[bandedSignatures]] output: candidate
    * pairs sharing any (band, bucket), verified by estimated Jaccard.
    * Since round 18 this is the REFERENCE form: every batch entry
    * point routes through [[candidatesFromCompact]] (pairing off the
    * compact cut, no banded re-derivation), and `StarRecallSpec` pins
    * compact ≡ banded pair-set parity so the two stay in lockstep.
    *
    * Pairing runs over the NARROW `(doc_id, band, bucket)` projection
    * and signatures join back AFTER the pair `distinct` (round 15): a
    * pair sharing m bands used to ship both 64-lane sigs and evaluate
    * [[estJaccard]] m times before the distinct — at the
    * 1.5M-doc/300-way-clique probe that was ~13 GB exchanged and 24M
    * verifications where 0.7 GB and 1.5M suffice (the banded frame is
    * |docs|×bands rows of ~540 B each; the slim pairing rows are
    * 28 B). Output is unchanged: est_jaccard is deterministic per
    * pair, so distinct-then-verify ≡ verify-then-distinct.
    */
  private[graft] def candidatesFromBandedSigs(
      sigs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val slim = sigs.select(col("doc_id"), col("band"), col("bucket"))
    val a = slim.as("a")
    val b = slim.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyPairs(pairs, sigs, n, threshold)
  }

  /** Default trip point for the dup-heavy AUTO star switch — shared
    * by the batch keeper-dedup entry points here and the streaming
    * gate family ([[graft.streaming.SigGate]] delegates): ~1M
    * estimated verified pairs. Calibration: the 300×-dupes stress
    * corpus measures ~5.6M verified pairs (323 s of all-pairs
    * verification in the streaming probe), while the sf0.1 oracle
    * corpus sits orders of magnitude below — all-pairs-pinned oracle
    * queries never trip.
    */
  val defaultAutoStarPairsCap: Long = 1L << 20

  /** Estimated all-pairs verification load of a banded-signature
    * frame: Σ over (band, bucket) occupancies k of k·(k−1)/2 — one
    * aggregate over the (already materialized) sigs, collected as a
    * single row. An upper bound on distinct verified pairs (a pair
    * sharing m buckets counts m times): the right direction for a
    * load-shedding trip wire.
    */
  private[graft] def estIntraPairs(sigs: DataFrame): Long = {
    val row = sigs.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1)).as("p"))
      .collect()(0)
    if (row.isNullAt(0)) 0L else row.getLong(0) / 2
  }

  /** The auto-star decision shared by the batch keeper-dedup entry
    * points and the streaming gate family ([[graft.streaming.SigGate
    * .useStar]] delegates here): forced by the caller knob, or
    * tripped by the bucket-occupancy probe past `cap`. Deterministic
    * for given contents. `cap = Long.MaxValue` pins all-pairs
    * semantics AND short-circuits the probe (no estimate runs); a
    * trip is LOGGED so a data-dependent semantics switch is
    * observable in driver logs, never silent.
    */
  private[graft] def useStar(
      sigs: DataFrame, force: Boolean, cap: Long): Boolean =
    useStar(() => estIntraPairs(sigs), force, cap)

  private[graft] def useStar(
      est: () => Long, force: Boolean, cap: Long): Boolean =
    force || (cap != Long.MaxValue && {
      val e = est()
      val trip = e > cap
      if (trip) org.slf4j.LoggerFactory.getLogger("graft.Dedup").warn(
        s"auto-star tripped: estimated intra-bucket pairs $e > cap $cap " +
          "— bucket verification switches to hub-star candidates " +
          "(recall bound: StarRecallSpec / SURVEY §8)")
      trip
    })

  /** AMS/F2 lane count for [[materializeSigsProbed]]: relative std
    * ≈ √(2/lanes) ≈ 25% — ample for a trip wire whose calibration
    * points sit orders of magnitude apart (the sf0.1 oracle corpora
    * estimate ~10³–10⁴ pairs, the cap is 2²⁰, the 300×-dupes stress
    * ~5.6M), and DETERMINISTIC for given data (fixed hash, integer
    * sums), so decisions never flap run to run.
    */
  private[graft] val f2Lanes = 32

  /** Materialize a banded-signature plan with the auto-star
    * occupancy probe riding the SAME job (round 14 — the round-13
    * verdict's zero-pass task; [[estIntraPairs]] was an extra
    * aggregate+collect per micro-batch, ~1.8 s/query at 300×-dupes).
    *
    * Σ k² over (band, bucket) occupancies is the second frequency
    * moment F2 of the bucket-key stream — estimable WITHOUT grouping
    * (observe metrics are global aggregates) by the AMS sketch:
    * per lane i, Sᵢ = Σ_rows ±1 keyed by bit i of
    * xxhash64(band, bucket); E[Sᵢ²] = F2, averaged over [[f2Lanes]]
    * lanes, and estPairs = (F2 − N) / 2. The lane sums attach as
    * CollectMetrics on the frame the materialization cut executes
    * anyway (measured: +0.75 s inside an 8M-row localCheckpoint vs a
    * separate 1.46 s exact job — and, the point, ZERO extra jobs).
    *
    * The estimate thunk reads the plan's observed metrics after the
    * (eager) cut; if the active [[Materialize]] strategy ran its
    * action through a different query execution (persist mode's
    * count runs a fresh planning whose CollectMetrics accumulator is
    * not this plan's), it falls back to the exact [[estIntraPairs]]
    * aggregate over the cut frame — correctness-neutral, one extra
    * job, logged.
    */
  /** The pair-estimate thunk the probed materializations return —
    * still a plain `() => Long` (the estimated intra-bucket pair
    * count) for every existing consumer, but additionally exposing
    * the probe's row-count lane (`bandRows` = banded rows seen =
    * docs × bands) so batch-size-aware consumers (the
    * [[graft.streaming.SigGate]] driver-resolve fast path) can bound
    * a driver collect with ZERO extra jobs. Both reads are metric
    * lookups in `local` Materialize mode; the non-local fallback
    * memoizes so the exact aggregate runs at most once per thunk.
    */
  private[graft] final class SigEst(
      pairsThunk: () => Long, rowsThunk: () => Long) extends (() => Long) {
    private lazy val p = pairsThunk()
    private lazy val r = rowsThunk()
    def apply(): Long = p
    def bandRows(): Long = r
  }

  private[graft] def materializeSigsProbed(
      banded: DataFrame): (DataFrame, SigEst) = {
    val staged = banded.withColumn("__f2h",
      xxhash64(col("band"), col("bucket")))
    val metrics = count(lit(1)).as("n") +: (0 until f2Lanes).map { i =>
      sum(when(shiftright(col("__f2h"), i).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L))).as(s"s$i")
    }
    // name-based observe: a plain CollectMetrics plan node, no
    // Observation listener to leak one-per-micro-batch
    val observed = staged.observe("graft_f2_probe", metrics.head, metrics.tail: _*)
    val cut = Materialize(observed).drop("__f2h")
    def metricRow() = {
      val mm = observed.queryExecution.observedMetrics
      if (mm.isEmpty) None else Some(mm.values.head)
    }
    def fallbackWarn(): Unit =
      org.slf4j.LoggerFactory.getLogger("graft.Dedup").warn(
        "sigs occupancy probe: observed metrics unavailable for this " +
          "materialization strategy — falling back to the exact aggregate")
    val est = new SigEst(
      () => metricRow() match {
        case None =>
          fallbackWarn()
          estIntraPairs(cut)
        case Some(row) =>
          val n = row.getAs[Long]("n")
          if (n == 0L) 0L
          else {
            val f2 = (0 until f2Lanes).map { i =>
              val s = row.getAs[Long](s"s$i"); s.toDouble * s
            }.sum / f2Lanes
            math.max(0L, ((f2 - n) / 2).toLong)
          }
      },
      () => metricRow() match {
        case None => cut.count() // non-local modes: one exact job
        case Some(row) => row.getAs[Long]("n")
      })
    (cut, est)
  }

  /** Materialize banded signatures AND make the star decision with
    * zero extra jobs: when the decision is already pinned (forced
    * star, or `cap = Long.MaxValue` all-pairs) the plain cut runs
    * with NO probe attached; otherwise the F2 probe rides the
    * materialization and [[useStar]] consumes its estimate. Returns
    * `(materialized sigs, use star candidates)`.
    */
  private[graft] def sigsWithStarDecision(
      plan: DataFrame, force: Boolean, cap: Long): (DataFrame, Boolean) =
    if (force || cap == Long.MaxValue) (Materialize(plan), force)
    else {
      val (sigs, est) = materializeSigsProbed(plan)
      (sigs, useStar(est, force = false, cap))
    }

  /** Band-explode a compact `(doc_id, sig)` frame into the
    * `(doc_id, sig, band, bucket)` shape every candidate generator
    * consumes — a codegen explode, no shuffle (the
    * [[graft.streaming.NearDupGate.bandState]] re-banding move).
    */
  private[graft] def bandExplode(
      compact: DataFrame, bands: Int, rows: Int): DataFrame =
    compact
      .withColumn("__b", explode(lshBands(col("sig"), bands, rows)))
      .select(col("doc_id"), col("sig"),
        col("__b.band").as("band"), col("__b.bucket").as("bucket"))

  /** [[bandExplode]] WITHOUT the signature passthrough —
    * `(doc_id, band, bucket)`, the 28-byte pairing rows the candidate
    * stage shuffles (round 18): the full explode carries each doc's
    * ~520-byte sig array through every downstream projection until
    * column pruning catches it, and the PAIRING side never needs it.
    */
  private[graft] def bandExplodeSlim(
      compact: DataFrame, bands: Int, rows: Int): DataFrame =
    compact
      .select(col("doc_id"),
        explode(lshBands(col("sig"), bands, rows)).as("__b"))
      .select(col("doc_id"),
        col("__b.band").as("band"), col("__b.bucket").as("bucket"))

  /** [[candidatesFromBandedSigs]] fed by the COMPACT `(doc_id, sig)`
    * cut (round 18 — the r17 verdict's candidate-pair-floor task):
    * pairing runs over the sig-free [[bandExplodeSlim]] projection and
    * verification joins the cut itself, so NO consumer re-derives the
    * |docs|×bands banded frame from the cut just to filter most of it
    * away (the banded-frame form paid one full re-band+explode for
    * the [[sigPerDoc]] verify feed alone). Output identical.
    */
  private[graft] def candidatesFromCompact(
      compact: DataFrame, bands: Int, rows: Int,
      n: Int, threshold: Double): DataFrame = {
    val slim = bandExplodeSlim(compact, bands, rows)
    val a = slim.as("a")
    val b = slim.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyPairsCompact(pairs, compact, n, threshold)
  }

  /** [[starCandidatesFromBandedSigs]] fed by the COMPACT cut — same
    * reshape as [[candidatesFromCompact]], plus: SINGLETON buckets
    * (the vast majority on a real corpus — every non-dup doc
    * contributes `bands` of them) are dropped in the hub aggregate
    * (`count > 1`) instead of joining back and dying on the
    * `doc_id =!= hub_id` filter, so the hub table the pairing joins
    * is occupied-buckets-only — small enough that AQE converts the
    * member↔hub join to broadcast, which keeps each doc's `bands`
    * copies of a pair in ONE partition where the pair `distinct`'s
    * partial aggregate kills them map-side (the shuffled-join form
    * scatters the copies across band partitions and ships them all).
    * Semantics identical: a singleton bucket produces no pair either
    * way.
    */
  private[graft] def starCandidatesFromCompact(
      compact: DataFrame, bands: Int, rows: Int,
      n: Int, threshold: Double): DataFrame = {
    val slim = bandExplodeSlim(compact, bands, rows)
    val hubs = slim.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("hub_id"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1).drop("__c")
    val pairs = slim.join(hubs, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("hub_id"))
      .select(col("hub_id").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
    verifyPairsCompact(pairs, compact, n, threshold)
  }

  /** [[materializeSigsProbed]] over the COMPACT `(doc_id, sig)` plan:
    * the cut stores ONE row per doc instead of one per band — the
    * round-13 NearDupGate state insight applied to the batch path
    * (the 64-lane signature array is the bulk of every row, so the
    * exploded cut wrote and re-scanned ×bands the bytes; at the
    * 1.5M-doc probe that is a ~13 GB localCheckpoint vs ~0.8 GB).
    * The F2 occupancy probe rides the compact cut by folding each
    * row's own band hashes in-place (same multiset of (band, bucket)
    * hashes as the exploded probe, so the estimate is IDENTICAL);
    * consumers re-band post-cut via [[bandExplode]].
    */
  private[graft] def materializeCompactProbed(
      compact: DataFrame, bands: Int, rows: Int): (DataFrame, SigEst) = {
    val staged = compact.withColumn("__f2hs",
      transform(lshBands(col("sig"), bands, rows),
        b => xxhash64(b.getField("band"), b.getField("bucket"))))
    val metrics = sum(size(col("__f2hs")).cast("long")).as("n") +:
      (0 until f2Lanes).map { i =>
        sum(aggregate(col("__f2hs"), lit(0L), (acc, h) =>
          acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
            .otherwise(lit(-1L)))).as(s"s$i")
      }
    // __f2hs stays a staged column BELOW the observe (33 metric
    // expressions reference it — inlining the transform would
    // re-evaluate the band hashing 33× per row) but is projected away
    // ABOVE it, so the checkpoint holds ONLY (doc_id, sig): staging
    // it into the cut carried ~bands×8 B/row of dead weight the
    // compact path exists to avoid (ADVICE r15)
    val observed = staged.observe("graft_f2_probe", metrics.head, metrics.tail: _*)
    val cutPlan = observed.drop("__f2hs")
    val cut = Materialize(cutPlan)
    def metricRow() = {
      val mm = cutPlan.queryExecution.observedMetrics
      if (mm.isEmpty) None else Some(mm.values.head)
    }
    val est = new SigEst(
      () => metricRow() match {
        case None =>
          org.slf4j.LoggerFactory.getLogger("graft.Dedup").warn(
            "sigs occupancy probe: observed metrics unavailable for this " +
              "materialization strategy — falling back to the exact aggregate")
          estIntraPairs(bandExplode(cut, bands, rows))
        case Some(row) =>
          if (row.isNullAt(row.fieldIndex("n"))) 0L // empty input: sum = null
          else {
            val n = row.getAs[Long]("n")
            if (n == 0L) 0L
            else {
              val f2 = (0 until f2Lanes).map { i =>
                val s = row.getAs[Long](s"s$i"); s.toDouble * s
              }.sum / f2Lanes
              math.max(0L, ((f2 - n) / 2).toLong)
            }
          }
      },
      () => metricRow() match {
        case None => cut.count() * bands // non-local modes: one exact job
        case Some(row) =>
          if (row.isNullAt(row.fieldIndex("n"))) 0L else row.getAs[Long]("n")
      })
    (cut, est)
  }

  /** [[sigsWithStarDecision]] with the COMPACT materialization,
    * returning the RAW compact cut (round 18): batch consumers hand
    * it straight to [[candidatesFromCompact]]/[[starCandidatesFromCompact]], which
    * re-band only the sig-free pairing projection and verify off the
    * cut — the banded-frame form re-derived (and mostly discarded)
    * the full |docs|×bands explode once per consumer.
    */
  private[graft] def sigsWithStarDecisionCut(
      compact: DataFrame, bands: Int, rows: Int,
      force: Boolean, cap: Long): (DataFrame, Boolean) = {
    val (cut, star, _) = sigsWithStarDecisionCutEst(compact, bands, rows, force, cap)
    (cut, star)
  }

  /** [[sigsWithStarDecisionCut]] additionally returning the probe's
    * [[SigEst]] thunk when one rode the materialization — the
    * streaming gates reuse the SAME zero-job estimate to size their
    * driver-resolve fast path
    * ([[graft.streaming.SigGate.acceptBatch]]). FORCED-star callers
    * get a count-only observe instead of the F2 lanes (the star
    * decision needs no estimate, but the gate still wants a batch
    * size; star candidates are bounded by the banded row count, so
    * the SigEst reports bandRows for both lanes — a conservative
    * upper bound on star pairs). `cap = Long.MaxValue` keeps the
    * probe-free contract: None.
    */
  private[graft] def sigsWithStarDecisionCutEst(
      compact: DataFrame, bands: Int, rows: Int,
      force: Boolean, cap: Long): (DataFrame, Boolean, Option[SigEst]) =
    if (cap == Long.MaxValue) (Materialize(compact), force, None)
    else if (force) {
      val (cut, est) = materializeCountProbed(compact, bands)
      (cut, true, Some(est))
    } else {
      val (cut, est) = materializeCompactProbed(compact, bands, rows)
      (cut, useStar(est, force = false, cap), Some(est))
    }

  /** [[sigsWithStarDecision]]'s Est twin over the BANDED plan — same
    * contract as [[sigsWithStarDecisionCutEst]].
    */
  private[graft] def sigsWithStarDecisionEst(
      plan: DataFrame, force: Boolean, cap: Long): (DataFrame, Boolean, Option[SigEst]) =
    if (cap == Long.MaxValue) (Materialize(plan), force, None)
    else if (force) {
      val (sigs, est) = materializeBandedCountProbed(plan)
      (sigs, true, Some(est))
    } else {
      val (sigs, est) = materializeSigsProbed(plan)
      (sigs, useStar(est, force = false, cap), Some(est))
    }

  /** Count-only observe riding a COMPACT materialization (the
    * forced-star arm of [[sigsWithStarDecisionCutEst]]): one
    * `count(1)` metric, no F2 lanes; the [[SigEst]] reports
    * docs × bands for both pairs and bandRows.
    */
  private def materializeCountProbed(
      compact: DataFrame, bands: Int): (DataFrame, SigEst) = {
    val observed = compact.observe("graft_n_probe", count(lit(1)).as("n"))
    val cut = Materialize(observed)
    def bandRows() = {
      val mm = observed.queryExecution.observedMetrics
      if (mm.isEmpty) cut.count() * bands
      else mm.values.head.getAs[Long]("n") * bands
    }
    val est = new SigEst(() => bandRows(), () => bandRows())
    (cut, est)
  }

  /** Count-only observe riding a BANDED materialization (the
    * forced-star arm of [[sigsWithStarDecisionEst]]): the row count
    * IS bandRows.
    */
  private def materializeBandedCountProbed(
      banded: DataFrame): (DataFrame, SigEst) = {
    val observed = banded.observe("graft_n_probe", count(lit(1)).as("n"))
    val cut = Materialize(observed)
    def bandRows() = {
      val mm = observed.queryExecution.observedMetrics
      if (mm.isEmpty) cut.count()
      else mm.values.head.getAs[Long]("n")
    }
    val est = new SigEst(() => bandRows(), () => bandRows())
    (cut, est)
  }

  /** STAR-candidate variant of [[candidatesFromBandedSigs]] — the
    * dup-heavy-corpus mitigation (round 12): a k-member duplicate
    * clique puts k²/2 pairs through est-Jaccard verification in the
    * all-pairs form (the 300×-dupes probe measured ~5.6M verified
    * pairs per batch, 323 s standalone gate), but downstream
    * connected components only need CONNECTIVITY. Here each (band,
    * bucket) group verifies every member against the group's MIN-id
    * hub only — O(k) pairs per bucket — so an exact-duplicate clique
    * (identical signatures, est-Jaccard 1 to its hub) collapses to
    * one component at linear cost.
    *
    * Recall trade, stated precisely: a pair (x, y) survives iff some
    * shared bucket's hub h has est(x,h) ≥ t AND est(y,h) ≥ t — lossless
    * for true-duplicate cliques and for any bucket whose hub is itself
    * a near-dup of both sides; a borderline pair whose only similar
    * intermediary is NOT a hub is lost. Pair-set consumers
    * (decontamination reports, oracle-pinned pair queries) must keep
    * the all-pairs form; keeper-dedup at crawl scale is what this is
    * for.
    */
  private[graft] def starCandidatesFromBandedSigs(
      sigs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // Narrow pairing (round 15, same reshape as
    // [[candidatesFromBandedSigs]]): hub selection and the member↔hub
    // pairing move only `(doc_id, band, bucket)`; signatures join
    // back once per DISTINCT pair. This is the star path's own
    // scale case — dup-heavy corpora — where each 300-way clique's
    // members used to ship their 64-lane sigs through all 16 band
    // partitions and verify 16×.
    val slim = sigs.select(col("doc_id"), col("band"), col("bucket"))
    val hubs = slim.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("hub_id"))
    val pairs = slim.join(hubs, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("hub_id"))
      .select(col("hub_id").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
    verifyPairs(pairs, sigs, n, threshold)
  }

  /** SimHash-64: per token, a 64-bit token hash votes ±1 on each of
    * 64 bits; sign of the vote sum sets the bit. Near-dups differ in
    * few bits (Hamming distance). The 64-lane vote runs in the native
    * [[graft.functions.SimHash64Expr]] — one generated-code pass over
    * the token hashes; no shuffle. Token hashes are the
    * engine-portable [[TextAnalysis.tokenHash64]] (md5 hi/lo pack),
    * so the DuckDB oracle reproduces every signature bit
    * ([[simhashCandDuckCtes]]).
    */
  def simhash64(text: Column): Column =
    graft.functions.HashExprs.simhash64(
      graft.functions.HashExprs.tokenHashes64(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs over text: signature via
    * [[simhash64]], then the shared [[hamming64Candidates]] blocking —
    * `maxHamming + 1` adaptive bands (pigeonhole-lossless at any
    * accepted threshold ≤ 15; 4×16-bit bands at the default 3),
    * verified by exact Hamming distance. Same equi-join discipline as
    * MinHash LSH.
    */
  def simhashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    hamming64Candidates(
      docs.select(col(idCol).as("doc_id"), simhash64(col(textCol)).as("sig")),
      maxHamming)

  /** Banded-Hamming candidate pairs over ANY 64-bit signature column
    * — the shared blocking behind [[simhashCandidates]] (text) and
    * [[Multimodal.imageNearDup]] (perceptual image hashes). Blocks on
    * `maxHamming + 1` bands (16-bit bands at the default threshold
    * 3): a pair within Hamming distance ≤ `maxHamming` of 64 bits
    * must agree exactly on ≥ 1 of the `maxHamming + 1` bands
    * (pigeonhole), so the band/bucket equi-join is LOSSLESS at ANY
    * accepted threshold and never compares all pairs. Thresholds are
    * capped at 15: beyond that the bands narrow under 4 bits and the
    * blocking stops being selective (buckets collapse to a handful of
    * values — approaching the all-pairs join this operator exists to
    * avoid). Input: `(doc_id, sig)`; output `(id_a, id_b, hamming)`
    * with `hamming ≤ maxHamming`.
    */
  def hamming64Candidates(sigs: DataFrame, maxHamming: Int = 3): DataFrame =
    hamming64PairsFromBanded(banded64(sigs, maxHamming), maxHamming)

  /** The banding pass of [[hamming64Candidates]]: `(doc_id, sig)` →
    * `maxHamming + 1` rows `(doc_id, sig, band, bucket)` per doc.
    * Band i covers bits `[64·i/(m+1), 64·(i+1)/(m+1))` — as equal as
    * integer division allows; each band carries its own shift + mask
    * as literals so the bucket extraction stays codegen'd arithmetic.
    * Materialized once: every consumer joins this frame against
    * itself or a state table, and an un-cut frame would re-run the
    * signature computation per side. Shared with the streaming gate
    * ([[graft.streaming.Hamming64Gate]]), which matches batch rows
    * against persisted state on the same `(band, bucket)` keys.
    */
  private[graft] def banded64(sigs: DataFrame, maxHamming: Int): DataFrame =
    Materialize(band64Cols(sigs, maxHamming))

  /** The banding projection of [[banded64]] WITHOUT the Materialize
    * cut — for frames consumed exactly once (re-banding compact gate
    * state on read), where a cut would only add a write.
    */
  private[graft] def band64Cols(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"banded-Hamming blocking: maxHamming must be in [0, 15], got $maxHamming " +
        "(bands of < 4 bits lose blocking selectivity)")
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(i => 64 * i / nBands)
    val bandsLit = array((0 until nBands).map { i =>
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(i).as("band"), lit(bounds(i)).as("lo"), lit(mask).as("m"))
    }: _*)
    sigs.withColumn("__b", explode(bandsLit))
      .withColumn("band", col("__b.band"))
      .withColumn("bucket",
        call_function("shiftright", col("sig"), col("__b.lo")).bitwiseAND(col("__b.m")))
      .drop("__b")
  }

  /** The verify pass of [[hamming64Candidates]]: bucket self-join +
    * exact Hamming filter over an already-banded frame. */
  private[graft] def hamming64PairsFromBanded(
      banded: DataFrame, maxHamming: Int): DataFrame = {
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** STAR variant of [[hamming64PairsFromBanded]] — the
    * banded-Hamming family's dup-heavy-corpus form (the same trade as
    * [[starCandidatesFromBandedSigs]], see its scaladoc): each
    * (band, bucket) group verifies members against the group's
    * MIN-id hub only, O(k) `bit_count` checks per bucket. Exact for
    * identical-signature cliques; recall-bounded for borderline pairs
    * whose only ≤-maxHamming intermediary is not a hub.
    */
  private[graft] def starHamming64PairsFromBanded(
      banded: DataFrame, maxHamming: Int): DataFrame = {
    val hubs = banded.groupBy(col("band"), col("bucket"))
      .agg(min_by(struct(col("doc_id"), col("sig")), col("doc_id")).as("__h"))
      .select(col("band"), col("bucket"),
        col("__h.doc_id").as("hub_id"), col("__h.sig").as("hub_sig"))
    banded.join(hubs, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("hub_id"))
      .select(col("hub_id").as("id_a"), col("doc_id").as("id_b"),
        hamming64(col("sig"), col("hub_sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected near-dup pair list —
    * the step that turns pairwise candidates into dedup groups, with
    * every member labeled by its component's minimum id.
    *
    * Adaptive execution: the pair list is materialized once (it is
    * typically the upstream LSH candidate join — without the cut the
    * label loop would re-run that join per iteration), which makes
    * counting it free. At or below 1M pairs the exact component
    * closure runs as union-find on the driver (a [[DriverResolve]]
    * site; `spark.graft.driverResolve=false` forces the loop) —
    * near-dup edge lists are tiny relative to the corpus, and the
    * distributed loop's per-iteration jobs cost more than the whole
    * graph — then returns as a local relation downstream joins
    * broadcast.
    * Above the bound (dup-heavy corpora at the 100 TB design point)
    * the distributed min-label loop below takes over. The bound is a
    * DRIVER-HEAP cap: the union-find map holds up to 2 boxed entries
    * per edge at ~50 B each (~100–200 MB at the cap), and the edges
    * stream in via `toLocalIterator` so no collected row array sits
    * next to it.
    *
    * Id types: any orderable id column works (string/UUID doc ids
    * included — "minimum id" is the type's own ordering, as Spark's
    * `min` defines it). Integral and string ids take the driver path
    * ([[DriverResolve.sparkOrdering]]); integral ids additionally get an
    * exact monotone label-sum fixpoint check in the distributed loop;
    * other types use an exact changed-label count (one extra
    * (id,label) join per iteration).
    *
    * Distributed path: min-label propagation WITH pointer jumping —
    * each iteration takes, per id, the min over (its own label, its
    * neighbors' labels, its label's label). The label-of-label term
    * is the doubling step: reach grows geometrically, so a chain of
    * propagation diameter d converges in O(log d) rounds instead of
    * d (the default `maxIter` = 16 therefore covers any component a
    * real corpus can produce — diameter beyond 2^16 — where the old
    * neighbor-only loop at 5 rounds silently split chains longer
    * than 5 hops). Each iteration is two equi-joins + one
    * min-aggregation, all shuffling only (id, label) pairs. Stops as
    * soon as the labels reach a fixpoint: propagation is monotone (a
    * label only ever decreases), so the labels changed iff their sum
    * changed — one scalar aggregate per iteration over the
    * already-cut label frame. Correctness of the fixpoint as an
    * EXACT component labeling: a label is always the id of some
    * vertex reachable from its owner, and at fixpoint every edge's
    * endpoints carry equal labels, so each component is uniformly
    * labeled by its minimum id.
    *
    * If the loop exhausts `maxIter` without reaching the fixpoint it
    * THROWS (IllegalStateException) rather than returning an
    * under-merged labeling — a split component manifests as silent
    * duplicate keepers downstream, the one failure mode a dedup
    * operator must never have. The fixpoint check makes the
    * generous default free for converged graphs (the loop exits the
    * round after convergence regardless of the bound).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 16): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = pairs.schema(pairs.columns.indexOf("id_a")).dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // Integral ids normalize to long so both endpoints agree on one
    // type; other types pass through untouched (a blanket long cast
    // would throw CAST_INVALID_INPUT on string ids under ANSI). NULL
    // endpoints drop up front — the distributed loop's equi-join
    // would silently drop them anyway, and a null must not unbox to
    // component 0 on the driver.
    val endpoint = (c: String) => if (integral) col(c).cast("long") else col(c)
    val p = Materialize(pairs
      .select(endpoint("id_a").as("src"), endpoint("id_b").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    if (DriverResolve.enabled(p.sparkSession))
      DriverResolve.sparkOrdering(idType) match {
        case None => DriverResolve.fellBack(ccDriverSite, "ineligible")
        case Some(ord) =>
          val edgeCount = p.count()
          if (edgeCount <= ccDriverMaxEdges) {
            DriverResolve.engaged(ccDriverSite)
            return driverComponents(p, idType, ord, edgeCount)
          }
          DriverResolve.fellBack(ccDriverSite, "over cap")
      }
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    var labels = Materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    // DECIMAL sum: component ids are arbitrary longs; a long sum
    // could overflow under ANSI on a large id domain.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // sum over an EMPTY label frame is SQL NULL (no pairs at all —
      // e.g. a clean streaming micro-batch): treat as zero so the
      // fixpoint check still terminates instead of NPEing.
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    // Non-numeric labels have no monotone sum: exact fixpoint =
    // no label changed vs the previous round (equi-join on id over
    // two already-materialized leaf scans).
    def changedLabels(cur: DataFrame, prev: DataFrame): Long =
      cur.as("c").join(prev.as("p"), col("c.id") === col("p.id"))
        .filter(col("c.component") =!= col("p.component")).count()
    var prevSum = if (integral) labelSum(labels) else java.math.BigDecimal.ZERO
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val viaNeighbors = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("component"))
      // Pointer jumping: label(label(id)). Labels are always ids (a
      // min over ids), so the self-equi-join resolves each label's
      // own current label — the doubling step that makes long chains
      // converge in O(log diameter) rounds.
      val viaLabels = labels.as("l1")
        .join(labels.as("l2"), col("l1.component") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.component").as("component"))
      // Cut lineage each round: without this, iteration i re-derives
      // iterations 0..i-1 every time `labels` is evaluated.
      val prev = labels
      labels = Materialize(labels.select(col("id"), col("component"))
        .union(viaNeighbors)
        .union(viaLabels)
        .groupBy("id")
        .agg(min("component").as("component")))
      converged =
        if (integral) {
          val s = labelSum(labels)
          val eq = s.compareTo(prevSum) == 0
          prevSum = s
          eq
        } else changedLabels(labels, prev) == 0
      // persist mode: superseded labels would otherwise stay pinned
      // (released only after the fixpoint check, which reads `prev`)
      Materialize.release(prev)
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter rounds " +
        "(pointer-jumping covers diameter 2^maxIter — this graph is " +
        "pathological); raise maxIter rather than consume an under-merged " +
        "labeling: split components mean silent duplicate keepers downstream")
    labels
  }

  /** Exact component closure on the driver: the shared min-label
    * [[DriverResolve.UnionFind]], so every root IS its component's
    * minimum id, matching the distributed loop's label contract.
    * Input is the materialized (src, dst) pair frame, pre-bounded by
    * the caller and, past [[collectMaxEdges]], streamed in
    * partition-by-partition (`toLocalIterator`) so the union-find map
    * is the only edge-proportional driver allocation. Output is a local relation (sorted by id for
    * determinism) that downstream anti-joins broadcast.
    */
  // Above this edge count the driver path streams partitions via
  // toLocalIterator (no collected row array next to the union-find
  // map); at or below it a single collect() is bounded (~15 MB of
  // boxed rows at the cap) and saves one Spark JOB PER PARTITION —
  // toLocalIterator schedules each partition as its own job, which
  // at the streaming replay harness's 8 shuffle partitions was ~8
  // scheduler round-trips per micro-batch for a handful of edges
  // (round 19; the gates call this every batch).
  private val collectMaxEdges: Long = 1L << 17

  // The driver path's edge bound (the 1M-pair heap cap above).
  private val ccDriverMaxEdges: Long = 1L << 20

  /** [[connectedComponents]]' name in the [[DriverResolve]] registry. */
  private[graft] val ccDriverSite = "Dedup.connectedComponents"

  private def driverComponents(
      p: DataFrame, idType: org.apache.spark.sql.types.DataType,
      ord: Ordering[Any], edgeCount: Long): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = p.sparkSession
    val uf = new DriverResolve.UnionFind(ord)
    val edgeIter =
      if (edgeCount <= collectMaxEdges) p.collect().iterator
      else p.toLocalIterator().asScala
    edgeIter.foreach(row => uf.union(row.get(0), row.get(1)))
    val outType = if (idType == StringType) StringType else LongType
    val rows = uf.ids.toSeq.sorted(ord).map(id => org.apache.spark.sql.Row(id, uf.find(id)))
    spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("id", outType), StructField("component", outType))))
  }

  /** The end-to-end dedup operator: remove exact and near duplicates,
    * keeping the minimum-id document of every duplicate group.
    * Candidates come from MinHash LSH (plus exact-hash groups, which
    * LSH already subsumes at est 1.0); groups are closed over
    * [[connectedComponents]] so chains a~b~c collapse to one keeper.
    *
    * `star = true` is the dup-heavy-corpus form
    * ([[starCandidatesFromBandedSigs]]): each LSH bucket verifies
    * members against its min-id hub only — O(k) est-Jaccard pairs per
    * k-member bucket instead of k²/2, with identical keepers for
    * true-duplicate cliques (CC only needs connectivity, and exact
    * copies score 1 against their hub). Measured 19× faster on a
    * 300-way-duplicated corpus with the identical keeper set; the
    * all-pairs default remains the exhaustive-recall form BELOW
    * `autoStarPairsCap` — past it the bucket-occupancy probe
    * ([[estIntraPairs]], round 13) flips to star automatically, the
    * same default-safety contract as the streaming gates (pass
    * `Long.MaxValue` to pin all-pairs unconditionally).
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      star: Boolean = false,
      autoStarPairsCap: Long = defaultAutoStarPairsCap): DataFrame = {
    val (cut, starNow) = sigsWithStarDecisionCut(
      compactSigsPlan(docs, idCol, textCol, k, n), bands, n / bands,
      star, autoStarPairsCap)
    val pairs =
      if (starNow) starCandidatesFromCompact(cut, bands, n / bands, n, threshold)
      else candidatesFromCompact(cut, bands, n / bands, n, threshold)
    val comp = connectedComponents(pairs)
    val losers = comp.filter(col("id") =!= col("component")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Leakage-safe train/validation split: buckets are assigned from
    * each document's near-duplicate COMPONENT label (the CC min id;
    * a singleton's own id), not its own id — so a near-dup pair can
    * NEVER straddle the split. A plain id-hash split leaks: the
    * validation copy of a near-duplicated doc is effectively training
    * data, and decontamination (`q_contamination`) then measures the
    * leak after the fact; splitting by component prevents it by
    * construction.
    *
    * Reuses the [[minhashCandidates]] → [[connectedComponents]]
    * machinery with the corpus-dedup defaults, then the same
    * 31-bit-hash bucket as [[TextAnalysis.splitBucket]]. Output:
    * `(doc_id, split_key, bucket, split)` with `split ∈ {train,
    * valid}` and `P(valid) = validPct / 100`.
    *
    * Scale posture, DELIBERATELY conservative: this operator keeps
    * the all-pairs candidate join with NO auto-star switch — its one
    * job is that no near-dup pair straddles the split, and the star
    * rule's measured 94.6%-recall bound (`StarRecallSpec`) means a
    * lost borderline edge could put a pair astride the boundary. On
    * a dup-heavy corpus, dedup FIRST and split the keepers (the
    * `q_crawl_curate` composition — components collapse before the
    * split, making the id-hash split leakage-safe trivially and the
    * auto-star mitigation applicable); splitting a corpus that still
    * CONTAINS its duplicate cliques is the expensive path by nature.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      validPct: Int = 10,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(validPct >= 1 && validPct <= 99,
      s"validPct must be in [1, 99], got $validPct")
    val pairs = minhashCandidates(docs, idCol, textCol, k, n, bands, threshold)
    val comp = connectedComponents(pairs)
    docs.select(col(idCol).as("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("component"), col("doc_id")))
      .withColumn("bucket", TextAnalysis.splitBucket(col("split_key")))
      .withColumn("split",
        when(col("bucket") >= 100 - validPct, lit("valid")).otherwise(lit("train")))
      .select("doc_id", "split_key", "bucket", "split")
  }

  /** [[dropNearDuplicates]] with a QUALITY-RANKED keeper: each
    * duplicate component keeps its `max(keepBy)` member instead of
    * its min id — the policy production corpus dedup actually wants
    * (keep the longest / highest-quality-score / most-recent copy,
    * drop the rest). Ties break to the smaller id, so keeper
    * selection is deterministic for any `keepBy`.
    *
    * Scale shape: identical to the min-id path (LSH candidates → CC)
    * plus ONE `max_by` aggregate over the component assignment joined
    * with the per-doc score — map-side partials absorb hot
    * components; no window, no per-component sort. `keepBy` is
    * evaluated against `docs` rows, so any projectable expression
    * works (a length, a model score column, a timestamp).
    */
  def dropNearDuplicatesBy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keepBy: Column,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      autoStarPairsCap: Long = defaultAutoStarPairsCap): DataFrame = {
    // Same auto star switch as [[dropNearDuplicates]]: quality-ranked
    // keeper selection operates on components, and star preserves
    // clique connectivity — the contract trade is identical.
    val (cut, starNow) = sigsWithStarDecisionCut(
      compactSigsPlan(docs, idCol, textCol, k, n), bands, n / bands,
      force = false, autoStarPairsCap)
    val pairs =
      if (starNow) starCandidatesFromCompact(cut, bands, n / bands, n, threshold)
      else candidatesFromCompact(cut, bands, n / bands, n, threshold)
    val comp = connectedComponents(pairs)
    // Score only the docs that sit in some duplicate component —
    // singletons never reach the aggregate (they keep themselves).
    val scored = comp.join(
      docs.select(col(idCol).as("id"), keepBy.as("__q")), "id")
    // Two map-side-combinable aggregates instead of one struct-max:
    // ids may be any orderable type (string/UUID), so "max quality
    // then MIN id" can't be packed into a single max_by struct
    // without negating the id. Null-safe best-match (<=>) so an
    // all-null-quality component still resolves (to its min id)
    // instead of silently keeping every member.
    val bestQ = scored.groupBy("component")
      .agg(max(col("__q")).as("__best"))
    val keepers = scored.join(bestQ, "component")
      .filter(col("__q") <=> col("__best"))
      .groupBy("component").agg(min(col("id")).as("keeper"))
    val losers = comp.join(keepers, "component")
      .filter(col("id") =!= col("keeper")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Exact n-gram Jaccard similarity over blocked candidate pairs.
    * Shuffles exploded (block, shingle, id) rows; the join is an
    * equi-join on the blocking key + shingle — never all pairs.
    *
    * Blocking: with `block = Some(c)` pairs are restricted to docs
    * sharing the caller's key (the verification stage after LSH or a
    * domain blocker). With `block = None` (requires `threshold >=
    * 0.5`) each doc lands in TWO geometric size buckets — `g =
    * floor(log2(|shingles|))` and `g+1`. Jaccard ≥ 0.5 forces
    * |B| ≤ 2·|A|, i.e. adjacent buckets, so every above-threshold
    * pair shares a bucket: the default blocking is lossless while
    * bounding candidates to docs within ~4× of each other's size.
    * Intersections count DISTINCT shingles so a pair sharing both
    * buckets isn't double-counted.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      block: Option[Column],
      k: Int,
      threshold: Double): DataFrame = {
    // Shingles travel as 64-bit hashes (ShingleHashExpr), not
    // strings: the exploded (block, doc_id, shingle) relation and the
    // equi-join shuffle shrink to fixed-width rows. Hash collisions
    // would perturb the count with probability ~|shingles|²/2^64 —
    // negligible against the exact-string form. Token hashes ride the
    // fused native pass (round 17 — `transform` is CodegenFallback;
    // tokenHashesXx is the spec-pinned xxhash64 twin of the builtin).
    val base = docs.select(
      col(idCol).as("doc_id"),
      block.getOrElse(lit(0L)).cast("long").as("__blk"),
      graft.functions.HashExprs.shingleHashes(
        graft.functions.HashExprs.tokenHashesXx(col(textCol)), k).as("sh"))
    val blocked = block match {
      case Some(_) => base.withColumn("blocks", array(col("__blk")))
      case None =>
        require(threshold >= 0.5,
          s"default geometric blocking is lossless only for threshold >= 0.5 (got $threshold); pass an explicit block")
        // floor(log2(n)) via binary-string length: integer-exact on
        // both Spark and the DuckDB oracle (no float log at bucket
        // boundaries). |sh| >= 1 always (short inputs yield one gram).
        val g = (length(bin(greatest(size(col("sh")), lit(1)))) - 1).cast("long")
        base.withColumn("blocks", array(g, g + 1))
    }
    jaccardTail(blocked, threshold)
  }

  /** Exact Jaccard over ANY per-doc element-set frame `(doc_id,
    * sh: array<long>)` with the geometric double-block —
    * [[ngramJaccardPairs]]' machinery opened up for non-text sets
    * (round 11: sampled video-frame fingerprints,
    * [[Multimodal.videoNearDup]]). The caller supplies the elements
    * ALREADY deduplicated (`array_distinct`) so `|sh|` is the true
    * set size; the lossless-≥0.5 geometric blocking argument is the
    * same as for shingles. Output `(id_a, id_b, jaccard)` at 4 dp.
    */
  def setJaccardPairs(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double): DataFrame = {
    require(threshold >= 0.5,
      s"geometric blocking is lossless only for threshold >= 0.5 (got $threshold)")
    val base = sets.select(col(idCol).as("doc_id"), col(setCol).as("sh"))
    val g = (length(bin(greatest(size(col("sh")), lit(1)))) - 1).cast("long")
    jaccardTail(base.withColumn("blocks", array(g, g + 1)), threshold)
  }

  /** Shared tail of [[ngramJaccardPairs]] / [[setJaccardPairs]]:
    * blocked `(doc_id, sh, blocks)` → thresholded Jaccard pairs.
    */
  private def jaccardTail(blocked: DataFrame, threshold: Double): DataFrame = {
    // Materialized once: `blocked` feeds the self-join's BOTH sides
    // plus the size lookup — three instantiations of the shingle
    // pass otherwise (see minhashCandidates). One compact row per
    // doc (hash array, no strings).
    val blockedOnce = Materialize(blocked)
    val sizes = blockedOnce.select(col("doc_id"), size(col("sh")).as("n"))
    val toks = blockedOnce
      .select(explode(col("blocks")).as("block"), col("doc_id"), col("sh"))
      .select(col("block"), col("doc_id"), explode(col("sh")).as("tok"))
    val inter = toks.as("a")
      .join(toks.as("b"),
        col("a.block") === col("b.block") &&
        col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count_distinct(col("a.tok")).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        Det.round(col("n_inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("n_inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- Exact-substring dedup (Lee et al. 2022, arXiv:2107.06499) ----
  //
  // Doc-level dedup (MinHash/SimHash above) misses the common failure
  // mode of web corpora: long VERBATIM spans (boilerplate, quoted
  // articles, license blocks) embedded in otherwise-distinct
  // documents. The exact-substring pass finds every character span of
  // length >= l that occurs more than once ANYWHERE in the corpus
  // (across or within documents) and keeps exactly one copy — the
  // globally first occurrence by (doc_id, pos).
  //
  // Shape: every position contributes one (gram-hash, doc, pos) row
  // — grams themselves never shuffle, only 16-byte hashes; duplicate
  // marking is a per-hash AGGREGATE (count + min-occurrence, both
  // with map-side partials, so a boilerplate gram that appears 10⁶–
  // 10⁸ times collapses to one partial per mapper before the
  // shuffle) joined back to the positions — never a per-hash sort: a
  // `row_number() over partitionBy(hash)` would funnel every
  // occurrence of a hot gram into one sorted task, and AQE skew-join
  // handles the residual join fan-out instead. Overlapping marked
  // grams merge into maximal spans with a per-doc window (partition
  // size is bounded by document length, not corpus size). Honest
  // cost note: the all-positions explosion is ~32 bytes per input
  // character — the exactness anchor, priced like the suffix-array
  // pass of the paper. At full corpus scale run it AFTER the
  // doc-level MinHash pass has collapsed whole-doc duplicates, or on
  // winnowed fingerprints ([[TextAnalysis.fingerprint]]) when
  // approximate spans suffice.

  /** Maximal duplicated spans per document: `(doc_id, span_start,
    * span_end)` (char offsets, 0-based, end exclusive), where every
    * position in the span is covered by some length-`l` gram that
    * occurs at least twice in the corpus. The first occurrence of
    * each gram (min doc_id, then min pos) is never marked, so one
    * copy of every repeated string survives.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One rolling-hash pass per doc (native CharGramHashExpr):
    // O(|text|) hashing instead of O(|text|·l) substring builds, and
    // 8-byte gram keys on the duplicate-marking shuffle instead of
    // 32-byte md5 hex (the hash only partitions grams — any
    // collision-negligible hash yields the same spans).
    val grams = docs
      .filter(length(col(textCol)) >= l)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.HashExprs.charGramHashes(col(textCol), l))
          .as(Seq("pos", "__h")))
    // Duplicate marking WITHOUT a per-hash sort: count + first
    // occurrence are one hash aggregate (struct min orders by
    // (doc_id, pos) — partial aggregation collapses hot grams
    // map-side), inner-joined back to the positions to drop the one
    // first occurrence. The join still keys on the gram hash, but a
    // hot key streams through a hash probe (no sort buffer) and AQE
    // splits it if it dominates.
    val firsts = grams
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id"), col("pos"))).as("__first"))
      .filter(col("__c") > 1)
      .select(col("__h"), col("__first"))
    val marked = grams.join(firsts, Seq("__h"))
      .filter(col("doc_id") =!= col("__first.doc_id") ||
        col("pos") =!= col("__first.pos"))
      .select("doc_id", "pos")
    // merge overlapping [pos, pos+l) intervals: island detection over
    // the per-doc position sequence (same shape as sessionization)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevMaxEnd = max(col("pos") + l)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new", when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "__isl")
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + l).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Remove every duplicated span from the corpus text (keeping the
    * globally first occurrence of each repeated string): the cleaned
    * corpus, schema unchanged. Span application is a per-row
    * `aggregate` fold over the doc's sorted spans — O(|spans|) string
    * builds per doc, no further shuffle beyond [[duplicateSpans]].
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      l: Int): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, l)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    val t = col(textCol)
    val cleaned = aggregate(
      col("__spans"),
      struct(lit(0).as("prev"), lit("").as("acc")),
      (st, sp) => struct(
        sp.getField("e").as("prev"),
        concat(st.getField("acc"),
          t.substr(st.getField("prev") + 1,
            sp.getField("s") - st.getField("prev"))).as("acc")),
      st => concat(st.getField("acc"),
        t.substr(st.getField("prev") + 1, length(t) - st.getField("prev"))))
    val out = docs.join(spans, docs(idCol) === spans("doc_id"), "left")
      .withColumn("__cleaned",
        when(col("__spans").isNull, t).otherwise(cleaned))
    out.select(docs.columns.map(c =>
      (if (c == textCol) col("__cleaned") else docs(c)).as(c)): _*)
  }

  /** Cross-corpus LINE dedup — the CCNet-style boilerplate scrub:
    * a line that occurs verbatim in more than one place ANYWHERE in
    * the corpus (nav bars, cookie banners, license footers) keeps
    * only its globally first occurrence (min doc id, then line
    * index); every other copy is dropped from its document. The
    * corpus-level sibling of [[TextAnalysis.dedupLines]] (intra-doc)
    * and the line-granular sibling of [[duplicateSpans]].
    *
    * Lines shorter than `minLineLen` chars never participate (too
    * generic to be meaningful boilerplate — and blank separators
    * must survive).
    *
    * Scale shape: lines travel as 8-byte xxhash64 keys; duplicate
    * marking is the same hot-key-safe aggregate+join as
    * [[duplicateSpans]] (map-side partials absorb a cookie banner
    * that appears 10⁸ times — no per-line sort); the drop set
    * returns to each doc as one (doc, line-index array) row, so
    * document text itself never shuffles. Hash collisions merge two
    * distinct lines' occurrence sets with probability ~n²/2⁶⁴ —
    * the standing 64-bit trade.
    */
  def dedupCorpusLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLineLen: Int = 5): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "l")))
      .filter(length(col("l")) >= minLineLen)
      .select(col("doc_id"), col("idx"), xxhash64(col("l")).as("__h"))
    val firsts = lines.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id"), col("idx"))).as("__first"))
      .filter(col("__c") > 1)
      .select(col("__h"), col("__first"))
    val marked = lines.join(firsts, Seq("__h"))
      .filter(col("doc_id") =!= col("__first.doc_id") ||
        col("idx") =!= col("__first.idx"))
      .select("doc_id", "idx")
    val drops = marked.groupBy(col("doc_id"))
      .agg(collect_list(col("idx")).as("__drop"))
    val t = col(textCol)
    val cleaned = array_join(
      filter(split(t, "\n"), (l, i) => !array_contains(col("__drop"), i)), "\n")
    val out = docs.join(drops, docs(idCol) === drops("doc_id"), "left")
      .withColumn("__cleaned", when(col("__drop").isNull, t).otherwise(cleaned))
    out.select(docs.columns.map(c =>
      (if (c == textCol) col("__cleaned") else docs(c)).as(c)): _*)
  }

  /** Train/eval decontamination: for each eval doc, the fraction of
    * its distinct word `n`-grams that appear ANYWHERE in the train
    * corpus — the published benchmark-leakage check (an eval doc
    * with high containment was memorized verbatim or near-verbatim
    * by the training set and must be dropped from one side).
    *
    * Shape: both corpora explode to distinct (id, gram-hash) rows;
    * the train side collapses to a DISTINCT 8-byte hash set (grams
    * never shuffle as strings); one left equi-join on the hash +
    * one per-doc aggregation. Everything is key-partitioned — no
    * broadcast of anything corpus-sized, no all-pairs. 64-bit gram
    * hashing accepts the same negligible collision odds as the
    * shingle join in [[ngramJaccardPairs]] (~n²/2⁶⁵ false hits).
    *
    * Eval docs with fewer than `n` tokens have no grams and drop
    * from the output (no measurable containment either way).
    *
    * Returns (id, n_grams, n_hit, contamination∈[0,1] at 4 dp).
    */
  // ---- DuckDB oracle twins of the signature chains (round 9) ----
  //
  // The minhash/simhash candidate generation is deterministic integer
  // arithmetic end-to-end (md5-derived token hashes, 31-bit modular
  // combines, lane minimums / bit votes), so the oracle can replay it
  // exactly instead of settling for rows-only checks. Generators live
  // here — next to the operators whose constants they must mirror
  // (minhashCoefs, ShingleHashModExpr.B, banded64's bounds) — so the
  // two sides cannot drift apart silently. Style precedent:
  // Classifier.linearScoreDuckSql, Psl's generated SQL.

  /** DuckDB CTE chain computing the banded MinHash candidate pairs of
    * [[minhashCandidates]] over the `documents` table: defines
    * `mh_th` (mod-p token hashes), `mh_hs` (mod-p shingle hashes —
    * [[graft.functions.ShingleHashModExpr]]'s three cases restated),
    * `mh_sigs` (the [[minhashCoefs]] lane minimums), `mh_banded`
    * (signature slices as band keys — bucket EQUALITY classes match
    * the engine's xxhash64 bucket values, which never reach the
    * output), and `mh_cand` `(id_a, id_b, est_jaccard)`,
    * threshold-filtered. Splice into `WITH [RECURSIVE] ...`.
    */
  def minhashCandDuckCtes(
      toksExpr: String,
      k: Int = 3,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      table: String = "documents"): String = {
    val p = graft.functions.ShingleHashModExpr.P
    val b = graft.functions.ShingleHashModExpr.B
    // the k-term modular fold of ShingleHashModExpr, unrolled over
    // 1-based positions i+1 .. i+k (i from range(), 0-based)
    val fold = (2 to k).foldLeft("th[i + 1]") { (acc, j) =>
      s"(($acc * $b + th[i + $j]) % $p)"
    }
    val foldShort = s"list_reduce(th, (a, x) -> (a * $b + x) % $p)"
    // DuckDB-performance shape (round 11): the first cut evaluated the
    // n-element coefficient-array LITERALS inside a lambda, which
    // DuckDB 1.0 re-materializes per (gram × lane) evaluation — the
    // sf0.01 oracle measured 40-50 s for 500 docs on that alone. The
    // lanes are a 64-row MATERIALIZED coefficient table instead, the
    // lane minimum a plain grouped aggregate over (doc, lane) rows, and
    // `est_jaccard` is computed once per DISTINCT candidate pair
    // rather than once per matching band. `mh_sigs`/`mh_pairs` are
    // MATERIALIZED because downstream recursive CTEs (ccDuckCtes,
    // gateReplayDuckCtes) would otherwise re-inline — and re-execute —
    // the whole signature chain per recursion reference. Same
    // arithmetic, same rows: flipped q_minhash_neardup's oracle from
    // 51 s to 0.17 s with an identical result set.
    s"""mh_th AS (
       |  SELECT doc_id,
       |    list_transform($toksExpr, t -> ${TextAnalysis.tokenHashPDuckSql("t")}) AS th
       |  FROM $table),
       |mh_hs AS (
       |  SELECT doc_id,
       |    CASE WHEN len(th) = 0 THEN [CAST(0 AS BIGINT)]
       |         WHEN len(th) < $k THEN [$foldShort]
       |         ELSE list_transform(range(len(th) - ${k - 1}), i -> $fold)
       |    END AS hs
       |  FROM mh_th),
       |${minhashPairsFromHsDuckCtes("mh_hs", n, bands, threshold)}""".stripMargin
  }

  /** The signature/band/candidate tail of [[minhashCandDuckCtes]]
    * over ANY per-doc mod-p element-list CTE `hsCte(doc_id,
    * hs: BIGINT list, every element in [0, p))` — factored (round 11)
    * so non-text element sets replay the identical chain (video frame
    * energies are < 2²¹, already in the hash domain —
    * `q_stream_video_gate`). Emits `mh_coef` … `mh_pairs`; same
    * DuckDB-performance shape notes as [[minhashCandDuckCtes]].
    */
  def minhashPairsFromHsDuckCtes(
      hsCte: String,
      n: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): String = {
    require(n % bands == 0, s"signature length $n must divide into $bands bands")
    val rows = n / bands
    val p = graft.functions.ShingleHashModExpr.P
    val coefs = minhashCoefs(n)
    val aLit = coefs.map(_._1).mkString("[", ", ", "]")
    val bLit = coefs.map(_._2).mkString("[", ", ", "]")
    s"""mh_coef AS MATERIALIZED (
       |  SELECT u.j AS j, $aLit[u.j + 1] AS ca, $bLit[u.j + 1] AS cb
       |  FROM unnest(range($n)) AS u(j)),
       |mh_g AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM $hsCte),
       |mh_sigr AS (
       |  SELECT g.doc_id, c.j, min((c.ca * g.h + c.cb) % $p) AS m
       |  FROM mh_g g CROSS JOIN mh_coef c GROUP BY 1, 2),
       |mh_sigs AS MATERIALIZED (
       |  SELECT doc_id, list(m ORDER BY j) AS sig FROM mh_sigr GROUP BY doc_id),
       |mh_banded AS (
       |  SELECT doc_id, u.b AS band,
       |    list_slice(sig, u.b * $rows + 1, (u.b + 1) * $rows) AS bucket
       |  FROM mh_sigs, unnest(range($bands)) AS u(b)),
       |mh_cand0 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mh_banded a JOIN mh_banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |mh_cand AS (
       |  SELECT id_a, id_b,
       |    round(CAST(len(list_filter(range($n), j ->
       |      sa.sig[j + 1] = sb.sig[j + 1])) AS DOUBLE) / $n, 4) AS est_jaccard
       |  FROM mh_cand0 JOIN mh_sigs sa ON sa.doc_id = id_a
       |  JOIN mh_sigs sb ON sb.doc_id = id_b),
       |mh_pairs AS MATERIALIZED (
       |  SELECT id_a, id_b, est_jaccard FROM mh_cand
       |  WHERE est_jaccard >= $threshold)""".stripMargin
  }

  /** Hub-STAR pair CTEs appended after [[minhashCandDuckCtes]] (which
    * provides `mh_banded`/`mh_sigs`) — the oracle twin of
    * [[starCandidatesFromBandedSigs]]: per (band, bucket) the min-id
    * hub, members verified against it at est-Jaccard ≥ threshold.
    * Ends at `mh_spairs (id_a, id_b, est_jaccard)`, MATERIALIZED for
    * the recursive CC downstream. (Both engines block on the band
    * slice — Spark via xxhash64 of the slice, the oracle via slice
    * equality; identical grouping up to a 2⁻⁶⁴ hash collision, the
    * standing assumption of the whole minhash oracle family.)
    */
  def starPairsDuckCtes(n: Int = 64, threshold: Double = 0.5): String =
    s"""mh_hub AS (
       |  SELECT band, bucket, min(doc_id) AS hub_id
       |  FROM mh_banded GROUP BY 1, 2),
       |mh_scand AS (
       |  SELECT DISTINCT h.hub_id AS id_a, b.doc_id AS id_b
       |  FROM mh_banded b
       |  JOIN mh_hub h ON h.band = b.band AND h.bucket = b.bucket
       |  WHERE b.doc_id <> h.hub_id),
       |mh_spairs AS MATERIALIZED (
       |  SELECT id_a, id_b, est_jaccard FROM (
       |    SELECT id_a, id_b,
       |      round(CAST(len(list_filter(range($n), j ->
       |        sa.sig[j + 1] = sb.sig[j + 1])) AS DOUBLE) / $n, 4) AS est_jaccard
       |    FROM mh_scand JOIN mh_sigs sa ON sa.doc_id = id_a
       |    JOIN mh_sigs sb ON sb.doc_id = id_b) t
       |  WHERE est_jaccard >= $threshold)""".stripMargin

  /** Per-PARITY hub-star pair CTEs (appended after
    * [[minhashCandDuckCtes]]) — the oracle twin of the STREAMING star
    * gate's intra-batch candidates (`q_stream_neardup_star`): the
    * two-parity-batch replay computes [[starCandidatesFromBandedSigs]]
    * WITHIN each micro-batch, so each batch's hubs are the min id of
    * ITS OWN rows in a (band, bucket) — NOT the corpus-wide hub
    * filtered by parity (a corpus hub of even id would leave the odd
    * batch's bucket hubless, and vice versa; signatures themselves
    * are per-doc, so the corpus-wide `mh_banded` filtered by parity
    * IS each batch's banded-signature set). Emits `mh_spairs_e` /
    * `mh_spairs_o` `(id_a, id_b, est_jaccard)`, MATERIALIZED for the
    * recursive CC downstream.
    */
  def starPairsParityDuckCtes(n: Int = 64, threshold: Double = 0.5): String = {
    def side(par: Int, suf: String): String =
      s"""mh_hub_$suf AS (
         |  SELECT band, bucket, min(doc_id) AS hub_id
         |  FROM mh_banded WHERE doc_id % 2 = $par GROUP BY 1, 2),
         |mh_scand_$suf AS (
         |  SELECT DISTINCT h.hub_id AS id_a, b.doc_id AS id_b
         |  FROM mh_banded b
         |  JOIN mh_hub_$suf h ON h.band = b.band AND h.bucket = b.bucket
         |  WHERE b.doc_id % 2 = $par AND b.doc_id <> h.hub_id),
         |mh_spairs_$suf AS MATERIALIZED (
         |  SELECT id_a, id_b, est_jaccard FROM (
         |    SELECT id_a, id_b,
         |      round(CAST(len(list_filter(range($n), j ->
         |        sa.sig[j + 1] = sb.sig[j + 1])) AS DOUBLE) / $n, 4) AS est_jaccard
         |    FROM mh_scand_$suf JOIN mh_sigs sa ON sa.doc_id = id_a
         |    JOIN mh_sigs sb ON sb.doc_id = id_b) t
         |  WHERE est_jaccard >= $threshold)""".stripMargin
    side(0, "e") + ",\n" + side(1, "o")
  }

  /** Per-PARITY hub-star pair CTEs for the 64-BIT banded family
    * (appended after [[simhashCandDuckCtes]] /
    * [[hamming64PairsDuckCtes]], which provide `{prefix}banded`) —
    * the oracle twin of [[starHamming64PairsFromBanded]] computed
    * WITHIN each parity micro-batch, exactly as
    * [[starPairsParityDuckCtes]] is for the minhash gate. `sigsCte`
    * names the `(doc_id, sig)` signature table for verification.
    * Emits `{prefix}spairs_e` / `{prefix}spairs_o`
    * `(id_a, id_b, hamming)` filtered to `≤ maxHamming`.
    */
  def starHamming64ParityDuckCtes(
      prefix: String = "sh_",
      sigsCte: String = "sh_sigs",
      maxHamming: Int = 3): String = {
    def side(par: Int, suf: String): String =
      s"""${prefix}hub_$suf AS (
         |  SELECT band, bucket, min(doc_id) AS hub_id
         |  FROM ${prefix}banded WHERE doc_id % 2 = $par GROUP BY 1, 2),
         |${prefix}scand_$suf AS (
         |  SELECT DISTINCT h.hub_id AS id_a, b.doc_id AS id_b
         |  FROM ${prefix}banded b
         |  JOIN ${prefix}hub_$suf h ON h.band = b.band AND h.bucket = b.bucket
         |  WHERE b.doc_id % 2 = $par AND b.doc_id <> h.hub_id),
         |${prefix}spairs_$suf AS MATERIALIZED (
         |  SELECT id_a, id_b, hamming FROM (
         |    SELECT c.id_a, c.id_b,
         |      CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
         |    FROM ${prefix}scand_$suf c
         |    JOIN $sigsCte sa ON sa.doc_id = c.id_a
         |    JOIN $sigsCte sb ON sb.doc_id = c.id_b) t
         |  WHERE hamming <= $maxHamming)""".stripMargin
    side(0, "e") + ",\n" + side(1, "o")
  }

  /** DuckDB recursive-CTE connected components over a pair CTE with
    * columns `(id_a, id_b)` — the oracle twin of
    * [[connectedComponents]]'s min-label contract: `cc_comp(id,
    * component)` labels every endpoint with the minimum id reachable
    * from it (true closure; the label frontier enumerates (node,
    * smaller-seen-label) pairs — see the prune note in the body). The
    * enclosing query MUST open with `WITH RECURSIVE`.
    */
  def ccDuckCtes(pairsCte: String): String =
    // `cc_edges` is MATERIALIZED: DuckDB 1.0 inlines plain CTEs, so
    // the recursive term would re-execute the whole upstream pair
    // pipeline once per iteration (q_dedup_docs' oracle spent ~100 s
    // re-running the signature chain that way). The recursive term
    // also prunes to STRICTLY-DECREASING labels (`r.lbl < e.d`): an
    // entry (x, l) with l ≥ x can never be x's minimum (the base case
    // seeds (x, x)) and any propagation of l through x is dominated by
    // x's own label travelling the same edges, so dropping those rows
    // changes nothing — while bounding frontier growth on dense
    // components.
    s"""cc_edges AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM $pairsCte
       |  UNION
       |  SELECT id_b, id_a FROM $pairsCte),
       |cc_reach(id, lbl) AS (
       |  SELECT s, s FROM cc_edges
       |  UNION
       |  SELECT e.d, r.lbl FROM cc_reach r JOIN cc_edges e ON e.s = r.id
       |  WHERE r.lbl < e.d),
       |cc_comp AS (
       |  SELECT id, min(lbl) AS component FROM cc_reach GROUP BY id)""".stripMargin

  /** DuckDB CTE chain replaying the two-parity-batch streaming-gate
    * harness (`q_stream_neardup` / `q_stream_neardup_exact` /
    * `q_stream_simhash_gate`) over a candidate-pair CTE with columns
    * `(id_a, id_b)` — the oracle twin of two [[SigGate.acceptBatch]]
    * steps (batch 0 = even `doc_id`s, batch 1 = odd):
    *
    *  - batch 0 has no prior state, so its accepted set is exactly
    *    the intra-batch connected-components min-id keepers
    *    (`g_e_comp` over even–even pairs; singletons accept).
    *  - batch 1 rejects a doc iff it candidate-matches the state
    *    (`g_o_hit`), or its intra-batch component (`g_o_comp` over
    *    odd–odd pairs) is not rooted at it, or that component touches
    *    state through ANY member (`g_o_touch` — SigGate resolves the
    *    whole component to the external keeper, so all members
    *    reject).
    *
    * The two modes differ ONLY in what batch 1 sees as state:
    * `exact = true` persists every batch-0 signature (keeper-tagged),
    * so state = all evens; the default persists accepted rows only,
    * so state = `g_acc0`. Keeper LABELS never affect membership of
    * the accepted set, so the transitive-resolution machinery needs
    * no SQL twin here. Emits `gate_accept(doc_id)`; the enclosing
    * query MUST open with `WITH RECURSIVE` (two recursive frontiers,
    * `g_e_reach` / `g_o_reach`, same shape as [[ccDuckCtes]]).
    *
    * `table`/`idCol` name the id universe the gate streams over
    * (default the `documents` corpus; `q_stream_embed_gate` replays
    * over `embeddings.vec_id`). The emitted id column is always
    * `doc_id` — the gate's output name, whatever the source.
    *
    * `intraEvenCte`/`intraOddCte` override the INTRA-batch candidate
    * pairs with already-parity-restricted CTEs (the star gate's
    * per-batch hub pairs, [[starPairsParityDuckCtes]]); the
    * cross-history hit check (`g_o_hit`) always stays on `pairsCte` —
    * [[graft.streaming.SigGate]]'s state match predicate is the full
    * bucket join whatever the intra-candidate mode.
    */
  def gateReplayDuckCtes(
      pairsCte: String,
      exact: Boolean,
      table: String = "documents",
      idCol: String = "doc_id",
      intraEvenCte: Option[String] = None,
      intraOddCte: Option[String] = None): String = {
    val state =
      if (exact) "SELECT doc_id FROM g_univ WHERE doc_id % 2 = 0"
      else "SELECT doc_id FROM g_acc0"
    val ePairs = intraEvenCte.map(c => s"SELECT id_a, id_b FROM $c")
      .getOrElse(
        s"SELECT id_a, id_b FROM $pairsCte WHERE id_a % 2 = 0 AND id_b % 2 = 0")
    val oPairs = intraOddCte.map(c => s"SELECT id_a, id_b FROM $c")
      .getOrElse(
        s"SELECT id_a, id_b FROM $pairsCte WHERE id_a % 2 = 1 AND id_b % 2 = 1")
    s"""g_univ AS (SELECT $idCol AS doc_id FROM $table),
       |g_e_pairs AS (
       |  $ePairs),
       |g_e_edges AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM g_e_pairs
       |  UNION
       |  SELECT id_b, id_a FROM g_e_pairs),
       |g_e_reach(id, lbl) AS (
       |  SELECT s, s FROM g_e_edges
       |  UNION
       |  SELECT e.d, r.lbl FROM g_e_reach r JOIN g_e_edges e ON e.s = r.id
       |  WHERE r.lbl < e.d),
       |g_e_comp AS (SELECT id, min(lbl) AS component FROM g_e_reach GROUP BY id),
       |g_acc0 AS (
       |  SELECT d.doc_id FROM g_univ d LEFT JOIN g_e_comp c ON d.doc_id = c.id
       |  WHERE d.doc_id % 2 = 0 AND (c.id IS NULL OR c.component = d.doc_id)),
       |g_state AS ($state),
       |g_o_hit AS (
       |  SELECT DISTINCT CASE WHEN p.id_a % 2 = 1 THEN p.id_a ELSE p.id_b END AS id
       |  FROM $pairsCte p JOIN g_state s
       |    ON s.doc_id = CASE WHEN p.id_a % 2 = 0 THEN p.id_a ELSE p.id_b END
       |  WHERE (p.id_a % 2) <> (p.id_b % 2)),
       |g_o_pairs AS (
       |  $oPairs),
       |g_o_edges AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM g_o_pairs
       |  UNION
       |  SELECT id_b, id_a FROM g_o_pairs),
       |g_o_reach(id, lbl) AS (
       |  SELECT s, s FROM g_o_edges
       |  UNION
       |  SELECT e.d, r.lbl FROM g_o_reach r JOIN g_o_edges e ON e.s = r.id
       |  WHERE r.lbl < e.d),
       |g_o_comp AS (SELECT id, min(lbl) AS component FROM g_o_reach GROUP BY id),
       |g_o_touch AS (
       |  SELECT DISTINCT c.component FROM g_o_comp c JOIN g_o_hit h ON c.id = h.id),
       |g_acc1 AS (
       |  SELECT d.doc_id FROM g_univ d
       |  LEFT JOIN g_o_comp c ON d.doc_id = c.id
       |  LEFT JOIN g_o_hit h ON d.doc_id = h.id
       |  WHERE d.doc_id % 2 = 1 AND h.id IS NULL
       |    AND (c.id IS NULL OR (c.component = d.doc_id
       |      AND NOT EXISTS (
       |        SELECT 1 FROM g_o_touch t WHERE t.component = c.component)))),
       |gate_accept AS (
       |  SELECT doc_id FROM g_acc0 UNION ALL SELECT doc_id FROM g_acc1)""".stripMargin
  }

  /** DuckDB CTE chain computing the banded SimHash candidate pairs of
    * [[simhashCandidates]]: `sh_th` (portable 64-bit token hashes),
    * `sh_sigs` (the [[graft.functions.SimHash64Expr]] bit votes —
    * bit j set iff strictly more one-votes than zero-votes; the
    * signed-64 value is assembled from a power-of-two literal table
    * whose bit-63 entry is −2^63, keeping every sum in BIGINT),
    * `sh_banded` ([[banded64]]'s adaptive `maxHamming + 1` bands,
    * same integer-division bounds), and `sh_pairs`
    * `(id_a, id_b, hamming)` filtered to `≤ maxHamming`.
    */
  def simhashCandDuckCtes(toksExpr: String, maxHamming: Int = 3): String = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    s"""sh_th AS (
       |  SELECT doc_id,
       |    list_transform($toksExpr, t -> ${TextAnalysis.tokenHash64DuckSql("t")}) AS th
       |  FROM documents),
       |sh_sigs AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(64), j ->
       |    CASE WHEN 2 * coalesce(list_sum(list_transform(th, h ->
       |           (h >> CAST(j AS INTEGER)) & 1)), 0) > len(th)
       |         THEN $pow2Signed64Array[j + 1] ELSE 0 END)) AS BIGINT) AS sig
       |  FROM sh_th),
       |${hamming64PairsDuckCtes("sh_sigs", "sh_", maxHamming)}""".stripMargin
  }

  /** 2^j contributions as signed-64 DuckDB array literal — bit 63 is
    * −2^63, so any bit-assembly sum stays inside BIGINT exactly like
    * a JVM Long. Shared by every oracle that packs 64 predicate bits
    * into a signature.
    */
  private[graft] def pow2Signed64Array: String =
    (0 until 64).map(j =>
      if (j == 63) Long.MinValue else 1L << j).mkString("[", ", ", "]")

  /** DuckDB CTE chain replaying [[hamming64Candidates]] over ANY
    * precomputed signature CTE `sigsCte(doc_id, sig BIGINT)`:
    * `{prefix}banded` ([[banded64]]'s adaptive `maxHamming + 1`
    * integer-division band bounds) and `{prefix}pairs`
    * `(id_a, id_b, hamming)` filtered to `≤ maxHamming`. The shared
    * tail of [[simhashCandDuckCtes]], factored out so non-text
    * signatures (the audio fingerprint oracle) replay the identical
    * blocking join.
    */
  def hamming64PairsDuckCtes(
      sigsCte: String,
      prefix: String,
      maxHamming: Int = 3): String = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(i => 64 * i / nBands)
    val bandRows = (0 until nBands).map { i =>
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      s"(${i}, ${bounds(i)}, ${mask})"
    }.mkString(", ")
    s"""${prefix}banded AS (
       |  SELECT doc_id, sig, bd.band,
       |    (sig >> bd.lo) & bd.m AS bucket
       |  FROM $sigsCte, (VALUES $bandRows) AS bd(band, lo, m)),
       |${prefix}pairs AS (
       |  SELECT id_a, id_b, hamming FROM (
       |    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |    FROM ${prefix}banded a JOIN ${prefix}banded b
       |      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id) t
       |  WHERE hamming <= $maxHamming)""".stripMargin
  }

  def contamination(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    def gramHashes(df: DataFrame): DataFrame =
      df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
        .select(col(idCol),
          explode(array_distinct(TextAnalysis.wordNgrams(col("__toks"), n))).as("__gram"))
        .select(col(idCol), xxhash64(col("__gram")).as("__gh"))
    val trainSet = gramHashes(train)
      .select("__gh").distinct()
      .withColumn("__hit", lit(1L))
    gramHashes(eval)
      .join(trainSet, Seq("__gh"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination",
        Det.round(col("n_hit").cast("double") / col("n_grams"), 4))
  }

  /** Per-document duplication-exposure / novelty profile: of each
    * doc's DISTINCT `l`-char-gram hashes, how many occur in at least
    * one OTHER document. `novelty_ppm` (parts-per-million of grams
    * unique to the doc, integer arithmetic end-to-end) is the
    * corpus-internal diversity signal dataset curation ranks on —
    * [[duplicateSpans]] finds the verbatim spans to CUT, this scores
    * how derivative each doc is so curation can WEIGH it (the
    * "document-level de-duplication pressure" companion to exact
    * substring dedup; cf. Lee et al. 2022 §5's per-doc duplication
    * profiles).
    *
    * Scale shape: one [[graft.functions.HashExprs.charGramHashes]]
    * pass (rolling hash, 8-byte keys), per-doc `array_distinct`
    * BEFORE the explode (a doc's internal repetition never inflates
    * the shuffle), then a doc-count aggregate per gram (map-side
    * partials absorb hot boilerplate grams — the [[duplicateSpans]]
    * discipline: never a per-gram window). The count table is cut to
    * SHARED grams (`nd > 1`) BEFORE it touches the gram stream again
    * — in a mostly-novel corpus that side is orders of magnitude
    * smaller than the gram stream (AQE broadcasts it when it fits),
    * and the per-doc TOTAL is computed map-only from the array
    * length, so the full gram stream is never join-shuffled back
    * (the first cut of this operator did exactly that and went
    * super-linear in the 10× stress: 2.8 s → 43 s; this shape
    * measures 2.8 s → 9 s, the aggregate's honest cost). Docs
    * shorter than `l` surface with zero grams and NULL novelty.
    *
    * Output: `(doc_id, n_grams, shared_grams, novelty_ppm)`.
    */
  def gramNoveltyStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      l: Int = 30): DataFrame = {
    require(l >= 1, "gramNoveltyStats: gram length must be positive")
    def gramArr = array_distinct(
      graft.functions.HashExprs.charGramHashes(
        coalesce(col(textCol), lit("")), l)) // NULL text = zero grams
    // Deliberately NOT materialized: the gram stream feeds both the
    // shared-gram count and the membership probe, but it is a cheap
    // map-only explode — recomputing it twice beats checkpointing a
    // corpus-scale intermediate (measured at 10×: 22 s recomputed vs
    // 35 s through localCheckpoint), and at 100 TB a full gram-stream
    // materialization is exactly the write a pipeline cannot afford.
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(gramArr).as("__h"))
    val shared = grams.groupBy("__h")
      .agg(count(lit(1)).as("__nd")) // distinct docs: input is per-doc distinct
      .filter(col("__nd") > 1).select("__h")
    val sharedPerDoc = grams.join(shared, Seq("__h"))
      .groupBy("doc_id").agg(count(lit(1)).as("shared_grams"))
    docs.select(col(idCol).as("doc_id"),
        size(gramArr).cast("long").as("n_grams")) // map-only totals
      .join(sharedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      .withColumn("novelty_ppm",
        when(col("n_grams") === 0, lit(null).cast("long"))
          .otherwise(expr("((n_grams - shared_grams) * 1000000) div n_grams")))
  }
}
