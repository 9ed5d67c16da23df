package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge

/** Bloom-filter runtime prefilter for selective joins — the explicit
  * form of the filter Spark's optimizer injects for shuffle joins
  * (`spark.sql.optimizer.runtime.bloomFilter.*`), for the cases the
  * optimizer declines: semi joins on derived keys, pre-aggregated
  * build sides, or any place the caller wants the filter guaranteed
  * rather than cost-model-dependent.
  *
  * Why it matters at 100 TB: a selective dimension (say 0.1% of parts)
  * joined to a fact table normally shuffles the ENTIRE fact table on
  * the join key before the join can drop 99.9% of it. A bloom filter
  * of the build keys — megabytes for hundreds of millions of keys —
  * drops non-matching fact rows BEFORE the exchange, so the shuffle
  * moves only (true matches + fpp·|fact|) rows.
  *
  * Build/probe shape: the filter is built by Spark's own native
  * [[BloomFilterAggregate]] (partial filters merged associatively —
  * one pass over the build side), its bytes land on the driver as one
  * bounded artifact (`numBits/8` bytes, independent of data volume —
  * the same artifact Spark's injected subquery filter materializes),
  * and the probe runs as the codegen'd [[BloomFilterMightContain]]
  * over a literal, so the fact-side pass stays inside whole-stage
  * codegen. Exactness: bloom membership is one-sided (no false
  * negatives), so [[semiJoin]] keeps the exact join after the
  * prefilter — false positives die there, and the result equals the
  * plain semi join row-for-row.
  */
object BloomJoin {

  /** Optimal bit count for `n` expected items at false-positive rate
    * `fpp`: `-n·ln(p)/ln(2)²` (Bloom 1970), floored at 64.
    */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
  }

  /** Aggregate `key` values into a serialized bloom filter (binary).
    * Keys hash through `xxhash64` — any key type, fixed 8-byte lanes.
    */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    Bridge.column(new BloomFilterAggregate(
      Bridge.expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Membership probe against a bloom filter built by [[bloomAgg]].
    * `bloom` must be foldable (a literal) — Catalyst's contract for
    * [[BloomFilterMightContain]].
    */
  def mightContain(bloom: Column, key: Column): Column =
    Bridge.column(new BloomFilterMightContain(
      Bridge.expression(bloom), Bridge.expression(xxhash64(key))))

  /** Build a bloom filter of `buildKey` over `build` and return it as
    * a foldable literal column. Runs one Spark job (the build-side
    * pass); the driver holds only the `numBits/8`-byte filter.
    */
  def buildFilter(
      build: DataFrame,
      buildKey: Column,
      expectedItems: Long,
      fpp: Double = 0.01): Column = {
    val bits = optimalNumBits(expectedItems, fpp)
    // NULL build keys must not enter the filter: xxhash64(NULL) is the
    // SEED, so an un-filtered NULL would admit every NULL-keyed fact
    // row — but NULL never equals anything in the exact join.
    val bytes = build.where(buildKey.isNotNull)
      .agg(bloomAgg(buildKey, expectedItems, bits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // Empty build side → aggregate yields NULL: a filter that can
    // never match, which `mightContain(NULL, _)` encodes as NULL
    // (falsy under `where`) — the semantically right degenerate case.
    if (bytes == null) lit(null).cast("binary") else lit(bytes)
  }

  /** `fact` rows whose `factKey` MIGHT be in `build`'s `buildKey` set:
    * a superset of the true matches (within fpp), produced without
    * shuffling `fact`. Approximate on its own — compose with an exact
    * join ([[semiJoin]]) when exactness is required.
    */
  def prefilter(
      fact: DataFrame,
      factKey: Column,
      build: DataFrame,
      buildKey: Column,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame =
    fact.where(mightContain(buildFilter(build, buildKey, expectedItems, fpp), factKey))

  /** In-plan variant of [[prefilter]]: the bloom build runs as an
    * uncorrelated scalar subquery inside the ONE query plan — no
    * driver-side action at operator-construction time, no filter
    * bytes through the driver except the subquery result Spark itself
    * materializes (this is exactly the shape the optimizer's injected
    * runtime filters take). Prefer this form inside larger pipelines;
    * [[prefilter]] remains for callers that want to build once and
    * reuse the filter across many queries.
    */
  def prefilterLazy(
      fact: DataFrame,
      factKey: Column,
      build: DataFrame,
      buildKey: Column,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val bits = optimalNumBits(expectedItems, fpp)
    // same NULL-key discipline as buildFilter
    val agg = build.where(buildKey.isNotNull)
      .agg(bloomAgg(buildKey, expectedItems, bits).as("bf"))
    val sub = ScalarSubquery(agg.queryExecution.analyzed)
    fact.where(Bridge.column(
      new BloomFilterMightContain(sub, Bridge.expression(xxhash64(factKey)))))
  }

  /** Exact left-semi join accelerated by the bloom prefilter: map-side
    * bloom probe drops non-matching fact rows before the exchange, the
    * semi join removes the false positives. Result ≡
    * `fact.join(build, factKey === buildKey, "left_semi")`.
    *
    * Uses the in-plan subquery form ([[prefilterLazy]]) so the whole
    * thing is one lazy plan. The build side is evaluated twice (bloom
    * build + join build) — keep it a cheap scan/filter, or
    * [[Materialize]] it first.
    */
  def semiJoin(
      fact: DataFrame,
      factKey: Column,
      build: DataFrame,
      buildKey: Column,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame =
    prefilterLazy(fact, factKey, build, buildKey, expectedItems, fpp)
      .join(build, factKey === buildKey, "left_semi")
}
