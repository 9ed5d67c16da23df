package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational/stream-shaped operators, re-expressed Spark-first.
  *
  * Each mirrors an operator of the reference pipeline (SURVEY.md §2):
  * the reference computes these record-at-a-time in pandas
  * (`DataAnalysis.py`, `DataCleaning.py`); here they are declarative
  * `DataFrame` transformations so Catalyst plans distributed execution
  * (partial/final aggregation, broadcast joins, pushdown) for free.
  *
  * Scale notes are attached per operator — the design point is a
  * 1000-executor cluster over ~100 TB, not local mode.
  */
object Relational {

  /** Latest row per group — SURVEY §2 A3, the core query of the
    * reference (`DataAnalysis.py:108-109`: sort + groupby().last()).
    *
    * Implemented as `max_by(struct(payload), struct(orderCols))`
    * rather than `row_number() === 1`: one aggregation with a map-side
    * partial (one shuffle of *pre-aggregated* groups), instead of the
    * full-width shuffle the window form costs. At 100 TB the partial
    * aggregation collapses each map partition to ≤|groups| rows
    * before the exchange.
    *
    * It is not a hash aggregation: `max_by` over structs keeps a
    * struct in its buffer, which has no hash-mutable form, so Spark
    * plans a `SortAggregate` with a `Sort` on both sides of the
    * exchange. Over the 61k-row `dash_refresh` warehouse
    * (`perfbench/`; 25 interleaved warm rounds, 4 vCPUs) collecting
    * `FuelQueries.latestPrices` took 45 ms median against 42 ms for a
    * plain hash `max(lastupdated)` per group, so the sorts are not
    * where a dashboard render spends its time.
    *
    * Ties on `orderCols` must be broken deterministically by the
    * caller (append a unique tiebreak column, e.g. an event id) —
    * pandas `.last()` breaks ties by input order, which has no
    * distributed equivalent (SURVEY §7 hard part 2).
    */
  def latestPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val ord = struct(orderCols.map(col): _*)
    val payload = struct(payloadCols.map(col): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(max_by(payload, ord).as("__latest"))
      .select(groupCols.map(col) ++ payloadCols.map(c => col(s"__latest.$c")): _*)
  }

  /** First row per group — SURVEY §2 St2 batch form (keyed first-wins
    * dedup, `main.py:72-76`). Same single-shuffle `min_by` shape (and
    * sort aggregation) as [[latestPerGroup]].
    */
  def firstPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val ord = struct(orderCols.map(col): _*)
    val payload = struct(payloadCols.map(col): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(min_by(payload, ord).as("__first"))
      .select(groupCols.map(col) ++ payloadCols.map(c => col(s"__first.$c")): _*)
  }

  /** Data-driven retention window — SURVEY §2 St3
    * (`DataCleaning.py:15-39`): keep rows whose event time is within
    * `days` of the max *observed* event time (anchored at data, not
    * wall clock).
    *
    * The scalar max is computed as a 1-row aggregate and broadcast
    * (`crossJoin(broadcast(...))`), so the filter itself stays inside
    * the scan stage — no shuffle of the fact table, and Catalyst
    * keeps column pruning intact. Two passes over the input are
    * inherent to the semantics (whole-input agg feeds a filter).
    */
  def retentionFilter(df: DataFrame, tsCol: String, days: Int): DataFrame = {
    val anchor = df.agg(max(col(tsCol)).as("__max_ts"))
    df.crossJoin(broadcast(anchor))
      .filter(col(tsCol) > col("__max_ts") - expr(s"INTERVAL $days DAYS"))
      .drop("__max_ts")
  }

  /** High-water-mark gate, batch form — SURVEY §2 St1
    * (`main.py:45-51`): emit only rows *strictly newer* than the
    * watermark; ties at the watermark are dropped (the reference's
    * `>` semantics, pinned by tests).
    */
  def watermarkGate(df: DataFrame, tsCol: String, watermark: Column): DataFrame =
    df.filter(col(tsCol) > watermark)

  /** Grouped ordered string aggregation — SURVEY §2 A4
    * (`DataAnalysis.py:122-123`: groupby + "<br>".join). pandas
    * preserves encounter order, which is partition-dependent in a
    * distributed engine, so the spec here is: sort the collected
    * values lexicographically (`sort_array`) before joining —
    * deterministic under any partitioning (SURVEY §7 hard part 3).
    */
  def groupedStringAgg(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: Column,
      sep: String,
      as: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(concat_ws(sep, sort_array(collect_list(valueCol))).as(as))

  /** Deterministic global top-k. Spark plans `orderBy.limit(k)` as
    * TakeOrderedAndProject: per-partition heaps of size k, then a
    * k-row merge on the driver — no global sort, no full shuffle.
    * `orderCols` must be a total order (include a unique key) for
    * determinism.
    */
  def topK(df: DataFrame, k: Int, orderCols: Column*): DataFrame =
    df.orderBy(orderCols: _*).limit(k)

  /** Skew salting: split hot grouping keys across `buckets` shuffle
    * partitions. Phase 1 aggregates on (key, salt) — the hot key's
    * rows spread over `buckets` reducers; phase 2 merges the per-salt
    * partials (tiny input: ≤ buckets rows per key). Use for algebraic
    * aggregates when AQE's skew handling isn't enough (extreme
    * single-key skew in a groupBy, which AQE only fixes for joins).
    *
    * Example: `saltedAgg(df, Seq("k"), 8, sum(col("v")).as("s"),
    * fin = sum(col("s")).as("s"))`.
    */
  def saltedAgg(
      df: DataFrame,
      groupCols: Seq[String],
      buckets: Int,
      partial: Column,
      fin: Column): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
      .groupBy((groupCols.map(col) :+ col("__salt")): _*)
      .agg(partial)
      .groupBy(groupCols.map(col): _*)
      .agg(fin)

  /** Skew-salted inner equi-join: the fact side gets a random-ish
    * salt in [0, buckets); the dimension side is replicated `buckets`
    * times (explode over the salt range); the join key becomes
    * (key, salt), so a hot key's fact rows spread across `buckets`
    * reducers instead of melting one task.
    *
    * This is the MANUAL fallback for when AQE's skew-join split
    * (`spark.sql.adaptive.skewJoin`) can't fire: AQE only splits
    * sort-merge join partitions, only post-shuffle, and not when the
    * skewed side feeds another co-partitioned operator. Cost: the
    * dim side shuffles `buckets`× its size — only salt joins whose
    * dim side is far smaller than the fact skew (the usual case:
    * hot-key fact skew against a modest dimension).
    *
    * Results are identical to `facts.join(dim, factKey === dimKey)`:
    * every fact row still meets every matching dim row exactly once
    * (it meets only the replica carrying its own salt).
    *
    * `facts`/`dim` must not share column names; `__salt` is reserved.
    */
  def saltedJoin(
      facts: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(!facts.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "__salt is reserved by saltedJoin")
    val f = facts.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val d = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    f.join(d, f(factKey) === d(dimKey) && f("__salt") === d("__salt"))
      .drop("__salt")
  }

  /** As-of join — an operator Spark lacks natively: for every probe
    * row, the single build row with the greatest `buildTs <= probeTs`
    * within the same key (left outer: unmatched probes keep nulls).
    *
    * Implemented by composition (preference (a) of the build plan):
    * tag and union both sides, then one pass of
    * `last_value(ignoreNulls)` over a window ordered by
    * `(ts, tag, tieBreak)` — build rows (tag 0) sort before probe
    * rows at equal ts, so `<=` semantics fall out of the frame. Cost:
    * ONE shuffle of the union by key + per-partition sort — the same
    * price as a sort-merge join, with no range-explosion, at any
    * scale. Build-side ties at equal ts resolve to the max
    * `buildTieBreak` (deterministic).
    *
    * `probe`/`build` must not share column names other than the join
    * key columns passed here.
    */
  def asofJoin(
      probe: DataFrame,
      build: DataFrame,
      probeKey: String,
      buildKey: String,
      probeTs: String,
      buildTs: String,
      buildPayload: Seq[String],
      buildTieBreak: String): DataFrame = {
    val payload = struct(buildPayload.map(col): _*)
    val b = build.select(
      col(buildKey).as("__key"),
      col(buildTs).as("__ts"),
      lit(0).as("__tag"),
      col(buildTieBreak).cast("long").as("__tie"),
      payload.as("__payload"))
    val probeCols = probe.columns
    val p = probe.select(
      (Seq(col(probeKey).as("__key"), col(probeTs).as("__ts"),
        lit(1).as("__tag"), lit(Long.MaxValue).as("__tie"),
        lit(null).cast(b.schema("__payload").dataType).as("__payload"))
        ++ probeCols.map(col)): _*)
    val unioned = p.unionByName(b.select(
      (Seq(col("__key"), col("__ts"), col("__tag"), col("__tie"), col("__payload"))
        ++ probeCols.map(c => lit(null).cast(probe.schema(c).dataType).as(c))): _*))
    val w = Window.partitionBy("__key")
      .orderBy(col("__ts"), col("__tag"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__asof", last("__payload", ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(probeCols.map(col) ++
        buildPayload.map(c => col(s"__asof.$c")): _*)
  }

  /** Time-series gap fill: complete a per-key daily series over the
    * observed date range and forward-fill missing values — the
    * resample/ffill step every dashboard series needs (pandas does it
    * with `asfreq`/`ffill`; there is no Spark builtin).
    *
    * `daily` holds one row per (key, day) with observations; output
    * has one row per (key, day) for EVERY day in [min(day), max(day)]
    * — missing days get the most recent prior value (NULL before the
    * key's first observation).
    *
    * Scale shape: the spine is GENERATED (distinct keys × a
    * `sequence()` explode of the global bounds — never a shuffle of
    * the facts); the bounds aggregate is one row, broadcast; the fill
    * is a per-key window ordered by day — partition size = days in
    * range, bounded a priori, so no skew risk. One shuffle for the
    * spine join + one sort for the window.
    */
  def gapFillDays(
      daily: DataFrame,
      keyCols: Seq[String],
      dayCol: String,
      valueCol: String): DataFrame = {
    val bounds = daily.agg(min(col(dayCol)).as("__lo"), max(col(dayCol)).as("__hi"))
    val spine = daily.select(keyCols.map(col): _*).distinct()
      .crossJoin(broadcast(bounds))
      .withColumn(dayCol, explode(sequence(col("__lo"), col("__hi"), expr("INTERVAL 1 DAY"))))
      .drop("__lo", "__hi")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, keyCols :+ dayCol, "left")
      .withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Top-k rows per group via the bounded-heap aggregate
    * ([[graft.functions.TopKExpr]]): one hash aggregation whose
    * map-side partial ships at most k `(score, id)` pairs per group
    * per partition — instead of the window `row_number() <= k` form,
    * which shuffles and sorts EVERY row. Ordering: score descending,
    * id ascending on ties (a total order when ids are unique).
    *
    * Output: groupCols..., `rank` (1-based), `id`, `score`. Payload
    * beyond the id rides back via a self-join on the id when needed —
    * still cheaper at scale than the full-width window shuffle.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: Column,
      idCol: Column,
      k: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKExpr.topK(scoreCol, idCol, k).as("__top"))
      .select((groupCols.map(col) :+ posexplode(col("__top"))): _*)
      .select(
        (groupCols.map(col) ++ Seq(
          (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("id"),
          col("col.score").as("score"))): _*)

  /** Interval (range) join: facts row matches ranges row when
    * `lo <= value < hi`. Spark plans a raw range predicate as
    * BroadcastNestedLoopJoin — O(|facts|·|ranges|) work per task and
    * a full broadcast of one side; at 100 TB that is the classic
    * accidental cross join. This operator turns it into an EQUI-join:
    * each fact maps to one bucket of width `bucketWidth`; each range
    * is replicated to the buckets it overlaps (ceil(span/width) + 1
    * rows); the bucket equi-join shuffles both sides by bucket (AQE
    * may still broadcast a small ranges side), and the exact
    * predicate filters within the bucket pairs.
    *
    * Replication factor is bounded by the widest range:
    * pick `bucketWidth` ≈ the typical range span so most ranges land
    * in ≤2 buckets. Ranges with `hi <= lo` match nothing (empty
    * interval) and are dropped up front.
    *
    * `facts` and `ranges` must not share column names; `__bkt` must
    * not pre-exist in either.
    */
  def rangeJoin(
      facts: DataFrame,
      valueCol: String,
      ranges: DataFrame,
      loCol: String,
      hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!facts.columns.contains("__bkt") && !ranges.columns.contains("__bkt"),
      "__bkt is reserved by rangeJoin")
    val w = lit(bucketWidth)
    val fb = facts.withColumn("__bkt", floor(col(valueCol) / w).cast("long"))
    val rb = ranges
      .filter(col(loCol) < col(hiCol))
      .withColumn("__bkt", explode(sequence(
        floor(col(loCol) / w).cast("long"),
        floor(col(hiCol) / w).cast("long"))))
    fb.join(rb, Seq("__bkt"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bkt")
  }

  /** Statistical null imputation: fill missing `valueCol` with the
    * Det-rounded mean of the group's NON-NULL values — the
    * group-statistics upgrade of the reference's constant default
    * fill (SURVEY §2 P4). Appends `<valueCol>_filled`; a group with
    * no non-null values keeps its nulls (there is nothing to impute
    * from — flagged, not invented).
    *
    * Scale shape: one group-count-sized aggregate of `(DECIMAL sum,
    * non-null count)` broadcast back, then a map-only coalesce. The
    * mean is the [[graft.functions.Det]] floor-round of an exact
    * DECIMAL sum over one integer count — the same cross-engine
    * contract as every money mean in the catalog.
    */
  def imputeByGroupMean(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      scale: Int = 2): DataFrame = {
    // DECIMAL scale follows the requested rounding scale (min 2, the
    // money default) so scale=4 callers don't sum pre-truncated values.
    val v = col(valueCol).cast(
      org.apache.spark.sql.types.DecimalType(18, scale max 2))
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(when(count(col(valueCol)) > 0,
        graft.functions.Det.round(
          sum(v).cast("double") / count(col(valueCol)), scale))
        .as("__fill"))
    // LEFT join: an equi-join never matches null keys (null != null), so
    // inner would silently DROP rows whose group key is null — fatal for
    // a fill-nulls utility. stats covers every non-null group, so left
    // preserves all rows; a null-key row gets __fill = null and coalesce
    // keeps its original value.
    df.join(broadcast(stats), groupCols, "left")
      .withColumn(s"${valueCol}_filled", coalesce(col(valueCol), col("__fill")))
      .drop("__fill")
  }

  /** Time-bucket downsampling to OHLC bars: per (keys, bucket) the
    * first/highest/lowest/last value and the row count — the
    * resolution-reduction pass that turns a raw tick/event stream
    * into chartable series (the reference's per-station price chart
    * is the unbucketed special case).
    *
    * Scale shape: ONE aggregate shuffle on (keys, bucket); open/close
    * are `min_by`/`max_by` over the (ts, tie) order, so map-side
    * partials collapse each partition to one candidate per group — no
    * window, no per-group sort, hot buckets absorb into partials.
    * (ts, tieCol) must be unique per row for deterministic open/close
    * under ties.
    */
  def ohlcBars(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      valueCol: String,
      unit: String): DataFrame = {
    require(!df.columns.contains("bucket"),
      "column name `bucket` is reserved by ohlcBars (rename the input column)")
    val order = struct(col(tsCol), col(tieCol))
    df.withColumn("bucket", date_trunc(unit, col(tsCol)))
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(
        min_by(col(valueCol), order).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), order).as("close"),
        count(lit(1)).as("n"))
  }

  /** Rolling-window anomaly flags: per key in (ts, tie) order, a row
    * is anomalous when its value exceeds `factor`× the mean of the
    * previous `k` values. The streaming-ops quality monitor ("did
    * this sensor just spike?") restated engine-exact: the comparison
    * `value · window_n > factor · window_sum` multiplies DECIMALs
    * instead of dividing (a DECIMAL division's result scale is
    * engine-dependent; products are not), and the bounded ROWS frame
    * sums ≤ k DECIMALs sequentially, so both engines see identical
    * cells. Rows with an empty look-back (first per key) are never
    * anomalous.
    *
    * Scale shape: one shuffle on the key; the window frame is
    * bounded (k rows), so memory is O(k) per task and task size is
    * bounded by a single key's history — the same per-key-window
    * envelope as [[gapFillDays]]/[[Cdc.scd2]].
    */
  def rollingAnomaly(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      valueCol: String,
      k: Int,
      factor: Int): DataFrame = {
    require(k > 0, "window size k must be positive")
    require(Seq("roll_sum", "roll_n", "is_anomaly")
        .forall(c => !df.columns.contains(c)),
      "roll_sum/roll_n/is_anomaly are reserved by rollingAnomaly")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-k, -1)
    val v = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    df.withColumn("roll_sum", sum(v).over(w))
      .withColumn("roll_n", count(col(valueCol)).over(w))
      .withColumn("is_anomaly",
        when(col("roll_n") === 0, lit(0))
          .otherwise((v * col("roll_n") > col("roll_sum") * factor).cast("int")))
  }

  /** Edit-distance (fuzzy) join: pairs within Levenshtein `maxDist`,
    * without the all-pairs cross join a raw `levenshtein(a,b) <= t`
    * predicate plans (BroadcastNestedLoopJoin — the record-linkage
    * scale killer).
    *
    * Blocking is SOUND, not heuristic: `|len(a)-len(b)| <= maxDist`
    * is a necessary condition for edit distance ≤ maxDist (each edit
    * changes the length by at most one), so bucketing lengths at
    * width `maxDist+1` puts every qualifying pair in the same or an
    * adjacent bucket. The left side replicates to its bucket ±1 (a
    * fixed 3×, independent of data size) and the join is a plain
    * equi-join on the bucket — no false negatives, and each pair
    * meets exactly once (the right side carries a single bucket).
    * Candidates then pass a cheap length prefilter before the
    * thresholded `levenshtein(a, b, maxDist)`, whose early-exit makes
    * the verify cost O(len·maxDist) instead of O(len²).
    *
    * At 100 TB blocking on length alone admits many candidates per
    * bucket; compose with a stronger sound block first (e.g. a shared
    * q-gram count filter) and keep this as the verify stage. Output:
    * left columns + right columns + `dist` (int). Column names must
    * be disjoint across the two sides.
    */
  def fuzzyJoin(
      left: DataFrame,
      leftCol: String,
      right: DataFrame,
      rightCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "fuzzyJoin requires disjoint column names (alias one side)")
    val w = maxDist + 1
    val lb = left
      .withColumn("__b0", floor(length(col(leftCol)).cast("long") / w).cast("long"))
      .withColumn("__bkt",
        explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)))
      .drop("__b0")
    val rb = right
      .withColumn("__bkt", floor(length(col(rightCol)).cast("long") / w).cast("long"))
    lb.join(rb, Seq("__bkt"))
      .filter(abs(length(col(leftCol)) - length(col(rightCol))) <= maxDist)
      .withColumn("dist", levenshtein(col(leftCol), col(rightCol), maxDist))
      // thresholded levenshtein returns -1 ABOVE the threshold
      .filter(col("dist") >= 0)
      .drop("__bkt")
  }

  /** Scalable edit-distance join via the q-gram count filter — the
    * path for corpora where [[fuzzyJoin]]'s length blocking
    * degenerates (most real name/title corpora concentrate in a few
    * lengths, making one bucket near-all-pairs). Candidates must
    * share at least `max(len(a), len(b)) − q + 1 − maxDist·q`
    * positional q-grams (the q-gram lemma: one edit destroys at most
    * q grams), counted WITH MULTIPLICITY — Σ min(count_a, count_b)
    * over shared grams; a distinct-gram count undercounts repeated
    * grams and would silently drop valid pairs (spec-pinned with a
    * repeated-gram fixture). Survivors verify with thresholded
    * `levenshtein`.
    *
    * Soundness needs the lemma threshold ≥ 1, which holds when both
    * strings have `length ≥ (maxDist + 1) · q`; pairs with a shorter
    * side route through [[fuzzyJoin]]'s length buckets instead (a
    * pair's longer side is then under `(maxDist+1)·q + maxDist`, so
    * both members sit in the bounded short subset — the two paths
    * partition the pair space exactly, no overlap, no loss).
    *
    * Scale shape: one (gram-hash, side) explode → per-(id, gram)
    * counts → equi-join on the 8-byte rolling gram hash
    * ([[graft.functions.HashExprs.charGramHashes]] — O(text) per row, no
    * substring materialization) → per-pair aggregate. Boilerplate
    * grams are the hot keys; like every blocking join in the catalog
    * the residual skew is AQE's to split, and composing with a
    * rarest-grams prefix cut is the documented next step for
    * adversarial corpora.
    */
  def fuzzyJoinGrams(
      left: DataFrame,
      leftCol: String,
      right: DataFrame,
      rightCol: String,
      maxDist: Int,
      q: Int = 3): DataFrame = {
    require(maxDist >= 0 && q >= 1, "need maxDist >= 0 and q >= 1")
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "fuzzyJoinGrams requires disjoint column names (alias one side)")
    val minLen = (maxDist + 1) * q
    val cutoff = minLen + maxDist
    def grams(df: DataFrame, c: String, side: String) = df
      .filter(length(col(c)) >= minLen)
      .withColumn("__len", length(col(c)))
      .withColumn("__g",
        explode(graft.functions.HashExprs.charGramHashes(col(c), q)))
      .groupBy(col(c), col("__len"), col("__g"))
      .agg(count(lit(1)).as(s"__c_$side"))
    val lg = grams(left, leftCol, "l")
    val rg = grams(right, rightCol, "r")
    val longPairs = lg.join(rg,
        lg("__g") === rg("__g") &&
          abs(lg("__len") - rg("__len")) <= maxDist)
      .groupBy(col(leftCol), col(rightCol),
        lg("__len").as("__ll"), rg("__len").as("__rl"))
      .agg(sum(least(col("__c_l"), col("__c_r"))).as("__shared"))
      .filter(col("__shared") >=
        greatest(col("__ll"), col("__rl")) - lit(q - 1) - lit(maxDist * q))
      .withColumn("dist", levenshtein(col(leftCol), col(rightCol), maxDist))
      .filter(col("dist") >= 0)
      .select(col(leftCol), col(rightCol), col("dist"))
    // pairs with a sub-minLen side: both members are under `cutoff`,
    // so the bounded short subsets cover them via the length buckets;
    // the least-side filter keeps the two paths disjoint
    val shortPairs = fuzzyJoin(
        left.filter(length(col(leftCol)) < cutoff), leftCol,
        right.filter(length(col(rightCol)) < cutoff), rightCol, maxDist)
      .filter(least(length(col(leftCol)), length(col(rightCol))) < minLen)
      .select(col(leftCol), col(rightCol), col("dist"))
    longPairs.union(shortPairs)
  }

  /** Prefix-filtered edit-distance join — the boilerplate-resistant
    * top of the fuzzy family. [[fuzzyJoinGrams]] ships EVERY gram to
    * the shuffle, so a gram shared by half the corpus (a crawl
    * boilerplate fragment) is a hot join key. The prefix filter
    * (Chaudhuri et al.'s ssjoin principle on the q-gram lemma) ships
    * only each string's `maxDist·q + 1` RAREST grams: a pair within
    * `maxDist` must share at least `|grams| − maxDist·q` grams, so
    * under any one global gram order the two prefixes must intersect
    * — candidates are pairs sharing a PREFIX gram, verified straight
    * by thresholded `levenshtein`. Rare grams are by construction
    * low-fan-out join keys: the hot boilerplate gram lands in nobody's
    * prefix (everything else is rarer only if the corpus is uniform —
    * in which case no key is hot).
    *
    * Rarity = global document frequency over BOTH sides' grams, ties
    * broken by the gram hash — one total order, both sides agree.
    * Duplicated grams keep their multiplicity through the sort (the
    * lemma is a multiset statement) and dedupe only at the join.
    * Sub-lemma-length strings route through [[fuzzyJoin]]'s buckets
    * exactly as in [[fuzzyJoinGrams]].
    *
    * Scale shape: one vocabulary-sized DF aggregate, one gram→DF
    * annotation join, a per-row array sort (bounded by string
    * length), and a prefix-gram equi-join with ≤ `maxDist·q + 1`
    * rows per string on the shuffle. Honest residual: the ANNOTATION
    * join still shuffles every gram instance, so the boilerplate
    * gram is a hot key there too — but it carries only (string,
    * gram-hash) pairs, its rows need no cross-side pairing (1
    * DF row per gram), and AQE's skew split applies; the quadratic
    * blowup the prefix exists to prevent lives in the CANDIDATE
    * join, which the hot gram never reaches. The DF table is
    * recomputed per call — persist it for repeated joins against a
    * stable corpus.
    */
  def fuzzyJoinPrefix(
      left: DataFrame,
      leftCol: String,
      right: DataFrame,
      rightCol: String,
      maxDist: Int,
      q: Int = 3): DataFrame = {
    require(maxDist >= 0 && q >= 1, "need maxDist >= 0 and q >= 1")
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "fuzzyJoinPrefix requires disjoint column names (alias one side)")
    val minLen = (maxDist + 1) * q
    val cutoff = minLen + maxDist
    val prefixLen = maxDist * q + 1
    def gramRows(df: DataFrame, c: String) = df
      .filter(length(col(c)) >= minLen)
      .select(col(c).as("__s"),
        explode(graft.functions.HashExprs.charGramHashes(col(c), q)).as("__g"))
    // document frequency over the union — ONE global order
    val dfTable = gramRows(left, leftCol).select(col("__s"), col("__g")).distinct()
      .unionAll(gramRows(right, rightCol).select(col("__s"), col("__g")).distinct())
      .groupBy("__g").agg(count(lit(1)).as("__df"))
    def prefixes(df: DataFrame, c: String) = gramRows(df, c)
      .join(dfTable, "__g")
      .groupBy(col("__s"))
      .agg(slice(
        array_sort(collect_list(struct(col("__df"), col("__g")))),
        1, prefixLen).as("__pref"))
      .select(col("__s").as(c), explode(col("__pref")).as("__p"))
      .select(col(c), col("__p.__g").as("__g")).distinct()
    val candidates = prefixes(left, leftCol)
      .join(prefixes(right, rightCol), "__g")
      .select(col(leftCol), col(rightCol)).distinct()
    val longPairs = candidates
      .filter(abs(length(col(leftCol)) - length(col(rightCol))) <= maxDist)
      .withColumn("dist", levenshtein(col(leftCol), col(rightCol), maxDist))
      .filter(col("dist") >= 0)
    val shortPairs = fuzzyJoin(
        left.filter(length(col(leftCol)) < cutoff), leftCol,
        right.filter(length(col(rightCol)) < cutoff), rightCol, maxDist)
      .filter(least(length(col(leftCol)), length(col(rightCol))) < minLen)
      .select(col(leftCol), col(rightCol), col("dist"))
    longPairs.select(col(leftCol), col(rightCol), col("dist"))
      .union(shortPairs)
  }

  /** Ordered funnel analysis: for each user, the timestamp at which
    * each stage of `stages` was first reached, where stage i+1 counts
    * only strictly after the reached-at time of stage i (the standard
    * product-analytics conversion funnel; the reference's event
    * warehouse is exactly this shape of data).
    *
    * Output: `(userCol, ts_<stage>..., stages_reached)` — one row per
    * user having at least one stage-typed event; unreached stages are
    * null.
    *
    * Single-shuffle form: events are pre-filtered to the stage types
    * (map-side, pushed to the scan), grouped once per user, and the
    * per-user time-sorted event list is folded left-to-right with the
    * `aggregate` builtin — the fold accepts an event iff its type is
    * the next expected stage and its timestamp is strictly after the
    * previous acceptance, which computes exactly the min-cascade
    * `t_i = min{ts : type = stage_i, ts > t_(i-1)}` (scanning in
    * ascending time order makes the first accepted event the min).
    * The oracle states the cascade directly; the two formulations
    * agreeing is the cross-check.
    *
    * Scale: one hash shuffle of the stage-filtered events; per-user
    * state is the sorted stage-typed event list, so a pathological
    * user (bot traffic) concentrates in one task — for unbounded
    * per-user histories use [[funnelCascade]], which stays k-pass
    * streaming-aggregate-shaped with no per-user collection.
    */
  def funnel(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String],
      tiebreakCol: String): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val stageArr = array(stages.map(lit): _*)
    val sorted = sort_array(collect_list(struct(
      col(tsCol).as("ts"), col(tiebreakCol).as("tie"), col(typeCol).as("et"))))
    // fold: array of acceptance timestamps, one per reached stage
    // try_element_at: the last acceptance is null on an empty acc
    // (element_at would be an ANSI out-of-bounds error), and
    // `ts > null` is null, absorbed by the preceding `size = 0` arm
    // of the OR — no per-element error path.
    val folded = aggregate(
      col("__evs"),
      array().cast("array<timestamp>"),
      (acc, e) => when(
        size(acc) < stages.size &&
          e.getField("et") === element_at(stageArr, size(acc) + 1) &&
          (size(acc) === 0 || e.getField("ts") > try_element_at(acc, lit(-1))),
        concat(acc, array(e.getField("ts")))).otherwise(acc))
    // try_element_at: unreached stages read past the acceptance
    // array and must be null, not an ANSI out-of-bounds error
    val stageCols = stages.zipWithIndex.map { case (st, i) =>
      try_element_at(col("__ts"), lit(i + 1)).as(s"ts_$st")
    }
    events
      .filter(col(typeCol).isin(stages: _*))
      .groupBy(col(userCol))
      .agg(sorted.as("__evs"))
      .withColumn("__ts", folded)
      .select(col(userCol) +: stageCols :+
        size(col("__ts")).cast("int").as("stages_reached"): _*)
  }

  /** Contiguous sequence-pattern detection — the common
    * MATCH_RECOGNIZE / CEP case (the multi-pattern-over-event-streams
    * shape of SIGMOD'19's detection engines), as one keyed window
    * pass: an occurrence of `pattern` is `pattern.size` CONSECUTIVE
    * events of a key's `(ts, tiebreak)`-ordered timeline whose labels
    * match in order and whose whole span fits `maxSpanSeconds`.
    * Overlapping occurrences all count (sliding semantics — the
    * well-defined contiguous reading; [[funnel]] covers the
    * subsequence/first-reach reading). Output: one row per key with
    * ≥ 1 match — `(key, n_matches, first_start, first_end)`.
    *
    * Scale shape: per-key window with bounded `lead` frames (the
    * [[graft.operators.Examples.nextEvent]] discipline — one shuffle
    * by key, task size bounded by one key's history, never a global
    * sort), then one hash aggregate; the span test is integer
    * microsecond arithmetic, engine-portable.
    */
  def matchPattern(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      pattern: Seq[String],
      maxSpanSeconds: Long,
      tiebreakCol: String): DataFrame = {
    require(pattern.size >= 2, "matchPattern needs at least two labels")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol), col(tiebreakCol))
    val labelsOk = pattern.zipWithIndex.map {
      case (p, 0) => col(typeCol) === p
      case (p, i) => lead(col(typeCol), i).over(w) === p
    }.reduce(_ && _)
    val endTs = lead(col(tsCol), pattern.size - 1).over(w)
    events
      .select(col(keyCol), col(tsCol), col(typeCol), col(tiebreakCol))
      .withColumn("__end", endTs)
      // ts may arrive as TIMESTAMP_NTZ (the events table does) —
      // cast through TIMESTAMP for unix_micros; the DIFFERENCE is
      // timezone-invariant regardless (and the session pins UTC)
      .withColumn("__hit", labelsOk &&
        unix_micros(col("__end").cast("timestamp")) -
          unix_micros(col(tsCol).cast("timestamp")) <=
          maxSpanSeconds * 1000000L)
      .filter(col("__hit"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_matches"),
        min(col(tsCol)).as("first_start"),
        min_by(col("__end"), struct(col(tsCol), col(tiebreakCol)))
          .as("first_end"))
  }

  /** [[matchPattern]] with a GREEDY one-label quantifier — the
    * `A B+ C` MATCH_RECOGNIZE shape (the dominant CEP pattern the
    * fixed-length contiguous form can't express). Semantics: the
    * key's `(ts, tiebreak)`-ordered label stream is RUN-LENGTH
    * encoded first; a match is a maximal run of `plus`-labeled events
    * whose adjacent previous run is `first`-labeled and adjacent next
    * run is `last`-labeled, anchored at the LAST `first`-event and
    * the FIRST `last`-event (so `A A B B C` matches once with
    * `plus_len = 2` — greedy `B+` consumes the whole run, the
    * AFTER MATCH SKIP PAST LAST ROW discipline: each run yields at
    * most one match, overlap-free by construction), with the
    * anchor-to-anchor span inside `maxSpanSeconds`. Output: one row
    * per key with ≥ 1 match — `(key, n_matches, first_start,
    * first_end, first_plus_len)`.
    *
    * Scale shape: ONE shuffle by key — the RLE window, the per-run
    * aggregate (grouping on `(key, run)` is satisfied by the key
    * partitioning, no second exchange), the neighbor-run window and
    * the final per-key aggregate all reuse it; task size stays
    * bounded by one key's history, never a global sort.
    */
  def matchPatternPlus(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      first: String,
      plus: String,
      last: String,
      maxSpanSeconds: Long,
      tiebreakCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__ts"), col("__tie"))
    val prevType = lag(col("__t"), 1).over(w)
    val runId = sum(
      when(prevType.isNull || prevType =!= col("__t"), 1L).otherwise(0L))
      .over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow))
    val runs = events
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(typeCol).as("__t"), col(tiebreakCol).as("__tie"))
      .withColumn("__run", runId)
      .groupBy(col("__k"), col("__run"))
      .agg(
        min(col("__t")).as("__label"), // constant within a run
        count(lit(1)).as("__len"),
        min(col("__ts")).as("__first_ts"),
        max(col("__ts")).as("__last_ts"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__run"))
    val hits = runs
      .withColumn("__pl", lag(col("__label"), 1).over(w2))
      .withColumn("__pend", lag(col("__last_ts"), 1).over(w2))
      .withColumn("__nl", lead(col("__label"), 1).over(w2))
      .withColumn("__nstart", lead(col("__first_ts"), 1).over(w2))
      .filter(col("__label") === plus &&
        col("__pl") === first && col("__nl") === last &&
        unix_micros(col("__nstart").cast("timestamp")) -
          unix_micros(col("__pend").cast("timestamp")) <=
          maxSpanSeconds * 1000000L)
    hits.groupBy(col("__k"))
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("__pend")).as("first_start"),
        min_by(col("__nstart"), col("__run")).as("first_end"),
        min_by(col("__len"), col("__run")).cast("long")
          .as("first_plus_len"))
      .withColumnRenamed("__k", keyCol)
  }

  /** [[matchPatternPlus]] generalized to BOUNDED + ALTERNATION
    * quantifiers — the `A (B|C){m,n} D` MATCH_RECOGNIZE shape
    * (round 16). Same RLE + neighbor-run machinery, two deltas:
    * the run key is the label CLASS (every member of the `plus`
    * alternation set collapses to one sentinel class, so
    * `B C B` is ONE quantified run; non-members keep their own label
    * as key, so anchors still match by label — `first == last`
    * patterns like `A B+ A` stay expressible), and the run-length
    * bound is literally a WHERE clause on the run frame
    * (`minLen ≤ len ≤ maxLen`). Greedy-contiguous reading: a maximal
    * quantified run LONGER than `maxLen` yields NO match — the next
    * event after `n` quantified events is another quantified event,
    * not the `last` anchor, and contiguous semantics cannot skip it
    * (the same intruder discipline as every matcher here). Anchors,
    * span, output shape and the one-shuffle scale shape are
    * [[matchPatternPlus]]'s exactly.
    */
  def matchPatternBounded(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      first: String,
      plus: Seq[String],
      minLen: Int,
      maxLen: Int,
      last: String,
      maxSpanSeconds: Long,
      tiebreakCol: String): DataFrame = {
    require(plus.nonEmpty, "matchPatternBounded: empty alternation set")
    require(minLen >= 1 && maxLen >= minLen,
      "matchPatternBounded: need 1 <= minLen <= maxLen")
    require(!plus.contains(first) && !plus.contains(last),
      "matchPatternBounded: anchors must not be members of the " +
        "quantified alternation (the run key could not separate them)")
    // class sentinel: the NUL prefix keeps it outside any real label
    val sentinel = "\u0000plus"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__ts"), col("__tie"))
    val prevKey = lag(col("__rk"), 1).over(w)
    val runId = sum(
      when(prevKey.isNull || prevKey =!= col("__rk"), 1L).otherwise(0L))
      .over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow))
    val runs = events
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(typeCol).as("__t"), col(tiebreakCol).as("__tie"))
      .withColumn("__rk",
        when(col("__t").isin(plus: _*), lit(sentinel)).otherwise(col("__t")))
      .withColumn("__run", runId)
      .groupBy(col("__k"), col("__run"))
      .agg(
        min(col("__rk")).as("__label"), // constant within a run
        count(lit(1)).as("__len"),
        min(col("__ts")).as("__first_ts"),
        max(col("__ts")).as("__last_ts"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("__k").orderBy(col("__run"))
    val hits = runs
      .withColumn("__pl", lag(col("__label"), 1).over(w2))
      .withColumn("__pend", lag(col("__last_ts"), 1).over(w2))
      .withColumn("__nl", lead(col("__label"), 1).over(w2))
      .withColumn("__nstart", lead(col("__first_ts"), 1).over(w2))
      .filter(col("__label") === sentinel &&
        col("__len").between(minLen.toLong, maxLen.toLong) &&
        col("__pl") === first && col("__nl") === last &&
        unix_micros(col("__nstart").cast("timestamp")) -
          unix_micros(col("__pend").cast("timestamp")) <=
          maxSpanSeconds * 1000000L)
    hits.groupBy(col("__k"))
      .agg(
        count(lit(1)).as("n_matches"),
        min(col("__pend")).as("first_start"),
        min_by(col("__nstart"), col("__run")).as("first_end"),
        min_by(col("__len"), col("__run")).cast("long")
          .as("first_plus_len"))
      .withColumnRenamed("__k", keyCol)
  }

  /** k-pass funnel for unbounded per-user histories: stage i is a
    * filtered min-aggregate joined to stage i-1's reach times (all
    * shuffles user-keyed, so the exchanges after the first reuse the
    * partitioning; no per-user collection anywhere). Identical output
    * to [[funnel]] — spec-pinned.
    */
  def funnelCascade(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = events.select(col(userCol), col(tsCol), col(typeCol))
    val universe = ev.filter(col(typeCol).isin(stages: _*))
      .select(col(userCol)).distinct()
    var cur = universe
    var prevTs: Option[String] = None
    stages.foreach { st =>
      val tsSt = s"ts_$st"
      val stageEv = ev.filter(col(typeCol) === st)
      val reached = prevTs match {
        case None =>
          stageEv.groupBy(col(userCol)).agg(min(col(tsCol)).as(tsSt))
        case Some(prev) =>
          stageEv
            .join(cur.filter(col(prev).isNotNull).select(col(userCol), col(prev)), Seq(userCol))
            .filter(col(tsCol) > col(prev))
            .groupBy(col(userCol)).agg(min(col(tsCol)).as(tsSt))
      }
      cur = cur.join(reached, Seq(userCol), "left")
      prevTs = Some(tsSt)
    }
    val reachedCount = stages.map(st => when(col(s"ts_$st").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    cur.withColumn("stages_reached", reachedCount.cast("int"))
  }
}
