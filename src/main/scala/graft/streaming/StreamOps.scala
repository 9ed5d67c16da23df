package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.fuel.FuelModel.PriceRecord

/** Structured-Streaming forms of the reference's streaming semantics
  * (SURVEY.md §2.7). The reference hand-rolls incrementalization with
  * a global high-water-mark, an in-memory dedup set and unbounded
  * lists; here the same observable behavior comes from Spark's
  * managed state, which shards by key and survives failure.
  */
object StreamOps {

  /** Runs `body` with the Spark jobs it starts on this thread named
    * `site`, the call site job listeners and the UI show, then restores
    * the caller's. A stream pins its creation call site on its thread,
    * so without this every job of a `foreachBatch` body carries it.
    * Sets the short form only: the micro-batch's job description and
    * the rest of its local properties stay.
    */
  def withCallSite[A](spark: SparkSession, site: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(CallSiteShort)
    sc.setCallSite(site)
    try body finally sc.setLocalProperty(CallSiteShort, prev)
  }

  // SparkContext's local property for a job's short call site
  private val CallSiteShort = "callSite.short"

  /** St1 — high-water-mark gate (`main.py:45-51`), exact semantics:
    * emit a record iff its event time is *strictly newer* than the
    * max already emitted; ties at the watermark are dropped.
    *
    * The reference keeps one global HWM — inherently sequential, so
    * the scalable form shards the watermark per key (station, fuel):
    * state is one timestamp per key, sharded across executors by the
    * groupBy. The global-HWM observable behavior (emit-once per
    * record, late records suppressed) is preserved per key.
    */
  def hwmGate(prices: Dataset[PriceRecord]): Dataset[PriceRecord] = {
    import prices.sparkSession.implicits._
    // Per micro-batch, sort by (event time, seq) like the reference's
    // asc-sorted publish loop, emit strictly-newer, advance the mark.
    prices
      .groupByKey(p => (p.stationcode, p.fueltype))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (String, String), rows: Iterator[PriceRecord], state: GroupState[Timestamp]) => {
          val hwm = state.getOption
          val sorted = rows.toSeq.sortBy(p => (p.lastupdated.getTime, p.seq))
          val emitted = sorted.iterator.scanLeft((hwm, Option.empty[PriceRecord])) {
            case ((mark, _), p) =>
              if (mark.forall(m => p.lastupdated.after(m)))
                (Some(p.lastupdated), Some(p))
              else (mark, None)
          }.toSeq
          emitted.lastOption.flatMap(_._1).foreach(state.update)
          emitted.iterator.flatMap(_._2)
        })
  }

  /** St2 — keyed first-wins dedup (`main.py:72-76`): emit each
    * station code at most once for the lifetime of the query.
    * `dropDuplicates` state never expires, exactly like the
    * reference's unbounded set; pass `withinWatermark=true` after
    * setting a watermark for the bounded-state variant the 100 TB
    * design point needs.
    */
  def firstWins(stations: DataFrame, keys: Seq[String], withinWatermark: Boolean = false): DataFrame =
    if (withinWatermark) stations.dropDuplicatesWithinWatermark(keys)
    else stations.dropDuplicates(keys)

  /** St5 — periodic re-evaluation (`DataAnalysis.py:59-63`): run any
    * aggregation query in complete mode against an in-memory sink the
    * dashboard reads — Spark's incremental aggregation replaces the
    * reference's from-scratch recompute every second.
    */
  def liveView(
      agg: DataFrame,
      name: String,
      intervalMs: Long = 1000L): StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  /** Event-time windowed aggregation with watermark eviction — the
    * bounded-state form of the reference's unbounded running
    * aggregates (SURVEY §7 hard part 5): state for a window is
    * dropped once the watermark passes its end, so executor state is
    * O(windows in flight), not O(stream history). Late rows beyond
    * `lateness` are dropped (append mode) — the engine-level twin of
    * the reference's source-side watermark drop (St7).
    */
  def windowedAvg(
      prices: DataFrame,
      tsCol: String,
      windowLen: String,
      lateness: String): DataFrame =
    prices
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("fueltype"))
      .agg(round(avg("price"), 2).as("avg_price"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("fueltype"), col("avg_price"))

  /** Streaming sessionization: `session_window` merges events within
    * `gap` into one growing window per key; a session closes (and its
    * aggregate emits, append mode) once the watermark passes its end.
    * The streaming twin of the batch lag/running-sum sessionizer in
    * `RelationalQueries.sessionize`.
    */
  def sessionized(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String,
      lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-stream equi-join with watermarks (the streaming form of
    * J1 when the dimension itself is a stream): both sides buffer
    * state only within their watermark + the join's event-time bound,
    * so state is evicted as time advances — the unbounded-state-free
    * version of joining two live feeds.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      joinExpr: org.apache.spark.sql.Column,
      lateness: String,
      maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, joinExpr
      && col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxDelay")
      && col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"))
  }
}
