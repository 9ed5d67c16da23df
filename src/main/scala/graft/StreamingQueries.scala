package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Driver-checkable streaming rows (SURVEY §2.7): each query runs a
  * REAL Structured Streaming query — file source over the events
  * parquet, watermarks / stateful operators, foreachBatch parquet
  * snapshot staging read back after `processAllAvailable` — and
  * returns the emitted rows as a batch frame for `Verify` to dump
  * against the DuckDB oracle.
  *
  * Determinism contract: the whole corpus arrives in ONE micro-batch
  * (a single parquet file, no `maxFilesPerTrigger`), so
  *  - nothing is late (the watermark is still at its floor during
  *    batch 0), and
  *  - append-mode emission is exactly "finalized by the terminal
  *    watermark": after the data batch, the watermark advances to
  *    `max(ts) - lateness` (millisecond precision) and the closing
  *    no-data micro-batch flushes every window/session whose end is
  *    ≤ that mark. Both facts are SQL-expressible, which is what
  *    makes these streaming paths oracle-checkable at all.
  *
  * The snapshot harness stages emission through foreachBatch parquet
  * (executor-side, never a driver collect — round 12); production
  * sinks are the parquet / foreachBatch paths in `Warehouse` /
  * `FuelPipeline`. The small per-user-state funnel replays keep the
  * memory sink (their output is bounded by the user domain).
  */
object StreamingQueries {

  /** Typed row for the stateful gate (ts as instant-typed Timestamp —
    * the encoder boundary; converted back to ntz on output).
    */
  final case class EvRec(
      user_id: Long,
      event_type: String,
      event_id: Long,
      ts: Timestamp,
      value: Double)

  /** File-stream over the events parquet with the same schema-adaptive
    * ts normalization (nanos-as-long or µs timestamp) as
    * [[Tables.events]].
    */
  // The footer schema comes from the [[Tables.schema]] cache, so a
  // streaming query reads no footer in a job of its own.
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.schema(s, s"$d/events.parquet")
    // Glob form: the file-stream source requires a directory basePath;
    // the corpus table is a single file, so glob it under its parent.
    Tables.withNtzTs(s.readStream.schema(schema).parquet(s"$d/*events.parquet"))
  }

  private val snapN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a streaming frame to completion (all source data + closing
    * no-data watermark batches) and return the emitted-rows snapshot.
    *
    * Stateful streams size their shuffle (= state) partitioning to
    * STATE VOLUME, not core count — `spark.graft.streaming
    * .shufflePartitions`, default 8. A stream-stream join
    * materializes FOUR state stores per shuffle partition; at the
    * batch session's 32 partitions that is 128 store setups per
    * replay, and the fresh-JVM left-join replay measured 8–12 s at
    * 32 partitions vs 4.4–6.4 s at 8 on a quarter of the cores
    * (the state itself is ~10⁵ rows — setup-bound, not data-bound).
    * A 100 TB deployment turns the same knob UP into the thousands;
    * the point is that it is a state-volume knob, decoupled from the
    * batch session's core-count default. Results are
    * partition-count-independent (engine-exact ops; repartition
    * stability spec-pinned), so only latency moves.
    */
  private def snapshot(df: DataFrame, mode: OutputMode): DataFrame = {
    val s = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    // Snapshot staging is foreachBatch -> parquet (round 12), not the
    // memory sink: the memory sink converts and collects every emitted
    // row ON THE DRIVER (0.3-0.4 s per corpus-sized replay at sf0.1,
    // and heap-bound at probe scale, the exact hazard the file-source
    // replays removed from the input side); a distributed parquet
    // append keeps emission executor-side and the read-back IS the
    // snapshot. Complete mode overwrites per batch (each batch is the
    // full result, last one wins) = the memory sink's truncate-and-
    // reload. Checkpoint logs go to tmpfs (Scratch.ckptDir) — pure
    // harness metadata, measured ~0.1-0.2 s of fsync latency per
    // replay on disk-backed /tmp.
    val out = graft.streaming.Scratch.tmpDir("graft_snap_out")
    val saveMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    s.conf.set(key, s.conf.get("spark.graft.streaming.shufflePartitions", "8"))
    try {
      val q = df.writeStream.outputMode(mode)
        .option("checkpointLocation", graft.streaming.Scratch.ckptDir())
        .foreachBatch((b: DataFrame, _: Long) =>
          b.write.mode(saveMode).parquet(out))
        .start()
      try q.processAllAvailable()
      finally q.stop()
    } finally s.conf.set(key, old)
    // Explicit schema: a replay that emitted nothing leaves no parquet
    // footer to infer from, and the snapshot must still be a typed
    // empty frame.
    s.read.schema(df.schema).parquet(out)
  }

  /** St4/A3 streaming twin, driver-checked: complete-mode
    * latest-per-group over the event stream — the same single-shuffle
    * `max_by` plan as the batch query, incrementally maintained.
    */
  private def streamLatest(s: SparkSession, d: String): DataFrame =
    snapshot(
      eventsStream(s, d)
        .groupBy("user_id", "event_type")
        .agg(max_by(
          struct(col("event_id"), col("ts"), col("value")),
          struct(col("ts"), col("event_id"))).as("__l"))
        .select(col("user_id"), col("event_type"),
          col("__l.event_id").as("event_id"), col("__l.ts").as("ts"),
          col("__l.value").as("value")),
      OutputMode.Complete())

  /** St1 streaming twin, driver-checked: per-key high-water-mark gate
    * through `flatMapGroupsWithState` — emit iff strictly newer than
    * the key's mark, ties dropped, (ts, event_id) arrival order.
    * With one input batch this emits exactly the first event_id of
    * every distinct (key, ts) — the SQL the oracle states.
    */
  private def streamHwmGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gated = eventsStream(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
      .as[EvRec]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Long, String), rows: Iterator[EvRec], state: GroupState[Timestamp]) => {
          // Full-precision order: getTime() is ms-truncated while the
          // gate compares full Timestamps — sorting by it alone would
          // misorder same-ms/different-µs events and drop the second.
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var mark = state.getOption
          val out = sorted.flatMap { e =>
            if (mark.forall(m => e.ts.after(m))) { mark = Some(e.ts); Some(e) }
            else None
          }
          mark.foreach(state.update)
          out.iterator
        })
    snapshot(gated.toDF(), OutputMode.Append())
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select("user_id", "event_type", "event_id", "ts", "value")
  }

  /** Windowed aggregation with watermark eviction, driver-checked:
    * append-mode tumbling 1 h count per event_type, 30 min lateness.
    * Emitted = windows finalized by the terminal watermark.
    */
  private def streamWindowClose(s: SparkSession, d: String): DataFrame =
    snapshot(
      eventsStream(s, d)
        // Watermarks require instant-typed event time (ntz
        // unsupported); session tz is UTC so the wall values are
        // unchanged through the round trip.
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      OutputMode.Append())
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("window.end").cast("timestamp_ntz").as("window_end"),
        col("event_type"), col("n"))

  /** Streaming sessionization, driver-checked: `session_window` with
    * a 30 min gap; a session's end is its last event + gap, and it
    * emits (append mode) once the terminal watermark passes that end.
    */
  private def streamSessionClose(s: SparkSession, d: String): DataFrame =
    snapshot(
      eventsStream(s, d)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Append())
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))

  /** DYNAMIC-gap sessionization through the real `session_window`
    * with a per-event gap column: clicks tolerate a 10-minute lull,
    * everything else 30 — the per-signal session policy a fixed gap
    * cannot express. Merge semantics are overlap of per-event windows
    * `[ts, ts + gap)`, so a session's end is the RUNNING MAX of
    * `ts + gap` (not last-event + gap) — the oracle states exactly
    * that cascade, plus the append-mode close rule against the
    * ms-truncated terminal watermark.
    */
  private def streamDynamicSession(s: SparkSession, d: String): DataFrame = {
    // session_window's dynamic gap must be CalendarIntervalType;
    // INTERVAL literals are DayTimeIntervalType under ANSI —
    // make_interval produces the calendar type.
    val gap = when(col("event_type") === "click",
        expr("make_interval(0, 0, 0, 0, 0, 10, 0)"))
      .otherwise(expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    snapshot(
      eventsStream(s, d)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      OutputMode.Append())
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
  }

  /** Stream-stream inner join, driver-checked: clicks joined to the
    * same user's purchases within the following 10 minutes — the
    * attribution-window shape. Both sides are watermarked streams
    * (the event-time bound is what lets Spark evict join state);
    * with one input batch every match emits in batch 0, so the
    * emitted pair set equals the batch join the oracle states. The
    * pair stream is snapshotted raw, then compacted per user in
    * batch (output discipline, not streaming semantics).
    */
  private def streamStreamJoinQ(s: SparkSession, d: String): DataFrame = {
    def side(t: String, p: String): DataFrame =
      eventsStream(s, d)
        .filter(col("event_type") === t)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
          col("ts").cast("timestamp").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "30 minutes")
    val joined = side("click", "a").join(side("purchase", "b"),
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
    snapshot(joined, OutputMode.Append())
      .groupBy(col("a_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Watermarked stream-stream LEFT OUTER join, driver-checked: the
    * click stream keeps every row, null-padded when no purchase lands
    * in its 10-minute window. Matched pairs emit immediately (inner
    * path); null-padded rows emit only when the watermark passes the
    * click's last possible match time (`a_ts + 10 min`) — before
    * that the row sits in state, still hoping. With the one-batch
    * replay the terminal watermark is `max(ts) - 30 min`, so the
    * oracle states exactly that finalization rule; clicks whose
    * window is still open at end-of-replay emit NOTHING (retained
    * state, not a result — the semantic the test pins).
    */
  private def streamLeftJoinQ(s: SparkSession, d: String): DataFrame = {
    def side(t: String, p: String): DataFrame =
      eventsStream(s, d)
        .filter(col("event_type") === t)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
          col("ts").cast("timestamp").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "30 minutes")
    val joined = side("click", "a").join(side("purchase", "b"),
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    snapshot(joined, OutputMode.Append())
      .groupBy(col("a_user").as("user_id"))
      .agg(count(col("b_id")).as("n_pairs"),
        sum(when(col("b_id").isNull, 1).otherwise(0)).cast("long")
          .as("n_unmatched"))
  }

  /** FULL outer stream-stream join: both sides null-pad. The right
    * (purchase) side's finalization rule differs from the left's —
    * a purchase can stop waiting once the watermark passes ITS OWN
    * event time (any later click would carry `a_ts > b_ts`, outside
    * the `b_ts >= a_ts` bound), while a click waits until the mark
    * passes `a_ts + 10 min`. The oracle states both rules against the
    * min-across-sides watermark.
    */
  private def streamFullJoinQ(s: SparkSession, d: String): DataFrame = {
    def side(t: String, p: String): DataFrame =
      eventsStream(s, d)
        .filter(col("event_type") === t)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
          col("ts").cast("timestamp").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "30 minutes")
    val joined = side("click", "a").join(side("purchase", "b"),
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"),
      "full_outer")
    snapshot(joined, OutputMode.Append())
      .groupBy(coalesce(col("a_user"), col("b_user")).as("user_id"))
      .agg(
        count(when(col("a_id").isNotNull && col("b_id").isNotNull, 1))
          .as("n_pairs"),
        count(when(col("b_id").isNull, 1)).as("n_unmatched_clicks"),
        count(when(col("a_id").isNull, 1)).as("n_unmatched_purchases"))
  }

  /** Streaming CDC twin of `q_merge_upsert`, driver-checked: the
    * events change log replays through the REAL `writeStream` +
    * `foreachBatch` path ([[graft.streaming.CdcStream]]) in two
    * micro-batches split by event-id PARITY — an adversarial split
    * that scatters timestamps across batches, so only the ord-gated
    * apply (stale changes rejected against the stored per-key order)
    * converges to the batch merge. The oracle is the same SQL as the
    * batch query: end state ≡ one-shot merge of the full log.
    */
  private def streamCdc(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
    val changes = Tables.events(s, d).select(
      col("user_id").as("c_custkey"),
      col("ts").cast("timestamp").as("ts"),
      col("event_id"),
      when(col("event_type") === "click", lit("D")).otherwise(lit("U")).as("op"),
      col("value").as("new_bal"))
    val tableDir = graft.streaming.Scratch.tmpDir("graft_cdc_table")
    val ckpt = graft.streaming.Scratch.ckptDir("graft_cdc_ckpt")
    val replay = new graft.streaming.FileReplay(s, changes.schema)
    replay.add(changes.filter(col("event_id") % 2 === 0))
    val q = graft.streaming.CdcStream.stream(
      replay.stream, tableDir, ckpt, base,
      keyCols = Seq("c_custkey"), orderCols = Seq("ts", "event_id"),
      opCol = "op", updateCols = Map("c_acctbal" -> "new_bal"))
    try {
      q.processAllAvailable()
      replay.add(changes.filter(col("event_id") % 2 =!= 0))
      q.processAllAvailable()
    } finally q.stop()
    graft.streaming.CdcStream.readTable(s, tableDir)
      .select(col("c_custkey"),
        coalesce(col("c_name"), lit("(new)")).as("name"),
        col("c_acctbal").as("bal"))
  }

  /** Streaming funnel twin ([[graft.streaming.FunnelStream]]),
    * driver-checked: the stage-typed events replay through a REAL
    * mapGroupsWithState query in two time-split batches (in-order
    * delivery — each batch's times at or after the previous batch's,
    * events inside a batch shuffled by the split only up to the
    * batch-local sort), and the final per-user state must equal the
    * one-shot batch funnel: the oracle is the SAME min-cascade SQL
    * as `q_funnel`.
    */
  private def streamFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.FunnelEvent
    val stages = Seq("view", "click", "purchase")
    val evs = Tables.events(s, d)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    // Time-split WITHOUT a collect: batch 0 is the first half in
    // (ts_us, event_id) order, found by the boundary pair (one
    // scalar-row action over the sorted half; event_id is unique, so
    // "≤ boundary" reproduces the old sorted splitAt exactly).
    val n = evs.count()
    val bound = evs.orderBy("ts_us", "event_id").limit((n / 2).toInt)
      .agg(max(struct(col("ts_us"), col("event_id"))).as("b")).head()
    val firstHalf: org.apache.spark.sql.Column =
      if (bound.isNullAt(0)) lit(false)
      else {
        val b = bound.getStruct(0)
        col("ts_us") < b.getLong(0) ||
          (col("ts_us") === b.getLong(0) && col("event_id") <= b.getLong(1))
      }
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(firstHalf))
    val out = FunnelStream.fold(replay.stream.as[FunnelEvent], stages)
    val name = s"graft_stream_snap_${snapN.incrementAndGet()}"
    val q = out.toDF().writeStream.outputMode("update")
      .option("checkpointLocation", graft.streaming.Scratch.ckptDir())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      replay.add(evs.filter(!firstHalf))
      q.processAllAvailable()
    } finally q.stop()
    def ts(i: Int) = timestamp_micros(try_element_at(col("__r"), lit(i)))
      .cast("timestamp_ntz")
    // seen strictly increases per user → max_by(seen) = final state
    s.table(name)
      .groupBy("user_id")
      .agg(max_by(col("reached"), col("seen")).as("__r"))
      .select(col("user_id"),
        ts(1).as("ts_view"), ts(2).as("ts_click"), ts(3).as("ts_purchase"),
        size(col("__r")).cast("int").as("stages_reached"))
  }

  /** EXACT streaming funnel ([[graft.streaming.FunnelStream
    * .foldExact]]), driver-checked under an ADVERSARIAL parity split:
    * half the events arrive a full batch "early" relative to their
    * logical predecessors, the watermark buffer re-establishes global
    * event-time order before folding, and the final state must equal
    * the one-shot batch funnel — the same min-cascade oracle again.
    * A past-everything sentinel per user drives the terminal
    * watermark over the tail so the closing no-data batch drains it.
    */
  private def streamFunnelExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.FunnelEventT
    val stages = Seq("view", "click", "purchase")
    val evs = Tables.events(s, d)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("timestamp").as("ts"))
    // Scalar span bounds (one 1-row action — driver-bounded by
    // construction, unlike the old whole-table collect).
    val mm = evs.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (minMs, maxMs) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val spanDays = ((maxMs - minMs) / 86400000L + 2L).toInt
    // Past-everything sentinel per user (any non-stage type): drives
    // the terminal watermark over the tail so the closing no-data
    // batch drains every buffered group.
    val flush = evs.select(col("user_id")).distinct().select(
      col("user_id"), lit("flush").as("event_type"),
      lit(Long.MaxValue).as("event_id"),
      lit(new Timestamp(maxMs + (spanDays + 1L) * 86400000L)).as("ts"))
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(col("event_id") % 2 === 0))
    val name = s"graft_stream_snap_${snapN.incrementAndGet()}"
    val q = FunnelStream.foldExact(replay.stream.as[FunnelEventT], stages,
        s"$spanDays days").toDF()
      .writeStream.outputMode("update")
      .option("checkpointLocation", graft.streaming.Scratch.ckptDir())
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      replay.add(evs.filter(col("event_id") % 2 =!= 0))
      q.processAllAvailable()
      replay.add(flush)
      q.processAllAvailable()
    } finally q.stop()
    def ts(i: Int) = timestamp_micros(try_element_at(col("__r"), lit(i)))
      .cast("timestamp_ntz")
    s.table(name)
      .groupBy("user_id")
      .agg(max_by(col("reached"), col("seen")).as("__r"))
      .select(col("user_id"),
        ts(1).as("ts_view"), ts(2).as("ts_click"), ts(3).as("ts_purchase"),
        size(col("__r")).cast("int").as("stages_reached"))
  }

  /** Transactional manifest sink, driver-checked: events stream into
    * a warehouse directory in two micro-batches through
    * [[graft.streaming.FileReplay]] two-batch replay —
    * each batch commits its zone+bloom manifest entries in the same
    * foreachBatch — then a bloom-pruned point read serves the result
    * with NO rebuild step. Oracle ≡ the plain equality filter
    * (same contract as `q_manifest_bloom`, now through the
    * streaming-ingest path).
    */
  private def streamManifest(s: SparkSession, d: String): DataFrame = {
    val evs = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    val dir = graft.streaming.Scratch.tmpDir("graft_msink_data")
    val mdir = graft.streaming.Scratch.tmpDir("graft_msink_meta")
    val ckpt = graft.streaming.Scratch.ckptDir("graft_msink_ckpt")
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(col("event_id") % 2 === 0))
    val q = graft.sources.ManifestedSink.sink(
      replay.stream.repartition(8, col("user_id")),
      dir, mdir, cols = Seq("user_id"), bloomCols = Seq("user_id"), ckpt)
    try {
      q.processAllAvailable()
      replay.add(evs.filter(col("event_id") % 2 =!= 0))
      q.processAllAvailable()
    } finally q.stop()
    val manifest = graft.sources.ManifestedSink.readManifest(s, mdir).get
    graft.sources.Manifest.prunedReadEq(s, manifest, Map("user_id" -> 73L))
      .select("event_id", "event_type", "value")
  }

  // Terminal watermark in DuckDB terms: Spark tracks per-batch max
  // event time in MILLISECONDS, so the mark is ms-truncated max(ts)
  // minus the lateness.
  private val wmSql =
    "SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 30 MINUTE AS w FROM events"

  /** Exact incremental aggregate view
    * ([[graft.streaming.AggStream]]), driver-checked: the event
    * stream replays in two parity-split batches through the REAL
    * `writeStream`/foreachBatch maintenance path, each batch
    * committing `(count, DECIMAL sum)` partials; the serve-side merge
    * must equal the one-shot batch aggregate — the oracle is that
    * plain GROUP BY. Exact algebra end to end (no sketch error), so
    * stream ≡ batch is itself the driver gate.
    */
  private def streamAggView(s: SparkSession, d: String): DataFrame = {
    val evs = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val stateDir = graft.streaming.Scratch.tmpDir("graft_aggview")
    val ckpt = graft.streaming.Scratch.ckptDir("graft_aggview_ckpt")
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(col("event_id") % 2 === 0))
    val q = graft.streaming.AggStream.stream(
      replay.stream, stateDir, ckpt, Seq("event_type"), "value")
    try {
      q.processAllAvailable()
      replay.add(evs.filter(col("event_id") % 2 =!= 0))
      q.processAllAvailable()
    } finally q.stop()
    graft.streaming.AggStream.serve(s, stateDir, Seq("event_type"),
        schema = Some(graft.streaming.AggStream.partialsStateSchema(
          evs.schema, Seq("event_type"))))
      .select(col("event_type"), col("n").cast("long").as("n"),
        col("sum_value").cast("double").as("sum_value"))
  }

  /** No-op FILE-STREAM replay baseline (bench instrumentation, round
    * 9): the same `eventsStream` source, micro-batch scheduling, and
    * memory-sink append as the benched file-stream queries
    * (`q_stream_left_join`, `q_stream_session_close`,
    * `q_stream_hwm_gate`) but with a stateless pass-through in place
    * of the operator — so its benched time IS the harness share
    * (source listing + scan + micro-batch machinery + sink), and
    * `query − baseline` reads as the operator + state-store budget.
    * The count aggregate runs on the BATCH snapshot after the stream
    * stops (keeps the dumped result one row without touching the
    * streamed plan).
    */
  private def streamNoopFile(s: SparkSession, d: String): DataFrame =
    snapshot(
      eventsStream(s, d).select("event_id", "user_id", "ts"),
      OutputMode.Append())
      .agg(count(lit(1)).as("n_rows"))

  /** No-op two-batch REPLAY baseline: parity micro-batches staged as
    * parquet and driven through a stateless pass-through file-source
    * stream ([[graft.streaming.FileReplay]]) — the harness share of
    * the two-batch replay queries (`q_stream_aggview`, `q_stream_cdc`,
    * `q_stream_neardup*`), which all use the same staging + source
    * since round 12 (the MemoryStream fixture and its whole-table
    * driver collect are gone). See [[streamNoopFile]].
    */
  private def streamNoopReplay(s: SparkSession, d: String): DataFrame = {
    val evs = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(col("event_id") % 2 === 0))
    val out = graft.streaming.Scratch.tmpDir("graft_noop_out")
    val q = replay.stream
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", graft.streaming.Scratch.ckptDir())
      .foreachBatch((b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out))
      .start()
    try {
      q.processAllAvailable()
      replay.add(evs.filter(col("event_id") % 2 =!= 0))
      q.processAllAvailable()
    } finally q.stop()
    s.read.schema(evs.schema).parquet(out).agg(count(lit(1)).as("n_rows"))
  }

  /** The DASHBOARD TRIO as ONE streaming replay (round 15): the
    * reference's live surface recomputes three standing queries every
    * 1 s tick (`DataAnalysis.py:55-63`); the round-14 verdict's 1.12 s
    * number timed the BATCH trio — this measures the actual streaming
    * cadence. The events stream replays in two micro-batches (ticks)
    * feeding THREE concurrent queries: the running mean
    * (complete-mode agg — `q_bar_avg`'s twin), the flagship profile
    * (complete-mode latest-per-group state, with the dimension join +
    * ordered string agg recomputed per tick inside `foreachBatch` —
    * exactly the SSE dashboard's recompute), and the full series
    * (append passthrough). Output: the FINAL tick's three surfaces as
    * one tagged union; oracle = stream ≡ batch — the same union
    * restated over `q_bar_avg` / `q_flagship_profile` /
    * `q_line_series` SQL.
    */
  private def streamDashboard(s: SparkSession, d: String): DataFrame = {
    val evs = Tables.events(s, d)
      .select("user_id", "event_type", "event_id", "ts", "value")
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_mktsegment")
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val barOut = graft.streaming.Scratch.tmpDir("graft_dash_bar")
    val profOut = graft.streaming.Scratch.tmpDir("graft_dash_prof")
    val lineOut = graft.streaming.Scratch.tmpDir("graft_dash_line")
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(col("event_id") % 2 === 0))
    s.conf.set(key, s.conf.get("spark.graft.streaming.shufflePartitions", "8"))
    // accumulated as each start() RETURNS (ADVICE r15): if the second
    // or third start throws, the earlier queries must still stop —
    // leaked queries leave state-store providers resident in the
    // shared bench JVM (the Bench phasing contamination)
    val started = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      val src = replay.stream
      val bar = src.groupBy("event_type")
        .agg(graft.functions.Det.round(
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double") / count(lit(1)), 2).as("avg_value"))
      val latest = src.groupBy("user_id", "event_type")
        .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("value"))
      def start(df: DataFrame, mode: String)(
          sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = df.writeStream.outputMode(mode)
          .option("checkpointLocation", graft.streaming.Scratch.ckptDir())
          .foreachBatch((b: DataFrame, _: Long) => sink(b))
          .start()
        started += q
        q
      }
      val qBar = start(bar, "complete")(
        _.write.mode("overwrite").parquet(barOut))
      val qProf = start(latest, "complete") { b =>
        // the per-TICK dashboard recompute: dim join + ordered agg
        val info = when(col("value").isNotNull,
            concat(col("event_type"), lit(": "), col("value").cast("string")))
          .otherwise(lit(""))
        cust.join(b, cust("c_custkey") === b("user_id"), "left_outer")
          .withColumn("info", info)
          .groupBy("c_custkey", "c_name", "c_mktsegment")
          .agg(concat_ws("<br>", sort_array(collect_list(col("info"))))
            .as("events_info"))
          .write.mode("overwrite").parquet(profOut)
      }
      val qLine = start(
        src.select("event_type", "ts", "value", "event_id"), "append")(
        _.write.mode("append").parquet(lineOut))
      val qs = Seq(qBar, qProf, qLine)
      qs.foreach(_.processAllAvailable())
      replay.add(evs.filter(col("event_id") % 2 =!= 0))
      qs.foreach(_.processAllAvailable())
    } finally {
      started.foreach { q =>
        try q.stop()
        catch { case _: Exception => } // stop the rest regardless
      }
      s.conf.set(key, old)
    }
    dashboardUnion(s, barOut, profOut, lineOut,
      evs.select("event_type", "ts", "value", "event_id").schema)
  }

  /** The dashboard trio's tagged-union read-back — shared by the
    * recompute ([[streamDashboard]]) and incremental
    * ([[streamDashboardInc]]) forms, which must be output-identical.
    */
  private def dashboardUnion(
      s: SparkSession, barOut: String, profOut: String, lineOut: String,
      lineSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val barF = s.read
      .schema("event_type STRING, avg_value DOUBLE").parquet(barOut)
      .select(lit("bar").as("surface"), lit(0L).as("k1"),
        col("event_type").as("k2"), nullS.as("val_str"),
        col("avg_value").as("val_num"))
    // inferred schema on purpose: the profile frame inherits the
    // customer table's native key type and is never empty (left join
    // FROM the dimension)
    val profF = s.read.parquet(profOut)
      .select(lit("profile").as("surface"),
        col("c_custkey").cast("long").as("k1"),
        col("c_mktsegment").as("k2"),
        concat(col("c_name"), lit("|"), col("events_info")).as("val_str"),
        nullD.as("val_num"))
    val lineF = s.read
      .schema(lineSchema)
      .parquet(lineOut)
      .select(lit("line").as("surface"), col("event_id").as("k1"),
        col("event_type").as("k2"), nullS.as("val_str"),
        col("value").as("val_num"))
    barF.union(profF).union(lineF)
  }

  /** INCREMENTAL dashboard state ([[graft.streaming.AggStream]],
    * round 16; combined-state trim round 17) — the [[streamDashboard]]
    * trio with per-tick cost decoupled from history size: ONE
    * combined state table keyed `(user_id, event_type)` holds
    * `(count, DECIMAL sum)` AND latest-state partials
    * ([[graft.streaming.AggStream.appendCombinedPartials]] — both
    * measure families are algebraic, and the coarser per-`event_type`
    * bar surface re-merges exactly from the fine partials), and each
    * tick serves the dashboards from that STATE TABLE (batch-sized
    * aggregate + key-cardinality merge) instead of recomputing over
    * all events. At 100× data the recompute form's per-tick cost
    * grows with history; this form's grows with the tick's batch and
    * the key cardinality — the shape that holds the reference's 1 s
    * cadence. Output (and oracle) identical to [[streamDashboard]] —
    * the equivalence IS the check.
    */
  private def streamDashboardInc(s: SparkSession, d: String): DataFrame = {
    val evs = Tables.events(s, d)
      .select("user_id", "event_type", "event_id", "ts", "value")
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_mktsegment")
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val state = graft.streaming.Scratch.tmpDir("graft_dinc_state")
    val barOut = graft.streaming.Scratch.tmpDir("graft_dinc_bar")
    val profOut = graft.streaming.Scratch.tmpDir("graft_dinc_prof")
    val lineOut = graft.streaming.Scratch.tmpDir("graft_dinc_line")
    val replay = new graft.streaming.FileReplay(s, evs.schema)
    replay.add(evs.filter(col("event_id") % 2 === 0))
    // declared serve schema: skips two footer inferences per tick
    val stateSchema = graft.streaming.AggStream.combinedStateSchema(
      evs.schema, Seq("user_id", "event_type"), Seq("ts", "event_id"), "value")
    s.conf.set(key, s.conf.get("spark.graft.streaming.shufflePartitions", "8"))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = replay.stream.writeStream
        .option("checkpointLocation", graft.streaming.Scratch.ckptDir())
        .foreachBatch { (b: DataFrame, id: Long) =>
          val cached = b.persist()
          try {
            // tick cost 1: TWO batch-sized commits (round 17 — the
            // bar and profile partials fold into ONE combined state
            // table keyed by the fine (user_id, event_type) group;
            // the coarser bar surface re-merges from it exactly)
            graft.streaming.AggStream.appendCombinedPartials(
              cached, id, state,
              Seq("user_id", "event_type"), Seq("ts", "event_id"),
              "value")
            cached.select("event_type", "ts", "value", "event_id")
              .write.mode("append").parquet(lineOut)
            // tick cost 2: serve the dashboards from STATE, not history
            graft.streaming.AggStream.serve(s, state, Seq("event_type"),
              schema = Some(stateSchema))
              .select(col("event_type"),
                graft.functions.Det.round(
                  col("sum_value").cast("double") / col("n"), 2)
                  .as("avg_value"))
              .write.mode("overwrite").parquet(barOut)
            val latest = graft.streaming.AggStream.serveLatest(
              s, state,
              Seq("user_id", "event_type"), Seq("ts", "event_id"),
              Seq("value"), schema = Some(stateSchema))
            val info = when(col("value").isNotNull,
                concat(col("event_type"), lit(": "),
                  col("value").cast("string")))
              .otherwise(lit(""))
            cust.join(latest, cust("c_custkey") === latest("user_id"),
                "left_outer")
              .withColumn("info", info)
              .groupBy("c_custkey", "c_name", "c_mktsegment")
              .agg(concat_ws("<br>", sort_array(collect_list(col("info"))))
                .as("events_info"))
              .write.mode("overwrite").parquet(profOut)
            ()
          } finally { cached.unpersist(); () }
        }
        .start()
      q.processAllAvailable()
      replay.add(evs.filter(col("event_id") % 2 =!= 0))
      q.processAllAvailable()
    } finally {
      if (q != null) q.stop()
      s.conf.set(key, old)
    }
    dashboardUnion(s, barOut, profOut, lineOut,
      evs.select("event_type", "ts", "value", "event_id").schema)
  }

  /** The dashboard trio's oracle — shared verbatim by the recompute
    * and incremental forms (output-identical is the contract). */
  private val streamDashboardSql: String =
    """WITH sd_latest AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1),
        |sd_prof AS (
        |  SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |    string_agg(
        |      CASE WHEN l.value IS NOT NULL
        |           THEN l.event_type || ': ' || CAST(l.value AS VARCHAR)
        |           ELSE '' END, '<br>'
        |      ORDER BY
        |      CASE WHEN l.value IS NOT NULL
        |           THEN l.event_type || ': ' || CAST(l.value AS VARCHAR)
        |           ELSE '' END) AS events_info
        |  FROM customer c LEFT JOIN sd_latest l ON c.c_custkey = l.user_id
        |  GROUP BY c.c_custkey, c.c_name, c.c_mktsegment)
        |SELECT 'bar' AS surface, CAST(0 AS BIGINT) AS k1,
        |  event_type AS k2, CAST(NULL AS VARCHAR) AS val_str,
        |  floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) * 100.0 + 0.5) / 100.0 AS val_num
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'profile', c_custkey, c_mktsegment,
        |  c_name || '|' || events_info, CAST(NULL AS DOUBLE)
        |FROM sd_prof
        |UNION ALL
        |SELECT 'line', event_id, event_type, CAST(NULL AS VARCHAR), value
        |FROM events""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_stream_dashboard", streamDashboard,
      Some(streamDashboardSql), headline = true),
    QueryDef("q_stream_dashboard_inc", streamDashboardInc,
      Some(streamDashboardSql), headline = true),
    QueryDef("q_stream_noop_file", streamNoopFile, Some(
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events"),
      headline = true),
    QueryDef("q_stream_noop_replay", streamNoopReplay, Some(
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events"),
      headline = true),
    QueryDef("q_stream_aggview", streamAggView, Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin), headline = true),
    QueryDef("q_stream_latest", streamLatest, Some(
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin)),
    QueryDef("q_stream_hwm_gate", streamHwmGate, Some(
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type, ts ORDER BY event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin), headline = true),
    QueryDef("q_stream_join", streamStreamJoinQ, Some(
      """SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |GROUP BY a.user_id""".stripMargin)),
    QueryDef("q_stream_left_join", streamLeftJoinQ, Some(
      // The joint watermark is the MIN across both input streams'
      // watermark nodes — each side advances from ITS OWN max event
      // time (clicks vs purchases), not the corpus max.
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT date_trunc('milliseconds', max(ts)) FROM events
        |     WHERE event_type = 'click'),
        |    (SELECT date_trunc('milliseconds', max(ts)) FROM events
        |     WHERE event_type = 'purchase')) - INTERVAL 30 MINUTE AS w),
        |a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT a.user_id, a.event_id, a.ts,
        |    count(b.user_id) AS n_matches
        |  FROM a LEFT JOIN b ON a.user_id = b.user_id
        |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |  GROUP BY 1, 2, 3)
        |SELECT user_id,
        |  CAST(sum(n_matches) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN n_matches = 0
        |    AND ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
        |FROM pairs GROUP BY user_id
        |HAVING sum(n_matches) > 0 OR sum(CASE WHEN n_matches = 0
        |  AND ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
        |  THEN 1 ELSE 0 END) > 0""".stripMargin), headline = true),
    QueryDef("q_stream_full_join", streamFullJoinQ, Some(
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT date_trunc('milliseconds', max(ts)) FROM events
        |     WHERE event_type = 'click'),
        |    (SELECT date_trunc('milliseconds', max(ts)) FROM events
        |     WHERE event_type = 'purchase')) - INTERVAL 30 MINUTE AS w),
        |a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT a.user_id, a.event_id, a.ts, count(b.user_id) AS m
        |  FROM a LEFT JOIN b ON a.user_id = b.user_id
        |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |  GROUP BY 1, 2, 3),
        |rpairs AS (
        |  SELECT b.user_id, b.event_id, b.ts, count(a.user_id) AS m
        |  FROM b LEFT JOIN a ON a.user_id = b.user_id
        |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |  GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT user_id,
        |    CAST(sum(m) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN m = 0
        |      AND ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_clicks
        |  FROM pairs GROUP BY user_id),
        |ragg AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN m = 0 AND ts < (SELECT w FROM wm)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_purchases
        |  FROM rpairs GROUP BY user_id)
        |SELECT user_id,
        |  COALESCE(n_pairs, 0) AS n_pairs,
        |  COALESCE(n_unmatched_clicks, 0) AS n_unmatched_clicks,
        |  COALESCE(n_unmatched_purchases, 0) AS n_unmatched_purchases
        |FROM agg FULL OUTER JOIN ragg USING (user_id)
        |WHERE COALESCE(n_pairs, 0) > 0 OR COALESCE(n_unmatched_clicks, 0) > 0
        |   OR COALESCE(n_unmatched_purchases, 0) > 0""".stripMargin)),
    QueryDef("q_stream_window_close", streamWindowClose, Some(
      s"""WITH wm AS ($wmSql)
         |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         |  time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
         |  event_type, CAST(count(*) AS BIGINT) AS n
         |FROM events, wm
         |GROUP BY 1, 2, 3
         |HAVING window_end <= (SELECT w FROM wm)""".stripMargin)),
    QueryDef("q_stream_funnel", streamFunnel, Some(RelationalQueries.funnelSql)),
    QueryDef("q_stream_funnel_exact", streamFunnelExact, Some(RelationalQueries.funnelSql)),
    QueryDef("q_stream_manifest", streamManifest, Some(
      "SELECT event_id, event_type, value FROM events WHERE user_id = 73")),
    QueryDef("q_stream_cdc", streamCdc, Some(
      """WITH latest AS (
        |  SELECT user_id, op, new_bal FROM (
        |    SELECT user_id,
        |      CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op,
        |      value AS new_bal,
        |      row_number() OVER (
        |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1)
        |SELECT COALESCE(c.c_custkey, l.user_id) AS c_custkey,
        |  COALESCE(c.c_name, '(new)') AS name,
        |  CASE WHEN l.user_id IS NOT NULL THEN l.new_bal ELSE c.c_acctbal END AS bal
        |FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin), headline = true),
    QueryDef("q_stream_dynamic_session", streamDynamicSession, Some(
      s"""WITH wm AS ($wmSql),
         |g AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
         |         ELSE INTERVAL 30 MINUTE END AS gap
         |  FROM events),
         |x AS (
         |  SELECT *, max(ts + gap) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_end
         |  FROM g),
         |f AS (
         |  SELECT *, CASE WHEN prior_end IS NULL OR ts >= prior_end
         |    THEN 1 ELSE 0 END AS new_s FROM x),
         |n AS (
         |  SELECT *, sum(new_s) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM f)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts + gap) AS session_end,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM n GROUP BY user_id, sid
         |HAVING session_end <= (SELECT w FROM wm)""".stripMargin)),
    QueryDef("q_stream_session_close", streamSessionClose, Some(
      s"""WITH wm AS ($wmSql),
         |flagged AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |numbered AS (
         |  SELECT user_id, ts,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM flagged)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL 30 MINUTE AS session_end,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM numbered
         |GROUP BY user_id, session_id
         |HAVING session_end <= (SELECT w FROM wm)""".stripMargin), headline = true))
}
