package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType

/** Exact incremental materialized aggregate view — the
  * algebraic-measure sibling of [[SketchStream]]: each micro-batch
  * collapses to ONE `(count, DECIMAL sum)` partial per group,
  * appended to a batch-id-partitioned state table; serving re-merges
  * the partials, which by commutative exact algebra equals the
  * one-shot aggregate over all history (sum in DECIMAL, never double
  * — partial merge order must not move the result; CLAUDE.md
  * invariant). count/sum/avg (= sum/count) dashboards at 100 TB pay
  * one tiny aggregate per batch and a partials-table scan per serve —
  * never a history re-scan — and unlike the sketch path the answer is
  * EXACT, so the whole lifecycle is oracle-checkable.
  *
  * Exactly-once: partials land as a FULL OVERWRITE of the explicit
  * partition path `stateDir/batch_id=<id>` — a replayed micro-batch
  * overwrites exactly its own directory (the
  * [[NearDupGate]]/[[CdcStream]]/[[SketchStream]] idempotency
  * discipline), and — unlike `partitionBy` + dynamic overwrite, which
  * writes NOTHING for an empty batch — a legally-empty micro-batch
  * still commits a typed zero-row parquet shell, so the serving
  * read's schema inference can never hit UNABLE_TO_INFER_SCHEMA on a
  * quiet stream (the empty-sink trap; found by round-16 advice). A
  * long-lived stream accrues one partition per batch; fold old
  * partitions periodically by re-writing their merged partials as one
  * coarser slice (the algebra makes the fold lossless), or run
  * [[graft.sources.Compact]] per leaf.
  */
object AggStream {

  /** The summed measure's input cast type and its Spark sum-widened
    * partial type (+10 precision — Spark's DECIMAL sum widening),
    * shared by the appendPartials/appendCombinedPartials casts AND
    * the declared state schemas so writer and declared reader can
    * never drift (round-19 advice: a hardcoded DECIMAL(28,2) schema
    * next to a DECIMAL(18,2) cast fails at scan time if either side
    * ever changes alone).
    */
  private[graft] val partialInputDecimal = DecimalType(18, 2)
  private[graft] val partialSumDecimal =
    DecimalType(partialInputDecimal.precision + 10, partialInputDecimal.scale)

  /** Idempotent partition commit: full overwrite of
    * `stateDir/batch_id=<id>`. The df must NOT carry a `batch_id`
    * column (partition discovery derives it from the dir name).
    */
  private def commitPartition(
      df: DataFrame, stateDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")

  // ---- partials compaction (round 20 — the round-19 verdict's
  // item 6): a long-lived stream accrues one partition dir per batch
  // and every serve lists + merges all of them, so per-tick serve
  // cost grows with TICK COUNT. The appends below now FOLD: when the
  // table holds >= compactEvery committed partitions, the batch's
  // commit rewrites `batch_id=<id>` as (all prior partials ++ this
  // batch) re-merged — lossless by the same commutative algebra the
  // serve merge relies on — and tags the dir with a
  // `_folded_upto_<id-1>` marker file. Serve readers skip partitions
  // <= the highest marker; the folded-away dirs are SWEPT at the
  // START of the next append (by which point batch <id> is
  // checkpoint-committed and can never replay). Crash windows:
  //  - fold staged + renamed atomically (content and marker publish
  //    together); a replayed batch <id> recomputes the same fold from
  //    the prior dirs, which are only ever deleted by batch <id+1>;
  //  - a crash mid-sweep re-sweeps idempotently on the next append;
  //  - serve between fold and sweep reads marker-pruned dirs only,
  //    so the not-yet-swept history never double-counts.
  // `spark.graft.streaming.partialsCompactEvery` (default 32; 0
  // disables) — serve output is IDENTICAL by algebra, so the fold is
  // invisible to every oracle row (AggStreamSpec pins fold ≡ unfolded
  // across replay and crash orderings).
  private val compactEveryKey = "spark.graft.streaming.partialsCompactEvery"
  private val defaultCompactEvery = 32L

  /** Spec hook: folds performed this JVM. */
  private[graft] val foldsPerformed = new java.util.concurrent.atomic.AtomicLong

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private val markerPrefix = "_folded_upto_"

  // (batchId, dir path, folded-upto marker value if any) per partition
  private def listPartitions(spark: SparkSession, stateDir: String)
      : Seq[(Long, org.apache.hadoop.fs.Path, Option[Long])] = {
    val fs = fsOf(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map { s =>
        val id = s.getPath.getName.stripPrefix("batch_id=").toLong
        val marker = fs.listStatus(s.getPath).toSeq
          .map(_.getPath.getName)
          .collectFirst { case n if n.startsWith(markerPrefix) =>
            n.stripPrefix(markerPrefix).toLong }
        (id, s.getPath, marker)
      }
  }

  /** Shared append-with-fold driver: sweeps folded-away partitions,
    * then either commits the plain batch partials or folds
    * (history ++ batch) through `merge` into this batch's own
    * partition (staged + renamed so content and marker publish
    * atomically).
    */
  private def appendFolding(
      spark: SparkSession,
      stateDir: String,
      batchId: Long,
      batchPartials: DataFrame,
      merge: DataFrame => DataFrame): Unit = {
    val compactEvery = spark.conf.getOption(compactEveryKey)
      .map(_.toLong).getOrElse(defaultCompactEvery)
    val parts = listPartitions(spark, stateDir)
    // sweep: partitions folded into a COMMITTED (strictly earlier)
    // batch are dead weight — delete them (idempotent; a marker in
    // THIS batch's dir is a crashed attempt about to be overwritten)
    val fs = fsOf(spark, stateDir)
    val sweepUpTo = parts.collect {
      case (id, _, Some(c)) if id < batchId => c
    }.maxOption.getOrElse(Long.MinValue)
    parts.filter(_._1 <= sweepUpTo).foreach(p => fs.delete(p._2, true))
    val live = parts.filter(p => p._1 > sweepUpTo && p._1 < batchId)
    if (compactEvery <= 0 || live.size < compactEvery) {
      commitPartition(batchPartials, stateDir, batchId)
    } else {
      val hist = spark.read.option("basePath", stateDir)
        .parquet(live.map(_._2.toString): _*)
        .drop("batch_id")
      val folded = merge(hist.unionByName(batchPartials))
      val stage = new org.apache.hadoop.fs.Path(stateDir, ".fold.tmp")
      if (fs.exists(stage)) fs.delete(stage, true)
      folded.write.mode("overwrite").parquet(stage.toString)
      // the marker names the highest folded id; it rides the staged
      // dir so the rename publishes content + marker in one atomic op
      fs.create(new org.apache.hadoop.fs.Path(stage,
        markerPrefix + (batchId - 1)), true).close()
      val target = new org.apache.hadoop.fs.Path(stateDir, s"batch_id=$batchId")
      if (fs.exists(target)) fs.delete(target, true)
      fs.rename(stage, target)
      foldsPerformed.incrementAndGet()
    }
    ()
  }

  /** Marker-pruned partials read — every serve goes through this:
    * partitions at or below the highest `_folded_upto_` marker hold
    * mass that already lives in a fold and are skipped (they exist
    * only in the window between a fold and the next append's sweep).
    */
  private def readPartials(
      spark: SparkSession,
      stateDir: String,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    val parts = listPartitions(spark, stateDir)
    if (parts.isEmpty) reader.parquet(stateDir) // empty/missing: old behavior
    else {
      val upTo = parts.flatMap(_._3).maxOption.getOrElse(Long.MinValue)
      reader.option("basePath", stateDir)
        .parquet(parts.filter(_._1 > upTo).map(_._2.toString): _*)
    }
  }

  /** One micro-batch step: per-group `(cnt, sum_partial)` for
    * `batch`, committed idempotently under `stateDir/batch_id=<id>`.
    */
  def appendPartials(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      groupCols: Seq[String],
      valueCol: String): Unit =
    appendFolding(batch.sparkSession, stateDir, batchId,
      batch.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("cnt"),
          sum(col(valueCol).cast(partialInputDecimal)).as("sum_partial")),
      // partials-of-partials merge: counts sum, DECIMAL sums sum (the
      // +10-widened result re-casts losslessly into the partial type
      // until the TOTAL outgrows 26 digits, far past any serve)
      merged => merged.groupBy(groupCols.map(col): _*)
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sum_partial")).cast(partialSumDecimal).as("sum_partial")))

  /** Serving path: per-group exact `(n, sum_value)` over ALL
    * committed partials — scans only the partials table. DECIMAL
    * throughout the merge; callers cast/round at the edge.
    *
    * `schema`: the state table's schema when the caller knows it
    * (see [[partialsStateSchema]]/[[combinedStateSchema]]) — skips
    * the per-serve parquet footer inference, one driver round-trip
    * per dashboard tick (round 19; the declared-state-schema
    * discipline of the gate readers).
    */
  def serve(
      spark: SparkSession,
      stateDir: String,
      groupCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readPartials(spark, stateDir, schema)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("cnt")).as("n"),
        sum(col("sum_partial")).as("sum_value"))

  /** The state-table schema [[appendPartials]] commits, derived from
    * the batch schema — thread into [[serve]] to skip per-serve
    * footer inference. Includes the `batch_id` partition column.
    */
  def partialsStateSchema(
      batchSchema: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      groupCols.map(c => batchSchema(c).copy(nullable = true)) ++ Seq(
        StructField("cnt", LongType),
        StructField("sum_partial", partialSumDecimal),
        StructField("batch_id", LongType)))
  }

  /** The state-table schema [[appendCombinedPartials]] commits —
    * thread into [[serve]]/[[serveLatest]] over a combined table.
    */
  def combinedStateSchema(
      batchSchema: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String],
      ordCols: Seq[String],
      valueCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      (groupCols ++ ordCols :+ valueCol)
        .map(c => batchSchema(c).copy(nullable = true)) ++ Seq(
        StructField("cnt", LongType),
        StructField("sum_partial", partialSumDecimal),
        StructField("batch_id", LongType)))
  }

  /** One micro-batch step of the LATEST-STATE sibling: per-group
    * `max_by(payload, ord)` partial for `batch`, committed
    * idempotently under `stateDir/batch_id=<id>`. Latest-per-group is
    * algebraic too (max over the `(ordCols)` struct is commutative
    * and associative), so partials re-merge exactly — the incremental
    * form of [[graft.operators.Relational.latestPerGroup]], and the
    * state table a live dashboard's profile surface should serve from
    * instead of re-scanning history (round 16, St5 at scale: per-tick
    * cost is one batch-sized aggregate + a key-cardinality state
    * scan).
    */
  def appendLatestPartials(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      groupCols: Seq[String],
      ordCols: Seq[String],
      payloadCols: Seq[String]): Unit = {
    val all = ordCols ++ payloadCols
    def latestOf(df: DataFrame) = df.groupBy(groupCols.map(col): _*)
      .agg(max_by(struct(all.map(col): _*), struct(ordCols.map(col): _*))
        .as("__l"))
      .select(groupCols.map(col) ++ all.map(c => col(s"__l.$c")): _*)
    appendFolding(batch.sparkSession, stateDir, batchId,
      latestOf(batch),
      // max_by over already-reduced rows — associative, so the fold
      // is the serve merge applied early
      latestOf)
  }

  /** COMBINED partials — one micro-batch aggregate maintaining BOTH
    * measure families in one state table keyed by the FINE group
    * (round-17 per-tick trim): per `groupCols` row it holds
    * `(cnt, sum_partial)` AND the latest `(ordCols, payloadCols)`
    * state. The algebra composes: a coarser dashboard surface (e.g.
    * per-`event_type` averages) re-merges from the fine partials via
    * [[serve]] with the coarser keys (sums of sums / counts of
    * counts), and [[serveLatest]] over the same table yields exact
    * latest-per-group — so the dashboard trio commits ONE partial
    * write per tick where the split tables cost two batch-sized
    * aggregates + two commit jobs. Requires `valueCol` to be both the
    * summed measure and a payload of the latest state (the dashboard
    * shape); callers with disjoint measures keep the split tables.
    */
  def appendCombinedPartials(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      groupCols: Seq[String],
      ordCols: Seq[String],
      valueCol: String): Unit = {
    val all = ordCols :+ valueCol
    appendFolding(batch.sparkSession, stateDir, batchId,
      batch.groupBy(groupCols.map(col): _*)
        .agg(
          count(lit(1)).as("cnt"),
          sum(col(valueCol).cast(partialInputDecimal)).as("sum_partial"),
          max_by(struct(all.map(col): _*), struct(ordCols.map(col): _*))
            .as("__l"))
        .select(groupCols.map(col) ++ all.map(c => col(s"__l.$c"))
          :+ col("cnt") :+ col("sum_partial"): _*),
      merged => merged.groupBy(groupCols.map(col): _*)
        .agg(
          sum(col("cnt")).as("cnt"),
          sum(col("sum_partial")).cast(partialSumDecimal).as("sum_partial"),
          max_by(struct(all.map(col): _*), struct(ordCols.map(col): _*))
            .as("__l"))
        .select(groupCols.map(col) ++ all.map(c => col(s"__l.$c"))
          :+ col("cnt") :+ col("sum_partial"): _*))
  }

  /** Serving path of [[appendLatestPartials]]: the exact
    * latest-per-group table over ALL committed partials — one
    * key-cardinality merge, never a history re-scan.
    */
  def serveLatest(
      spark: SparkSession,
      stateDir: String,
      groupCols: Seq[String],
      ordCols: Seq[String],
      payloadCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val all = ordCols ++ payloadCols
    readPartials(spark, stateDir, schema)
      .groupBy(groupCols.map(col): _*)
      .agg(max_by(struct(all.map(col): _*), struct(ordCols.map(col): _*))
        .as("__l"))
      .select(groupCols.map(col) ++ all.map(c => col(s"__l.$c")): _*)
  }

  /** The streaming maintenance query: every micro-batch commits its
    * group partials through [[appendPartials]].
    */
  def stream(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
      groupCols: Seq[String],
      valueCol: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendPartials(b, id, stateDir, groupCols, valueCol)
      }
      .start()
}
