package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Relational

/** Streaming CDC apply: maintain an SCD-1 table under a continuous
  * change stream — the streaming twin of [[graft.operators.Cdc
  * .applyChanges]], and the shape the reference's ingest loop IS
  * (`DataIngesting.py:48-64` re-upserts the station dimension on
  * every poll; at warehouse scale that's a keyed delta apply per
  * micro-batch).
  *
  * Out-of-order safety: the maintained snapshot carries, per key,
  * the ORDER of the last applied change (`__ord`, a struct of the
  * caller's `orderCols`) plus a delete TOMBSTONE flag (`__deleted`).
  * A change applies only if its order is strictly newer than the
  * stored one, and deletes leave a tombstone holding their order —
  * so a stale update arriving after the delete cannot resurrect the
  * row. The end state therefore equals the BATCH merge of the full
  * change log regardless of how the stream is micro-batched
  * (`CdcStreamSpec` pins end-state equality under an adversarial
  * parity split that scatters timestamps across batches).
  *
  * Exactly-once: each micro-batch writes a full snapshot to
  * `tableDir/v=<batchId>` computed from the latest snapshot with
  * version < batchId. Prior versions are immutable, so a replayed
  * batch (failure recovery re-runs the last batch) recomputes from
  * the same input state and overwrites only its own version dir —
  * the foreachBatch idempotency contract, the same discipline as
  * [[NearDupGate]]'s batch-id-partitioned state.
  *
  * Scale shape: per batch, change compaction is the single-shuffle
  * `max_by` of [[Relational.latestPerGroup]] and the apply is ONE
  * full-outer equi-join on the key — no broadcast assumption, no
  * window over the base. The honest cost: plain parquet has no ACID
  * MERGE, so each version is a full snapshot rewrite (O(base) per
  * batch). On an ACID table format the same per-batch frame feeds
  * MERGE INTO and only touched files rewrite; the micro-batch logic
  * here — compaction, ord gate, tombstones — is format-independent.
  * Old versions are retention/compaction's business
  * ([[graft.sources.Compact]]); readers always resolve the max
  * version.
  */
object CdcStream {

  private val OrdCol = "__ord"
  private val DelCol = "__deleted"

  /** Committed snapshot versions under `tableDir`, ascending (Hadoop
    * FS listing — works on any supported filesystem; the version
    * count is bounded by retention, not data size).
    */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** The table as of its latest committed version: live rows only
    * (tombstones and bookkeeping columns stripped).
    */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed CDC snapshot under $tableDir")
    spark.read.parquet(s"$tableDir/v=${vs.last}")
      .filter(!col(DelCol))
      .drop(OrdCol, DelCol)
  }

  /** One micro-batch step: merge `changes` onto the snapshot with
    * version < `batchId` (or `init` before the first commit) and
    * commit the result as version `batchId`. Deterministic given
    * batch contents + prior state; idempotent under replay.
    */
  def applyBatch(
      changes: DataFrame,
      batchId: Long,
      tableDir: String,
      init: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      opCol: String,
      updateCols: Map[String, String]): Unit = {
    val spark = changes.sparkSession
    val prior = versions(spark, tableDir).filter(_ < batchId).lastOption
    val base = prior match {
      case Some(v) => spark.read.parquet(s"$tableDir/v=$v")
      case None => init
        .withColumn(OrdCol, lit(null).cast(ordType(changes, orderCols)))
        .withColumn(DelCol, lit(false))
    }
    val baseCols = base.columns.toSeq.filterNot(c => c == OrdCol || c == DelCol)

    // Within-batch compaction: last change per key (max orderCols).
    val payloadCols = (updateCols.values.toSeq :+ opCol).distinct ++ orderCols
    val compacted = Relational.latestPerGroup(changes, keyCols, orderCols, payloadCols)
    val chg = compacted.select(
      (keyCols.map(k => col(k).as(s"__chg_$k")) ++
        payloadCols.map(p => col(p).as(s"__chg_$p")) :+
        struct(orderCols.map(o => col(o)): _*).as("__chg_ord")): _*)

    val on = keyCols.map(k => base(k) === chg(s"__chg_$k")).reduce(_ && _)
    val joined = base.join(chg, on, "full_outer")
    val hasChange = chg(s"__chg_$opCol").isNotNull
    // strict-newer gate: NULL stored ord (insert or never-changed
    // base row) always loses to a real change; equal ord = replayed
    // duplicate, ignored.
    val applies = hasChange && (base(OrdCol).isNull || chg("__chg_ord") > base(OrdCol))
    val isDelete = applies && chg(s"__chg_$opCol") === "D"

    // Tombstones PRESERVE the last live column values: a newer
    // upsert after a delete resurrects the row with its unmapped
    // columns intact — exactly what the batch merge of the full log
    // produces (the delete never happened as far as the compacted
    // log is concerned). Update values apply only from non-delete
    // changes (a D row's payload columns are not values).
    val outCols = baseCols.map { bc =>
      (if (keyCols.contains(bc)) coalesce(base(bc), chg(s"__chg_$bc"))
       else updateCols.get(bc) match {
         case Some(cc) => when(applies && !isDelete, chg(s"__chg_$cc")).otherwise(base(bc))
         case None     => base(bc)
       }).as(bc)
    } ++ Seq(
      when(applies, chg("__chg_ord")).otherwise(base(OrdCol)).as(OrdCol),
      when(isDelete, lit(true))
        .when(applies, lit(false)) // newer upsert resurrects
        .otherwise(coalesce(base(DelCol), lit(false))).as(DelCol))

    joined.select(outCols: _*)
      .write.mode("overwrite").parquet(s"$tableDir/v=$batchId")
  }

  private def ordType(changes: DataFrame, orderCols: Seq[String]) =
    changes.select(struct(orderCols.map(col): _*)).schema.head.dataType

  /** The streaming apply: every micro-batch of the change stream
    * commits one table version through [[applyBatch]].
    */
  def stream(
      changes: DataFrame,
      tableDir: String,
      checkpointDir: String,
      init: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      opCol: String,
      updateCols: Map[String, String]): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b, id, tableDir, init, keyCols, orderCols, opCol, updateCols)
      }
      .start()
}
