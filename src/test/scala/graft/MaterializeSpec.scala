package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize}

/** The materialization boundary ([[graft.operators.Materialize]]) must
  * be semantically invisible: every strategy returns the same rows, and
  * the operators built on it are strategy-agnostic.
  */
class MaterializeSpec extends SparkSpecBase {

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog today"),
    (3L, "completely unrelated text about spark physical planning"),
    (4L, "the quick brown fox jumps over the lazy dog tonight")
  ).toDF("doc_id", "text")

  private def candidates(): Set[(Long, Long)] =
    Dedup.minhashCandidates(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("persist strategy returns the same candidate pairs as local") {
    val base = candidates()
    assert(base.contains((1L, 4L))) // exact dup pair must survive any mode
    spark.conf.set(Materialize.ConfKey, "persist")
    try assert(candidates() === base)
    finally spark.conf.unset(Materialize.ConfKey)
  }

  test("reliable strategy checkpoints to the configured dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val base = candidates()
    spark.conf.set(Materialize.ConfKey, "reliable")
    try assert(candidates() === base)
    finally spark.conf.unset(Materialize.ConfKey)
  }

  test("persist mode: iterative CC releases superseded label frames (no cache leak)") {
    // A long chain forces several distributed min-label iterations
    // (the driver-resolve switch off disables the driver fast path). Each
    // iteration Materializes a new label frame and must release the
    // previous one — a leak here only shows on long jobs, as pinned
    // blocks accumulating per iteration.
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set(Materialize.ConfKey, "persist")
    try {
      val before = spark.sparkContext.getPersistentRDDs.size
      val (labels, _) = withDriverResolve(on = false) {
        Dedup.connectedComponents(chain, maxIter = 8)
      }
      assert(labels.select("component").distinct().count() >= 1L)
      val after = spark.sparkContext.getPersistentRDDs.size
      // Live frames: the materialized pair list + the final labels.
      // Superseded per-iteration label frames must all be unpersisted.
      assert(after - before <= 2,
        s"persistent RDDs grew by ${after - before} — superseded CC label frames leaked")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("unknown strategy falls back to local") {
    spark.conf.set(Materialize.ConfKey, "definitely-not-a-mode")
    try assert(Materialize(docs).count() === 4L)
    finally spark.conf.unset(Materialize.ConfKey)
  }

  /** Ids of the frame's LogicalRDD-leaf RDDs — the block holders
    * releaseHard targets (id-keyed so concurrent suites' persistent
    * RDDs can't race these assertions).
    */
  private def leafRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("releaseHard drops local-mode localCheckpoint blocks (cycling-loop discipline, r17 advice)") {
    // local mode: soft release is deliberately a no-op (the blocks are
    // the frame's only copy) — a continuously-cycling foreachBatch
    // loop needs the HARD form once a batch-scoped cut is fully
    // consumed, or it accrues one dead frame per micro-batch.
    val cut = Materialize(docs)
    val Seq(id) = leafRddIds(cut)
    assert(cut.count() === 4L)
    assert(persisted(id),
      "a local-mode cut holds its checkpointed RDD's blocks")
    Materialize.release(cut) // soft: must NOT touch local-mode blocks
    assert(persisted(id))
    assert(cut.count() === 4L, "frame still readable after soft release")
    // hard release through a DERIVED frame: the LogicalRDD leaf is the
    // block holder, so consumers (e.g. CdxFetchStream's landed-records
    // projection) can release without the original handle
    Materialize.releaseHard(cut.filter(col("doc_id") > 0L))
    assert(!persisted(id),
      "releaseHard must unpersist the localCheckpoint's blocks")
  }

  test("batchScope hard-releases every cut build creates — including cuts inside called operators") {
    // the gate-family shape: the foreachBatch body calls an operator
    // whose INTERNAL cuts it cannot see; batchScope captures them by
    // thread and releases after the consuming write
    var ids: Seq[Int] = Nil
    val out = Materialize.batchScope {
      val c1 = Materialize(docs)              // "signature cut"
      val c2 = Materialize(c1.filter(col("doc_id") > 1L)) // "resolution cut"
      ids = (leafRddIds(c1) ++ leafRddIds(c2))
      c2.select("doc_id")
    } { accepted =>
      assert(accepted.count() === 3L) // the consuming "landing write"
      assert(ids.forall(persisted), "cuts live through the consumer")
    }
    assert(ids.nonEmpty && ids.forall(id => !persisted(id)),
      "all batch-scoped cuts released after the consumer ran")
    // the returned frame is dead per the releaseHard contract; a cut
    // made OUTSIDE any scope is untracked and stays readable
    val free = Materialize(docs)
    assert(free.count() === 4L)
    assert(out != null)
  }

  test("batchScope releases cuts when build throws, and nesting preserves the outer scope") {
    // a failing micro-batch (fetch error, state-dir hiccup) must not
    // strand the cuts build had already materialized — the retry
    // would inherit them forever
    var ids: Seq[Int] = Nil
    intercept[RuntimeException] {
      Materialize.batchScope {
        val c = Materialize(docs)
        ids = leafRddIds(c)
        assert(ids.forall(persisted))
        throw new RuntimeException("simulated batch failure")
      } { (_: Any) => fail("use must not run when build throws") }
    }
    assert(ids.nonEmpty && ids.forall(id => !persisted(id)),
      "cuts materialized before a build failure must be released")

    // nesting: an inner scope must neither release nor orphan the
    // outer scope's cuts
    var outerIds: Seq[Int] = Nil
    Materialize.batchScope {
      val outer = Materialize(docs)
      outerIds = leafRddIds(outer)
      Materialize.batchScope {
        Materialize(docs.filter(col("doc_id") > 2L)).count()
      } { _ => () }
      assert(outerIds.forall(persisted),
        "inner scope must not release the outer scope's cuts")
      outer.select("doc_id")
    } { kept => assert(kept.count() === 4L) }
    assert(outerIds.forall(id => !persisted(id)),
      "outer scope still tracks (and releases) its cuts after a nested scope")
  }

  test("releaseHard on persist-mode frames = release (and is safe on plain frames)") {
    spark.conf.set(Materialize.ConfKey, "persist")
    try {
      val cut = Materialize(docs)
      Materialize.releaseHard(cut)
      // persist mode keeps lineage: a late read recomputes, uncached
      assert(cut.count() === 4L)
    } finally spark.conf.unset(Materialize.ConfKey)
    Materialize.releaseHard(docs) // no Materialize anywhere: no-op
    assert(docs.count() === 4L)
  }
}
