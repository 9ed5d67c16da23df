package graft

import graft.streaming.BudgetGate

/** The round-20 BudgetGate small-batch driver fast path: acceptance
  * and state resolved from the collected `(group, idHash, id, tokens)`
  * projection must be BIT-IDENTICAL to the distributed window+join
  * resolution — same accepted sets, same per-group spent deltas, batch
  * by batch, including the budget-boundary rows, cross-batch spent
  * chaining, null groups and null token counts. The distributed form
  * is forced by switching the driver fast paths off; the non-forced
  * runs ASSERT the fast path engaged (via the DriverResolve registry),
  * so the comparison can never be distributed-vs-distributed vacuity.
  */
class BudgetGateDriverResolveSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // groups: en under pressure (boundary rows), de comfortable, a null
  // group (prior-join semantics: never matches, fresh budget each
  // batch), and null token counts (ride free)
  private def batches = Seq(
    Seq((1L, Some("en"), Some(40L)), (2L, Some("en"), Some(40L)),
      (3L, Some("en"), Some(40L)), (10L, Some("de"), Some(10L)),
      (20L, Option.empty[String], Some(60L)),
      (30L, Some("en"), Option.empty[Long])),
    Seq((4L, Some("en"), Some(1L)), (11L, Some("de"), Some(85L)),
      (12L, Some("de"), Some(85L)),
      (21L, Option.empty[String], Some(60L))),
    Seq((5L, Some("en"), Some(100L)), (13L, Some("de"), Some(1L)),
      (40L, Some("fr"), Some(100L))))
      .map(_.toDF("doc_id", "grp_col", "n_tokens"))

  private def run(forceDistributed: Boolean)
      : (Seq[Set[Long]], Set[(String, Long, Long)]) = {
    val (out, counts) = withDriverResolve(on = !forceDistributed) {
      val state = tmp("bgdr_state")
      val accepted = batches.zipWithIndex.map { case (b, id) =>
        BudgetGate.acceptBatch(b, id.toLong, "grp_col", "doc_id",
            "n_tokens", state, budget = 100L)
          .select("doc_id").as[Long].collect().toSet
      }
      val stateRows = BudgetGate.readState(spark, state)
        .collect()
        .map(r => (if (r.isNullAt(0)) null else r.getString(0),
          r.getLong(1), r.getLong(2))).toSet
      (accepted, stateRows)
    }
    val resolved = counts.getOrElse(BudgetGate.DriverSite, 0L)
    if (forceDistributed)
      assert(counts.isEmpty, s"forced-distributed run must never route to the driver: $counts")
    else
      assert(resolved === batches.size.toLong,
        s"fast path must engage on every batch (engaged $resolved)")
    out
  }

  test("driver-resolve ≡ distributed: accepted sets and state deltas, 3 chained batches") {
    val (accD, stateD) = run(forceDistributed = false)
    val (accX, stateX) = run(forceDistributed = true)
    assert(accD === accX)
    assert(stateD === stateX)
    // the scenario actually rejects rows (parity over all-accepted
    // would prove nothing) and exercises the null group both batches
    assert(accD.flatten.size < batches.map(_.count()).sum)
    assert(stateD.exists(_._1 == null))
  }

  test("replayed batch id: memo declines, state parity holds (idempotent overwrite)") {
    val state = tmp("bgdr_replay")
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
        state, budget = 100L).select("doc_id").as[Long].collect().toSet
    val a0 = step(batches(0), 0L)
    val a1 = step(batches(1), 1L)
    // crash-replay of batch 1: the memo's next-batch guard misses
    // (it expects batch 2) and the parquet aggregate takes over
    val a1r = step(batches(1), 1L)
    assert(a1r === a1)
    val a2 = step(batches(2), 2L)
    // full-distributed reference over the same sequence incl. replay
    withDriverResolve(on = false) {
      val stateX = tmp("bgdr_replay_x")
      def stepX(b: org.apache.spark.sql.DataFrame, id: Long) =
        BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
          stateX, budget = 100L).select("doc_id").as[Long].collect().toSet
      assert(stepX(batches(0), 0L) === a0)
      assert(stepX(batches(1), 1L) === a1)
      assert(stepX(batches(1), 1L) === a1)
      assert(stepX(batches(2), 2L) === a2)
    }
  }

  test("out-of-band state rewrite invalidates the prior memo (fingerprint guard)") {
    val state = tmp("bgdr_ext")
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
        state, budget = 100L).select("doc_id").as[Long].collect().toSet
    step(Seq((1L, Some("en"), Some(90L))).toDF("doc_id", "grp_col", "n_tokens"), 0L)
    // another process wipes batch 0's spend — the memo must not serve it
    val p = java.nio.file.Paths.get(state, "batch_id=0")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    val a1 = step(
      Seq((2L, Some("en"), Some(90L)), (3L, Some("en"), Some(90L)))
        .toDF("doc_id", "grp_col", "n_tokens"), 1L)
    // with batch 0 gone, en's prior is 0: first row fits, second's
    // before = 90 < 100 fits too — a stale memo (prior 90) would have
    // rejected the second
    assert(a1.size === 2)
  }

  test("a part file rewritten in place invalidates the prior memo (leaf fingerprint)") {
    val state = tmp("bgdr_inplace")
    def step(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetGate.acceptBatch(b, id, "grp_col", "doc_id", "n_tokens",
        state, budget = 100L).select("doc_id").as[Long].collect().toSet
    step(Seq((1L, Some("en"), Some(90L))).toDF("doc_id", "grp_col", "n_tokens"), 0L)
    // another process rewrites batch 0's part file IN PLACE (same
    // name, truncate + write, so the batch dir's entries and mtime
    // stay as they were) with en's spend cut to 5
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def partOf(dir: Path): Path = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq match {
        case Seq(p) => p
        case ps => fail(s"expected one part file in $dir, got $ps")
      }
    def crcOf(part: Path): Path =
      part.resolveSibling(s".${part.getFileName}.crc")
    val part = partOf(Paths.get(state, "batch_id=0"))
    val scratch = tmp("bgdr_inplace_src")
    Seq(("en", 5L)).toDF("grp", "spent_delta").coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    val src = partOf(Paths.get(scratch))
    Files.write(part, Files.readAllBytes(src))
    // the checksum sidecar is rewritten in place too, or the reader
    // rejects the new bytes
    Files.write(crcOf(part), Files.readAllBytes(crcOf(src)))
    val a1 = step(
      Seq((2L, Some("en"), Some(90L)), (3L, Some("en"), Some(90L)))
        .toDF("doc_id", "grp_col", "n_tokens"), 1L)
    // the new prior is 5: the first row's before = 5 and the second's
    // 95 both fit under 100 — the stale memo (prior 90) would have
    // rejected the second
    assert(a1 === Set(2L, 3L))
  }

  test("non-driverable shapes route distributed: string ids, disabled cap") {
    val (acc, counts) = withDriverResolve(on = true) {
      val state = tmp("bgdr_str")
      val b = Seq(("7", Some("en"), Some(40L)), ("8", Some("en"), Some(80L)))
        .toDF("doc_id", "grp_col", "n_tokens")
      BudgetGate.acceptBatch(b, 0L, "grp_col", "doc_id", "n_tokens",
        state, budget = 100L).select("doc_id").as[String].collect().toSet
    }
    assert(counts.get(BudgetGate.DriverSite) === None,
      "string ids must not take the driver path (idHash cast/order semantics)")
    assert(counts.get(s"${BudgetGate.DriverSite}/ineligible") === Some(1L))
    assert(acc.nonEmpty)
  }
}
