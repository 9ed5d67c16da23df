package graft

import graft.BenchOne.Job

/** [[BenchOne]]'s attribution: the leading-gap rule as a pure function,
  * and one measured run of a streaming replay read back from Spark's
  * job and streaming-progress events.
  */
class BenchOneSpec extends SparkSpecBase {

  private def gaps(start: Long, jobs: Job*): Seq[(Int, Long)] =
    BenchOne.attribute(start, jobs).map { case (j, g) => (j.id, g) }

  test("attribute: sequential jobs carry the idle time before them") {
    assert(gaps(1000L, Job(1, 1100L, 1300L, "a"), Job(2, 1350L, 1400L, "b"),
        Job(3, 1400L, 1500L, "c")) ===
      Seq(1 -> 100L, 2 -> 50L, 3 -> 0L))
  }

  test("attribute: a job that starts while another runs has no gap") {
    // job 2 overlaps job 1; job 3's gap runs from the later end (job 2's)
    assert(gaps(0L, Job(2, 150L, 400L, "b"), Job(1, 100L, 300L, "a"),
        Job(3, 450L, 500L, "c")) ===
      Seq(1 -> 100L, 2 -> 0L, 3 -> 50L))
    // a job nested inside a longer one does not move the busy frontier back
    assert(gaps(0L, Job(1, 0L, 500L, "a"), Job(2, 100L, 200L, "b"),
        Job(3, 600L, 700L, "c")) ===
      Seq(1 -> 0L, 2 -> 0L, 3 -> 100L))
  }

  test("attribute: the first job's gap runs from the run's start") {
    assert(gaps(5000L, Job(7, 5750L, 6000L, "a")) === Seq(7 -> 750L))
    // a job stamped before the run started (clock skew) gets no negative gap
    assert(gaps(5000L, Job(8, 4990L, 5100L, "a")) === Seq(8 -> 0L))
  }

  test("measure: a streaming replay reports its jobs and one trigger per micro-batch") {
    val run = BenchOne.measure(spark, "/root/testdata/sf0.001", "q_stream_noop_replay")
    assert(run.seconds > 0.0)
    // the replay's query: two micro-batches, one per added half
    val replay = run.triggers.groupBy(_.query).collect {
      case (q, ts) if ts.map(_.batchId).sorted == Seq(0L, 1L) => q -> ts
    }
    assert(replay.size === 1, s"triggers: ${run.triggers}")
    val (query, triggers) = replay.head
    triggers.foreach { t =>
      assert(t.durationMs.headOption.map(_._1) === Some("triggerExecution"))
      assert(t.durationMs.exists(_._1 == "addBatch"))
    }
    triggers.map(_.batchId).foreach { b =>
      assert(run.jobs.exists { case (j, _) =>
          j.site.contains(s"id = $query,") && j.site.endsWith(s"batch = $b]") },
        s"no job of micro-batch $b in ${run.jobs.map(_._1.site)}")
    }
    val lines = BenchOne.report(run)
    assert(lines.head.startsWith(s"[benchone]   jobs=${run.jobs.size} jobSum="))
    assert(lines.count(_.startsWith("[benchone]   job")) === run.jobs.size + 1)
    assert(lines.count(_.startsWith("[benchone]   trigger ")) === run.triggers.size)
    assert(run.jobs.forall { case (j, gap) => gap >= 0L && j.endMs >= j.startMs })
  }
}
