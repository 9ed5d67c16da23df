package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one probe main: fresh-JVM single-query timer that also says
  * where each run's time went (`scripts/benchone.sh <sfDir> <name>...`
  * or `runMain graft.BenchOne <sfDir> <name>...`). Each name runs once
  * through [[Bench.runOnce]]; repeat a name for in-JVM reps. Per run:
  *  - `[benchone] <name> <s> s` and the cumulative driver-resolve
  *    registry ([[operators.DriverResolve.snapshot]]);
  *  - the job count, job-time sum and gap sum;
  *  - one line per Spark job: id, duration, leading gap
  *    ([[attribute]]) and call site, with `spark.job.description`
  *    (a micro-batch's query id and batch) when set;
  *  - one line per streaming trigger: query, batch id, input rows and
  *    the `StreamingQueryProgress.durationMs` phases.
  * Everything is read from Spark's own listener events after the bus
  * drains — no timer sits inside the query.
  *
  * Scale points run on a `ScaleGen` output directory as `<sfDir>`.
  * A/B a switch without an option: `SparkConf` loads `spark.*` JVM
  * system properties, so e.g.
  * `JDK_JAVA_OPTIONS=-Dspark.graft.driverResolve=false` forces every
  * driver fast path distributed for the whole JVM.
  *
  * Protocol notes: ~8 s of JVM+session startup lands on the FIRST
  * query — lead with a cheap sponge (`q_fk_orphans`) when measuring
  * ratios; set `SPARK_GRAFT_CPUS`/`SPARK_DRIVER_MEM` for scale probes
  * (the 4-core default manufactures fake super-linearity at 100×). A
  * GC between queries keeps one query's released blocks
  * (localCheckpoint shards die with their RDD refs) from billing the
  * next query's timing — the 100× probe measured 4× within-JVM swings
  * without it.
  */
object BenchOne {

  /** One Spark job as its listener events stamp it (epoch ms). */
  final case class Job(id: Int, startMs: Long, endMs: Long, site: String)

  /** One micro-batch as its `StreamingQueryProgress` reports it. */
  final case class Trigger(
      query: String, batchId: Long, inputRows: Long, durationMs: Seq[(String, Long)])

  /** One measured run: wall seconds, jobs with their leading gaps (in
    * start order), and the streaming triggers it drove.
    */
  final case class Run(seconds: Double, jobs: Seq[(Job, Long)], triggers: Seq[Trigger])

  /** Each job with its leading gap, in start order. Driver time
    * between jobs (planning, fs ops, checkpoint commits) is charged to
    * the job that follows it: the gap runs from the later of the run's
    * start and the latest end of any earlier job. A job that starts
    * while another still runs has a gap of 0.
    */
  def attribute(runStartMs: Long, jobs: Seq[Job]): Seq[(Job, Long)] = {
    var busyUntil = runStartMs
    jobs.sortBy(j => (j.startMs, j.id)).map { j =>
      val gap = math.max(0L, j.startMs - busyUntil)
      busyUntil = math.max(busyUntil, j.endMs)
      (j, gap)
    }
  }

  /** Runs catalog query `name` once on `spark` with a job listener and
    * a streaming-progress listener attached, then drains the listener
    * bus and detaches both.
    */
  def measure(spark: SparkSession, sfDir: String, name: String): Run = {
    val sc = spark.sparkContext
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val triggers = new ConcurrentLinkedQueue[Trigger]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the final stage is named after the job's call site
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        // a micro-batch's jobs carry "<name> id = <uuid> runId = <uuid>
        // batch = <n>"; uuids shortened to the trigger lines' 8 chars
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(_.trim.replaceAll("\\s*\\n\\s*", ", ")
            .replaceAll("([0-9a-f]{8})(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "$1"))
          .filter(_.nonEmpty)
        started.put(e.jobId, (e.time, site + desc.fold("")(d => s" [$d]")))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (t, site) =>
          jobs.add(Job(e.jobId, t, e.time, site))
        }
    }
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = p.durationMs.asScala.toSeq.map { case (k, v) => (k, v.longValue) }
          .sortBy { case (k, _) => (k != "triggerExecution", k) }
        triggers.add(Trigger(Option(p.name).getOrElse(p.id.toString.take(8)),
          p.batchId, p.numInputRows, phases))
        ()
      }
    }
    sc.addSparkListener(jobListener)
    spark.streams.addListener(progressListener)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Bench.runOnce(spark, sfDir, name)
      val seconds = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(sc)
      Run(seconds, attribute(startMs, jobs.asScala.toSeq), triggers.asScala.toSeq)
    } finally {
      spark.streams.removeListener(progressListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** The attribution lines of `run` (after its time and registry lines). */
  def report(run: Run): Seq[String] = {
    val secs = (ms: Long) => ms / 1e3
    val jobSum = run.jobs.map { case (j, _) => j.endMs - j.startMs }.sum
    val gapSum = run.jobs.map(_._2).sum
    Seq(f"[benchone]   jobs=${run.jobs.size} jobSum=${secs(jobSum)}%.3f s gapSum=${secs(gapSum)}%.3f s") ++
      run.jobs.map { case (j, gap) =>
        f"[benchone]   job${j.id}%-5d ${secs(j.endMs - j.startMs)}%7.3f s  gap ${secs(gap)}%6.3f s  ${j.site}"
      } ++
      run.triggers.map { t =>
        s"[benchone]   trigger ${t.query} batch=${t.batchId} rows=${t.inputRows} " +
          t.durationMs.map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.get()
    args.drop(1).foreach { n =>
      val run = measure(spark, sfDir, n)
      println(f"[benchone] $n ${run.seconds}%.2f s")
      // cumulative driver fast-path engagement and fallbacks this JVM
      println(s"[benchone] driver-resolve " + operators.DriverResolve.snapshot()
        .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
      report(run).foreach(println)
      System.gc()
    }
    spark.stop()
  }
}
