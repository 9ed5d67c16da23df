package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's progress timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: a timed call into a layer, recorded by the benchmark. */
final case class Span(id: Long, parent: Long, trace: String, name: String, start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. Disabled
  * spans cost one branch.
  */
final class Spans(enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ArrayBuffer[Span]()
  def all: Seq[Span] = synchronized(buf.toList)
  def apply[T](name: String, trace: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.now()
      try body(id)
      finally {
        val s = Span(id, parent, trace, name, t0, Clock.now())
        synchronized(buf += s)
      }
    }
}

/** One trigger of a streaming query, as its progress event reports it. */
final case class Progress(name: String, id: String, runId: String, batch: Long, start: Double,
    durations: Map[String, Long], rows: Long)

/** Per-trigger progress of every streaming query, read through
  * Spark's own listener surface. Always on: freshness is computed
  * from it.
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = new ArrayBuffer[Progress]()
  def all: Seq[Progress] = synchronized(buf.toList)
  def of(name: String, runId: String): Seq[Progress] = all.filter(p => p.name == name && p.runId == runId)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val rec = Progress(p.name, p.id.toString, p.runId.toString, p.batchId,
      Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows)
    synchronized(buf += rec)
  }
}

/** Jobs and tasks from the scheduler, keyed by the streaming query or
  * benchmark operation that launched them (traced runs only).
  */
final class JobLog extends SparkListener {
  final class J(val id: Int, val start: Double, val query: String, val op: String) {
    @volatile var end: Double = Double.NaN
    @volatile var tasks = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, J]()
  private val stageJob = new ConcurrentHashMap[Int, J]()
  def all: Seq[J] = jobs.values().asScala.toSeq.sortBy(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new J(e.jobId, e.time.toDouble, prop("sql.streaming.queryId"), prop(JobLog.OpKey))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

object JobLog {
  /** Local property the benchmark sets around each of its operations. */
  val OpKey = "perfbench.op"
}

/** One action: output columns, start (epoch ms), wall time and Catalyst phase time. */
final case class Action(columns: Seq[String], start: Double, ms: Double, planMs: Double)

/** Catalyst phases and wall time of every action, read through
  * `QueryExecutionListener` (traced runs only). The output columns
  * identify which fuel query an action ran.
  */
final class ActionLog extends QueryExecutionListener {
  private val buf = new ArrayBuffer[Action]()
  def all: Seq[Action] = synchronized(buf.toList)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    val rec = Action(qe.analyzed.output.map(_.name), start, durationNs / 1e6,
      phases.values.map(_.durationMs).sum.toDouble)
    synchronized(buf += rec)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
