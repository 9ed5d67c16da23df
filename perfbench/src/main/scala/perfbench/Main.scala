package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Counts operations attempted and failed; a failed check never aborts the run. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = new ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (notes.size < 20) notes += what
    }
  }
  def fail(what: String): Unit = check(ok = false, what)
}

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val trace: Boolean,
    work: Path, goldenDir: String, val progress: ProgressLog, val spans: Spans, val checks: Checks) {
  def golden(name: String): String = Paths.get(goldenDir, name).toString
  /** An empty directory under the run's scratch directory. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    Files.createDirectories(p)
  }
}

/** One workload in a fresh JVM. Writes the raw record (timings, progress,
  * traces, check counts) as JSON to `--out`; run.py turns it into metrics.
  *
  * Usage: `perfbench.Main --workload <live_trickle|dash_refresh> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --golden <dir> --out <file>`
  */
object Main {
  /** Bound on every wait; a wait that runs out counts as a failure. */
  val WaitS = 60

  def await(ms: Double)(cond: => Boolean): Boolean = {
    val end = Clock.now() + ms
    var ok = cond
    while (!ok && Clock.now() < end) {
      Thread.sleep(20)
      ok = cond
    }
    ok
  }

  /** Fixed CPU work; milliseconds, best of three. */
  private def cpuProbe(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < 30000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }.min

  /** 500 empty files, each published by rename; milliseconds, best of five. */
  private def renameProbe(dir: Path): Double = (1 to 5).map { _ =>
    Files.createDirectories(dir)
    val t0 = System.nanoTime()
    for (i <- 0 until 500) {
      val tmp = Files.createFile(dir.resolve(s".part-$i"))
      Files.move(tmp, dir.resolve(s"f-$i"), StandardCopyOption.ATOMIC_MOVE)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Files.list(dir).iterator().asScala.foreach(Files.delete)
    ms
  }.min

  /** Parquet part files of a warehouse: (modified epoch ms, bytes) per table. */
  def warehouseFiles(wh: Path): Map[String, Seq[Seq[Double]]] =
    Seq("prices", "stations").map { t =>
      val dir = wh.resolve(t)
      t -> (if (!Files.isDirectory(dir)) Nil else Files.list(dir).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => Seq(Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0, Files.size(p).toDouble)))
    }.toMap

  private def multiset[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  def checkQMap(ctx: Ctx, qmap: DataFrame, oracle: Oracle): Unit = {
    val got = qmap.select("name", "brand", "address", "location_latitude", "location_longitude", "fuelinfo_agg")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getDouble(4), r.getString(5)))
    val want = oracle.qmap
    ctx.checks.check(multiset(got) == multiset(want),
      s"qMap differs from the oracle: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** Mean price per fuel type, as (fuel type, 2-dp mean) rows. */
  def checkBar(ctx: Ctx, what: String, bars: Seq[(String, Double)], oracle: Oracle): Unit =
    ctx.checks.check(bars.map(_._1).toSet == oracle.bar.keySet &&
      bars.forall { case (ft, v) => oracle.barAgrees(ft, v) }, s"$what differs from the oracle: $bars")

  private val BarTitle = """<title>([^<:]*): ([0-9.]+)</title>""".r
  /** The dashboard's bar chart. */
  def checkBar(ctx: Ctx, what: String, html: String, oracle: Oracle): Unit = {
    val from = html.indexOf("<h2>Average price per fuel type</h2>")
    val to = html.indexOf("<h2>Price over time</h2>")
    checkBar(ctx, what, if (from < 0 || to < from) Nil
      else BarTitle.findAllMatchIn(html.substring(from, to)).map(m => m.group(1) -> m.group(2).toDouble).toSeq,
      oracle)
  }

  private val TableRow = """<tr><td>(.*?)</td><td>(.*?)</td><td>(.*?)</td></tr>""".r
  private val GeoTitle = """<circle class="geo" [^>]*><title>(.*?)</title></circle>""".r
  /** Station table (first 20 by name) and the map's per-station payload. */
  def checkStations(ctx: Ctx, html: String, oracle: Oracle): Unit = {
    val want = oracle.qmap.map { case (n, b, a, _, _, agg) => (n, b, a, agg.replace("<br>", "; ")) }
    val rows = TableRow.findAllMatchIn(html).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    val wantRows = want.map { case (n, b, _, p) => (esc(n), esc(b), esc(p)) }.toSet
    val firstNames = want.map(_._1).sorted.take(20).map(esc)
    ctx.checks.check(multiset(rows.map(_._1)) == multiset(firstNames) && rows.forall(wantRows),
      s"station table differs from the oracle: ${rows.take(2)}")
    val geo = GeoTitle.findAllMatchIn(html).map(_.group(1)).toSeq
    val wantGeo = want.map { case (n, b, a, p) => esc(Seq(n, b, a, p).mkString(" — ")) }
    ctx.checks.check(multiset(geo) == multiset(wantGeo),
      s"station map differs from the oracle: ${geo.diff(wantGeo).take(2)} vs ${wantGeo.diff(geo).take(2)}")
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val trace = opts("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // GraftSession's session, with its SQL warehouse directory moved into
    // the run's scratch directory: a run writes nothing outside it.
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Clock.now() - jvmStart) / 1000
    val calibFirst = Seq(cpuProbe(), renameProbe(work.resolve("calib")))
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = new JobLog
    val actions = new ActionLog
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(actions)
    }
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, trace, work,
      opts("golden"), progress, new Spans(trace), new Checks)
    val gc0 = gcMs()
    val result: Map[String, Any] =
      try workload match {
        case "live_trickle" => LiveTrickle.run(ctx)
        case "dash_refresh" => DashRefresh.run(ctx)
      } catch {
        case e: Throwable =>
          ctx.checks.fail(s"workload threw: $e")
          Map.empty
      }
    val gc = gcMs() - gc0
    Thread.sleep(300) // let the listener bus deliver the last events
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    val calibLast = Seq(cpuProbe(), renameProbe(work.resolve("calib")))
    val queryName = progress.all.map(p => p.id -> p.name).toMap
    val record = result ++ Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "attempted" -> ctx.checks.attempted,
      "failed" -> ctx.checks.failed,
      "failures" -> ctx.checks.notes.toSeq,
      "calib_first" -> calibFirst,
      "calib_last" -> calibLast,
      "gc_ms" -> gc,
      "heap_peak_mb" -> heapPeakMb,
      "spans" -> ctx.spans.all.map(s => Seq(s.id, s.parent, s.trace, s.name, s.start, s.end)),
      "jobs" -> jobs.all.filter(!_.end.isNaN).map(j => Seq(j.id, j.start, j.end, j.tasks, j.shuffleBytes, j.spillBytes,
        queryName.getOrElse(j.query, j.query), j.op)),
      "actions" -> actions.all.map(a => Seq(a.columns.mkString(","), a.start, a.ms, a.planMs)))
    Files.write(Paths.get(opts("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record).getBytes(UTF_8))
    spark.stop()
    // Streaming pools are non-daemon threads; leave explicitly.
    System.exit(0)
  }
}
