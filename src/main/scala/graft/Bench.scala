package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — times the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints the one-line JSON the driver
  * ingests as `BENCH_r{N}.json`.
  *
  * Each query is fully executed via the noop DSv2 sink (`count()`
  * would let Catalyst prune the projections and under-report).
  *
  * Measurement protocol: one untimed warm-up pass over the WHOLE
  * headline set at the target SF (JIT + codegen caches, parquet
  * footers, OS page cache — a warm-up at a smaller SF leaves the
  * target files cold, which round 2 showed adds up to 0.5 s of
  * first-touch noise to whichever query runs first), then three timed
  * runs per query — five when the min is under 2 s — reporting the
  * minimum. Min-of-3 reads through one-off scheduler/GC hiccups that
  * a single sample can't (round 4 measured 10-30% run-to-run spread
  * on untouched queries at min-of-2), but fast queries need the
  * extra samples: a single 0.3 s scheduler hiccup is a +40% phantom
  * regression on a sub-second query and round-4's three flagged
  * "regressions" (q_tfidf_keywords +37%, q_contamination +31%,
  * q_embed_neardup +52%) all re-measured at round-3 levels once
  * sampled past the hiccups. The reported number is steady-state
  * plan execution. Batch and streaming queries run as separate
  * phases (batch fully first) — see the note at the partition below.
  */
object Bench {

  /** One full execution of catalog query `name` into the noop sink —
    * the run that [[Bench]], [[BenchOne]] and [[BenchServe]] time.
    */
  def runOnce(spark: SparkSession, sfDir: String, name: String): Unit = {
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // Streaming queries snapshot through uniquely-named memory-sink
    // temp views; with 5+ timed runs each those snapshots would
    // accumulate on the driver heap — drop them once consumed.
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_snap_"))
      .foreach(spark.catalog.dropTempView)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    def runOnce(name: String): Unit = Bench.runOnce(spark, sfDir, name)

    // Two phases: all batch queries (warm-up + timing) complete BEFORE
    // the first streaming replay runs. The replays each drive dozens
    // of micro-batches whose state-store providers and sink snapshots
    // live in this same JVM; warmed up front they inflate every batch
    // measurement behind them by a uniform 15-20% of GC pressure
    // (round 8 measured it) — phased, the batch numbers stay
    // comparable round over round.
    val (streamNames, batchNames) =
      SparkEntry.benchNames.partition(_.startsWith("q_stream_"))

    def phase(names: Seq[String]): Seq[(String, Double)] = {
      // Untimed warm-up at the TARGET scale factor.
      names.foreach { n =>
        try runOnce(n)
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
        }
      }
      names.map(timeOne)
    }

    def timeOne(name: String): (String, Double) = {
      // A failed run must not produce a time: a fast failure would
      // win the min over the real measurement. No successful run →
      // rethrow so the bench never publishes a number for a broken
      // query.
      var lastErr: Throwable = null
      def timed(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          runOnce(name)
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          lastErr = e
          None
        }
      }
      val first = (1 to 3).flatMap(_ => timed())
      // fast queries get 2 extra samples: one scheduler hiccup is a
      // large relative error under 2 s (see protocol note above)
      val times =
        if (first.nonEmpty && first.min < 2.0) first ++ (1 to 2).flatMap(_ => timed())
        else first
      if (times.isEmpty) throw lastErr
      name -> times.min
    }

    val results = phase(batchNames) ++ phase(streamNames)

    // Full-precision per-query detail: one greppable line each, plus a
    // complete JSON artifact on disk. The driver's contract line (below)
    // is deliberately NOT the full-detail channel — see the tail-budget
    // note.
    // Locale.ROOT throughout this output: f-interpolation uses the
    // default locale, and a comma-decimal locale would corrupt the
    // driver-parsed JSON line — the exact failure this section exists
    // to prevent.
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    results.foreach { case (k, v) =>
      println(s"[bench] $k ${fmt3(v)}")
    }
    val fullJson = results
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{\"queries\":{", ",", s"},\"sf\":\"$sfDir\"}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCHFULL.json"), fullJson)

    // Driver contract line. The driver captures only the LAST ~2000
    // characters of the run's output and parses the JSON line out of
    // that tail; round 10's line (75 queries at full double precision,
    // ~2.3 kB) overflowed it and the round's bench artifact came back
    // `parsed: null`. So this line is budgeted: values at 3 significant
    // digits, per-query entries added most-expensive-first until the
    // line would exceed TailBudget, the rest summarized as
    // "omitted":N (always the cheapest queries — full detail is in
    // BENCHFULL.json / the [bench] lines above).
    val TailBudget = 1600 // chars; tail is 2000 minus sbt's trailer
    def sig3(v: Double): String = {
      val pat = if (v >= 100) "%.0f" else if (v >= 10) "%.1f"
        else if (v >= 1) "%.2f" else "%.3f"
      String.format(java.util.Locale.ROOT, pat, Double.box(v))
    }
    val total = results.map(_._2).sum
    val sfName = new java.io.File(sfDir).getName
    val head = s"""{"metric":"total","value":${sig3(total)},"unit":"sec","queries":{"""
    val entries = results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + sig3(v) }
    val tailFmt = (omitted: Int) => s"""},"omitted":$omitted,"sf":"$sfName"}"""
    val fixed = head.length + tailFmt(results.size).length
    // Entries are sorted most-expensive-first; STOP at the first one
    // that doesn't fit (rather than continuing to pack cheaper,
    // shorter-named ones) so "omitted" is always exactly the cheapest
    // tail — an expensive query can never be silently dropped while
    // cheaper ones stay.
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var len = fixed
    var full = false
    entries.foreach { e =>
      if (!full) {
        if (len + e.length + 1 <= TailBudget) { kept += e; len += e.length + 1 }
        else full = true
      }
    }
    println(head + kept.mkString(",") + tailFmt(results.size - kept.size))
    spark.stop()
    // Streaming replays can leave non-daemon threads (state-store
    // maintenance pools); a hung JVM here would make the driver record
    // the run as failed even though the JSON line already printed.
    sys.exit(0)
  }
}
