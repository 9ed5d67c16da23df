package graft

/** Serving-latency percentiles for the persisted-index ANN paths
  * (`q_knn_cosine`, `q_binary_knn`, `q_pq_knn`, `q_ivf_pq_knn`) and
  * the late-interaction re-ranker (`q_maxsim_rerank` — round 11).
  *
  * A serving path's contract is per-invocation latency distribution,
  * which [[Bench]]'s min-of-N (a throughput-style steady-state
  * number) deliberately hides: one scheduler hiccup disappears under
  * min, but a p99 caller pays it. This harness runs each query as
  * `SPARK_GRAFT_SERVE_N` (default 25) independent invocations after
  * a 3-run warm-up (index memoization + JIT), and reports
  * nearest-rank p50/p90/p99 plus min/max.
  *
  * The first measured-irrelevant query sponges JVM + session startup
  * (the CLAUDE.md `BenchOne` discipline: never let ~8 s of first-run
  * cost land on a measured query).
  */
object BenchServe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SERVE_N", "25").toInt
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_knn_cosine", "q_binary_knn", "q_pq_knn", "q_ivf_pq_knn",
        "q_maxsim_rerank")
    val spark = GraftSession.get()
    def runOnce(name: String): Unit = Bench.runOnce(spark, sfDir, name)
    runOnce("q_fk_orphans") // startup sponge
    def pct(sorted: Vector[Double], p: Double): Double = {
      val i = math.ceil(p / 100.0 * sorted.size).toInt - 1
      sorted(math.max(0, math.min(sorted.size - 1, i)))
    }
    val rows = names.map { name =>
      (1 to 3).foreach(_ => runOnce(name)) // index build + caches
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        runOnce(name)
        (System.nanoTime() - t0) / 1e9
      }.toVector.sorted
      (name, pct(ts, 50), pct(ts, 90), pct(ts, 99), ts.head, ts.last)
    }
    rows.foreach { case (name, p50, p90, p99, mn, mx) =>
      println(f"[serve] $name%-15s n=$n p50=$p50%.3f p90=$p90%.3f " +
        f"p99=$p99%.3f min=$mn%.3f max=$mx%.3f s")
    }
    val json = rows.map { case (nm, p50, p90, p99, mn, mx) =>
      s""""$nm":{"n":$n,"p50":$p50,"p90":$p90,"p99":$p99,"min":$mn,"max":$mx}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"serve_latency","queries":$json,"sf":"$sfDir"}""")
    spark.stop()
  }
}
