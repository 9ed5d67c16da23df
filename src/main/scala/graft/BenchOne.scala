package graft
/** Fresh-JVM single-query timer (`runMain graft.BenchOne <sfDir>
  * <name>...`). Protocol notes: ~8 s of JVM+session startup lands on
  * the FIRST query — lead with a cheap sponge (`q_fk_orphans`) when
  * measuring ratios; set `SPARK_GRAFT_CPUS`/`SPARK_DRIVER_MEM` for
  * scale probes (the 4-core default manufactures fake
  * super-linearity at 100×). A GC between queries keeps one query's
  * released blocks (localCheckpoint shards die with their RDD refs)
  * from billing the next query's timing — the 100× probe measured 4×
  * within-JVM swings without it.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.get()
    args.drop(1).foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[benchone] $n ${(System.nanoTime()-t0)/1e9}%.2f s")
      // cumulative driver fast-path engagement and fallbacks this JVM
      println(s"[benchone] driver-resolve " + operators.DriverResolve.snapshot()
        .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
      System.gc()
    }
    spark.stop()
  }
}
