package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Near-dup gate tick micro-decomposition (round 19, dev probe): the
  * StreamCurate decomposition showed the gate stage at ~3 s per
  * ~215-doc batch — this main splits ONE acceptBatch into its
  * constituent actions (sig cut, pair collect/materialize, state
  * match, state write, accepted landing), driver-resolve vs forced
  * distributed, so the per-job floor is attributable. Also counts
  * Spark jobs per stage via a listener.
  *
  * `runMain graft.ScaleProbeGateTick <sfDir> [driver|dist]`
  */
object ScaleProbeGateTick {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = if (args.length > 1) args(1) else "driver"
    val spark = GraftSession.get()
    val key = "spark.sql.shuffle.partitions"
    spark.conf.set(key,
      spark.conf.get("spark.graft.streaming.shufflePartitions", "8"))
    if (mode == "dist")
      spark.conf.set(graft.operators.DriverResolve.Key, "false")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    docs.count() // sponge

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })

    def t[A](tag: String)(f: => A): A = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $tag ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"jobs=${jobs.get() - j0}")
      r
    }

    (1 to 3).foreach { rep =>
      val nd = graft.streaming.Scratch.tmpDir(s"graft_pgt_nd_$rep")
      (0 to 1).foreach { b =>
        val batch = docs.filter(col("doc_id") % 2 === b)
        val gated = graft.operators.Materialize(
          TextAnalysis.qualityKeep(batch, "text"))
        gated.count()
        t(s"rep${rep}_b${b}_whole_accept") {
          val k = graft.streaming.NearDupGate.acceptBatch(
            gated, b.toLong, "doc_id", "text", nd)
          t(s"rep${rep}_b${b}_accept_count") { k.count() }
        }
        graft.operators.Materialize.releaseHard(gated)
      }
      // sub-step split on a fresh state dir, batch 0 only
      val nd2 = graft.streaming.Scratch.tmpDir(s"graft_pgt_nd2_$rep")
      val gated = graft.operators.Materialize(
        TextAnalysis.qualityKeep(docs.filter(col("doc_id") % 2 === 0), "text"))
      gated.count()
      val (cut, starNow, probe) = t(s"rep${rep}_sig_cut") {
        Dedup.sigsWithStarDecisionCutEst(
          Dedup.compactSigsPlan(gated, "doc_id", "text", 3, 64), 16, 4,
          false, graft.streaming.SigGate.defaultAutoStarPairsCap)
      }
      println(s"[probe] rep${rep} est=" +
        probe.map(e => s"${e()} pairs, ${e.bandRows()} bandRows").getOrElse("-"))
      val pairs = t(s"rep${rep}_pairs_collect") {
        Dedup.candidatesFromCompact(cut, 16, 4, 64, 0.5)
          .select("id_a", "id_b").collect()
      }
      println(s"[probe] rep${rep} pairs=${pairs.length} star=$starNow")
      val state = graft.streaming.NearDupGate.readState(spark, nd2)
        .filter(col("batch_id") < 0L)
      val banded = state
        .withColumn("__b", explode(Dedup.lshBands(col("sig"), 16, 4)))
        .select(col("doc_id"), col("sig"), col("__b.band").as("band"),
          col("__b.bucket").as("bucket"), col("keeper"), col("batch_id"))
      val bsigs = Dedup.bandExplode(cut, 16, 4)
      val ext = t(s"rep${rep}_ext_collect") {
        bsigs.as("a").join(banded.as("s"),
            col("a.band") === col("s.band") &&
            col("a.bucket") === col("s.bucket") &&
            Dedup.estJaccard(col("a.sig"), col("s.sig"), 64) >= 0.5)
          .select(col("a.doc_id").as("id"), col("s.keeper").as("k"))
          .groupBy("id").agg(min(col("k")).as("ext_keeper")).collect()
      }
      println(s"[probe] rep${rep} ext=${ext.length}")
      t(s"rep${rep}_state_write") {
        cut.withColumn("keeper", col("doc_id"))
          .withColumn("batch_id", lit(0L))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(nd2)
      }
      graft.operators.Materialize.releaseHard(cut)
      graft.operators.Materialize.releaseHard(gated)
    }
    spark.stop()
    sys.exit(0)
  }
}
