package graft

import org.apache.spark.sql.functions._

import graft.streaming.{Hamming64Gate, NearDupGate, SigGate}

/** The round-19 small-batch driver-resolve fast path
  * ([[graft.streaming.SigGate.acceptBatch]]): keeper resolution
  * collected + union-found on the driver must be BIT-IDENTICAL to the
  * distributed resolution — same accepted sets, same state contents
  * (keeper tags included), batch by batch, in both state modes. The
  * distributed form is forced by switching the driver fast paths off.
  */
class SigGateDriverResolveSpec extends SparkSpecBase {

  import spark.implicits._

  // the comparison must never be distributed-vs-distributed vacuity:
  // assert the routing actually went where forced (round-19 advice)
  private def assertRouted(counts: Map[String, Long], forceDistributed: Boolean,
      batches: Int): Unit = {
    val engaged = counts.getOrElse(SigGate.DriverSite, 0L)
    if (forceDistributed)
      assert(counts.isEmpty, s"forced-distributed run routed to the driver: $counts")
    else
      assert(engaged === batches.toLong,
        s"fast path must engage on every batch (engaged $engaged)")
  }

  private val baseA = "the quick brown fox jumps over the lazy dog tonight again"
  private val baseB = "distributed query engines shuffle data between stages for joins always"
  private val chainA = "t01 t02 t03 t04 t05 t06 t07 t08 t09 t10 " +
    "t11 t12 t13 t14 t15 t16 t17 t18 t19 t20"
  private val chainB = chainA.replace("t04 t05", "x04 x05")
  private val chainC = chainB.replace("t15 t16", "y15 y16")

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // three batches: intra-batch clique + chain, cross-batch rejects,
  // and a doc matching ONLY a rejected doc (the exact-mode divergence)
  private val batches = Seq(
    docsDf(10L -> baseA, 11L -> baseA.replace("tonight", "today"),
      20L -> baseB, 1L -> chainA, 30L -> "short unique text"),
    docsDf(40L -> baseA.replace("again", "anew"),
      41L -> baseA.replace("again", "afresh"),
      2L -> chainB,
      50L -> "a genuinely new document about completely different things"),
    docsDf(3L -> chainC, 60L -> baseB.replace("always", "forever")))

  private def runNearDup(exact: Boolean, forceDistributed: Boolean)
      : (Seq[Set[Long]], Set[(Long, Long, Long)]) = {
    val (out, counts) = withDriverResolve(on = !forceDistributed) {
      val state = tmp("sgdr_state")
      val accepted = batches.zipWithIndex.map { case (b, id) =>
        NearDupGate.acceptBatch(b, id.toLong, "doc_id", "text", state,
            exact = exact)
          .select("doc_id").as[Long].collect().toSet
      }
      val stateRows = NearDupGate.readState(spark, state)
        .select(col("doc_id"), col("keeper"), col("batch_id"))
        .as[(Long, Long, Long)].collect().toSet
      (accepted, stateRows)
    }
    assertRouted(counts, forceDistributed, batches.size)
    out
  }

  for (exact <- Seq(false, true))
    test(s"NearDupGate driver-resolve ≡ distributed (exact=$exact)") {
      val (accD, stateD) = runNearDup(exact, forceDistributed = false)
      val (accX, stateX) = runNearDup(exact, forceDistributed = true)
      assert(accD === accX)
      assert(stateD === stateX)
      // the scenario actually rejects something in every mode —
      // parity over empty rejected sets would prove nothing
      assert(accD.flatten.toSet.size < batches.map(_.count()).sum)
    }

  test("a null doc_id declines the driver path and matches the distributed semantics") {
    def run(forceDistributed: Boolean) = withDriverResolve(on = !forceDistributed) {
      val state = tmp("sgdr_null")
      val b = Seq(Some(10L) -> baseA, Some(11L) -> baseA,
          Option.empty[Long] -> baseA, Some(20L) -> baseB)
        .toDF("doc_id", "text")
      NearDupGate.acceptBatch(b, 0L, "doc_id", "text", state)
        .select("doc_id").filter(col("doc_id").isNotNull)
        .as[Long].collect().toSet
    }
    val (accD, counts) = run(forceDistributed = false)
    val (accX, _) = run(forceDistributed = true)
    assert(counts.get(SigGate.DriverSite) === None,
      "null ids must fall back to the distributed path")
    assert(counts.get(s"${SigGate.DriverSite}/null doc_id") === Some(1L))
    assert(accD === accX)
    assert(accD === Set(10L, 20L))
  }

  test("a null signature declines the driver path and matches the distributed semantics") {
    // a null text has a null MinHash signature (and banding); the
    // driver path used to NPE reading its bands and kill the batch
    def run(forceDistributed: Boolean) = withDriverResolve(on = !forceDistributed) {
      val state = tmp("sgdr_nullsig")
      val b = Seq(10L -> Some(baseA), 11L -> Some(baseA),
          12L -> Option.empty[String], 20L -> Some(baseB))
        .toDF("doc_id", "text")
      NearDupGate.acceptBatch(b, 0L, "doc_id", "text", state)
        .select("doc_id").as[Long].collect().toSet
    }
    val (accD, counts) = run(forceDistributed = false)
    val (accX, countsX) = run(forceDistributed = true)
    assert(counts.get(SigGate.DriverSite) === None,
      "null signatures must fall back to the distributed path")
    assert(counts.get(s"${SigGate.DriverSite}/null signature") === Some(1L))
    assert(countsX.isEmpty)
    assert(accD === accX)
    assert(accD === Set(10L, 12L, 20L))
  }

  test("estJaccardPassDriver ≡ the Column form over the full lane-match lattice") {
    // every possible match count m ∈ [0, 64] — includes the HALF_UP
    // boundary cases (m ≡ 2 mod 4 gives a 5th decimal of exactly 5)
    val n = 64
    val rows = (0 to n).map { m =>
      val a = (0 until n).map(_.toLong)
      val b = (0 until n).map(i => if (i < m) i.toLong else -1L - i)
      (m.toLong, a, b)
    }
    val df = rows.toDF("m", "sa", "sb")
    for (threshold <- Seq(0.5, 0.0313, 0.9844)) {
      val sparkSide = df.select(col("m"),
          (graft.operators.Dedup.estJaccard(col("sa"), col("sb"), n)
            >= threshold).as("pass"))
        .as[(Long, Boolean)].collect().toMap
      val verify = graft.operators.Dedup.estJaccardPassDriver(n, threshold)
      rows.foreach { case (m, a, b) =>
        assert(verify(a, b) === sparkSide(m),
          s"divergence at m=$m threshold=$threshold")
      }
    }
  }

  test("NearDupGate starIntra driver-resolve ≡ distributed") {
    def run(forceDistributed: Boolean) = {
      val (out, counts) = withDriverResolve(on = !forceDistributed) {
        val state = tmp("sgdr_star")
        // a 6-member exact-dup clique + a near-dup chain + uniques
        val clique = (100L to 105L).map(_ -> baseA)
        val b0 = docsDf(clique :+ (1L -> chainA) :+ (20L -> baseB): _*)
        val b1 = docsDf(2L -> chainB, 106L -> baseA,
          50L -> "a genuinely new document about completely different things")
        val acc = Seq(b0, b1).zipWithIndex.map { case (b, id) =>
          NearDupGate.acceptBatch(b, id.toLong, "doc_id", "text", state,
              starIntra = true)
            .select("doc_id").as[Long].collect().toSet
        }
        val st = NearDupGate.readState(spark, state)
          .select(col("doc_id"), col("keeper"), col("batch_id"))
          .as[(Long, Long, Long)].collect().toSet
        (acc, st)
      }
      assertRouted(counts, forceDistributed, batches = 2)
      out
    }
    val (accD, stateD) = run(forceDistributed = false)
    val (accX, stateX) = run(forceDistributed = true)
    assert(accD === accX)
    assert(stateD === stateX)
    assert(accD.head === Set(100L, 1L, 20L))
  }

  test("Hamming64Gate driver-resolve ≡ distributed") {
    def run(forceDistributed: Boolean) = {
      val (out, counts) = withDriverResolve(on = !forceDistributed) {
        val state = tmp("sgdr_h64")
        // sig families: identical longs dup; one-bit neighbors near-dup
        val b0 = Seq((10L, 0xDEADBEEFL), (11L, 0xDEADBEEFL ^ 1L),
          (20L, 0x12345678L)).toDF("doc_id", "sig")
        val b1 = Seq((40L, 0xDEADBEEFL ^ 2L), (50L, 0x0F0F0F0FL))
          .toDF("doc_id", "sig")
        val acc = Seq(b0, b1).zipWithIndex.map { case (b, id) =>
          Hamming64Gate.acceptBatch(b, id.toLong, "doc_id", "sig", state)
            .select("doc_id").as[Long].collect().toSet
        }
        val st = Hamming64Gate.readState(spark, state)
          .select(col("doc_id"), col("keeper"), col("batch_id"))
          .as[(Long, Long, Long)].collect().toSet
        (acc, st)
      }
      assertRouted(counts, forceDistributed, batches = 2)
      out
    }
    val (accD, stateD) = run(forceDistributed = false)
    val (accX, stateX) = run(forceDistributed = true)
    assert(accD === accX)
    assert(stateD === stateX)
    assert(accD.head === Set(10L, 20L))
  }
}
