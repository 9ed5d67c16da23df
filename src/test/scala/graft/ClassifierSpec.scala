package graft

import org.apache.spark.sql.functions._

import graft.operators.Classifier

/** Hashed linear classifier inference: portable feature hashing,
  * hand-computed scores, bag-of-words instance voting, null/empty
  * handling, the two-sided gate, and the map-only plan shape.
  */
class ClassifierSpec extends SparkSpecBase {
  import spark.implicits._

  // The JVM twin of featureId, for hand-computing expectations.
  private def fid(token: String, dim: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8"))
    val hex = md.take(4).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % dim).toInt
  }

  private val w = Seq(0.5, -1.0, 2.0, 0.25)

  test("score = intercept + sum of hashed weight lookups, in document order") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "")).toDF("id", "text")
    val got = Classifier.withLinearScore(df, "text", w, intercept = 0.125)
      .select("id", "lin_score").as[(Long, Double)].collect().toMap
    val expected1 = 0.125 +
      Seq("alpha", "beta", "gamma").map(t => w(fid(t, 4))).sum
    assert(math.abs(got(1L) - expected1) < 1e-6)
    assert(got(2L) === 0.125) // empty text scores the bare intercept
  }

  test("repeated tokens vote repeatedly (bag-of-words instances, not distinct)") {
    val df = Seq((1L, "alpha"), (2L, "alpha alpha alpha")).toDF("id", "text")
    val got = Classifier.withLinearScore(df, "text", w)
      .select("id", "lin_score").as[(Long, Double)].collect().toMap
    assert(math.abs(got(2L) - 3 * got(1L)) < 1e-6)
  }

  test("null text scores the intercept instead of throwing") {
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Classifier.withLinearScore(df, "text", w, intercept = 2.5)
      .select("lin_score").as[Double].head()
    assert(got === 2.5)
  }

  test("gate keeps only the accept band") {
    val df = Seq((1L, "alpha"), (2L, "alpha alpha alpha alpha alpha")).toDF("id", "text")
    val scored = Classifier.withLinearScore(df, "text", w)
      .select("id", "lin_score").as[(Long, Double)].collect().toMap
    val lo = scored.values.min - 0.01
    val hi = scored.values.min + 0.01 // band around the smaller score only
    val kept = Classifier.gate(df, "text", w, lo, hi)
      .select("id").as[Long].collect().toSet
    assert(kept === scored.filter { case (_, s) => s >= lo && s <= hi }.keySet)
    assert(kept.size === 1)
  }

  test("plan shape: map-only scoring — no shuffle, no explode") {
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val scored = Classifier.withLinearScore(df, "text", (0 until 64).map(_ * 0.1))
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(600))
    assert(!plan.contains("Generate"), plan.take(600)) // no explode
  }

  test("thresholdSweep: hand case; tp+fn and fp+tn constant at every threshold") {
    val d = Seq(
      (0.95, true), (0.80, true), (0.75, false),
      (0.40, true), (0.20, false), (0.10, false),
      (Double.NaN, true)) // NaN bucket — floor(NaN*1000) is NaN-cast; excluded below via null label instead
      .toDF("score", "pos")
      .filter(!isnan(col("score")))
    val rows = Classifier.thresholdSweep(d, "score", "pos", resolution = 100)
      .collect().map(r => (r.getDouble(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(-_._1)
    // buckets: .95 .80 .75 .40 .20 .10 (all distinct at res 100)
    assert(rows.map(_._1).toSeq === Seq(0.95, 0.8, 0.75, 0.4, 0.2, 0.1))
    // accept iff score >= thr: at .75 -> tp 2 fp 1; at .1 -> tp 3 fp 3
    assert(rows(2) === ((0.75, 2L, 1L, 1L, 2L)))
    assert(rows(5) === ((0.1, 3L, 3L, 0L, 0L)))
    // partition of the population at every threshold
    rows.foreach { case (thr, tp, fp, fn, tn) =>
      assert(tp + fn === 3L, s"thr=$thr")
      assert(fp + tn === 3L, s"thr=$thr")
    }
    // null score / null label rows are excluded entirely
    val withNulls = Seq(
      (Some(0.9), Some(true)), (None, Some(true)), (Some(0.5), None))
      .toDF("score", "pos")
    val one = Classifier.thresholdSweep(withNulls, "score", "pos", 100).collect()
    assert(one.length === 1 && one.head.getLong(1) === 1L)
  }

  test("perceptronTrain: learns a separable vocabulary; integer weights; bias at dim") {
    // two disjoint vocabularies — linearly separable, so the batch
    // perceptron must reach zero training error and the serving fold
    // must reproduce the training decision for every doc
    val pos = Seq("good clean prose text", "clean text good", "prose text prose")
    val neg = Seq("junk spam noise", "spam junk", "noise noise spam junk")
    val df = (pos.map((_, true)) ++ neg.map((_, false))).toDF("text", "is_good")
    val w = Classifier.perceptronTrain(df, "text", col("is_good"), dim = 32, iters = 5)
    assert(w.length === 33, "dense vector of dim+1 (bias at index dim)")
    val scored = df.select(col("is_good"),
        Classifier.perceptronScore(col("text"), w).as("s"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    assert(scored.forall { case (y, s) => if (y) s > 0L else s <= 0L },
      s"separable data must train to zero error, got ${scored.toSeq}")
    // null text scores the bare bias
    val nullScore = Seq(Tuple1(null: String)).toDF("text")
      .select(Classifier.perceptronScore(col("text"), w)).head.getLong(0)
    assert(nullScore === w(32))
  }

  test("perceptronTrain iteration 1 is the label-weighted count table (w0=0 -> all misclassified)") {
    val df = Seq(("a a b", true), ("b c", false)).toDF("text", "y")
    val w1 = Classifier.perceptronTrain(df, "text", col("y"), dim = 8, iters = 1)
    def fid(t: String): Int = Seq(t).toDF("t")
      .select(Classifier.featureId(col("t"), 8)).head.getInt(0)
    val (fa, fb, fc) = (fid("a"), fid("b"), fid("c"))
    assume(Set(fa, fb, fc).size === 3, "hash-collision-free at dim 8")
    // y(+1)·{a:2, b:1} + y(−1)·{b:1, c:1}; bias = +1 − 1 = 0
    assert(w1(fa) === 2L)
    assert(w1(fb) === 0L, "b appears once on each side and cancels")
    assert(w1(fc) === -1L)
    assert(w1(8) === 0L, "bias accumulates Σy over the all-misclassified round")
  }

  test("perceptronTrainOvr: separable 3-class vocabularies classify exactly; 1-class OvR == binary") {
    val docs = Seq(
      ("uno dos tres uno", "es"), ("dos tres", "es"),
      ("one two three", "en"), ("two two one", "en"),
      ("eins zwei drei", "de"), ("drei zwei", "de"))
      .toDF("text", "lang")
    val classes = Seq("de", "en", "es")
    val w = Classifier.perceptronTrainOvr(docs, "text", "lang", classes,
      dim = 32, iters = 5)
    assert(w.size === 3 && w.forall(_.length === 33))
    val pred = Classifier.perceptronPredictOvr(col("text"), classes, w)
    val got = docs.withColumn("__p", pred)
      .select(col("lang"), col("__p.cls")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.forall { case (y, p) => y === p },
      s"disjoint vocabularies must classify exactly, got ${got.toSeq}")
    // one-class OvR trains the identical weight vector as the binary
    // trainer with the same ±1 labeling
    val ovr1 = Classifier.perceptronTrainOvr(docs, "text", "lang",
      Seq("en"), dim = 16, iters = 3).head
    val bin = Classifier.perceptronTrain(docs, "text",
      col("lang") === "en", dim = 16, iters = 3)
    assert(ovr1.toSeq === bin.toSeq)
    // argmax ties resolve to the EARLIER class: all-zero weights tie
    // every class at the bare bias
    val zeros = classes.map(_ => Array.fill(33)(0L))
    val tied = docs.limit(1)
      .select(Classifier.perceptronPredictOvr(col("text"), classes, zeros)
        .getField("cls")).head.getString(0)
    assert(tied === "de")
  }

  test("perceptronTrainAvg: summed trajectory equals the per-iteration sum; averaged beats final weights on a planted NON-separable corpus") {
    // conflicting labels on identical texts — not linearly separable,
    // so the batch perceptron's weights CYCLE: w1=(a:+1,b:-1),
    // w2=(-1,+1), w3=(+2,-2), w4=(0,0), then repeat. The final
    // iteration at T=4 is the all-zero vector (accuracy 5/10: every
    // doc scores 0 -> classified negative), while the trajectory sum
    // (2,-2) is the BEST linear rule (accuracy 6/10) — the
    // Freund–Schapire averaging argument in its smallest instance.
    val docs = (
      Seq.fill(3)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(3)(("b", false)) ++ Seq.fill(2)(("b", true)))
      .toDF("text", "y")
    val dim = 8
    def fid(t: String): Int = Seq(t).toDF("t")
      .select(Classifier.featureId(col("t"), dim)).head.getInt(0)
    assume(fid("a") !== fid("b"), "collision-free at dim 8")
    val avg4 = Classifier.perceptronTrainAvg(docs, "text", col("y"), dim, 4)
    // cross-check the accumulation: Σ_t w_t over four separate runs
    val manual = (1 to 4)
      .map(t => Classifier.perceptronTrain(docs, "text", col("y"), dim, t))
      .transpose.map(_.sum).toArray
    assert(avg4.toSeq === manual.toSeq)
    def accuracy(w: Array[Long]): Int = docs
      .select(col("y"), (Classifier.perceptronScore(col("text"), w) > 0L)
        .as("p"))
      .collect().count(r => r.getBoolean(0) === r.getBoolean(1))
    val fin4 = Classifier.perceptronTrain(docs, "text", col("y"), dim, 4)
    assert(fin4.forall(_ === 0L), "T=4 lands on the cycle's zero vector")
    assert(accuracy(avg4) === 6)
    assert(accuracy(avg4) > accuracy(fin4))
  }

  test("perceptronPredictOvr featurizes ONCE — the K-class scoring binds a lambda variable, not K re-inlined tokenize subtrees") {
    val docs = Seq(("one two", "en"), ("uno dos", "es"), ("eins zwei", "de"))
      .toDF("text", "lang")
    val classes = Seq("de", "en", "es")
    val w = classes.map(_ => Array.fill(17)(1L))
    val plan = docs
      .select(Classifier.perceptronPredictOvr(col("text"), classes, w))
      .queryExecution.optimizedPlan.toString
    val featCount = "(?i)tokenfeatureids".r.findAllIn(plan).length
    assert(featCount === 1,
      s"tokenize+hash must appear once in the plan (K=${classes.size} " +
        s"classes would re-evaluate it per class); found $featCount")
  }
}
