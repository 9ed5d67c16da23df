package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FastText-style hashed linear text classifier — INFERENCE at corpus
  * scale. The quality/language/toxicity filters production LLM
  * pipelines run over every document (CCNet's fastText LID,
  * RedPajama's quality classifiers) are, at serving time, exactly
  * this: tokens → hashing-trick feature ids → one dot product with a
  * dense weight vector. The reference has no classifier surface; this
  * is part of the beyond-reference training-data mandate.
  *
  * Scale shape: map-only — the weight vector rides the plan as a
  * broadcast-sized array literal (hashing trick bounds `dim`
  * regardless of vocabulary), the per-doc score is ONE sequential
  * higher-order fold over the token array (no explode, no shuffle, no
  * UDF; whole-stage codegen keeps it in the scan stage). Scoring a
  * 100 TB corpus is a single pass.
  *
  * Engine-portable by construction, so scores are oracle-checkable:
  *  - feature id = first 8 hex digits of `md5(token)` parsed as an
  *    integer, mod `dim` — md5 agrees everywhere, the hex parse is
  *    exact integer arithmetic (no engine-specific string hash);
  *  - the dot product folds tokens SEQUENTIALLY in document order
  *    (the [[graft.functions.Det]] discipline for float math: fixed
  *    association, so any IEEE-754 engine reproduces it bit-exactly);
  *  - the final score is Det-rounded.
  */
object Classifier {

  /** Hashing-trick feature id in `[0, dim)` for one token. */
  def featureId(token: Column, dim: Int): Column =
    pmod(conv(substring(md5(token), 1, 8), 16, 10).cast("long"),
      lit(dim.toLong)).cast("int")

  /** The DuckDB twin of [[featureId]] — keep in lockstep. */
  def featureIdDuckSql(tokenExpr: String, dim: Int): String =
    s"CAST(CAST(('0x' || substr(md5($tokenExpr), 1, 8)) AS BIGINT) % $dim AS INTEGER)"

  /** Attach `score = intercept + Σ_tokens weights[featureId(token)]`
    * (token INSTANCES — repeated tokens vote repeatedly, the
    * bag-of-words convention). `weights.length` is the model
    * dimension. Null/empty text scores the bare intercept.
    */
  def withLinearScore(
      df: DataFrame,
      textCol: String,
      weights: Seq[Double],
      intercept: Double = 0.0,
      out: String = "lin_score",
      scale: Int = 6): DataFrame = {
    require(weights.nonEmpty, "withLinearScore: empty weight vector")
    require(!df.columns.contains(out),
      s"withLinearScore: input already has a column named '$out' — " +
        "pass a different `out` (gate's staging column would otherwise " +
        "silently clobber it)")
    val wLit = array(weights.map(lit): _*)
    // fused featurize (round 17): identical ids, same sequential fold
    // association over the same token order — bit-exact scores
    val feats = graft.functions.HashExprs.tokenFeatureIds(
      coalesce(col(textCol), lit("")), weights.length)
    val score = aggregate(
      feats,
      lit(intercept),
      (acc, f) => acc + element_at(wLit, f + 1))
    df.withColumn(out, graft.functions.Det.round(score, scale))
  }

  /** The matching DuckDB scorer over a token-list SQL expression —
    * `list_reduce` folds left-to-right in list order, mirroring the
    * Spark fold's association exactly. The weight vector is inlined
    * as a list literal (models are broadcast-sized by construction).
    * `toksExpr` must be null-safe for nullable text columns
    * (e.g. wrap the source column in `coalesce(text, '')`): the
    * Spark side scores a null text as the bare intercept, while a
    * NULL token list would propagate NULL through the fold.
    */
  def linearScoreDuckSql(
      toksExpr: String,
      weights: Seq[Double],
      intercept: Double = 0.0,
      scale: Int = 6): String = {
    val wList = weights.mkString("[", ", ", "]")
    val feat = featureIdDuckSql("t", weights.length)
    // list_reduce needs a seed ride-along: prepend the intercept as a
    // pseudo-element via list_prepend on the weight lookups.
    val lookups =
      s"list_transform($toksExpr, t -> (CAST($wList AS DOUBLE[]))[$feat + 1])"
    graft.functions.Det.roundSql(
      s"list_reduce(list_prepend(CAST($intercept AS DOUBLE), $lookups), (a, b) -> a + b)",
      scale)
  }

  /** Two-sided classifier gate: keep rows whose score lands in
    * `[lo, hi]` — the accept band a quality filter actually applies
    * (drop junk below, drop boilerplate/spam above). */
  def gate(
      df: DataFrame,
      textCol: String,
      weights: Seq[Double],
      lo: Double,
      hi: Double,
      intercept: Double = 0.0): DataFrame = {
    // collision-free staging column: a fixed name would clobber (or,
    // with withLinearScore's guard, reject) an input that already
    // carries it
    val s = Iterator.from(0).map(i => s"__s$i")
      .find(n => !df.columns.contains(n)).get
    withLinearScore(df, textCol, weights, intercept, out = s)
      .filter(col(s) >= lo && col(s) <= hi)
      .drop(s)
  }

  /** Fixed-iteration BATCH PERCEPTRON over hashed bag-of-words
    * features — the distributed TRAINER behind this object's serving
    * path, closing the CCNet/DataComp quality-filter loop (train the
    * gate in the same engine that applies it). Labels come from any
    * boolean column expression (language-ID: `lang = 'en'`; quality:
    * a heuristic gate's verdict); features are [[featureId]] hashed
    * token-INSTANCE counts with the classic x₀=1 bias augmentation as
    * feature `dim`.
    *
    * INTEGER-EXACT end to end: labels are ±1, counts are integers,
    * and the batch update `w += Σ_misclassified y·x` (Rosenblatt's
    * perceptron in its batch form; a doc is misclassified when
    * `y·(w·x) ≤ 0`) never leaves ℤ — no learning-rate float, no
    * sigmoid, no rounding machinery at all — so training replays
    * bit-exactly in any engine ([[perceptronDuckCtes]] is the DuckDB
    * twin, the `kmeansDuckCtes` discipline made trivial by integer
    * arithmetic).
    *
    * Scale shape: featurization (tokenize + hash) runs ONCE into a
    * Materialize cut; each iteration is one MAP-ONLY scoring pass
    * (the current weights ride the plan as a dim+1 array literal —
    * the serving trick) plus one hash aggregate whose result is ≤
    * dim+1 gradient rows collected to the driver (the codebook-sized
    * bounded collect). T iterations = T corpus passes, no iterative
    * plan nesting, nothing driver-side but the weight vector.
    *
    * Returns the dense weight vector of length `dim + 1` (index `dim`
    * = bias).
    */
  def perceptronTrain(
      df: DataFrame,
      textCol: String,
      label: Column,
      dim: Int,
      iters: Int): Array[Long] =
    trainBinary(df, textCol, label, dim, iters)._1

  /** AVERAGED batch perceptron (round 17 — the round-16 verdict's
    * robustness item): on NON-separable data (real LID/quality
    * corpora) the plain perceptron's weights oscillate and the final
    * iteration is arbitrary; the standard fix (Freund & Schapire
    * 1999, "Large margin classification using the perceptron
    * algorithm") serves the AVERAGE of the per-iteration weight
    * vectors instead. Returned here as `Σ_{t=1..T} w_t` — the
    * T-scaled average, which stays ALL-INTEGER (no ÷T float leaves
    * ℤ) and serves identically: sign and argmax are invariant under
    * a positive constant scaling, so [[perceptronScore]] > 0 and
    * [[perceptronPredictOvr]] under the summed vector ARE the
    * averaged classifier's decisions. Same training trajectory as
    * [[perceptronTrain]] (bit-identical w_t sequence), so the SQL
    * replay just sums the unrolled per-iteration weight CTEs
    * ([[perceptronAvgDuckCte]]).
    */
  def perceptronTrainAvg(
      df: DataFrame,
      textCol: String,
      label: Column,
      dim: Int,
      iters: Int): Array[Long] =
    trainBinary(df, textCol, label, dim, iters)._2

  /** The shared binary trainer: returns `(w_T, Σ_{t=1..T} w_t)` —
    * final and summed-trajectory weights from ONE training run.
    */
  private def trainBinary(
      df: DataFrame,
      textCol: String,
      label: Column,
      dim: Int,
      iters: Int): (Array[Long], Array[Long]) = {
    require(dim >= 1, "perceptronTrain: dim must be positive")
    require(iters >= 1, "perceptronTrain: iters must be positive")
    val data = Materialize(df.select(
      when(label, 1).otherwise(-1).cast("int").as("__y"),
      graft.functions.HashExprs.tokenFeatureIds(
        coalesce(col(textCol), lit("")), dim).as("__f")))
    try {
      val w = Array.fill(dim + 1)(0L)
      val wSum = Array.fill(dim + 1)(0L)
      (1 to iters).foreach { _ =>
        val wLit = array(w.map(lit).toSeq: _*)
        val score = aggregate(col("__f"), lit(w(dim)),
          (acc, f) => acc + element_at(wLit, f + 1))
        val grad = data.withColumn("__s", score)
          .filter(col("__y").cast("long") * col("__s") <= 0L)
          .select(col("__y"),
            explode(concat(col("__f"), array(lit(dim)))).as("__ff"))
          .groupBy("__ff")
          .agg(sum(col("__y").cast("long")).as("__g"))
          .collect() // ≤ dim+1 rows — the bounded codebook collect
        grad.foreach(r => w(r.getInt(0)) += r.getLong(1))
        var i = 0
        while (i < wSum.length) { wSum(i) += w(i); i += 1 }
      }
      (w, wSum)
    } finally Materialize.release(data)
  }

  /** Integer score of `textCol` under a [[perceptronTrain]] weight
    * vector: `w[dim] + Σ_token-instances w[featureId(token)]` — the
    * serving fold, map-only, weights as an array literal.
    */
  def perceptronScore(textCol: Column, w: Array[Long]): Column = {
    val dim = w.length - 1
    val wLit = array(w.map(lit).toSeq: _*)
    aggregate(
      graft.functions.HashExprs.tokenFeatureIds(
        coalesce(textCol, lit("")), dim),
      lit(w(dim)),
      (acc, f) => acc + element_at(wLit, f + 1))
  }

  /** ONE-VS-REST multi-class batch perceptron — K binary
    * [[perceptronTrain]] models trained SIMULTANEOUSLY, the language-
    * identification shape (fastText LID trains exactly this family):
    * per iteration, ONE map-only pass scores every doc against all K
    * weight vectors (they ride the plan as one K×(dim+1) nested
    * array literal) and ONE hash aggregate collects the per-(class,
    * feature) gradients over each class's misclassified docs — K
    * models cost one extra explode factor, not K passes. Same
    * all-integer arithmetic as the binary trainer, so the K
    * trajectories replay bit-exactly in SQL
    * ([[perceptronOvrDuckCtes]]).
    *
    * Returns the K weight vectors in `classes` order (each length
    * `dim + 1`, bias last).
    */
  def perceptronTrainOvr(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      classes: Seq[String],
      dim: Int,
      iters: Int): Seq[Array[Long]] = {
    require(classes.nonEmpty, "perceptronTrainOvr: empty class list")
    require(classes.distinct == classes, "perceptronTrainOvr: duplicate classes")
    require(dim >= 1 && iters >= 1,
      "perceptronTrainOvr: dim and iters must be positive")
    val data = Materialize(df.select(
      col(labelCol).as("__lbl"),
      graft.functions.HashExprs.tokenFeatureIds(
        coalesce(col(textCol), lit("")), dim).as("__f")))
    try {
      val w = Array.fill(classes.size, dim + 1)(0L)
      val clsArr = array(classes.map(lit): _*)
      (1 to iters).foreach { _ =>
        val wMatrix = array(w.map(row => array(row.toSeq.map(lit): _*)).toSeq: _*)
        // per class: ±1 label, integer score, misclassified flag —
        // __f is a MATERIALIZED column, so the K branches re-read a
        // stored array rather than re-inlining a computed subtree
        val scored = transform(clsArr, (c, ci) => {
          val wRow = element_at(wMatrix, ci + 1)
          val y = when(col("__lbl") === c, 1L).otherwise(-1L)
          val s = aggregate(col("__f"), element_at(wRow, dim + 1),
            (acc, f) => acc + element_at(wRow, f + 1))
          struct(ci.as("ci"), y.as("y"), (y * s <= 0L).as("mis"))
        })
        val grad = data
          .select(col("__f"),
            explode(filter(scored, x => x.getField("mis"))).as("__m"))
          .select(col("__m.ci").as("__ci"), col("__m.y").as("__y"),
            explode(concat(col("__f"), array(lit(dim)))).as("__ff"))
          .groupBy("__ci", "__ff")
          .agg(sum(col("__y")).as("__g"))
          .collect() // ≤ K·(dim+1) rows — still the codebook collect
        grad.foreach(r => w(r.getInt(0))(r.getInt(1)) += r.getLong(2))
      }
      w.toSeq
    } finally Materialize.release(data)
  }

  /** Argmax prediction under [[perceptronTrainOvr]] weights: the
    * class with the highest integer score, ties to the EARLIER class
    * in `classes` order — one map-only pass, deterministic.
    *
    * Featurization (tokenize + hash) is staged as the single element
    * of an outer array and the K-class scoring references the LAMBDA
    * VARIABLE, which Catalyst binds once per row and never re-inlines
    * — without this, the K score branches each re-evaluate the
    * tokenize+hash subtree (the HOF re-inline trap the trainer avoids
    * with its materialized `__f` column; round-16 advice).
    */
  def perceptronPredictOvr(
      textCol: Column,
      classes: Seq[String],
      w: Seq[Array[Long]]): Column = {
    require(w.size == classes.size, "one weight vector per class")
    val dim = w.head.length - 1
    val wMatrix = array(w.map(row => array(row.toSeq.map(lit): _*)): _*)
    val clsArr = array(classes.map(lit): _*)
    val feats = graft.functions.HashExprs.tokenFeatureIds(
      coalesce(textCol, lit("")), dim)
    val best = transform(array(feats), ft => {
      val scored = transform(clsArr, (c, ci) => {
        val wRow = element_at(wMatrix, ci + 1)
        val s = aggregate(ft, element_at(wRow, dim + 1),
          (acc, f) => acc + element_at(wRow, f + 1))
        struct((-s).as("neg_s"), ci.as("ci"), c.as("cls"), s.as("s"))
      })
      // array_sort orders struct fields lexicographically: (−score
      // asc, class index asc) = argmax with earlier-class ties
      element_at(array_sort(scored), 1)
    })
    element_at(best, 1)
  }

  /** DuckDB CTE chain replaying [[perceptronTrainOvr]] — the
    * [[perceptronDuckCtes]] rounds keyed by class. Expects
    * `${prefix}_docs (doc_id, lang, toks)` upstream; emits
    * `${prefix}_feat` (class-independent hashed counts + bias),
    * `${prefix}_y` (per-(doc, class) ±1 labels from `classesSql`, a
    * `(VALUES ...)` list), and `${prefix}_w1 … _w<iters>` keyed by
    * `(c, f)`.
    */
  def perceptronOvrDuckCtes(
      classes: Seq[String], dim: Int, iters: Int,
      prefix: String = "po"): String = {
    val p = prefix
    val fid = featureIdDuckSql("u.t", dim)
    val clsValues = classes.zipWithIndex
      .map { case (c, i) => s"($i, '$c')" }.mkString(", ")
    val head =
      s"""${p}_cls(ci, c) AS (SELECT * FROM (VALUES $clsValues) v(ci, c)),
         |${p}_feat AS (
         |  SELECT doc_id, f, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT doc_id, $fid AS f FROM ${p}_docs, unnest(toks) AS u(t)
         |    UNION ALL
         |    SELECT doc_id, $dim FROM ${p}_docs) s
         |  GROUP BY 1, 2),
         |${p}_y AS (
         |  SELECT d.doc_id, k.ci,
         |    CASE WHEN d.lang = k.c THEN 1 ELSE -1 END AS y
         |  FROM ${p}_docs d CROSS JOIN ${p}_cls k),
         |${p}_w1 AS (
         |  SELECT y.ci, f.f, sum(y.y * f.cnt) AS w
         |  FROM ${p}_feat f JOIN ${p}_y y USING (doc_id)
         |  GROUP BY 1, 2)""".stripMargin
    val rounds = (2 to iters).map { r =>
      s"""${p}_s$r AS (
         |  SELECT y.doc_id, y.ci, any_value(y.y) AS y,
         |    coalesce(sum(w.w * f.cnt), 0) AS s
         |  FROM ${p}_y y JOIN ${p}_feat f USING (doc_id)
         |  LEFT JOIN ${p}_w${r - 1} w ON w.ci = y.ci AND w.f = f.f
         |  GROUP BY y.doc_id, y.ci),
         |${p}_g$r AS (
         |  SELECT s.ci, f.f, sum(s.y * f.cnt) AS gw
         |  FROM ${p}_s$r s JOIN ${p}_feat f USING (doc_id)
         |  WHERE s.y * s.s <= 0
         |  GROUP BY 1, 2),
         |${p}_w$r AS (
         |  SELECT coalesce(a.ci, b.ci) AS ci, coalesce(a.f, b.f) AS f,
         |    coalesce(a.w, 0) + coalesce(b.gw, 0) AS w
         |  FROM ${p}_w${r - 1} a
         |  FULL OUTER JOIN ${p}_g$r b ON a.ci = b.ci AND a.f = b.f)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** DuckDB CTE chain replaying [[perceptronTrain]] step for step —
    * unrolled iterations, all-integer. Expects a `${prefix}_docs` CTE
    * upstream with `(doc_id, y, toks)` (`y` ±1, `toks` the token
    * list); emits `${prefix}_feat` (hashed instance counts + bias
    * feature `dim`) and `${prefix}_w1 … ${prefix}_w<iters>` weight
    * tables (sparse — consumers densify against `range(0, dim+1)`).
    * Iteration 1 is the w=0 special case: every doc scores 0 and
    * `y·0 ≤ 0` marks ALL docs misclassified, so `w1` is the full
    * label-weighted count table. Keep in lockstep with the trainer.
    */
  def perceptronDuckCtes(dim: Int, iters: Int, prefix: String = "pt"): String = {
    val p = prefix
    val fid = featureIdDuckSql("u.t", dim)
    val feat =
      s"""${p}_feat AS (
         |  SELECT doc_id, y, f, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT doc_id, y, $fid AS f
         |    FROM ${p}_docs, unnest(toks) AS u(t)
         |    UNION ALL
         |    SELECT doc_id, y, $dim FROM ${p}_docs) s
         |  GROUP BY 1, 2, 3),
         |${p}_w1 AS (
         |  SELECT f, sum(y * cnt) AS w FROM ${p}_feat GROUP BY f)""".stripMargin
    val rounds = (2 to iters).map { r =>
      s"""${p}_s$r AS (
         |  SELECT d.doc_id, any_value(d.y) AS y,
         |    coalesce(sum(w.w * d.cnt), 0) AS s
         |  FROM ${p}_feat d LEFT JOIN ${p}_w${r - 1} w USING (f)
         |  GROUP BY d.doc_id),
         |${p}_g$r AS (
         |  SELECT f.f, sum(f.y * f.cnt) AS gw
         |  FROM ${p}_feat f JOIN ${p}_s$r s ON s.doc_id = f.doc_id
         |  WHERE s.y * s.s <= 0
         |  GROUP BY 1),
         |${p}_w$r AS (
         |  SELECT coalesce(a.f, b.f) AS f,
         |    coalesce(a.w, 0) + coalesce(b.gw, 0) AS w
         |  FROM ${p}_w${r - 1} a FULL OUTER JOIN ${p}_g$r b ON a.f = b.f)""".stripMargin
    }
    (feat +: rounds).mkString(",\n")
  }

  /** DuckDB twin of [[perceptronTrainAvg]]'s summed-trajectory
    * vector: one CTE summing the unrolled per-iteration weight tables
    * `${prefix}_w1 … _w<iters>` of [[perceptronDuckCtes]] (which must
    * appear upstream). Emits `${prefix}_wavg (f, w)` — sparse, like
    * the per-iteration tables.
    */
  def perceptronAvgDuckCte(iters: Int, prefix: String = "pt"): String = {
    val p = prefix
    val union = (1 to iters)
      .map(r => s"SELECT f, w FROM ${p}_w$r")
      .mkString("\n    UNION ALL ")
    s"""${p}_wavg AS (
       |  SELECT f, sum(w) AS w FROM (
       |    $union) u
       |  GROUP BY f)""".stripMargin
  }

  /** Threshold sweep — the calibration table behind choosing a
    * [[gate]] cutoff: for every score bucket (width `1/resolution`),
    * the confusion counts of the rule "accept iff score ≥ bucket
    * threshold". Emits `(thr, tp, fp, fn, tn)` — precision/recall/ROC
    * derive by division downstream; only exact integer counts and one
    * deterministic `bkt/resolution` division appear here, so the
    * sweep is engine-exact.
    *
    * Scale shape: one hash aggregate collapses the corpus to ≤
    * `resolution · score-range` bucket rows; the cumulative window
    * runs on THAT bounded frame, never the data (the documented
    * exception to the no-global-window rule, same as the quantile
    * boundary builds). Rows with a NULL score or label are excluded —
    * they belong to neither side of any threshold.
    */
  def thresholdSweep(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      resolution: Int = 1000): DataFrame = {
    require(resolution >= 1, "resolution must be positive")
    val perBkt = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(floor(col(scoreCol) * resolution).cast("long").as("__bkt"),
        col(labelCol).cast("boolean").as("__pos"))
      .groupBy("__bkt")
      .agg(count(when(col("__pos"), 1)).as("__p"),
        count(when(!col("__pos"), 1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__bkt").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = perBkt.agg(
      coalesce(sum("__p"), lit(0L)).as("__tpall"),
      coalesce(sum("__n"), lit(0L)).as("__fpall"))
    perBkt
      .withColumn("tp", sum(col("__p")).over(w))
      .withColumn("fp", sum(col("__n")).over(w))
      .crossJoin(broadcast(tot))
      .select(
        (col("__bkt") / lit(resolution.toDouble)).as("thr"),
        col("tp"), col("fp"),
        (col("__tpall") - col("tp")).as("fn"),
        (col("__fpall") - col("fp")).as("tn"))
  }
}
