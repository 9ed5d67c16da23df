package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Det

/** TF-IDF keyword extraction over a document corpus — the classic
  * "what is this document about" signal used for topic tagging and
  * quality triage in training-data pipelines.
  *
  * Distributed shape (all shuffles key-partitioned, no driver
  * collection, no broadcast of anything corpus-sized):
  *   1. explode tokens → map-side partial count → shuffle on
  *      (doc, token) = per-doc TF;
  *   2. shuffle on token = document frequency (vocabulary-sized,
  *      NOT broadcast — vocab grows with the corpus);
  *   3. equi-join TF × DF on token (AQE picks the strategy);
  *   4. per-doc window for the top-k cut (shuffle on doc).
  * The corpus size joins in as a broadcast of exactly ONE row.
  */
object Keywords {

  /** Rational IDF score: `tf * n_docs / df`, computed as an exact
    * integer product with one double division, Det-rounded — every
    * engine produces the same cell. Monotone in the same direction
    * as log-IDF for fixed tf (the conventional `tf * ln(n_docs / df)`
    * is libm-dependent, so the ORACLE-checked surface uses this
    * exact-rational form).
    */
  private def rationalScore(tf: Column, nDocs: Column, df: Column): Column =
    Det.round((tf * nDocs).cast("double") / df, 4)

  /** Top-`k` keywords per document by rational TF-IDF; ties broken
    * by token asc (fully deterministic output).
    *
    * Returns (id, token, tf, df, score, rank).
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tok = docs.select(
      col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
    // Materialized once: TF feeds both the document-frequency
    // aggregate and the score join — two instantiations of the
    // explode + count pass otherwise (val sharing does not dedupe
    // plans). One compact row per (doc, distinct token).
    val tf = Materialize(tok.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf")))
    val docFreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // 1 row — broadcast
    val scored = tf.join(docFreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", rationalScore(col("tf"), col("n_docs"), col("df")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Corpus-wide bigram collocation mining: the top-`k` adjacent
    * token pairs by LIFT — `p(xy) / (p(x)·p(y))` = how many times
    * more often the pair co-occurs than independence predicts. The
    * association statistic behind phrase/tokenizer-merge candidates,
    * boilerplate-phrase detection, and collocation dictionaries
    * (PMI's exponent-free twin: PMI = log2(lift), same ranking for
    * fixed sign — and `log` is libm-dependent, so the ORACLE-checked
    * surface ranks on the rational lift directly, the
    * [[rationalScore]] discipline).
    *
    * Engine-exact: all counts are integers; the lift is fixed-order
    * double products (`(n_xy·N)·N / ((M·n_x)·n_y)`, left-assoc both
    * engines) with ONE division, Det-rounded. Ties break bigram-asc.
    *
    * Scale shape: two map-only explode passes (unigram instances,
    * adjacent-pair instances) each into a hash aggregate with
    * map-side partials; corpus totals join as broadcast single rows;
    * the `minCount` filter cuts the pair table BEFORE the two
    * vocabulary joins; the final cut is a bounded `TakeOrdered`,
    * never a global sort.
    *
    * Output: `(bigram, n_xy, n_x, n_y, lift)`.
    */
  def bigramLift(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, "bigramLift: minCount and k must be positive")
    val toks = docs.select(TextAnalysis.tokens(col(textCol)).as("__ts"))
    val uni = toks.select(explode(col("__ts")).as("__tok"))
    val ux = uni.groupBy("__tok").agg(count(lit(1)).as("__n"))
    val nTok = uni.agg(count(lit(1)).as("__n_tok")) // 1 row — broadcast
    val big = toks.select(
      explode(TextAnalysis.wordNgrams(col("__ts"), 2)).as("bigram"))
    val bx = big.groupBy("bigram").agg(count(lit(1)).as("n_xy"))
    val mBig = big.agg(count(lit(1)).as("__n_big")) // 1 row — broadcast
    bx.filter(col("n_xy") >= minCount)
      .withColumn("__x", split(col("bigram"), " ").getItem(0))
      .withColumn("__y", split(col("bigram"), " ").getItem(1))
      .join(ux.select(col("__tok").as("__x"), col("__n").as("n_x")), Seq("__x"))
      .join(ux.select(col("__tok").as("__y"), col("__n").as("n_y")), Seq("__y"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(mBig))
      .withColumn("lift", Det.round(
        (col("n_xy").cast("double") * col("__n_tok") * col("__n_tok")) /
          (col("__n_big").cast("double") * col("n_x") * col("n_y")), 4))
      .orderBy(col("lift").desc, col("bigram").asc).limit(k)
      .select(col("bigram"), col("n_xy"), col("n_x"), col("n_y"), col("lift"))
  }

  // ---- Inverted index + boolean retrieval ----
  //
  // The other direction of the TF pass: token → sorted posting list
  // of containing docs. This is the serving structure for exact
  // keyword search, decontamination lookups, and targeted corpus
  // audits ("every doc mentioning X") — queries become posting
  // intersections instead of corpus scans.

  /** Build the index: one row per token (per posting BLOCK when
    * `docsPerBlock > 0`) with the sorted distinct doc ids and the
    * document frequency.
    *
    * Scale shape: distinct (doc, token) pairs shuffle once on the
    * token. An UNBLOCKED index concentrates each Zipf-head token's
    * full posting list in one task and one row — fine for bounded
    * vocabularies, a hot-key hazard for open ones. `docsPerBlock`
    * shards postings by doc-id RANGE (`block = doc_id /
    * docsPerBlock`) — a map-side, data-independent split, so no
    * per-token window or skew-prone re-sort anywhere; readers union
    * a token's blocks (ranges are disjoint and internally sorted, so
    * concatenation in block order IS the sorted list, and block
    * pruning by id range falls out for free).
    *
    * Output: `(token, block, df_block, postings)`; `block` is 0 when
    * unblocked.
    */
  def invertedIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      docsPerBlock: Long = 0L): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("token"))
      // INTEGER division (`div`): `/` is double division, which loses
      // precision past 2^53 and so breaks the disjoint-sorted-block
      // invariant readers rely on; `div` keeps the arithmetic in
      // longs end to end. (Both truncate toward zero, so ids are
      // assumed non-negative — negative ids would fold ±id into the
      // same low blocks under either formulation.)
      .withColumn("block",
        if (docsPerBlock > 0)
          expr(s"cast(doc_id as bigint) div ${docsPerBlock}L")
        else lit(0L))
    pairs.groupBy("token", "block")
      .agg(count(lit(1)).as("df_block"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
  }

  /** Conjunctive (AND) search straight off the corpus: docs
    * containing EVERY term, with `hits` = total occurrences of the
    * query terms (the tie-grade for ranking). One explode + one
    * (doc, token) aggregate + one doc aggregate; the term filter
    * collapses the scan to query-term tokens before any shuffle.
    */
  def searchAll(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAll: no query terms")
    val n = terms.distinct.size
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms.distinct: _*))
      .groupBy("doc_id")
      .agg(count_distinct(col("token")).as("__nt"),
        count(lit(1)).as("hits"))
      .filter(col("__nt") === n)
      .select("doc_id", "hits")
  }

  /** BM25 relevance scoring for a term query — the standard ranking
    * upgrade over raw hit counts, restated engine-exact: the
    * conventional `ln((N-df+0.5)/(df+0.5))` IDF is libm-dependent, so
    * this uses the same exact-rational IDF as [[tfIdfTopK]] (`N/df` —
    * monotone in the same direction for fixed tf) while keeping
    * BM25's real contribution, the tf saturation and length
    * normalization term `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
    * Each per-term score is one fixed-shape double expression
    * (identical operator tree in any engine), Det-rounded to 6 dp and
    * summed in DECIMAL — so the per-doc total is independent of
    * aggregation order and the whole scorer is oracle-checkable.
    *
    * Scale shape: TWO scans, no doc-keyed join — (1) an agg-only
    * pass for the corpus stats (N, avgdl: ONE broadcast row); (2) the
    * scoring pass, where `dl` rides the token explode (same-row
    * column, free) so the term filter collapses everything before the
    * single (doc, term) shuffle. df is a query-term-sized aggregate
    * (broadcast). Output: `(doc_id, score)` for every doc containing
    * ≥1 query term.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: no query terms")
    val q = terms.distinct
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("__t"))
    val corpus = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("__t"))).as("total_dl")) // 1 row — broadcast
    val tf = toks
      .select(col("doc_id"), size(col("__t")).as("dl"),
        explode(col("__t")).as("token"))
      .filter(col("token").isin(q: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"),
        first(col("dl")).as("dl"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val perTerm = tf.join(broadcast(df), "token")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl",
        col("total_dl").cast("double") / col("n_docs"))
      .withColumn("score_t", Det.round(
        col("n_docs").cast("double") / col("df") *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
        6).cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    perTerm.groupBy("doc_id")
      .agg(sum(col("score_t")).cast("double").as("score"))
  }

  /** DuckDB CTE chain replaying [[bm25]] over `documents`, ending at
    * `{prefix}scores (doc_id, score DOUBLE)` — shared by the `q_bm25`
    * oracle and the hybrid-retrieval fusion oracle. Mirrors the
    * operator step for step: per-term scores Det-rounded to 6 dp then
    * fixed to DECIMAL(18,6) so the cross-doc sum is order-independent
    * in both engines, cast to DOUBLE only at the end.
    */
  def bm25DuckCtes(
      toksExpr: String,
      terms: Seq[String],
      prefix: String = "bm_",
      k1: Double = 1.2,
      b: Double = 0.75): String = {
    require(terms.nonEmpty, "bm25DuckCtes: no query terms")
    val inList = terms.distinct.map(t => s"'$t'").mkString(", ")
    s"""${prefix}lens AS (SELECT doc_id, len($toksExpr) AS dl FROM documents),
       |${prefix}corpus AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS total_dl
       |  FROM ${prefix}lens),
       |${prefix}tok AS (SELECT doc_id, unnest($toksExpr) AS token FROM documents),
       |${prefix}tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM ${prefix}tok
       |  WHERE token IN ($inList) GROUP BY 1, 2),
       |${prefix}dfq AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM ${prefix}tf GROUP BY 1),
       |${prefix}per AS (
       |  SELECT tf.doc_id,
       |    CAST(floor(
       |      CAST(n_docs AS DOUBLE) / df * (tf * ($k1 + 1.0)) /
       |        (tf + $k1 * (1.0 - $b + $b * dl
       |          / (CAST(total_dl AS DOUBLE) / n_docs)))
       |      * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS score_t
       |  FROM ${prefix}tf tf JOIN ${prefix}dfq USING (token)
       |  JOIN ${prefix}lens USING (doc_id)
       |  CROSS JOIN ${prefix}corpus),
       |${prefix}scores AS (
       |  SELECT doc_id, CAST(sum(score_t) AS DOUBLE) AS score
       |  FROM ${prefix}per GROUP BY doc_id)""".stripMargin
  }

  /** [[searchAll]] served from a prebuilt [[invertedIndex]] instead
    * of the corpus: filter the index to the query terms (token-key
    * lookup — with a blocked index this touches only matching rows),
    * explode the postings, and keep docs seen under every term.
    */
  def searchIndex(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchIndex: no query terms")
    val n = terms.distinct.size
    index.filter(col("token").isin(terms.distinct: _*))
      .select(col("token"), explode(col("postings")).as("doc_id"))
      .groupBy("doc_id")
      .agg(count_distinct(col("token")).as("__nt"))
      .filter(col("__nt") === n)
      .select("doc_id")
  }
}
