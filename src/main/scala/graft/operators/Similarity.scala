package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Det

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query
  * set against the corpus, so the corpus never shuffles for the
  * scoring pass. Scale path: LSH / IVF bucketing so only a fraction
  * of the corpus is scored per query.
  */
object Similarity {

  /** Cosine similarity of two equal-length vectors, computed in
    * double with ascending element order — sequential order makes the
    * result bit-reproducible across engines and partitionings.
    * Runs in the native [[graft.functions.CosineSimExpr]] (one
    * generated-code pass for dot + both norms; the composed
    * `aggregate(zip_with(...))` form costs three traversals with
    * boxed lambda dispatch).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineExpr.cosine(a, b)

  /** Brute-force cosine top-k: for each query vector, the `k` nearest
    * corpus vectors. The query side is broadcast (it must be small —
    * that is the contract of brute force); scoring happens inside the
    * corpus scan stage. Ranking uses rounded similarity (6 dp) with
    * id tiebreak so results are engine- and partitioning-stable.
    *
    * The per-query top-k is a window `row_number`; the shuffle it
    * costs carries only (query_id, corpus_id, sim) triples, never
    * vectors.
    */
  def bruteForceKnn(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val joined = c.crossJoin(broadcast(q))
    val scored = (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined)
      .select(col("query_id"), col("neighbor_id"),
        Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Per-query top-k via the bounded-heap aggregate
    * ([[graft.functions.TopKExpr]]): partial aggregation ships at
    * most k pairs per (partition, query) — a window `row_number`
    * would shuffle and sort every scored pair. Output order/ties are
    * identical to `Window.orderBy(sim.desc, id.asc)`.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKExpr.topK(col("sim"), col("neighbor_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("query_id"), col("__t.id").as("neighbor_id"),
        col("__t.score").as("sim"), (col("__pos") + 1).cast("int").as("rank"))

  /** kNN label propagation — weak supervision's workhorse: each
    * unlabeled query takes the MAJORITY label among its `k` nearest
    * labeled corpus vectors (exact cosine ranking, the
    * [[bruteForceKnn]] path; swap in the LSH/PQ candidates upstream
    * at billion-vector scale and re-rank exactly, as
    * [[pqKnn]] does). Ties are deterministic twice over: neighbor
    * ranking by (sim desc, id asc) as everywhere in the catalog, and
    * the vote by (count desc, label asc) via one `max_by` — no
    * window, one aggregate after the neighbor join.
    *
    * Output: `(query_id, label_pred, votes)`.
    */
  def knnClassify(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      labelCol: String,
      k: Int): DataFrame = {
    val nn = bruteForceKnn(queries, corpus,
      queryId, corpusId, queryVec, corpusVec, k)
    val labels = corpus.select(
      col(corpusId).as("neighbor_id"), col(labelCol).as("__lab"))
    nn.join(labels, "neighbor_id")
      .groupBy("query_id", "__lab")
      .agg(count(lit(1)).as("__votes"))
      .groupBy("query_id")
      // (count desc, label asc) via min_by: only the NUMERIC vote count
      // is negated, so the label column can be any orderable type
      // (string labels are the common weak-supervision case — arithmetic
      // negation of the label would fail analysis there).
      .agg(min_by(
        struct(col("__lab").as("label"), col("__votes").as("votes")),
        struct(-col("__votes"), col("__lab"))).as("__w"))
      .select(col("query_id"),
        col("__w.label").as("label_pred"),
        col("__w.votes").as("votes"))
  }

  /** Random-hyperplane LSH bucket for a vector: `nBits` sign bits of
    * dot products with deterministic pseudo-random hyperplanes
    * (splitmix64-derived ±1 components — cheap, no stored planes).
    * Vectors in the same bucket are near-duplicate candidates.
    */
  def rhpBucket(vec: Column, dim: Int, nBits: Int): Column = {
    val planes = rhpPlanes(dim, nBits)
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val comps = array(plane.map(s => lit(s.toDouble)): _*)
      val dot = aggregate(
        zip_with(vec, comps, (x, c) => x.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** DuckDB CTE twin of [[rhpBucket]], in the lockstep-generator
    * house style (Classifier.linearScoreDuckSql, Dedup's CTE chains):
    * the SAME [[rhpPlanes]] call emits the ±1 components — but as a
    * MATERIALIZED `nBits`-row plane TABLE rather than literals inside
    * the fold lambda (DuckDB 1.0 re-materializes an array literal per
    * element evaluation; the literal form measured 3.5 s for 2 000
    * vectors at sf0.01, this form 0.05 s, identical rows — the
    * round-11 oracle-performance discipline, CLAUDE.md). Each plane's
    * dot product is the SAME sequential left fold (`list_reduce` over
    * `list_prepend(0.0, …)` ≡ Spark's `aggregate(zip_with(…), 0.0,
    * _+_)` — identical FP association, so the sign test is
    * bit-exact), and the bucket assembles as an integer SUM of
    * disjoint power-of-two CASE terms over the plane rows (≡ the
    * bitwise OR; order-independent because the addends are disjoint
    * bits). Emits `rhp(i, plane)` and `{out}(vec_id, embedding, b0)`
    * over the `embeddings` table.
    */
  def rhpBucketDuckCtes(dim: Int, nBits: Int, out: String = "bkt",
      seed: Long = 0x243F6A8885A308D3L, rhpName: String = "rhp"): String = {
    val planesLit = rhpPlanes(dim, nBits, seed)
      .map(_.mkString("[", ",", "]")).mkString("[", ", ", "]")
    s"""$rhpName AS MATERIALIZED (
       |  SELECT CAST(u.i AS INTEGER) AS i, ($planesLit)[u.i + 1] AS plane
       |  FROM unnest(range($nBits)) AS u(i)),
       |$out AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding,
       |    CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        [e.embedding[k]::DOUBLE * CAST(r.plane[k] AS DOUBLE) for k in range(1, ${dim + 1})]),
       |        (a, x) -> a + x) >= 0 THEN (CAST(1 AS BIGINT) << r.i) ELSE 0 END) AS BIGINT) AS b0
       |  FROM embeddings e CROSS JOIN $rhpName r
       |  GROUP BY e.vec_id, e.embedding)""".stripMargin
  }

  /** Deterministic ±1 hyperplane components (splitmix64; `seed`
    * selects the hash table — each LSH table uses independent planes).
    */
  private[graft] def rhpPlanes(dim: Int, nBits: Int, seed: Long = 0x243F6A8885A308D3L): Seq[Seq[Int]] = {
    var x = seed
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Seq.fill(nBits)(Seq.fill(dim)(if (next() >= 0) 1 else -1))
  }

  /** Seeded variant of [[rhpBucket]] for multi-table LSH. */
  def rhpBucketSeeded(vec: Column, dim: Int, nBits: Int, seed: Long): Column = {
    val planes = rhpPlanes(dim, nBits, seed)
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val comps = array(plane.map(s => lit(s.toDouble)): _*)
      val dot = aggregate(
        zip_with(vec, comps, (x, c) => x.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-table LSH top-k — the standard recall lever: `nTables`
    * independent hash tables; a corpus vector is a candidate if it
    * collides with the query in ANY table (collision prob
    * `1-(1-p^nBits)^nTables`). Candidate generation stays an
    * equi-join on (table, bucket) with the query probes broadcast;
    * pairs dedup before scoring so each candidate is scored once.
    */
  def lshKnnMultiTable(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      k: Int,
      dim: Int,
      nBits: Int = 8,
      nTables: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    def buckets(vec: Column) = array((0 until nTables).map { t =>
      struct(lit(t).as("t"),
        rhpBucketSeeded(vec, dim, nBits, 0x9E3779B97F4A7C15L * (t + 1)).as("b"))
    }: _*)
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .withColumn("__tb", explode(buckets(col("__cv"))))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__tb", explode(buckets(col("__qv"))))
    val joined = c.join(broadcast(q), Seq("__tb")).drop("__tb")
    val cand = (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined)
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** The ANN scale path: LSH-bucketed top-k. The corpus is bucketed
    * once by [[rhpBucket]]; each query probes its own bucket plus all
    * buckets within Hamming distance `probeHamming` (bit flips, ≤ 2 —
    * the standard multi-probe LSH recall ladder: 1, 1+n, then
    * 1+n+n(n−1)/2 probes per query), so only a
    * probe-count/2^nBits fraction of the corpus is scored per query
    * instead of all of it. Candidate generation is an equi-join on
    * the bucket id — at 100 TB the corpus bucketing is a one-off
    * (and persistable); per-query work is bounded by
    * probes × bucket size, and the probe list is generated IN-PLAN
    * (nested sequence/transform — no driver loop, queries stay
    * distributed).
    *
    * Trades recall for cost like any ANN index; [[bruteForceKnn]] is
    * the exact baseline the recall is measured against in the specs
    * (recall is monotone in `probeHamming` by construction — each
    * rung's probe set contains the previous).
    */
  def lshKnn(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      k: Int,
      dim: Int,
      nBits: Int = 8,
      probeHamming: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    require(probeHamming <= 2,
      "multi-probe beyond Hamming 2 not implemented (probe count grows " +
        "combinatorially; past 2 flips an IVF/PQ index is the right tool)")
    require(probeHamming < 2 || nBits >= 2,
      "Hamming-2 probing needs at least 2 bucket bits")
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .withColumn("__bucket", rhpBucket(col("__cv"), dim, nBits))
    val q0 = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__b0", rhpBucket(col("__qv"), dim, nBits))
    def flip(b: Column, i: Column): Column =
      b.bitwiseXOR(call_function("shiftleft", lit(1L), i))
    val single = transform(sequence(lit(0), lit(nBits - 1)),
      i => flip(col("__b0"), i))
    val pairs = flatten(transform(sequence(lit(0), lit(nBits - 2)),
      i => transform(sequence(i + lit(1), lit(nBits - 1)),
        j => flip(flip(col("__b0"), i), j))))
    val probes = probeHamming match {
      case 0 => q0.withColumn("__bucket", col("__b0"))
      case 1 => q0.withColumn("__bucket",
        explode(concat(array(col("__b0")), single)))
      case _ => q0.withColumn("__bucket",
        explode(concat(array(col("__b0")), single, pairs)))
    }
    val joined = c.join(broadcast(probes.drop("__b0")), Seq("__bucket"))
    val scored = (if (excludeSelf) joined.filter(col("query_id") =!= col("neighbor_id")) else joined)
      .select(col("query_id"), col("neighbor_id"),
        Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Binary-signature top-k — the serving path for a 1-bit-compressed
    * vector store ([[Embeddings.signBits64]]: 64 dims → one BIGINT,
    * 32× smaller than float32). Two phases:
    *
    *   1. '''Shortlist''': every corpus signature is scored against
    *      the broadcast query signatures by Hamming distance — one
    *      `xor` + popcount per pair instead of 64 FP multiplies —
    *      and the `shortlist` closest per query survive via the
    *      bounded-heap [[graft.functions.TopKExpr]] (partials ship at
    *      most `shortlist` ids per partition; the scan stage carries
    *      `(id, sig)` pairs only, never vectors — at 100 TB the
    *      signature column is the only thing read).
    *   2. '''Re-rank''': the shortlist (bounded: |queries| ·
    *      `shortlist` rows) is broadcast back against the corpus to
    *      fetch the float vectors of candidates alone, and exact
    *      rounded cosine picks the final `k` with the catalog-wide
    *      (sim desc, id asc) tie order.
    *
    * Everything that decides membership is integer arithmetic
    * (sign tests, xor, popcount, row ranks), so unlike int8/PQ this
    * ANN path is hash-exact oracle-able end to end. Shortlist ties
    * cut deterministically by (hamming asc, id asc).
    */
  /** One-off signature index for [[binaryKnn]]: `(id, sig)` — the
    * 9-bytes-per-vector artifact a corpus persists (or caches) so the
    * serving scan never touches float vectors. Pass it back through
    * `binaryKnn(corpusSigs = ...)`.
    */
  def sigIndex64(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"),
      Embeddings.signBits64(col(vecCol)).as("sig"))

  def binaryKnn(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      k: Int,
      shortlist: Int = 32,
      excludeSelf: Boolean = true,
      corpusSigs: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val q = queries.select(
      col(queryId).as("query_id"), col(queryVec).as("__qv"),
      Embeddings.signBits64(col(queryVec)).as("__qs"))
    // Serving path: score against the persisted/cached [[sigIndex64]]
    // when one is supplied — the shortlist pass then reads 9 bytes
    // per corpus vector instead of re-deriving signatures from floats.
    val cSig = corpusSigs
      .map(s => s.select(col("id").as("neighbor_id"), col("sig").as("__cs")))
      .getOrElse(corpus.select(col(corpusId).as("neighbor_id"),
        Embeddings.signBits64(col(corpusVec)).as("__cs")))
    val paired = cSig.crossJoin(broadcast(q.select(col("query_id"), col("__qs"))))
    val cand = (if (excludeSelf) paired.filter(col("query_id") =!= col("neighbor_id")) else paired)
      .select(col("query_id"), col("neighbor_id"),
        // TopK orders (score desc, id asc); 64 - hamming makes that
        // (hamming asc, id asc) — closest signatures first.
        (lit(64) - bit_count(col("__qs").bitwiseXOR(col("__cs")))).cast("double").as("__bscore"))
    val short = cand.groupBy("query_id")
      .agg(graft.functions.TopKExpr.topK(col("__bscore"), col("neighbor_id"), shortlist).as("__top"))
      .select(col("query_id"), explode(col("__top.id")).as("neighbor_id"))
    val rerank = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(rerank, k)
  }

  /** IVF (inverted-file) index: a coarse quantizer of `nCentroids`
    * cluster centers (deterministic pseudo-random init: the k corpus
    * vectors with the smallest portable id hash — a distributed
    * TakeOrdered, bounded k per partition, no global window — refined
    * by `lloydIters` rounds of Lloyd's algorithm: each round is one
    * broadcast-scored assignment plus one element-wise mean
    * aggregation), and the corpus partitioned by nearest centroid.
    * Centroid ids are the seed vectors' own ids (unique, not dense —
    * they are only ever used as join/group keys). Build is a one-off,
    * persistable at scale.
    *
    * ENGINE-EXACT by construction (since round 9b — classic Lloyd is
    * FP-partition-order-dependent, this restatement is not):
    *  - seeds order by the md5 id hash ([[graft.operators.TextAnalysis.tokenHashP]]
    *    of the stringified id), reproducible in any engine;
    *  - assignment ranks on the 6-dp [[Det]]-rounded cosine
    *    (sequential fold), ties to the smaller centroid id;
    *  - the centroid mean never sums doubles: components quantize to
    *    integers at 2^30 (exact in binary — a float32 times 2^30 is
    *    below 2^53, and the half-up floor is the Det convention),
    *    SUM as integers (order-independent), then ONE exact
    *    power-of-two scale-back, ONE correctly-rounded division by
    *    the count, and a 9-dp Det round.
    * Every step is replayable in SQL ([[kmeansDuckCtes]]), which is
    * what lets `q_kmeans_sizes` and `q_semdedup` be hash-checked
    * instead of rows-only. The ~1e-9 centroid quantization is far
    * below clustering noise (recall contracts unchanged,
    * `SimilaritySpec`).
    */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      lloydIters: Int = 2): (DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    var centroids = c
      .orderBy(TextAnalysis.tokenHashP(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCentroids)
      .select(col("vec_id").as("centroid_id"),
        transform(col("v"), x => x.cast("double")).as("cv"))
    var iter = 0
    while (iter < lloydIters) {
      val assigned = assign(c, centroids)
      // Element-wise mean per cluster: explode positions, integer-
      // quantized sum (see scaladoc), rebuild the array by position.
      centroids = assigned
        .join(c, "vec_id")
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(
          sum(floor(col("x").cast("double") * lit(1073741824.0) + lit(0.5))
            .cast("long")).as("__qs"),
          count(lit(1)).as("__n"))
        .select(col("centroid_id"), col("pos"),
          Det.round(
            col("__qs").cast("double") / lit(1073741824.0) / col("__n"),
            9).as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"), transform(col("pm"), p => p.getField("m")).as("cv"))
      iter += 1
    }
    (assign(c, centroids), centroids)
  }

  /** The DuckDB twin of [[cosine]]'s sequential-fold double cosine —
    * `list_sum` folds in list order, matching the fold association.
    */
  def cosineDuckSql(a: String, b: String): String =
    s"""(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a) + 1)])
       | / (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in range(1, len($a) + 1)]))
       |  * sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($b) + 1)]))))""".stripMargin

  /** DuckDB CTE chain replaying [[ivfIndex]] step for step — the
    * portable seed order, each unrolled Lloyd round's 6-dp-rounded
    * assignment and integer-quantized centroid mean, and the final
    * assignment as `km_assign(vec_id, centroid_id)`. Keep in
    * lockstep with [[ivfIndex]]/[[assign]].
    */
  def kmeansDuckCtes(
      table: String = "embeddings",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 8,
      lloydIters: Int = 2): String = {
    val det = graft.functions.Det
    val seedHash =
      s"(CAST(('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483647)"
    def assignCte(name: String, centName: String) =
      s"""$name AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT c.vec_id, s.centroid_id,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${det.roundSql(cosineDuckSql("c.v", "s.cv"), 6)} DESC,
         |          s.centroid_id) AS rn
         |    FROM km_c c CROSS JOIN $centName s) t
         |  WHERE rn = 1)""".stripMargin
    def centCtes(name: String, assignName: String) =
      s"""${name}_pm AS (
         |  SELECT a.centroid_id, CAST(u.i AS INTEGER) AS pos,
         |    ${det.roundSql(
               "(CAST(sum(CAST(floor(c.v[CAST(u.i AS INTEGER)]::DOUBLE" +
                 " * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)" +
                 " / 1073741824.0) / count(*)", 9)} AS m
         |  FROM $assignName a JOIN km_c c USING (vec_id),
         |    unnest(range(1, len(c.v) + 1)) AS u(i)
         |  GROUP BY 1, 2),
         |$name AS (
         |  SELECT centroid_id, list(m ORDER BY pos) AS cv
         |  FROM ${name}_pm GROUP BY 1)""".stripMargin
    val rounds = (1 to lloydIters).map { i =>
      val prevCent = if (i == 1) "km_seed" else s"km_cent${i - 1}"
      assignCte(s"km_a${i - 1}", prevCent) + ",\n" +
        centCtes(s"km_cent$i", s"km_a${i - 1}")
    }.mkString(",\n")
    s"""km_c AS (
       |  SELECT $idCol AS vec_id, $vecCol AS v FROM $table),
       |km_seed AS (
       |  SELECT $idCol AS centroid_id,
       |    list_transform($vecCol, x -> x::DOUBLE) AS cv
       |  FROM $table ORDER BY $seedHash, $idCol LIMIT $k),
       |$rounds,
       |${assignCte("km_assign", s"km_cent$lloydIters")}""".stripMargin
  }

  /** DuckDB CTE chain replaying the WHOLE PQ serving path —
    * [[pqCodebook]] (portable seed order, unrolled Lloyd rounds with
    * 6-dp-rounded argmin assignment, integer-quantized codeword
    * means, empty-cluster keep), [[pqEncode]] (codes + norms), the
    * per-query ADC table, the rounded ADC shortlist, and the exact
    * cosine re-rank — ending in a final SELECT of
    * `(query_id, neighbor_id, sim, rank)`. Keep in lockstep with the
    * three operators. `queryPred` bounds the query set (SQL over the
    * `pq_c` alias `q`).
    */
  def pqKnnDuckCtes(
      table: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      k: Int,
      shortlist: Int,
      lloydIters: Int,
      queryPred: String,
      candCte: Option[String] = None): String = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val dsub = dim / m
    val det = graft.functions.Det
    val seedHashSeed =
      "(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483647)"
    def l2(a: String, b: String) =
      s"list_sum([($a[i]::DOUBLE - $b[i]) * ($a[i]::DOUBLE - $b[i]) for i in range(1, $dsub + 1)])"
    def dot(a: String, b: String) =
      s"list_sum([$a[i]::DOUBLE * $b[i] for i in range(1, $dsub + 1)])"
    def assignCte(name: String, cbName: String) =
      s"""$name AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT s.vec_id, s.sub, cb.code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY ${det.roundSql(l2("s.sv", "cb.cv"), 6)} ASC, cb.code ASC) AS rn
         |    FROM pq_sv s JOIN $cbName cb USING (sub)) t
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to lloydIters).map { r =>
      val prev = if (r == 1) "pq_cb0" else s"pq_cb${r - 1}"
      assignCte(s"pq_as$r", prev) + ",\n" +
        s"""pq_up${r}_pm AS (
           |  SELECT a.sub, a.code, CAST(u.i AS INTEGER) AS pos,
           |    ${det.roundSql(
                 "(CAST(sum(CAST(floor(s.sv[CAST(u.i AS INTEGER)]" +
                   " * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)" +
                   " / 1073741824.0) / count(*)", 9)} AS mu
           |  FROM pq_as$r a JOIN pq_sv s USING (vec_id, sub),
           |    unnest(range(1, $dsub + 1)) AS u(i)
           |  GROUP BY 1, 2, 3),
           |pq_up$r AS (
           |  SELECT sub, code, list(mu ORDER BY pos) AS cv_new
           |  FROM pq_up${r}_pm GROUP BY 1, 2),
           |pq_cb$r AS (
           |  SELECT cb.sub, cb.code, COALESCE(u.cv_new, cb.cv) AS cv
           |  FROM pq_cb${r - 1} cb LEFT JOIN pq_up$r u USING (sub, code))""".stripMargin
    }.mkString(",\n")
    s"""pq_c AS (
       |  SELECT $idCol AS vec_id,
       |    list_transform($vecCol, x -> x::DOUBLE) AS v
       |  FROM $table),
       |pq_seed AS (
       |  SELECT v, CAST(row_number() OVER (ORDER BY $seedHashSeed, vec_id) - 1 AS INTEGER) AS code
       |  FROM (SELECT vec_id, v FROM pq_c
       |        ORDER BY $seedHashSeed, vec_id LIMIT $ksub) s0),
       |pq_cb0 AS (
       |  SELECT CAST(u.s AS INTEGER) AS sub, code,
       |    v[CAST(u.s AS INTEGER) * $dsub + 1 : (CAST(u.s AS INTEGER) + 1) * $dsub] AS cv
       |  FROM pq_seed, unnest(range($m)) AS u(s)),
       |pq_sv AS (
       |  SELECT vec_id, CAST(u.s AS INTEGER) AS sub,
       |    v[CAST(u.s AS INTEGER) * $dsub + 1 : (CAST(u.s AS INTEGER) + 1) * $dsub] AS sv
       |  FROM pq_c, unnest(range($m)) AS u(s)),
       |$rounds,
       |${assignCte("pq_enc", s"pq_cb$lloydIters")},
       |pq_codes AS (
       |  SELECT e.vec_id, list(e.code ORDER BY e.sub) AS codes,
       |    any_value(sqrt(list_sum([c.v[i] * c.v[i] for i in range(1, $dim + 1)]))) AS norm
       |  FROM pq_enc e JOIN pq_c c ON c.vec_id = e.vec_id
       |  GROUP BY 1),
       |pq_adc_t AS (
       |  SELECT q.vec_id AS query_id, cb.sub, cb.code,
       |    ${dot(s"q.v[CAST(cb.sub AS INTEGER) * $dsub + 1 : (CAST(cb.sub AS INTEGER) + 1) * $dsub]", "cb.cv")} AS t,
       |    sqrt(list_sum([q.v[i] * q.v[i] for i in range(1, $dim + 1)])) AS qn
       |  FROM pq_c q CROSS JOIN pq_cb$lloydIters cb
       |  WHERE $queryPred),
       |pq_adc AS (
       |  SELECT query_id, list(t ORDER BY sub, code) AS tbl, any_value(qn) AS qn
       |  FROM pq_adc_t GROUP BY 1),
       |pq_scored AS (
       |  SELECT a.query_id, c.vec_id AS neighbor_id,
       |    ${det.roundSql(
             s"list_sum([a.tbl[CAST(s AS INTEGER) * $ksub" +
               s" + CAST(c.codes[CAST(s AS INTEGER) + 1] AS INTEGER) + 1]" +
               s" for s in range($m)]) / (a.qn * c.norm)", 6)} AS sim
       |  FROM pq_codes c CROSS JOIN pq_adc a
       |  ${candCte.map(cc =>
             s"JOIN $cc cd ON cd.query_id = a.query_id AND cd.neighbor_id = c.vec_id")
             .getOrElse("")}
       |  WHERE a.query_id <> c.vec_id),
       |pq_short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |    FROM pq_scored) t WHERE rn <= $shortlist),
       |pq_rr AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |    ${det.roundSql(cosineDuckSql("q.v", "c.v"), 6)} AS sim
       |  FROM pq_short sh
       |  JOIN pq_c q ON q.vec_id = sh.query_id
       |  JOIN pq_c c ON c.vec_id = sh.neighbor_id),
       |pq_topk AS (
       |  SELECT query_id, neighbor_id, sim, CAST(rn AS INTEGER) AS rank FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |    FROM pq_rr) t
       |  WHERE rn <= $k)""".stripMargin
  }

  /** Nearest centroid per corpus vector (broadcast-scored). The
    * similarity is Det-rounded to 6 dp BEFORE the argmax so the
    * assignment — and everything downstream of the quantizer — is
    * reproducible bit-for-bit in any IEEE engine (see [[ivfIndex]]).
    */
  private def assign(c: DataFrame, centroids: DataFrame): DataFrame =
    c.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"),
        Det.round(cosine(col("v"), col("cv")), 6).as("s"))
      .groupBy("vec_id")
      // (sim desc, centroid asc) with only the numeric score negated, so
      // non-numeric centroid ids stay legal.
      .agg(min_by(col("centroid_id"), struct(-col("s"), col("centroid_id"))).as("centroid_id"))

  /** IVF-probed top-k: score each query against the centroids, keep
    * the `nProbe` best cells, then score only corpus vectors assigned
    * to those cells — candidate generation is an equi-join on
    * centroid_id, per-query work bounded by the probed cells' sizes.
    */
  def ivfKnn(
      queries: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      k: Int,
      nProbe: Int = 3,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    // probe score ROUNDED like ivfPqKnn's (and assign's): the probe
    // set is then engine-replayable, which is what lets the composed
    // query be oracle-checked hash-exact
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("__qv"), col("centroid_id"),
        Det.round(cosine(col("__qv"), col("cv")), 6).as("cs"))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cs").desc, col("centroid_id"))))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))
    val cand = index.join(broadcast(probes), Seq("centroid_id"))
      .join(corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("__cv")), Seq("vec_id"))
    val scored = (if (excludeSelf) cand.filter(col("query_id") =!= col("vec_id")) else cand)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings, then drop
    * near-duplicates WITHIN each cluster — the clustering bounds the
    * pairwise stage to cluster-sized blocks, so the corpus never
    * self-joins globally (the same blocking discipline as every other
    * dedup path here; cluster count is the block-size knob).
    *
    * Keeper semantics match the engine's text dedup
    * ([[Dedup.dropNearDuplicates]]): cosine-≥-threshold pairs feed
    * [[Dedup.connectedComponents]] and each component keeps its
    * minimum id — deterministic given the (deterministic) Lloyd
    * clustering, and consistent with the rest of the dedup family
    * rather than the paper's random-keeper choice.
    *
    * Returns the kept rows of `corpus` (schema unchanged).
    */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      threshold: Double,
      lloydIters: Int = 2): DataFrame = {
    val (assignments, _) = ivfIndex(corpus, idCol, vecCol, nClusters, lloydIters)
    val clustered = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assignments, "vec_id")
    val pairs = cosineNearDupPairs(clustered, "vec_id", "v", col("centroid_id"), threshold)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id"))
    corpus.join(losers, corpus(idCol) === losers("id"), "left_anti")
  }

  /** Embedding near-duplicate pairs: LSH-bucket (or any blocking
    * column) then exact cosine ≥ threshold within buckets — the
    * equi-join-on-bucket discipline again: no global cross product.
    *
    * PREFER [[semDedup]] (cluster blocking with an `nClusters` knob)
    * or [[cosineNearDupPairsAuto]] (degrades by sub-blocking instead
    * of failing) when block sizes are not under your control — this
    * operator's contract is EXHAUSTIVE pairs within caller blocks,
    * and exhaustive is inherently quadratic in the block.
    *
    * The within-block self-join is quadratic in block size and the
    * blocking column is CALLER-supplied, so a hot block must fail
    * loudly rather than melt the stage (the mirror of [[mmr]]'s
    * `maxCandidates` require): per-block counts (default cap 65,536
    * rows ≈ 2·10⁹ candidate pairs for that one block — already past
    * where the recommended path, [[semDedup]]'s cluster blocking with
    * its `nClusters` knob, should take over) are joined back onto the
    * probe side with an `assert_true` predicate. The guard lives
    * INSIDE the plan — the count side prunes to the block column's
    * lineage and the assert is a codegen row predicate, so no extra
    * action or driver round-trip runs (a separate pre-count job
    * re-executed the whole upstream quantizer and measured +0.8 s on
    * `q_semdedup`). The count-table join carries NO broadcast hint:
    * its cardinality is the number of distinct blocks, which under
    * fine blocking (per-bucket LSH) is O(corpus) — a forced broadcast
    * would turn the guard itself into a driver/executor memory
    * hazard. AQE upgrades it to a broadcast join at runtime whenever
    * the aggregated counts actually fit, so coarse blocking pays
    * nothing for the safety.
    */
  def cosineNearDupPairs(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: Column,
      threshold: Double,
      maxBlockSize: Long = 1L << 16): DataFrame = {
    // Deliberately NOT checkpointed (unlike the Dedup self-joins):
    // the per-side work here is just a scan + a cheap block column
    // (semDedup's quantizer assignments arrive already materialized),
    // and materializing a full copy of the vector corpus costs about
    // what the second scan does — measured neutral-to-negative.
    val v = vecs.select(col(idCol).as("vec_id"), col(vecCol).as("v"), blockCol.as("block"))
    // NULL blocks never satisfy the equi-join below, so losing them to
    // the guard's inner join changes nothing.
    val counts = v.groupBy("block").agg(count(lit(1)).as("__bn"))
    val guarded = v.join(counts, Seq("block"))
      .filter(assert_true(col("__bn") <= lit(maxBlockSize),
        concat(lit("cosineNearDupPairs: block '"), col("block").cast("string"),
          lit("' has "), col("__bn").cast("string"),
          lit(s" rows > maxBlockSize=$maxBlockSize (quadratic self-join" +
            " would melt); use finer blocking (e.g. semDedup's cluster" +
            " quantizer with more nClusters) or raise maxBlockSize" +
            " explicitly"))).isNull)
      .drop("__bn")
    guarded.as("a").join(v.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Det.round(cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** [[cosineNearDupPairs]] that DEGRADES instead of failing on a hot
    * block (round 12): blocks over `maxBlockSize` are recursively
    * re-blocked by a seeded nearest-centroid quantizer (the SemDeDup
    * blocking idea applied within the block: `fanout` deterministic
    * hash-seeded members per block as centroids, rows assigned to
    * their 6-dp-rounded-cosine-nearest seed — one Lloyd assignment
    * step per level, up to `maxDepth` levels), and any block still
    * hot after `maxDepth` quantizer levels — the degenerate case of
    * more-than-cap NEAR-IDENTICAL vectors, which no similarity
    * quantizer can separate — is hash-split to bounded buckets whose
    * hubs (min-id member per bucket) are STAR-connected to the
    * parent's min-bucket hub so CONNECTIVITY survives the split.
    * (Star, not an adjacent-index chain: hash buckets can be EMPTY —
    * `pmod` of a hash has no occupancy guarantee — and a chain link
    * through a missing index would silently break the group; the
    * anchor hub always exists, and one dissimilar hub now costs only
    * its own link, never the whole downstream path. Round-13 fix.)
    *
    * Contract change vs [[cosineNearDupPairs]]: the output is a
    * RECALL-BOUNDED, connectivity-preserving subset of the ≥threshold
    * pairs, not the exhaustive list — a pair straddling two sub-blocks
    * is lost exactly as a pair straddling two SemDeDup clusters is
    * (and a degenerate near-identical block keeps its duplicate GROUP
    * recoverable via the hub chain while its quadratic pair list —
    * up to n²/2 rows that downstream CC never needed — is the thing
    * deliberately not produced). Exhaustiveness within caller blocks
    * is [[cosineNearDupPairs]]'s contract; group-level dedup at
    * corpus scale is this one's.
    *
    * Every step is deterministic (portable id hash for seeds and
    * bucket salts, [[Det]]-rounded cosine with id tie-breaks), so
    * results are repartition-stable. All shuffles are keyed
    * equi-joins/aggregates; per-level driver work is one `isEmpty`
    * probe on an already-materialized frame.
    */
  def cosineNearDupPairsAuto(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: Column,
      threshold: Double,
      maxBlockSize: Long = 1L << 16,
      fanout: Int = 16,
      maxDepth: Int = 3): DataFrame = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    require(maxBlockSize >= 2, s"maxBlockSize must be >= 2, got $maxBlockSize")
    def norm(df: DataFrame): DataFrame = df.select("vec_id", "v", "block")
    // Internal block names must be INJECTIVE in their derivation: a
    // caller block containing '/' or '#' must never equal a
    // synthesized sub-block of some other block (silently merging
    // unrelated blocks). Entry blocks get an `r` marker; every
    // synthesized child prefixes the PARENT'S LENGTH (`<len>:`), so
    // the parent segment is uniquely recoverable and distinct
    // (parent, seed/bucket) derivations can never collide — children
    // start with a digit, entry names with 'r'.
    def childName(parent: Column, sep: String, tag: Column): Column =
      concat(length(parent).cast("string"), lit(":"), parent, lit(sep),
        tag.cast("string"))
    var v = Materialize(vecs
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        concat(lit("r"), blockCol.cast("string")).as("block"))
      // concat null-propagates, so a NULL caller block stays NULL
      .filter(col("block").isNotNull))
    val bounded = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var bridgeHubs: Option[DataFrame] = None
    var depth = 0
    var remaining = true
    while (remaining) {
      val counts = v.groupBy("block").agg(count(lit(1)).as("__bn"))
      val tagged = v.join(counts, Seq("block"))
      bounded += norm(tagged.filter(col("__bn") <= maxBlockSize))
      val hot = tagged.filter(col("__bn") > maxBlockSize)
      if (hot.isEmpty) remaining = false
      else if (depth >= maxDepth) {
        // Terminal hash split: bucket count sized to land buckets at
        // ~half the cap; hubs star-connect to the parent's min-bucket
        // hub so a split duplicate group stays one component.
        val split = Materialize(hot
          .withColumn("__bkt", pmod(xxhash64(col("vec_id").cast("string")),
            ceil(col("__bn") * lit(2.0) / lit(maxBlockSize.toDouble)).cast("long")))
          .select(col("vec_id"), col("v"),
            childName(col("block"), "#", col("__bkt")).as("block"),
            col("block").as("__parent"), col("__bkt")))
        bounded += norm(split)
        bridgeHubs = Some(split.groupBy(col("__parent"), col("__bkt"))
          .agg(min_by(struct(col("vec_id"), col("v")), col("vec_id")).as("__h"))
          .select(col("__parent"), col("__bkt"),
            col("__h.vec_id").as("vec_id"), col("__h.v").as("v")))
        remaining = false
      } else {
        // One quantizer level: fanout hash-salted min-hash seeds per
        // hot block, rows to their rounded-cosine-nearest seed.
        val withHash = hot.select(col("vec_id"), col("v"), col("block"),
          TextAnalysis.tokenHashP(col("vec_id").cast("string")).as("__h"),
          pmod(xxhash64(col("vec_id").cast("string")), lit(fanout)).as("__salt"))
        val seeds = withHash.groupBy(col("block"), col("__salt"))
          .agg(min_by(struct(col("vec_id"), col("v")),
            struct(col("__h"), col("vec_id"))).as("__s"))
          .select(col("block"), col("__s.vec_id").as("__seed_id"),
            col("__s.v").as("__sv"))
        v = Materialize(hot.select(col("vec_id"), col("v"), col("block"))
          .join(seeds, Seq("block"))
          .select(col("vec_id"), col("v"), col("block"), col("__seed_id"),
            Det.round(cosine(col("v"), col("__sv")), 6).as("__cs"))
          .groupBy("vec_id")
          .agg(any_value(col("v")).as("v"),
            childName(any_value(col("block")), "/",
              min_by(col("__seed_id"), struct(-col("__cs"), col("__seed_id"))))
              .as("block")))
        depth += 1
      }
    }
    val u = Materialize(bounded.reduce(_ unionAll _))
    val intra = u.as("a").join(u.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Det.round(cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    bridgeHubs match {
      case None => intra
      case Some(hubs) =>
        // Star to the min-__bkt hub, which is always PRESENT (it is
        // derived from occupied buckets) — an adjacent-index join
        // (`__bkt + 1`) breaks silently at any hash-empty bucket.
        val anchor = hubs.groupBy("__parent")
          .agg(min_by(struct(col("vec_id"), col("v")), col("__bkt")).as("__a"))
          .select(col("__parent"), col("__a.vec_id").as("anchor_id"),
            col("__a.v").as("anchor_v"))
        val chain = hubs.join(anchor, "__parent")
          .filter(col("vec_id") =!= col("anchor_id"))
          .select(
            least(col("vec_id"), col("anchor_id")).as("id_a"),
            greatest(col("vec_id"), col("anchor_id")).as("id_b"),
            Det.round(cosine(col("v"), col("anchor_v")), 6).as("cos_sim"))
          .filter(col("cos_sim") >= threshold)
        intra.unionAll(chain)
    }
  }

  // ---- Product quantization (Jégou, Douze, Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search", IEEE TPAMI) ----
  //
  // The memory scale path past IVF: each D-dim float vector compresses
  // to `m` small codes (one byte each at ksub ≤ 256) — 16 GB of
  // float32 embeddings become ~250 MB of codes — and query scoring
  // reads only the codes via a per-query lookup table (ADC), touching
  // the original vectors just for the final re-rank shortlist. This is
  // how billion-vector corpora are scanned at all.

  /** Train a PQ codebook: the vector is split into `m` contiguous
    * subspaces of `dim/m` dims; each subspace learns `ksub` codewords
    * by Lloyd iterations over the corpus' subvectors (all `m`
    * subspaces train in ONE distributed frame, keyed by (sub, code)).
    * Init is deterministic: the `ksub` corpus vectors with the
    * smallest `xxhash64(id)` seed every subspace (collected once —
    * `ksub·dim` doubles on the driver, independent of corpus size).
    *
    * Returns `(sub int, code int, cv array<double>)` with dense codes
    * `0..ksub-1` — `m·ksub` rows, broadcastable by construction.
    */
  def pqCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      lloydIters: Int = 3): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._

    val c = corpus.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    // (vec_id, sub, sv): the training frame, one row per subvector
    val sv = c.select(col("vec_id"), posexplode(
      array((0 until m).map(s => slice(col("v"), s * dsub + 1, dsub)): _*))
      .as(Seq("sub", "sv")))

    val seeds = c
      .orderBy(TextAnalysis.tokenHashP(col("vec_id").cast("string")), col("vec_id"))
      .limit(ksub)
      .select("v").as[Seq[Double]].collect()
    require(seeds.nonEmpty, "pqCodebook needs a non-empty corpus")
    var codebook = (for {
      sub <- 0 until m
      (v, code) <- seeds.zipWithIndex
    } yield (sub, code, v.slice(sub * dsub, (sub + 1) * dsub)))
      .toDF("sub", "code", "cv")

    def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

    var iter = 0
    while (iter < lloydIters) {
      // assignment: per (vec_id, sub), the nearest codeword (min L2,
      // ties to the smaller code — total order, deterministic)
      val assigned = sv.join(broadcast(codebook), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sv"), col("code"),
          Det.round(l2(col("sv"), col("cv")), 6).as("d"))
        .groupBy("vec_id", "sub")
        .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"),
          first(col("sv")).as("sv"))
      // update: element-wise mean per (sub, code); a codeword with an
      // empty cluster keeps its previous position (dropping it would
      // shrink the codebook and shift every later code's meaning)
      val updated = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg(
          sum(floor(col("x") * lit(1073741824.0) + lit(0.5)).cast("long")).as("__qs"),
          count(lit(1)).as("__n"))
        .select(col("sub"), col("code"), col("pos"),
          Det.round(
            col("__qs").cast("double") / lit(1073741824.0) / col("__n"),
            9).as("mu"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), p => p.getField("mu")).as("cv_new"))
      codebook = codebook.join(updated, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("cv_new"), col("cv")).as("cv"))
      iter += 1
    }
    codebook
  }

  /** Encode the corpus against a trained codebook: one row per vector
    * with its `m` codes (in subspace order) and the original L2 norm
    * (kept so ADC dot products can serve approximate COSINE — the
    * norm does not survive quantization). One broadcast join + one
    * vector-keyed aggregate; the output is the compact representation
    * a 100 TB corpus persists instead of raw floats.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: DataFrame,
      dim: Int,
      m: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val c = corpus.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
    val norm = sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
    c.select(col("vec_id"), col("v"), norm.as("norm"), posexplode(
        array((0 until m).map(s => slice(col("v"), s * dsub + 1, dsub)): _*))
        .as(Seq("sub", "sv")))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("vec_id"), col("norm"), col("sub"), col("code"),
        Det.round(l2(col("sv"), col("cv")), 6).as("d"))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"),
        first(col("norm")).as("norm"))
      .groupBy("vec_id")
      .agg(
        transform(array_sort(collect_list(struct(col("sub"), col("code")))),
          p => p.getField("code")).as("codes"),
        first(col("norm")).as("norm"))
  }

  /** PQ top-k by asymmetric distance computation: each query builds a
    * `m·ksub` lookup table of subspace dot products against the
    * codebook (queries × codebook — broadcast-sized), then every
    * corpus row is scored from its CODES alone: `m` table lookups per
    * pair instead of `dim` multiplies, and no raw-vector I/O in the
    * scan. Approximate cosine = ADC dot / (|q|·|x|) with the stored
    * norm. The `shortlist` best by ADC are then re-ranked with exact
    * cosine against the raw vectors (|queries|·shortlist lookups —
    * the standard PQ pipeline), so returned `sim` values are exact
    * and only RANK is approximate.
    *
    * The query side must be bounded (it broadcasts, like
    * [[bruteForceKnn]]'s); the scan is still |corpus|·|queries| pairs
    * — PQ buys the per-pair constant and the code-sized I/O, and
    * composes with IVF cells ([[ivfIndex]]) when the corpus side must
    * also be sublinear (IVF-PQ).
    */
  def pqKnn(
      queries: DataFrame,
      codes: DataFrame,
      codebook: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      dim: Int,
      m: Int,
      ksub: Int,
      k: Int,
      shortlist: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val short = if (shortlist > 0) shortlist else 4 * k
    val q = queries.select(col(queryId).as("query_id"),
      transform(col(queryVec), x => x.cast("double")).as("__qv"))
    val qnorm = sqrt(aggregate(col("__qv"), lit(0.0), (acc, x) => acc + x * x))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    // per-query ADC table, flattened to one array indexed sub*ksub+code
    val adc = q
      .select(col("query_id"), col("__qv"), qnorm.as("__qn"), posexplode(
        array((0 until m).map(s => slice(col("__qv"), s * dsub + 1, dsub)): _*))
        .as(Seq("sub", "qsv")))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("__qn"), col("sub"), col("code"),
        dot(col("qsv"), col("cv")).as("t"))
      .groupBy("query_id")
      .agg(
        transform(array_sort(collect_list(struct(col("sub"), col("code"), col("t")))),
          p => p.getField("t")).as("__tbl"),
        first(col("__qn")).as("__qn"))
    // code-only scoring pass: m lookups per (query, vector)
    val contrib = transform(col("codes"),
      (c, i) => element_at(col("__tbl"), i * ksub + c + 1))
    val scored0 = codes.crossJoin(broadcast(adc))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Det.round(
          aggregate(contrib, lit(0.0), (acc, x) => acc + x) /
            (col("__qn") * col("norm")), 6).as("sim"))
    val scored = if (excludeSelf) scored0.filter(col("query_id") =!= col("neighbor_id"))
      else scored0
    val cand = topKPerQuery(scored, short)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the bounded shortlist
    val reranked = cand
      .join(q, "query_id")
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(reranked, k)
  }

  /** IVF-PQ — the composed billion-vector serving shape (Jégou et
    * al.'s full recipe): the coarse quantizer ([[ivfIndex]]) prunes
    * the corpus to `nProbe` cells per query, PQ codes ([[pqEncode]])
    * score the surviving candidates from `m` table lookups each, and
    * the bounded shortlist re-ranks with exact cosine. Per query the
    * scan touches `nProbe/nCentroids` of the code table (9ish bytes a
    * vector) and NO raw vectors until the shortlist — both sub-linear
    * levers at once, which is why this is the layout a billion-vector
    * corpus actually persists.
    *
    * Both quantizers are engine-exact (portable seeds, rounded
    * argmin/argmax, integer-quantized means — see [[ivfIndex]] /
    * [[pqCodebook]]), probe ranking and the ADC score are Det-rounded,
    * so the WHOLE composed path replays in SQL
    * (`q_ivf_pq_knn` = [[kmeansDuckCtes]] + [[pqKnnDuckCtes]] with the
    * probe restriction) — rank approximation comes only from the
    * declared pruning, never from engine nondeterminism.
    */
  def ivfPqKnn(
      queries: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      codes: DataFrame,
      codebook: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      queryVec: String,
      corpusVec: String,
      dim: Int,
      m: Int,
      ksub: Int,
      k: Int,
      nProbe: Int = 3,
      shortlist: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val short = if (shortlist > 0) shortlist else 4 * k
    val q = queries.select(col(queryId).as("query_id"),
      transform(col(queryVec), x => x.cast("double")).as("__qv"))
    // coarse probe: nProbe best cells by ROUNDED cosine (ties to the
    // smaller centroid id) — rounded so the probe set is replayable
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        Det.round(cosine(col("__qv"), col("cv")), 6).as("__cs"))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cs").desc, col("centroid_id"))))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("centroid_id"))
    val qnorm = sqrt(aggregate(col("__qv"), lit(0.0), (acc, x) => acc + x * x))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val adc = q
      .select(col("query_id"), col("__qv"), qnorm.as("__qn"), posexplode(
        array((0 until m).map(s => slice(col("__qv"), s * dsub + 1, dsub)): _*))
        .as(Seq("sub", "qsv")))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("__qn"), col("sub"), col("code"),
        dot(col("qsv"), col("cv")).as("t"))
      .groupBy("query_id")
      .agg(
        transform(array_sort(collect_list(struct(col("sub"), col("code"), col("t")))),
          p => p.getField("t")).as("__tbl"),
        first(col("__qn")).as("__qn"))
    // candidates: only codes in probed cells — the equi-join replaces
    // pqKnn's full code-table pass
    val cand = codes.join(index, Seq("vec_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(adc), Seq("query_id"))
    val contrib = transform(col("codes"),
      (c, i) => element_at(col("__tbl"), i * ksub + c + 1))
    val scored0 = cand.select(col("query_id"), col("vec_id").as("neighbor_id"),
      Det.round(
        aggregate(contrib, lit(0.0), (acc, x) => acc + x) /
          (col("__qn") * col("norm")), 6).as("sim"))
    val scored = if (excludeSelf) scored0.filter(col("query_id") =!= col("neighbor_id"))
      else scored0
    val candTop = topKPerQuery(scored, short)
      .select(col("query_id"), col("neighbor_id"))
    val reranked = candTop
      .join(q, "query_id")
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Det.round(cosine(col("__qv"), col("__cv")), 6).as("sim"))
    topKPerQuery(reranked, k)
  }
}
