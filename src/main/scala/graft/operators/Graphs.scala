package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-graph analytics over an edge list — the authority half of a
  * crawl pipeline: [[TextAnalysis.extractLinks]] +
  * [[Urls.normalizeUrl]] produce the edges; these operators turn them
  * into per-page quality signals (in/out degree, PageRank) of the
  * kind web-corpus curation uses alongside the text-level gates.
  *
  * All arithmetic is DECIMAL: rank mass is exact under any
  * partition/merge order (a double PageRank differs run to run in the
  * low bits — unacceptable for a reproducible curation signal), so
  * the fixed-iteration result is bit-deterministic, spec-pinnable,
  * and stable across reruns at any parallelism.
  */
object Graphs {

  /** In/out degree per node from an edge list `(src, dst)` — two
    * count aggregates outer-joined on the node. Zero-degree sides
    * read as 0, so every node that appears anywhere gets a row.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Per-node triangle counts via DEGREE-ORIENTED wedge joins — the
    * classic scale-safe formulation (Cohen's MapReduce triangle
    * counting / Schank-Wagner forward algorithm): orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher, then a triangle `{a,b,c}` is counted EXACTLY ONCE as a
    * wedge `a→b, a→c` closed by the oriented edge `b→c`.
    *
    * Why orientation matters at scale: the naive wedge join explodes
    * on hubs — a degree-d node yields d² wedges, and real graphs'
    * heavy tails make that the whole job. Orienting by degree caps
    * every node's OUT-degree at O(√|E|) (a node with out-degree k has
    * k higher-degree neighbors, each of degree ≥ k, so k² ≤ 2|E|),
    * which bounds the wedge count at O(|E|^1.5) — the theoretical
    * optimum — with plain equi-joins, no special-casing.
    *
    * Input `(src, dst)`; self-loops dropped, direction and
    * multiplicity ignored. Output `(node, triangles)` zero-filled
    * over every endpoint. Ties in degree break by id so the
    * orientation (and the plan) is deterministic.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // Canonical undirected edge set: (lo, hi) by id, distinct.
    val und = Materialize(edges
      .filter(col("src") =!= col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct())
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Orient u→v when (deg, id) of u < (deg, id) of v — struct
    // comparison gives the lexicographic (degree, id) order directly.
    // The HIGH endpoint's degree rides along (`db`): wedge pairs then
    // order their two far endpoints by the SAME (deg, id) key the
    // orientation used, which makes the closing edge's direction
    // known in advance — the closure below stays a pure equi-join
    // (an order-free OR match would plan a nested loop).
    val oriented = Materialize(und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
            struct(col("u").as("a"), col("v").as("b"), col("dv").as("db")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"), col("du").as("db"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db")))
    // Wedges from each low endpoint; far endpoints (x, y) ordered by
    // (deg, id), so the closing oriented edge is exactly x→y.
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.a") === col("e2.a") &&
        struct(col("e1.db"), col("e1.b")) < struct(col("e2.db"), col("e2.b")))
      .select(col("e1.a").as("a"), col("e1.b").as("x"), col("e2.b").as("y"))
    val tris = Materialize(wedges.as("w").join(oriented.as("c"),
        col("c.a") === col("w.x") && col("c.b") === col("w.y"))
      .select(col("w.a").as("a"), col("w.x").as("x"), col("w.y").as("y")))
    val perNode = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("x").as("node")))
      .unionAll(tris.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.select(col("node")).join(perNode, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  // Precision 19, scale 18 (ranks live in [0, 1]): a wider type would
  // trip Spark's precision-loss adjustment on division — at
  // DECIMAL(38,18) any quotient's scale collapses to 6, which is why
  // every arithmetic step below re-casts its result to RankType (the
  // cast is a deterministic HALF_UP at scale 18; with operand
  // precision this small no intermediate ever truncates below it).
  private val RankType = DecimalType(19, 18)

  /** Fixed-iteration PageRank with damping `d` (as a 2-dp DECIMAL
    * fraction `dNum/100`) and dangling-mass redistribution. Output:
    * `(node, rank)` with rank a DECIMAL(38,18); ranks sum to ~1
    * (exact up to division-rounding dust — spec-pinned).
    *
    * Scale shape per iteration: one equi-join of the rank frame onto
    * the degree-annotated edge list (both hash on src — the edge
    * frame is materialized ONCE up front, so the join re-reads a cut
    * plan, not the raw source), one aggregate shuffling (dst,
    * contribution) pairs with map-side partial sums (a hub page's
    * in-links combine per partition), and two 1-row aggregates
    * (dangling mass — broadcast back as a scalar). The iteration
    * frame is re-materialized and its predecessor released, exactly
    * the [[Dedup.connectedComponents]] loop discipline, so lineage
    * stays O(1) in the iteration count.
    *
    * Dangling nodes (no out-edges) redistribute their mass uniformly
    * — without this, total rank decays and the signal skews toward
    * well-linked clusters.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      dNum: Int = 85): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(dNum >= 0 && dNum <= 100, "damping numerator in [0,100]")
    val d = lit(new java.math.BigDecimal(dNum).movePointLeft(2)).cast(RankType)
    val oneMinusD =
      lit(new java.math.BigDecimal(100 - dNum).movePointLeft(2)).cast(RankType)

    val nodes = Materialize(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "pageRank: empty edge list — no nodes to rank " +
      "(the 1/N init would divide by zero)")
    // node-count-sized; read every iteration by the dangling anti-join
    val outDeg = Materialize(edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg")))
    // (src, dst, out_deg) — the loop-invariant frame, computed once.
    val linked = Materialize(
      edges.join(outDeg, edges("src") === outDeg("node"))
        .select(col("src"), col("dst"), col("out_deg")))

    val init = (lit(1).cast(RankType) / lit(n)).cast(RankType)
    val base = (oneMinusD / lit(n)).cast(RankType)
    // Dangling mass rides each ranks materialization as an observe
    // metric (round 20 — the materializeSigsProbed zero-pass trick):
    // the per-iteration `ranks ⋉ no-out-edge` aggregate was a separate
    // driver collect JOB (plus its planning) every iteration, ~1/3 of
    // the query's job count. The rank column's arithmetic is UNTOUCHED
    // — the extra left join only flags out-degree presence for the
    // metric, and the collected BigDecimal (scale 18, same value)
    // feeds the same value-typed literal, so the DECIMAL trajectory —
    // and the DuckDB twin — stay bit-identical. Non-local Materialize
    // modes fall back to the exact aggregate (metrics don't cross a
    // persist+count execution).
    def rankCutProbed(planned: DataFrame): (DataFrame, () => java.math.BigDecimal) = {
      val flagged = planned
        .join(outDeg.select(col("node"), col("out_deg").as("__od")),
          Seq("node"), "left_outer")
        .observe("graft_pr_dangling",
          sum(when(col("__od").isNull, col("rank"))).as("m"))
        .select(col("node"), col("rank"))
      val cut = Materialize(flagged)
      val thunk = () => {
        val mm = flagged.queryExecution.observedMetrics
        if (mm.isEmpty) {
          // exact fallback: the pre-round-20 aggregate, one job
          cut.join(outDeg.select(col("node")), Seq("node"), "left_anti")
            .agg(coalesce(sum(col("rank")), lit(0).cast(RankType))
              .cast(RankType).as("m"))
            .head.getDecimal(0)
        } else {
          val m = mm.values.head.getAs[java.math.BigDecimal]("m")
          if (m == null) java.math.BigDecimal.ZERO.setScale(18) else m
        }
      }
      (cut, thunk)
    }
    var (ranks, danglingOf) = rankCutProbed(nodes.withColumn("rank", init))
    var i = 0
    while (i < iterations) {
      val contribs = linked
        .join(ranks, linked("src") === ranks("node"))
        .select(col("dst").as("node"),
          (col("rank") / col("out_deg")).cast(RankType).as("contrib"))
        .groupBy("node")
        .agg(sum(col("contrib")).cast(RankType).as("inbound"))
      // dangling mass: rank held by nodes with no out-edges — read off
      // the PREVIOUS cut's observe metric, zero extra jobs
      val dangling = danglingOf()
      val redistributed = (d * lit(dangling).cast(RankType) / lit(n))
        .cast(RankType)
      val prev = ranks
      val (nextRanks, nextDangling) = rankCutProbed(nodes
        .join(contribs, Seq("node"), "left_outer")
        .select(col("node"),
          (base
            + (d * coalesce(col("inbound"), lit(0).cast(RankType))).cast(RankType)
            + redistributed).cast(RankType).as("rank")))
      ranks = nextRanks
      danglingOf = nextDangling
      Materialize.release(prev)
      i += 1
    }
    Materialize.release(nodes)
    Materialize.release(linked)
    Materialize.release(outDeg)
    ranks
  }

  /** DuckDB twin of [[pageRank]] — bit-exact fixed-point replay of the
    * DECIMAL(19,18) iteration in HUGEINT arithmetic (ranks as scale-18
    * integers), so `q_pagerank` hash-matches instead of being declared
    * rows-only.
    *
    * What must be replicated, per Spark 4's decimal semantics (all
    * verified against `Decimal.$div` bytecode + live type probes):
    *
    *  - Division computes at scale `MAX_SCALE + 1 = 39` HALF_UP first
    *    (`BigDecimal.divide(b, 39, HALF_UP)`), then `CheckOverflow`
    *    rounds ONCE to the result type's scale, then our explicit
    *    `.cast(RankType)` rounds ONCE more to 18. Result-type scales:
    *    `rank / out_deg` (BIGINT column → DECIMAL(20,0)) is (38,37);
    *    `x / lit(n)` gets LITERAL precision — DECIMAL(digits(n),0) —
    *    so the type is (19+digits(n)+1, 18+digits(n)+1), value-
    *    dependent, which the SQL derives from
    *    `len(CAST(count(*) AS VARCHAR))`; `(d*m) / lit(n)` adjusts to
    *    (38,35).
    *  - Multiplication of two (19,18)s is exact (≤36 significant
    *    digits < MathContext's 38), then rounds 36→35, then cast→18.
    *  - A scale-39 value of magnitude ~1 needs 10^39 > HUGEINT max,
    *    so the 39→type-scale rounding is folded analytically: with
    *    `N' = numerator·10^(37-S)`, `a = N'//den`, and the two
    *    beyond-37 digits summarized as
    *    `u = (100·(N'%den))//den + half-round ∈ [0,100]`, the
    *    one-step round of `v39 = 100a+u` to scale `39-k` is
    *    `a//10^(k-2) + [2·(100·(a%10^(k-2)) + u) ≥ 10^k]` — every
    *    operand ≤ ~10^37. Verified ≡ BigDecimal on 50 random graphs
    *    plus boundary probes before being frozen here.
    *  - Dangling mass is a per-iteration scalar (anti-join sum) and
    *    the final DOUBLE is produced by string-casting the scale-18
    *    integer (both engines' string→double conversions are
    *    correctly rounded; `BigDecimal.doubleValue` goes through the
    *    same decimal-string path).
    *
    * `edgesSql` must yield columns `(src, dst)`. The returned SQL ends
    * with `SELECT node, rank` where rank is [[Det.roundSql]]-rounded
    * to 10 dp, matching `q_pagerank`'s output contract.
    */
  def pageRankDuckSql(edgesSql: String, iterations: Int, dNum: Int = 85): String = {
    require(iterations >= 1, "need at least one iteration")
    require(dNum >= 0 && dNum <= 100, "damping numerator in [0,100]")
    val E17 = "100000000000000000::HUGEINT"
    val E18 = "1000000000000000000::HUGEINT"
    val E19 = "10000000000000000000::HUGEINT"
    val IA = "'1" + "0" * 37 + "'::HUGEINT" // 1.0 · 10^(37-18+18)
    val BN = "'" + (BigInt(100 - dNum) * BigInt(10).pow(35)).toString + "'::HUGEINT"
    val D18 = "'" + (BigInt(dNum) * BigInt(10).pow(16)).toString + "'::HUGEINT"
    def rnd(x: String, p: String): String =
      s"$x // $p + CASE WHEN 2 * ($x % $p) >= $p THEN 1 ELSE 0 END"
    val head =
      s"""WITH edges AS ($edgesSql),
         |nodes AS (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM edges
         |    UNION ALL SELECT dst FROM edges) tn),
         |outdeg AS (
         |  SELECT src AS node, CAST(count(*) AS HUGEINT) AS deg
         |  FROM edges GROUP BY src),
         |linked AS (
         |  SELECT e.src, e.dst, o.deg
         |  FROM edges e JOIN outdeg o ON e.src = o.node),
         |t0 AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST('1' || repeat('0',
         |      CAST(18 - len(CAST(count(*) AS VARCHAR)) AS INTEGER))
         |      AS HUGEINT) AS p18md,
         |    CAST('1' || repeat('0',
         |      CAST(len(CAST(count(*) AS VARCHAR)) + 1 AS INTEGER))
         |      AS HUGEINT) AS p10b
         |  FROM nodes),
         |t1 AS (
         |  SELECT n, p18md, p10b,
         |    $IA // n AS ai, 100 * ($IA % n) AS ti,
         |    $BN // n AS ab, 100 * ($BN % n) AS tb
         |  FROM t0),
         |t2 AS (
         |  SELECT n, p18md, p10b, ai, ${rnd("ti", "n")} AS ui,
         |    ab, ${rnd("tb", "n")} AS ub
         |  FROM t1),
         |t3 AS (
         |  SELECT n, p18md, p10b, ai // p18md AS bi, ai % p18md AS ci, ui,
         |    ab // p18md AS bb, ab % p18md AS cb, ub
         |  FROM t2),
         |t4 AS (
         |  SELECT n, p10b,
         |    bi + CASE WHEN 2 * (100 * ci + ui) >= 100 * p18md
         |         THEN 1 ELSE 0 END AS vsi,
         |    bb + CASE WHEN 2 * (100 * cb + ub) >= 100 * p18md
         |         THEN 1 ELSE 0 END AS vsb
         |  FROM t3),
         |sc AS (
         |  SELECT n, ${rnd("vsi", "p10b")} AS init,
         |    ${rnd("vsb", "p10b")} AS base
         |  FROM t4),
         |r0 AS (SELECT node, sc.init AS rank FROM nodes CROSS JOIN sc)""".stripMargin
    val iters = (1 to iterations).map { j =>
      val i = j - 1
      s"""x$j AS (
         |  SELECT l.dst AS node, l.deg, r.rank * $E19 AS np
         |  FROM linked l JOIN r$i r ON l.src = r.node),
         |y$j AS (
         |  SELECT node, deg, np // deg AS qa, 100 * (np % deg) AS qt
         |  FROM x$j),
         |z$j AS (
         |  SELECT node, qa + CASE WHEN ${rnd("qt", "deg")} >= 50
         |    THEN 1 ELSE 0 END AS v37
         |  FROM y$j),
         |c$j AS (
         |  SELECT node, SUM(${rnd("v37", E19)}) AS inbound
         |  FROM z$j GROUP BY node),
         |m$j AS (
         |  SELECT COALESCE(SUM(r.rank), 0::HUGEINT) AS m
         |  FROM r$i r LEFT JOIN outdeg o ON r.node = o.node
         |  WHERE o.node IS NULL),
         |ga$j AS (SELECT $D18 * m AS p36, sc.n FROM m$j CROSS JOIN sc),
         |gb$j AS (SELECT (${rnd("p36", "10")}) * 100 AS np, n FROM ga$j),
         |gc$j AS (SELECT np // n AS qa, 100 * (np % n) AS qt, n FROM gb$j),
         |gd$j AS (
         |  SELECT qa // 100 AS qb, qa % 100 AS qc, ${rnd("qt", "n")} AS qu
         |  FROM gc$j),
         |ge$j AS (
         |  SELECT qb + CASE WHEN 2 * (100 * qc + qu) >= 10000
         |    THEN 1 ELSE 0 END AS v35
         |  FROM gd$j),
         |g$j AS (SELECT ${rnd("v35", E17)} AS red FROM ge$j),
         |da$j AS (SELECT node, $D18 * inbound AS p36 FROM c$j),
         |db$j AS (SELECT node, ${rnd("p36", "10")} AS v35 FROM da$j),
         |d$j AS (SELECT node, ${rnd("v35", E17)} AS dv FROM db$j),
         |r$j AS (
         |  SELECT nd.node, sc.base + COALESCE(d.dv, 0::HUGEINT) + g.red AS rank
         |  FROM nodes nd CROSS JOIN sc CROSS JOIN g$j g
         |  LEFT JOIN d$j d ON nd.node = d.node)""".stripMargin
    }.mkString(",\n")
    val rankDouble =
      s"CAST(CAST(rank // $E18 AS VARCHAR) || '.' || " +
        s"lpad(CAST(rank % $E18 AS VARCHAR), 18, '0') AS DOUBLE)"
    val tail =
      s"""SELECT node, ${graft.functions.Det.roundSql(rankDouble, 10)} AS rank
         |FROM r$iterations""".stripMargin
    head + ",\n" + iters + "\n" + tail
  }
}
