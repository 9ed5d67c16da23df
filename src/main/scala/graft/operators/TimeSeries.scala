package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series subsequence similarity search — the distributed form
  * of the streaming-similarity shape (EDBT'19's "Time Series
  * Similarity Search for Streaming Data in Distributed Systems"):
  * find the corpus windows most similar to a query pattern, where
  * "similar" is Pearson correlation — the z-normalized measure, so a
  * series matches the SHAPE regardless of its level or scale (the
  * property Matrix-Profile-style searches normalize for).
  *
  * Engine-exact by construction: values quantize to integer units
  * (`scale` decimal digits — exact for fixed-point telemetry like
  * prices/readings), every windowed sum (`Σw`, `Σw²`, `Σwq`) is
  * integer arithmetic, and the correlation is ONE fixed-shape double
  * expression over those integers — `sqrt` is IEEE-exactly-rounded in
  * every engine, so numerator/denominator reproduce bit-for-bit and
  * [[graft.functions.Det.round]] pins the printed value. Zero-
  * variance windows (flat lines) are excluded by an INTEGER test
  * (`n·Σw² > (Σw)²`), never a float epsilon.
  *
  * Scale shape: windows come from a per-key BOUNDED frame
  * (`rowsBetween(0, n-1)` over (ts, tiebreak) — the `nextEvent`
  * keyed-window discipline: one shuffle by key, task size bounded by
  * one key's history); per-window work is O(n) integer folds; the
  * global cut is `TakeOrderedAndProject` via `orderBy(...).limit(k)`
  * — never a corpus-wide window.
  */
object TimeSeries {

  /** Top-`k` length-`|query|` windows by Pearson correlation against
    * `query`: `(key, start_ts, corr)`, ordered corr-desc with
    * deterministic `(key, ts)` tie-breaks. `valueCol` is quantized at
    * `scale` decimal digits before any arithmetic.
    */
  def similarSubsequences(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      query: Seq[Double],
      k: Int,
      tiebreakCol: String,
      scale: Int = 1): DataFrame = {
    val n = query.size
    require(n >= 2, "query pattern needs at least 2 points")
    require(k >= 1, "k must be >= 1")
    val unit = math.pow(10, scale)
    val q = query.map(v => math.round(v * unit))
    val sq = q.sum
    val sqq = q.map(x => x * x).sum
    require(n * sqq > sq * sq, "query pattern must not be constant")
    val qLit = array(q.map(lit): _*)

    // the window runs over the RENAMED projection below
    val w = Window.partitionBy("key")
      .orderBy(col("start_ts"), col("__tie"))
      .rowsBetween(Window.currentRow, n - 1)
    val v10 = round(col(valueCol) * lit(unit)).cast("long")
    val windows = df
      .select(col(keyCol).as("key"), col(tsCol).as("start_ts"),
        col(tiebreakCol).as("__tie"), v10.as("__v"))
      .withColumn("__w", collect_list(col("__v")).over(w))
      .filter(size(col("__w")) === n)
    val sw = aggregate(col("__w"), lit(0L), (a, x) => a + x)
    val sww = aggregate(col("__w"), lit(0L), (a, x) => a + x * x)
    val swq = aggregate(zip_with(col("__w"), qLit, (a, b) => a * b),
      lit(0L), (a, x) => a + x)
    val staged = windows
      .withColumn("__sw", sw).withColumn("__sww", sww).withColumn("__swq", swq)
      // integer zero-variance exclusion — flat windows have no shape
      .filter(lit(n.toLong) * col("__sww") > col("__sw") * col("__sw"))
    val corr = graft.functions.Det.round(
      (lit(n.toLong) * col("__swq") - col("__sw") * lit(sq)).cast("double") /
        (sqrt((lit(n.toLong) * col("__sww") - col("__sw") * col("__sw")).cast("double")) *
          sqrt(lit((n * sqq - sq * sq).toDouble))),
      6)
    staged.select(col("key"), col("start_ts"), corr.as("corr"), col("__tie"))
      .orderBy(col("corr").desc, col("key"), col("start_ts"), col("__tie"))
      .limit(k)
      .select(col("key"), col("start_ts"), col("corr"))
  }

  /** The DuckDB twin of one [[similarSubsequences]] call over a
    * `(key, start_ts, tie, v10)` source CTE — same integer sums, same
    * fixed-shape correlation, same cut. The quantized query pattern
    * lives in a MATERIALIZED `(i, qv)` coefficient CTE joined by
    * position (the documented minhash-lane fix) — a list literal
    * inside a per-window lambda would be re-materialized by DuckDB
    * 1.0 once per element evaluation, quadratic in pattern length.
    */
  def similarDuckSql(
      srcCte: String,
      query: Seq[Double],
      k: Int,
      scale: Int = 1): String = {
    val n = query.size
    val unit = math.pow(10, scale)
    val q = query.map(v => math.round(v * unit))
    val sq = q.sum
    val sqq = q.map(x => x * x).sum
    val qLit = q.mkString("[", ", ", "]")
    val denomQ = (n * sqq - sq * sq).toDouble
    s"""ts_q AS MATERIALIZED (
       |  SELECT CAST(u.i AS INTEGER) AS i,
       |    ($qLit)[CAST(u.i AS INTEGER)] AS qv
       |  FROM unnest(range(1, ${n + 1})) AS u(i)),
       |ts_win AS (
       |  SELECT key, start_ts, tie,
       |    list(v10) OVER (PARTITION BY key ORDER BY start_ts, tie
       |      ROWS BETWEEN CURRENT ROW AND ${n - 1} FOLLOWING) AS w
       |  FROM $srcCte),
       |ts_base AS (
       |  SELECT key, start_ts, tie, w,
       |    CAST(list_sum(w) AS BIGINT) AS sw,
       |    CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS sww
       |  FROM ts_win WHERE len(w) = $n),
       |ts_sums AS (
       |  SELECT b.key, b.start_ts, b.tie,
       |    min(b.sw) AS sw, min(b.sww) AS sww,
       |    CAST(sum(b.w[q.i] * q.qv) AS BIGINT) AS swq
       |  FROM ts_base b, ts_q q
       |  GROUP BY b.key, b.start_ts, b.tie),
       |ts_corr AS (
       |  SELECT key, start_ts, tie,
       |    ${graft.functions.Det.roundSql(
             s"CAST($n * swq - sw * ${sq} AS DOUBLE) / " +
               s"(sqrt(CAST($n * sww - sw * sw AS DOUBLE)) * sqrt($denomQ))", 6)} AS corr
       |  FROM ts_sums
       |  WHERE $n * sww > sw * sw)
       |SELECT key, start_ts, corr FROM ts_corr
       |ORDER BY corr DESC, key, start_ts, tie
       |LIMIT $k""".stripMargin
  }
}
