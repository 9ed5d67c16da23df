package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Det

/** Equi-depth (quantile) binning — the standard feature-engineering
  * discretizer: per group, learn `nBins - 1` internal quantile
  * boundaries, then assign every row the count of boundaries strictly
  * below its value (bin 0..nBins-1, left-open/right-closed buckets).
  * Used for score bucketing, stratified downsampling keys, and
  * monotone feature compression in training pipelines.
  *
  * Two boundary paths, same assignment:
  *  - [[quantileBoundaries]]: exact sort-based `percentile` (linear
  *    interpolation — the same arithmetic as DuckDB `quantile_cont`,
  *    which is what makes the oracle check possible);
  *  - [[approxQuantileBoundaries]]: `percentile_approx`'s mergeable
  *    KLL-ish sketch — the 100 TB path: map-side sketch partials,
  *    no global sort, bounded error `1/accuracy`.
  *
  * Assignment is a broadcast join of the boundary table (|groups| ×
  * (nBins-1) doubles — bounded by construction) plus a map-only
  * array count, so the data pass never shuffles.
  *
  * Determinism contract: boundaries are Det-rounded (4 dp default)
  * before comparison — raw interpolated doubles can differ at the
  * last ulp across engines, which would flip rows sitting exactly on
  * a boundary.
  */
object Binning {

  private def probs(nBins: Int): Seq[Double] =
    (1 until nBins).map(_.toDouble / nBins)

  /** Exact per-group internal boundaries: `(groupCols..., bounds)`
    * with `bounds` the (nBins-1)-element quantile array.
    */
  def quantileBoundaries(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"need at least 2 bins, got $nBins")
    df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, array(${probs(nBins).mkString(", ")}))")
        .as("bounds"))
  }

  /** Sketch-based boundaries — identical shape, bounded error. */
  def approxQuantileBoundaries(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      nBins: Int,
      accuracy: Int = 10000): DataFrame = {
    require(nBins >= 2, s"need at least 2 bins, got $nBins")
    df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile_approx($valueCol, array(${probs(nBins).mkString(", ")}), $accuracy)")
        .as("bounds"))
  }

  /** Attach `bin` (int, 0-based) to every row: the count of rounded
    * boundaries strictly below the value.
    */
  def withBins(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      boundaries: DataFrame,
      roundScale: Int = 4): DataFrame =
    df.join(broadcast(boundaries), groupCols)
      .withColumn("bin",
        size(filter(col("bounds"), b => col(valueCol) > Det.round(b, roundScale)))
          .cast("int"))
      .drop("bounds")

  /** One-call exact form: learn boundaries on `df` itself and assign. */
  def equiDepthBins(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      nBins: Int): DataFrame =
    withBins(df, groupCols, valueCol,
      quantileBoundaries(df, groupCols, valueCol, nBins))

  /** Winsorization (quantile clipping): clamp `valueCol` into its
    * per-group `[loQ, hiQ]` quantile range — the standard outlier cap
    * before averaging noisy metrics or feeding scale-sensitive
    * models. Appends `<valueCol>_w`.
    *
    * Scale shape: caps are one exact-percentile aggregate per group
    * (group-count-sized — broadcast back), the clamp is map-only
    * `least/greatest`. Caps are Det-rounded (`roundScale` dp) before
    * clamping, the same boundary discipline as [[withBins]]: Spark's
    * `percentile` interpolates exactly like DuckDB's `quantile_cont`,
    * and the rounding keeps boundary rows from flipping across
    * engines. The sketch path at 100 TB swaps in `percentile_approx`
    * exactly as [[approxQuantileBoundaries]] does for bins.
    */
  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      loQ: Double,
      hiQ: Double,
      roundScale: Int = 4): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, s"need 0 <= loQ < hiQ <= 1")
    val caps = df.groupBy(groupCols.map(col): _*)
      .agg(
        Det.round(expr(s"percentile($valueCol, $loQ)"), roundScale).as("__lo"),
        Det.round(expr(s"percentile($valueCol, $hiQ)"), roundScale).as("__hi"))
    df.join(broadcast(caps), groupCols)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }
}
