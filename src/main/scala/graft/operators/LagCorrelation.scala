package graft.operators

import graft.core.MappingConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lag-scan Pearson correlation — the reference's flagship method
  * (/root/reference/mapping_engine.py:117-160, 241-264).
  *
  * The scan itself is the per-entity kernel's ([[MappingKernel.lagCorrTable]]):
  * one exchange of the merged series by key, one call per key that walks
  * the calendar lags 0..maxLag. The relational operators here stage its
  * per-lag table: the best-lag argmax and the nested `all_lags` summary.
  * The join-back at the best lags is the kernel's too ([[mapping]]). No
  * driver-side collection anywhere.
  */
object LagCorrelation {

  /** Per-(key, lag) correlation table: `(key, lag, correlation, n_overlap)`,
    * from a merged table with one row per (key, period).
    *
    * Semantics preserved from the reference kernel: a lag is skipped unless
    * at least `minOverlap` (=2) aligned points exist
    * (mapping_engine.py:136-149), and zero-variance series (NaN corr) are
    * dropped (pearsonr-NaN guard, mapping_engine.py:153-156). Alignment is
    * calendar-based: v1(t) pairs with v2(t + lag), equivalent to the
    * reference's positional slicing on gap-free series (SURVEY.md §7.4).
    * A key's merged series is held in one task. */
  def lagCorrTable(merged: DataFrame, cfg: MappingConfig): DataFrame =
    MappingKernel.lagCorrTable(merged, cfg)

  /** Best lag per key via window argmax. Tie-break mirrors the reference's
    * strict `>` (keeps the earliest best lag, mapping_engine.py:154): order
    * corr DESC, lag ASC. Correlation is rounded to 6 decimals *before*
    * ranking so the choice is stable across engines (ulp-level corr
    * differences must not flip the argmax vs the DuckDB oracle). */
  def bestLag(corrTable: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("key"))
      .orderBy(round(col("correlation"), 6).desc, col("lag").asc)
    corrTable
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("key"),
        col("lag").as("optimal_lag"),
        round(col("correlation"), 6).as("correlation"),
        col("n_overlap"))
  }

  /** Per-entity summary matching the reference's correlation UDF output
    * (mapping_engine.py:232-239): optimal lag + correlation + series stats,
    * PLUS the nested `all_lags` array-of-struct the reference exposes for
    * later exploration (02_corr_mapping.p:25-29) — sorted by lag, each
    * element (lag, correlation, n_overlap).
    *
    * One groupBy pass builds the nested array AND derives the best lag
    * from it (array fold argmax — strict `>` over the lag-ascending array
    * keeps the earliest best, identical to [[bestLag]]'s window ranking),
    * so the per-(key,lag) table is aggregated once, not twice. */
  def summary(merged: DataFrame, cfg: MappingConfig): DataFrame = {
    val stats = merged
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("num_periods"),
        round(avg(col("v1")), 6).as("v1_mean"),
        round(avg(col("v2")), 6).as("v2_mean"))
    val perKey = lagCorrTable(merged, cfg)
      .select(
        col("key"),
        struct(
          col("lag"),
          round(col("correlation"), 6).as("correlation"),
          col("n_overlap")).as("lc"))
      .groupBy(col("key"))
      .agg(array_sort(collect_list(col("lc"))).as("all_lags"))
    val best = aggregate(
      slice(col("all_lags"), lit(2), size(col("all_lags")) - 1),
      element_at(col("all_lags"), 1),
      (acc, x) => when(x.getField("correlation") > acc.getField("correlation"), x).otherwise(acc))
    perKey
      .select(
        col("key"),
        best.getField("lag").as("optimal_lag"),
        best.getField("correlation").as("correlation"),
        best.getField("n_overlap").as("n_overlap"),
        col("all_lags"))
      .join(stats, Seq("key"))
  }

  /** Row-level mapping: the kernel's join-back
    * ([[MappingKernel.mappingWithBest]]) maps each t1 row at p, not only
    * merged ones, to t2 at p + the key's optimal lag, carrying the score
    * (mapping_engine.py:616-637, SURVEY.md §7.3). `best` is one row per
    * entity (key, optimal_lag, correlation); it is tagged onto t1's side of
    * the kernel's cogroup, not joined. Keys under `cfg.minCorrelation`, and
    * rows with a null lag or correlation, give no rows; a key with two rows
    * fails, naming it. */
  def mapping(t1: DataFrame, t2: DataFrame, best: DataFrame, cfg: MappingConfig): DataFrame =
    MappingKernel.mappingWithBest(t1, t2, best, cfg.copy(method = "correlation"))
}
