package graft.operators

import graft.core.{MappingConfig, SeriesTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lag-scan Pearson correlation — the reference's flagship method
  * (/root/reference/mapping_engine.py:117-160, 241-264).
  *
  * The scan itself is the per-entity kernel's ([[MappingKernel.lagCorrTable]]):
  * one exchange of the merged series by key, one call per key that walks
  * the calendar lags 0..maxLag. The relational operators here stage its
  * per-lag table: the best-lag argmax, the nested `all_lags` summary and
  * the lag-shifted join-back. No driver-side collection anywhere.
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

  /** Row-level mapping: join the *raw* (not merged) tables through the
    * per-entity optimal lag — preserving the reference quirk that mapping
    * rows may exist for periods absent from the merged set
    * (mapping_engine.py:616-637, SURVEY.md §7.3).
    *
    * `best` is one row per entity; it is joined back ONCE, carrying the
    * score into the output, and broadcast when `cfg.broadcastSummaries`
    * (the reference's choice, mapping_engine.py:617, 641) — at very high
    * entity counts set it false and AQE picks the strategy from runtime
    * sizes.
    */
  def mapping(t1: DataFrame, t2: DataFrame, best: DataFrame, cfg: MappingConfig): DataFrame = {
    val valid = best.filter(col("correlation") >= cfg.minCorrelation)
    mappingWithLags(t1, t2, valid.select(col("key"), col("optimal_lag"), col("correlation")), cfg)
  }

  /** Broadcast per-entity summaries when the config says so (reference
    * default); otherwise leave the join strategy to Catalyst/AQE. Shared
    * by every operator that joins a one-row-per-entity table back to a
    * fact table. */
  private[operators] def maybeBroadcast(df: DataFrame, cfg: MappingConfig): DataFrame =
    if (cfg.broadcastSummaries) broadcast(df) else df

  /** The shared lag-shifted join-back: map t1 rows to t2 rows at
    * period + optimal_lag, given per-entity lags `(key, optimal_lag, ...)`;
    * any further columns of `lags` (e.g. `correlation`) are carried into
    * the output after `method`. The lag-shifted join is derive-then-
    * equi-join: compute `period + optimal_lag` as a column, then a plain
    * equi-join. */
  def mappingWithLags(t1: DataFrame, t2: DataFrame, lags: DataFrame, cfg: MappingConfig): DataFrame = {
    val carried = lags.columns.toSeq.filterNot(Set("key", "optimal_lag")).map(col)
    val withLag = t1.join(maybeBroadcast(lags, cfg), Seq("key"), "inner")
    val right = t2.select(
      col("key").as("r_key"),
      col("period").as("r_period"),
      col("value").as("value2"))
    withLag
      .withColumn(
        "target_period",
        SeriesTable.shiftPeriod(col("period"), col("optimal_lag"), cfg.periodUnit))
      .join(right, col("key") === col("r_key") && col("target_period") === col("r_period"), "inner")
      .select(Seq(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("time1"),
        col("value").as("value1"),
        date_format(col("r_period"), "yyyy-MM-dd").as("time2"),
        col("value2"),
        col("optimal_lag").as("lag_offset"),
        lit("correlation").as("method")) ++ carried: _*)
  }
}
