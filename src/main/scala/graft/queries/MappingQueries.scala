package graft.queries

import graft.core.{MappingConfig, SeriesTable}
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mapping-engine queries over the events-derived daily series
  * (SURVEY.md §2 — the reference's own capability surface). */
object MappingQueries {

  private def cfg: MappingConfig = Tables.mappingConfig

  private def series(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    (Tables.engagementSeries(spark, sfDir), Tables.purchaseSeries(spark, sfDir))

  // One-pass derivation (no join): see Tables.bothSeries scale notes.
  private def merged(spark: SparkSession, sfDir: String): DataFrame =
    Tables.mergedSeries(spark, sfDir)

  // The best-lag table is the second shared staging table of the query
  // family (8 queries consume it) — one short row per entity, memoized in
  // the same registry as Tables.bothSeries so clearCache sweeps both.
  private def bestLag(s: SparkSession, dir: String): DataFrame =
    graft.sources.StagingCache.getOrElseUpdate(s, s"bestLag:$dir") {
      LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged(s, dir), cfg))
    }

  private def corrMapping(s: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = series(s, dir)
    LagCorrelation.mapping(t1, t2, bestLag(s, dir), cfg)
  }

  // Third shared staging table: per-entity DTW summaries (cost + warping
  // path) over the merged series. m6 and m8 (m11 through m8's model)
  // need them; caching means the DTW runs ONCE per (session, dir) and
  // every consumer derives from the stored paths.
  private def dtwSummaries(s: SparkSession, dir: String): DataFrame =
    graft.sources.StagingCache.getOrElseUpdate(s, s"dtwSummaries:$dir") {
      DtwMapping.summarize(merged(s, dir), cfg).toDF()
    }

  // Fourth shared staging table: the trained recommendation model (one
  // short row per entity). m8 emits it and m11 serves from it, as the
  // reference does: train once, STORE, serve from the store. Staged, the
  // model's training plan (lag scan and DTW) runs once per (session, dir)
  // however many queries read it.
  private def recommendations(s: SparkSession, dir: String): DataFrame =
    graft.sources.StagingCache.getOrElseUpdate(s, s"recommendations:$dir") {
      Comparison.recommendationsFromSummaries(merged(s, dir), dtwSummaries(s, dir), cfg)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 projection + A3 group-by agg at the scan (SURVEY.md §2.2, §2.4)
    "m1_series_agg" -> ((s, dir) => {
      Tables.engagementSeries(s, dir).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value1"))
    }),
    // J1 inner equi-join on (key, period) — the merge step (§2.3 J1)
    "m2_merged" -> ((s, dir) => {
      merged(s, dir).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("v1"), 6).as("v1"),
        round(col("v2"), 6).as("v2"))
    }),
    // A10 per-(key, lag) table: the per-entity kernel's calendar lag scan
    "m3_lag_corr" -> ((s, dir) => {
      LagCorrelation.lagCorrTable(merged(s, dir), cfg).select(
        col("key"),
        col("lag").cast("long").as("lag"),
        round(col("correlation"), 6).as("correlation"),
        col("n_overlap"))
    }),
    // window argmax: best lag per entity (§2.5)
    "m4_best_lag" -> ((s, dir) => {
      bestLag(s, dir).select(
        col("key"),
        col("optimal_lag").cast("long").as("optimal_lag"),
        col("correlation"),
        col("n_overlap"))
    }),
    // J2 lag shift: the kernel's join-back at the staged best lags (no join)
    "m5_corr_mapping" -> ((s, dir) => {
      corrMapping(s, dir).select(
        col("key"),
        col("time1"),
        round(col("value1"), 6).as("value1"),
        col("time2"),
        round(col("value2"), 6).as("value2"),
        col("lag_offset").cast("long").as("lag_offset"),
        col("method"),
        col("correlation"))
    }),
    // A11 the per-entity kernel's in-JVM DTW + explode (no SQL oracle: rows-only)
    "m6_dtw_mapping" -> ((s, dir) => {
      DtwMapping.mappingFromSummaries(dtwSummaries(s, dir)).select(
        col("key"), col("time1"), round(col("value1"), 6).as("value1"),
        col("time2"), round(col("value2"), 6).as("value2"),
        col("method"), col("dtw_cost"))
    }),
    // auto mode: the kernel's corr/dtw split at 0.7 on the staged best lags (rows-only)
    "m7_auto_mapping" -> ((s, dir) => {
      val (t1, t2) = series(s, dir)
      MappingEngine.autoMapping(merged(s, dir), t1, t2, cfg, bestLag = Some(bestLag(s, dir))).select(
        col("key"), col("time1"), round(col("value1"), 6).as("value1"),
        col("time2"), round(col("value2"), 6).as("value2"),
        col("lag_offset").cast("long").as("lag_offset"),
        col("method"), col("correlation"), col("dtw_cost"))
    }),
    // J8 comparison join + P8 recommendation CASE chains (dtw-dependent: rows-only)
    "m8_recommendations" -> ((s, dir) => {
      recommendations(s, dir).select(
        col("key"), col("correlation"),
        col("optimal_lag").cast("long").as("optimal_lag"),
        col("total_cost"), col("recommended_method"), col("confidence"), col("reason"))
    }),
    // QA layer: coverage / duplicates / lag / ratio / temporal in one plan
    "m9_qa_checks" -> ((s, dir) => {
      val (t1, _) = series(s, dir)
      QualityChecks.check(
        corrMapping(s, dir).select(
          col("key"), col("time1"),
          round(col("value1"), 6).as("value1"),
          col("time2"),
          round(col("value2"), 6).as("value2"),
          col("lag_offset").cast("long").as("lag_offset")),
        t1)
    }),
    // A4 monitoring aggregate per mapping method
    "m10_monitoring" -> ((s, dir) => {
      QualityChecks.monitoringSummary(
        corrMapping(s, dir).select(
          col("key"), col("method"),
          round(col("value1"), 6).as("value1"),
          round(col("value2"), 6).as("value2")))
    }),
    // nested array-of-struct summary: all lags per key (02_corr_mapping's
    // all_lags column), flattened to a deterministic string for comparison
    "m12_corr_all_lags" -> ((s, dir) => {
      LagCorrelation.lagCorrTable(merged(s, dir), cfg)
        .select(
          col("key"),
          col("lag"),
          round(col("correlation") * 1000000).cast("long").as("c"))
        .groupBy(col("key"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("lag"), col("c")))),
              s => concat_ws(":", s.getField("lag").cast("string"), s.getField("c").cast("string"))),
            ",").as("all_lags"),
          count(lit(1)).as("n_lags"))
    }),
    // relational z-normalization (the reference does this inside its DTW
    // kernel; here as a windowed column op over the merged series)
    "m16_znorm" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      merged(s, dir)
        .withColumn("v1_mean", avg(col("v1")).over(w))
        .withColumn("v1_std", stddev_pop(col("v1")).over(w))
        .select(
          col("key"),
          date_format(col("period"), "yyyy-MM-dd").as("period"),
          round(
            when(col("v1_std") === 0 || isnan(col("v1_std")), col("v1") - col("v1_mean"))
              .otherwise((col("v1") - col("v1_mean")) / col("v1_std")),
            6).as("v1_z"))
    }),
    // monthly-unit mapping: per-supplier revenue vs quantity series from
    // lineitem (add_months/months_between arithmetic, the reference's
    // native granularity)
    "m15_monthly_corr" -> ((s, dir) => {
      // The monthly family's staging table (aggregate + lag scan) is
      // memoized like Tables.bothSeries — repeated runs in one session
      // reuse the cached best-lag result instead of re-aggregating
      // lineitem.
      graft.sources.StagingCache.getOrElseUpdate(s, s"monthlyBestLag:$dir") {
        val monthlyCfg = cfg.copy(periodUnit = graft.core.PeriodUnit.Month, maxLag = 3)
        val m = Tables.load(s, dir, "lineitem")
          .groupBy(
            col("l_suppkey").cast("string").as("key"),
            trunc(col("l_shipdate"), "MM").as("period"))
          .agg(sum(col("l_extendedprice")).as("v1"), sum(col("l_quantity")).as("v2"))
        LagCorrelation.bestLag(LagCorrelation.lagCorrTable(m, monthlyCfg)).select(
          col("key"),
          col("optimal_lag").cast("long").as("optimal_lag"),
          col("correlation"),
          col("n_overlap"))
      }
    }),
    // J5: full-outer alignment audit — matched / t1-only / t2-only
    // (reference 01_setup.oy:250-259)
    "m14_alignment_audit" -> ((s, dir) => {
      val (t1, t2) = series(s, dir)
      t1.select(col("key"), col("period"), col("value").as("v1"))
        .join(
          t2.select(col("key"), col("period"), col("value").as("v2")),
          Seq("key", "period"),
          "full_outer")
        .agg(
          count(when(col("v1").isNotNull && col("v2").isNotNull, 1)).as("matched"),
          count(when(col("v1").isNotNull && col("v2").isNull, 1)).as("t1_only"),
          count(when(col("v1").isNull && col("v2").isNotNull, 1)).as("t2_only"))
    }),
    // SLA layer: PASS/ALERT rows for coverage / duration / non-empty
    // (05_prod_dev.py:703-745). Duration is wall clock in production;
    // fixed here so the query is deterministic and oracle-able.
    "m17_sla" -> ((s, dir) => {
      val (t1, _) = series(s, dir)
      Sla.report(corrMapping(s, dir), t1, durationSec = 10.0)
    }),
    // rolling 14-day correlation per entity: the time-varying version of
    // m3's global per-lag corr (one window shuffle by key; NaN from
    // zero-variance windows nulled SYMMETRICALLY on both engines)
    "m18_rolling_corr" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("period")).rowsBetween(-13, 0)
      merged(s, dir)
        .select(
          col("key"), col("period"),
          corr(col("v1"), col("v2")).over(w).as("c"),
          count(lit(1)).over(w).as("n_window"))
        .select(
          col("key"),
          date_format(col("period"), "yyyy-MM-dd").as("period"),
          when(col("n_window") < 2 || isnan(col("c")), lit(null).cast("double"))
            .otherwise(round(col("c"), 6)).as("roll_corr"),
          col("n_window"))
    }),
    // dense resampling: zero-fill every gap in each key's period range
    "m13_resample" -> ((s, dir) => {
      SeriesTable.resample(Tables.engagementSeries(s, dir), cfg.periodUnit, "zero").select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"))
    }),
    // W3 extension: STL-lite decomposition (centered-MA trend + weekday
    // seasonal + residual) over the zero-filled daily series
    "m19_seasonal" -> ((s, dir) => {
      val dense = SeriesTable.resample(Tables.engagementSeries(s, dir), cfg.periodUnit, "zero")
      Decompose.seasonal(dense).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("residual"), 6).as("residual"))
    }),
    // gap fill by LINEAR interpolation between nearest observed neighbors
    // (no self-join: two ignoreNulls running windows over one sort)
    "m20_interp" -> ((s, dir) => {
      SeriesTable.interpolate(Tables.engagementSeries(s, dir)).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"),
        col("interpolated"))
    }),
    // STL-style anomaly screen: MAD outliers on the DESEASONALIZED
    // residual — catches values abnormal for their weekday that a raw
    // threshold would pass (composition of m19's decomposition and
    // m22's robust stats, window-only)
    "m26_seasonal_anomaly" -> ((s, dir) => {
      val dense = SeriesTable.resample(Tables.engagementSeries(s, dir), cfg.periodUnit, "zero")
      val dec = Decompose.seasonal(dense).filter(col("residual").isNotNull)
      val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      dec
        .withColumn("__med", percentile(col("residual"), lit(0.5)).over(wKey))
        .withColumn(
          "__mad",
          percentile(abs(col("residual") - col("__med")), lit(0.5)).over(wKey))
        .select(
          col("key"),
          date_format(col("period"), "yyyy-MM-dd").as("period"),
          round(col("value"), 6).as("value"),
          round(col("residual"), 6).as("residual"),
          coalesce(abs(col("residual") - col("__med")) > col("__mad") * 3.0, lit(false))
            .as("is_anomaly"))
    }),
    // Fisher-z significance for the best-lag correlations: the reference
    // thresholds raw r; this adds the 95% CI and an excludes-zero flag
    // so a mapping can be gated on evidence, not just effect size.
    // tanh-free formulation (exp/ln only — DuckDB has no tanh):
    // R = (1+r)/(1-r) = exp(2z); ci = (R*exp(±3.92*se) - 1)/(R*exp(±3.92*se) + 1)
    "m25_corr_significance" -> ((s, dir) => {
      val r = col("correlation")
      val n = col("n_overlap")
      val ok = n > 3 && abs(r) < 1.0
      val bigR = (lit(1.0) + r) / (lit(1.0) - r)
      val se = lit(1.0) / sqrt(n.cast("double") - 3.0)
      val eLo = bigR * exp(lit(-3.92) * se)
      val eHi = bigR * exp(lit(3.92) * se)
      bestLag(s, dir).select(
        col("key"),
        col("optimal_lag").cast("long").as("optimal_lag"),
        r,
        n,
        round(when(ok, log(bigR) * 0.5), 6).as("fisher_z"),
        round(when(ok, se), 6).as("se"),
        round(when(ok, (eLo - 1.0) / (eLo + 1.0)), 6).as("ci_lo"),
        round(when(ok, (eHi - 1.0) / (eHi + 1.0)), 6).as("ci_hi"),
        coalesce(when(ok, abs(log(bigR) * 0.5) > lit(1.96) * se), lit(false)).as("significant"))
    }),
    // rolling EXACT median (robust smoother): percentile as a frame
    // window aggregate, trailing 7 rows per key
    "m23_rolling_median" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("period")).rowsBetween(-6, 0)
      Tables.engagementSeries(s, dir).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"),
        round(percentile(col("value"), lit(0.5)).over(w), 6).as("roll_med"))
    }),
    // autocorrelation function: the lag-corr scan against the series
    // ITSELF (v2 = v1) — the same per-entity kernel scan as m3
    "m24_acf" -> ((s, dir) => {
      val self = Tables.engagementSeries(s, dir)
        .select(col("key"), col("period"), col("value").as("v1"), col("value").as("v2"))
      LagCorrelation.lagCorrTable(self, cfg).select(
        col("key"),
        col("lag").cast("long").as("lag"),
        round(col("correlation"), 6).as("acf"),
        col("n_overlap"))
    }),
    // MAD outlier repair: flag per-key spikes, heal them by interpolating
    // from clean neighbors (window percentiles — no med/mad join-back)
    "m22_outlier_repair" -> ((s, dir) => {
      Decompose.repairOutliers(Tables.engagementSeries(s, dir)).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"),
        col("is_outlier"),
        round(col("repaired"), 6).as("repaired"))
    }),
    // weekly OHLC downsampling: open/close via min_by/max_by in ONE
    // partial-aggregated pass (no first/last window join-back)
    "m27_ohlc" -> ((s, dir) => {
      Temporal.ohlcBars(Tables.engagementSeries(s, dir)).select(
        col("key"),
        date_format(col("week"), "yyyy-MM-dd").as("week"),
        round(col("open"), 6).as("open"),
        round(col("high"), 6).as("high"),
        round(col("low"), 6).as("low"),
        round(col("close"), 6).as("close"),
        round(col("volume"), 6).as("volume"),
        col("n_obs"))
    }),
    // monthly time-weighted average over the IRREGULAR series: each
    // observation holds until the next (step interpolation), weights
    // clipped at month boundaries — the mean a sparse key can't bias
    "m28_twap" -> ((s, dir) => {
      Temporal.twap(Tables.engagementSeries(s, dir)).select(
        col("key"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        round(col("twap"), 6).as("twap"),
        round(col("covered_days"), 6).as("covered_days"),
        col("n_obs"))
    }),
    // missing-run report: one row per maximal run of absent days — the
    // sparse dual of m13's dense zero-fill (no grid materialized)
    "m29_gaps" -> ((s, dir) => {
      Temporal.gapReport(Tables.engagementSeries(s, dir)).select(
        col("key"),
        date_format(col("gap_start"), "yyyy-MM-dd").as("gap_start"),
        date_format(col("gap_end"), "yyyy-MM-dd").as("gap_end"),
        col("gap_days"))
    }),
    // exponentially weighted mean over the dense series (alpha = 0.5 so
    // every weight is a power of two — bit-exact across engines)
    "m30_ewma" -> ((s, dir) => {
      val dense = SeriesTable.resample(Tables.engagementSeries(s, dir), cfg.periodUnit, "zero")
      Temporal.ewma(dense, alpha = 0.5, span = 10).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"),
        round(col("ewma"), 6).as("ewma"))
    }),
    // per-key OLS trend + 7-day projection: slope/intercept/r² in ONE
    // moment-based aggregate (no second pass, no join-back)
    "m31_trend" -> ((s, dir) => {
      Temporal.trendFit(Tables.engagementSeries(s, dir), epoch = "2024-01-01").select(
        col("key"),
        col("n"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("r2"), 6).as("r2"),
        round(col("forecast"), 6).as("forecast"))
    }),
    // co-movement screen: top-50 correlated entity PAIRS over aligned
    // days — period equi-join (never a cross join) + corr accumulators +
    // TakeOrderedAndProject; the cross-entity complement of m3
    "m32_pair_corr" -> ((s, dir) => {
      Temporal.pairCorrelations(
        Tables.engagementSeries(s, dir), minOverlap = 10, topK = 50).select(
        col("key_a"),
        col("key_b"),
        col("correlation"),
        col("n_overlap"))
    }),
    // Holt linear-trend smoothing: the in-JVM sequential kernel (a
    // non-associative recursion no window can express), oracle'd by a
    // DuckDB RECURSIVE CTE stepping the identical IEEE update
    "m33_holt" -> ((s, dir) => {
      Forecast.holt(
        Tables.engagementSeries(s, dir), alpha = 0.5, beta = 0.5, horizon = 7).toDF().select(
        col("key"),
        col("n"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("forecast"), 6).as("forecast"))
    }),
    // catch22-lite per-key feature vector (series -> ML bridge): one
    // window sort + one hash aggregate reusing the same key partitioning
    "m34_features" -> ((s, dir) => {
      Temporal.features(Tables.engagementSeries(s, dir), epoch = "2024-01-01").select(
        col("key"),
        col("n"),
        round(col("mean"), 6).as("mean"),
        round(col("std"), 6).as("std"),
        round(col("cv"), 6).as("cv"),
        round(col("slope"), 6).as("slope"),
        round(col("acf1"), 6).as("acf1"),
        round(col("zero_frac"), 6).as("zero_frac"),
        round(col("peak_over_mean"), 6).as("peak_over_mean"))
    }),
    // m32's deployable form: the operator sizes the sign-LSH band
    // geometry from the corpus (bits follow log₂|keys|) AND picks the
    // regime — banded candidates when the per-key support can fill the
    // slot grid, the exact period-equi-join screen when it can't (the
    // sparse harness series carry too little sign information for ANY
    // band width; measured in Temporal.pairCorrelationsAuto's doc).
    // Three integer scalars drive both choices, so the oracle replays
    // the identical decision.
    "m35_pair_corr_auto" -> ((s, dir) => {
      Temporal.pairCorrelationsAuto(
        Tables.engagementSeries(s, dir), epoch = "2024-01-01",
        slotDays = 1, minOverlap = 10, topK = 50).select(
        col("key_a"),
        col("key_b"),
        col("correlation"),
        col("n_overlap"))
    }),
    // config sensitivity diff: how the recommended lag table changes
    // when maxLag tightens 6 → 3 — the regression-diff a user runs
    // before rolling out a config change. Both variants derive from the
    // SAME staged corr table (one kernel pass, filtered twice), then a
    // full-outer diff classifies each key.
    "m36_config_diff" -> ((s, dir) => {
      val corr = graft.sources.StagingCache.getOrElseUpdate(s, s"lagCorrTable:$dir") {
        LagCorrelation.lagCorrTable(merged(s, dir), cfg)
      }
      val oldBest = LagCorrelation.bestLag(corr)
        .select(col("key"), col("optimal_lag").as("old_lag"), col("correlation").as("old_corr"))
      val newBest = LagCorrelation.bestLag(corr.filter(col("lag") <= 3))
        .select(col("key"), col("optimal_lag").as("new_lag"), col("correlation").as("new_corr"))
      oldBest
        .join(newBest, Seq("key"), "full_outer")
        .select(
          col("key"),
          col("old_lag").cast("long").as("old_lag"),
          col("new_lag").cast("long").as("new_lag"),
          col("old_corr"),
          col("new_corr"),
          when(col("old_lag").isNull, lit("added"))
            .when(col("new_lag").isNull, lit("removed"))
            .when(col("old_lag") === col("new_lag"), lit("unchanged"))
            .otherwise(lit("lag_changed")).as("status"),
          round(coalesce(col("old_corr"), lit(0.0)) - coalesce(col("new_corr"), lit(0.0)), 6)
            .as("corr_give_up"))
    }),
    // Holt backtest: train on all but each key's LAST 7 observations,
    // forecast the holdout positionally (h = 1..7 ahead of the train
    // frontier), and score per key — the evaluation loop that tells a
    // user whether m33's smoothing is trustworthy before they act on it
    "m37_backtest" -> ((s, dir) => {
      val holdout = 7
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("period"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      val numbered = Tables.engagementSeries(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("n") >= holdout + 2) // train needs >= 2 points
      val train = numbered.filter(col("rn") <= col("n") - holdout)
        .select(col("key"), col("period"), col("value"))
      val test = numbered.filter(col("rn") > col("n") - holdout)
        .select(
          col("key"),
          (col("rn") - (col("n") - holdout)).cast("long").as("h"),
          col("value").as("actual"))
      val states = Forecast.holt(train, alpha = 0.5, beta = 0.5, horizon = 1).toDF()
        .select(col("key"), col("n").as("n_train"), col("level"), col("trend"))
      test
        .join(states, Seq("key"))
        .select(
          col("key"), col("n_train"), col("h"), col("actual"),
          (col("level") + col("h") * col("trend")).as("fc"))
        .groupBy(col("key"), col("n_train"))
        .agg(
          count(lit(1)).as("n_test"),
          // per-row errors are bit-identical across engines; only the SUM
          // order isn't — round each to 9 decimals and sum as exact
          // decimals so a 7-value sum can't straddle the final round-6
          round(
            sum(round(abs(col("fc") - col("actual")), 9).cast("decimal(28,9)"))
              .cast("double") / count(lit(1)),
            6).as("mae"),
          round(
            sqrt(
              sum(round((col("fc") - col("actual")) * (col("fc") - col("actual")), 9)
                .cast("decimal(28,9)")).cast("double") / count(lit(1))),
            6).as("rmse"))
        .select(col("key"), col("n_train"), col("n_test"), col("mae"), col("rmse"))
    }),
    // level-shift screen: trailing-vs-prior 7-day means over pooled stddev
    "m21_changepoint" -> ((s, dir) => {
      val dense = SeriesTable.resample(Tables.engagementSeries(s, dir), cfg.periodUnit, "zero")
      Decompose.meanShift(dense).select(
        col("key"),
        date_format(col("period"), "yyyy-MM-dd").as("period"),
        round(col("value"), 6).as("value"),
        round(col("recent_mean"), 6).as("recent_mean"),
        round(col("prior_mean"), 6).as("prior_mean"),
        round(col("shift_z"), 6).as("shift_z"),
        col("is_shift"))
    }),
    // production pipeline: train recommendations, then serve each key by
    // the stored model: stored lag / DTW re-run / default lag 1 (rows-only)
    "m11_pipeline" -> ((s, dir) => {
      val (t1, t2) = series(s, dir)
      Pipeline.run(t1, t2, recommendations(s, dir), cfg, "verify_run").select(
        col("key"), col("time1"), round(col("value1"), 6).as("value1"),
        col("time2"), round(col("value2"), 6).as("value2"),
        col("lag_offset").cast("long").as("lag_offset"), col("method"))
    }),
    // SAX symbolic fingerprints: per-key shape words over the observed
    // sequence (PAA frames + Gaussian breakpoints) — the sparse-series
    // screen sketch the m35 slot-grid bands can't provide
    "m38_sax" -> ((s, dir) => {
      Sax.saxWords(Tables.engagementSeries(s, dir), w = 6, minLen = 8)
        .select(col("key"), col("n"), col("word"))
    }),
    // word-bucket candidate screen → exact corr verify (screen-then-
    // verify, the m35/d3 convention with the SAX word as the sketch)
    "m39_sax_screen" -> ((s, dir) => {
      Sax.saxScreen(Tables.engagementSeries(s, dir),
          w = 4, minLen = 8, minOverlap = 10, topK = 50)
        .select(col("key_a"), col("key_b"), col("word"),
          col("correlation"), col("n_overlap"))
    }),
    // the CAPPED screen — the production regime for a web-scale key
    // population (hot near-mean words otherwise create mega-buckets;
    // the cap is a priced recall tradeoff, measured in ScaleBench sax).
    // The cap is pure integer bucket counting, so it replays in DuckDB
    // exactly like m39; capped candidate pairs ⊆ uncapped (SaxSpec)
    "m41_sax_screen_capped" -> ((s, dir) => {
      Sax.saxScreen(Tables.engagementSeries(s, dir),
          w = 4, minLen = 8, minOverlap = 10, topK = 50, maxBucket = 8)
        .select(col("key_a"), col("key_b"), col("word"),
          col("correlation"), col("n_overlap"))
    }),
    // SAX discord screen (the HOT-SAX heuristic, Keogh et al. 2005):
    // keys whose shape word is RAREST are the anomaly candidates — the
    // inverse use of the m39 bucket join, same one-pass word table plus
    // a partial-aggregated word count joined back
    "m40_sax_discord" -> ((s, dir) => {
      val words = Sax.saxWords(Tables.engagementSeries(s, dir), w = 6, minLen = 8)
      val buckets = words.groupBy(col("word")).agg(count(lit(1)).as("bucket"))
      words.join(buckets, Seq("word"))
        .select(col("key"), col("word"), col("bucket"))
        .orderBy(col("bucket").asc, col("key").asc)
        .limit(25)
    })
  )

  /** Shared DuckDB CTE prefix: events → canonical daily series → merged →
    * corr scan → best lag → mapping (mirrors LagCorrelation exactly). */
  val seriesCte: String =
    """WITH t1 AS (
      |  SELECT CAST(user_id AS VARCHAR) AS key, CAST(ts AS DATE) AS period, SUM(value) AS v1
      |  FROM events WHERE event_type IN ('click','view') GROUP BY 1, 2
      |), t2 AS (
      |  SELECT CAST(user_id AS VARCHAR) AS key, CAST(ts AS DATE) AS period, SUM(value) AS v2
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), merged AS (
      |  SELECT t1.key, t1.period, t1.v1, t2.v2 FROM t1 JOIN t2 USING (key, period)
      |), corrs AS (
      |  SELECT m.key, CAST(l.lag AS BIGINT) AS lag, corr(m.v1, r.v2) AS correlation, COUNT(*) AS n_overlap
      |  FROM merged m
      |  CROSS JOIN (SELECT UNNEST(range(0, 7)) AS lag) l
      |  JOIN merged r ON r.key = m.key AND r.period = m.period + CAST(l.lag AS INTEGER)
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |), valid_corrs AS (
      |  SELECT * FROM corrs WHERE correlation IS NOT NULL AND NOT isnan(correlation)
      |), best AS (
      |  SELECT key, lag, round(correlation, 6) AS correlation, n_overlap,
      |         row_number() OVER (PARTITION BY key ORDER BY round(correlation, 6) DESC, lag ASC) AS rn
      |  FROM valid_corrs
      |), best1 AS (
      |  SELECT key, lag AS optimal_lag, correlation, n_overlap FROM best WHERE rn = 1
      |), valid AS (
      |  SELECT * FROM best1 WHERE correlation >= 0.3
      |), mapping AS (
      |  SELECT t1.key, CAST(t1.period AS VARCHAR) AS time1, round(t1.v1, 6) AS value1,
      |         CAST(t2.period AS VARCHAR) AS time2, round(t2.v2, 6) AS value2,
      |         v.optimal_lag AS lag_offset, 'correlation' AS method, v.correlation
      |  FROM t1 JOIN valid v ON v.key = t1.key
      |  JOIN t2 ON t2.key = t1.key AND t2.period = t1.period + CAST(v.optimal_lag AS INTEGER)
      |)""".stripMargin

  /** DuckDB replay of [[graft.operators.Sax.saxWords]] over `t1` for a
    * given frame count `w`: integer centi-units, exact int64 window
    * moments, the identical pinned float order (mean → var → sqrt → z),
    * every literal ::DOUBLE (the q45 decimal-literal trap). Appended
    * after [[seriesCte]]; yields CTE `saxwords(key, n, word)`. */
  def saxCte(w: Int): String =
    s""", posed AS (
       |  SELECT key,
       |         CAST(round(v1 * 100::DOUBLE) AS BIGINT) AS u,
       |         row_number() OVER (PARTITION BY key
       |           ORDER BY period, CAST(round(v1 * 100::DOUBLE) AS BIGINT)) - 1 AS pos,
       |         COUNT(*) OVER (PARTITION BY key) AS n,
       |         SUM(CAST(round(v1 * 100::DOUBLE) AS BIGINT)) OVER (PARTITION BY key) AS s1,
       |         SUM(CAST(round(v1 * 100::DOUBLE) AS BIGINT)
       |             * CAST(round(v1 * 100::DOUBLE) AS BIGINT)) OVER (PARTITION BY key) AS s2
       |  FROM t1
       |), framed AS (
       |  SELECT key, n, s1, s2, (pos * $w) // n AS frame,
       |         SUM(u)::BIGINT AS su, COUNT(*)::BIGINT AS c
       |  FROM posed WHERE n >= 8 GROUP BY 1, 2, 3, 4, 5
       |), lettered AS (
       |  SELECT key, n, frame,
       |         CASE WHEN varu <= 0::DOUBLE THEN 0::DOUBLE
       |              ELSE (CAST(su AS DOUBLE) / c - mean) / sqrt(varu) END AS z
       |  FROM (
       |    SELECT *,
       |           CAST(s1 AS DOUBLE) / n AS mean,
       |           CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS varu
       |    FROM framed)
       |), saxwords AS (
       |  SELECT key, n,
       |         string_agg(
       |           CASE WHEN z < -0.6745::DOUBLE THEN 'a'
       |                WHEN z < 0::DOUBLE THEN 'b'
       |                WHEN z < 0.6745::DOUBLE THEN 'c'
       |                ELSE 'd' END, '' ORDER BY frame) AS word
       |  FROM lettered GROUP BY 1, 2
       |)""".stripMargin

  /** The DTW kernel (graft.operators.Dtw) replayed in DuckDB SQL — the
    * m33 recursive-CTE discipline applied to a 2-D DP. Appended after
    * [[seriesCte]] (whose WITH must become WITH RECURSIVE).
    *
    *  - Normalization folds with `list_reduce` in the kernel's exact
    *    operation order (sum→mean, then Σ(v−mean)² → population std;
    *    std=0 degrades to mean-centering) — aggregate SUM would be free
    *    to reorder the float additions.
    *  - The DP walks ANTI-DIAGONALS: each recursion step carries the
    *    previous two diagonals as lists (cell (i,j) needs (i−1,j) and
    *    (i,j−1) from diagonal d−1 and (i−1,j−1) from d−2), so the
    *    single recursive reference suffices and the whole matrix falls
    *    out as the union of steps (`cells`).
    *  - Backtrack is a second recursion from (n,n) with the kernel's
    *    first-minimum preference up > left > diag; `inf <= inf` is TRUE
    *    in both engines, so the border behavior matches.
    *
    * Consumers: m6 (path explode), m7 (auto split), m8 (cost + CASE
    * model), m11 (pipeline segments). DuckDB prunes unreferenced CTEs,
    * so cost-only consumers don't pay for the backtrack. */
  val dtwCte: String =
    """, obs AS (
      |  SELECT key, row_number() OVER (PARTITION BY key ORDER BY period) AS i,
      |         CAST(period AS VARCHAR) AS p, v1::DOUBLE AS x1, v2::DOUBLE AS x2
      |  FROM merged
      |), arr AS (
      |  SELECT key, COUNT(*)::INT AS n,
      |         list(x1 ORDER BY i) AS l1, list(x2 ORDER BY i) AS l2
      |  FROM obs GROUP BY key
      |), stats AS (
      |  SELECT key, n, l1, l2,
      |         list_reduce(l1, (a, b) -> a + b) / n AS m1,
      |         list_reduce(l2, (a, b) -> a + b) / n AS m2
      |  FROM arr
      |), stats2 AS (
      |  SELECT key, n, l1, l2, m1, m2,
      |    sqrt(list_reduce(list_transform(l1, v -> (v - m1) * (v - m1)), (a, b) -> a + b) / n) AS s1,
      |    sqrt(list_reduce(list_transform(l2, v -> (v - m2) * (v - m2)), (a, b) -> a + b) / n) AS s2
      |  FROM stats
      |), norm AS (
      |  SELECT key, n,
      |    CASE WHEN s1 = 0 OR isnan(s1) THEN list_transform(l1, v -> v - m1)
      |         ELSE list_transform(l1, v -> (v - m1) / s1) END AS a,
      |    CASE WHEN s2 = 0 OR isnan(s2) THEN list_transform(l2, v -> v - m2)
      |         ELSE list_transform(l2, v -> (v - m2) / s2) END AS b
      |  FROM stats2
      |), dpr AS (
      |  SELECT key, n, a, b, 0 AS d,
      |         list_transform(generate_series(0, n),
      |           i -> CASE WHEN i = 0 THEN 0.0 ELSE 'infinity'::DOUBLE END) AS curr,
      |         NULL::DOUBLE[] AS prev
      |  FROM norm
      |  UNION ALL
      |  SELECT key, n, a, b, d + 1,
      |         list_transform(generate_series(0, n), i ->
      |           CASE
      |             WHEN i = 0 OR (d + 1 - i) < 1 OR (d + 1 - i) > n THEN 'infinity'::DOUBLE
      |             ELSE abs(a[i] - b[d + 1 - i]) +
      |                  LEAST(
      |                    curr[i],
      |                    curr[i + 1],
      |                    CASE WHEN prev IS NULL THEN 'infinity'::DOUBLE ELSE prev[i] END)
      |           END) AS curr,
      |         curr AS prev
      |  FROM dpr
      |  WHERE d < 2 * n
      |), cells AS (
      |  SELECT key, n, ii AS ci, d - ii AS cj, curr[ii + 1] AS c
      |  FROM (SELECT key, n, d, curr, UNNEST(generate_series(0, n)) AS ii FROM dpr)
      |  WHERE d - ii BETWEEN 0 AND n
      |), bt AS (
      |  SELECT key, n, n AS ci, n AS cj, 0 AS step FROM norm
      |  UNION ALL
      |  SELECT key, n, nci, ncj, step + 1 FROM (
      |    SELECT b.key, b.n, b.step,
      |      CASE WHEN cu.c <= cl.c AND cu.c <= cd.c THEN b.ci - 1
      |           WHEN cl.c <= cd.c THEN b.ci
      |           ELSE b.ci - 1 END AS nci,
      |      CASE WHEN cu.c <= cl.c AND cu.c <= cd.c THEN b.cj
      |           WHEN cl.c <= cd.c THEN b.cj - 1
      |           ELSE b.cj - 1 END AS ncj
      |    FROM bt b
      |    JOIN cells cu ON cu.key = b.key AND cu.ci = b.ci - 1 AND cu.cj = b.cj
      |    JOIN cells cl ON cl.key = b.key AND cl.ci = b.ci AND cl.cj = b.cj - 1
      |    JOIN cells cd ON cd.key = b.key AND cd.ci = b.ci - 1 AND cd.cj = b.cj - 1
      |  ) WHERE nci > 0 AND ncj > 0
      |), total AS (
      |  SELECT key, round(curr[n + 1], 6) AS dtw_cost FROM dpr WHERE d = 2 * n
      |), dtwmap AS (
      |  SELECT b.key, o1.p AS time1, round(o1.x1, 6) AS value1,
      |         o2.p AS time2, round(o2.x2, 6) AS value2,
      |         'dtw' AS method, tc.dtw_cost
      |  FROM bt b
      |  JOIN obs o1 ON o1.key = b.key AND o1.i = b.ci
      |  JOIN obs o2 ON o2.key = b.key AND o2.i = b.cj
      |  JOIN total tc ON tc.key = b.key
      |)""".stripMargin

  // m30's finite-window EWMA terms, generated for both engines from the
  // same (alpha, span); alpha = 0.5 keeps every POWER exact in double
  private def ewmaTerms(span: Int): (String, String) = {
    val num = (0 until span)
      .map(k => s"COALESCE(lag(value, $k) OVER wk * POWER(0.5, $k), 0)")
      .mkString(" + ")
    val den = (0 until span)
      .map(k => s"CASE WHEN lag(value, $k) OVER wk IS NOT NULL THEN POWER(0.5, $k) ELSE 0 END")
      .mkString(" + ")
    (num, den)
  }

  val oracleSql: Map[String, String] = Map(
    "m27_ohlc" ->
      s"""$seriesCte
         |SELECT key, CAST(date_trunc('week', period)::DATE AS VARCHAR) AS week,
         |       round(arg_min(v1, period), 6) AS open,
         |       round(MAX(v1), 6) AS high,
         |       round(MIN(v1), 6) AS low,
         |       round(arg_max(v1, period), 6) AS close,
         |       round(SUM(v1), 6) AS volume,
         |       COUNT(*) AS n_obs
         |FROM t1 GROUP BY 1, 2""".stripMargin,
    "m28_twap" ->
      s"""$seriesCte, held AS (
         |  SELECT key, period, v1,
         |         date_trunc('month', period)::DATE AS month,
         |         date_diff('day', period,
         |           least(
         |             COALESCE(lead(period) OVER (PARTITION BY key ORDER BY period),
         |                      (date_trunc('month', period) + INTERVAL 1 MONTH)::DATE),
         |             (date_trunc('month', period) + INTERVAL 1 MONTH)::DATE))::DOUBLE AS dt
         |  FROM t1
         |)
         |SELECT key, CAST(month AS VARCHAR) AS month,
         |       round(SUM(v1 * dt) / SUM(dt), 6) AS twap,
         |       round(SUM(dt), 6) AS covered_days,
         |       COUNT(*) AS n_obs
         |FROM held GROUP BY 1, 2""".stripMargin,
    "m29_gaps" ->
      s"""$seriesCte, nxt AS (
         |  SELECT key, period, lead(period) OVER (PARTITION BY key ORDER BY period) AS next_period
         |  FROM t1
         |)
         |SELECT key,
         |       CAST((period + INTERVAL 1 DAY)::DATE AS VARCHAR) AS gap_start,
         |       CAST((next_period - INTERVAL 1 DAY)::DATE AS VARCHAR) AS gap_end,
         |       (date_diff('day', period, next_period) - 1)::BIGINT AS gap_days
         |FROM nxt
         |WHERE next_period IS NOT NULL AND date_diff('day', period, next_period) > 1""".stripMargin,
    "m30_ewma" -> {
      val (num, den) = ewmaTerms(10)
      s"""$seriesCte, grid AS (
         |  SELECT key, CAST(UNNEST(generate_series(p0, p1, INTERVAL 1 DAY)) AS DATE) AS period
         |  FROM (SELECT key, MIN(period) AS p0, MAX(period) AS p1 FROM t1 GROUP BY key)
         |), dense AS (
         |  SELECT g.key, g.period, COALESCE(t1.v1, 0.0) AS value
         |  FROM grid g LEFT JOIN t1 ON t1.key = g.key AND t1.period = g.period
         |)
         |SELECT key, CAST(period AS VARCHAR) AS period, round(value, 6) AS value,
         |       round(($num) / ($den), 6) AS ewma
         |FROM dense
         |WINDOW wk AS (PARTITION BY key ORDER BY period)""".stripMargin
    },
    "m31_trend" ->
      s"""$seriesCte, xs AS (
         |  SELECT key, (period - DATE '2024-01-01')::DOUBLE AS x, v1 FROM t1
         |), st AS (
         |  SELECT key, COUNT(*) AS n,
         |         covar_pop(x, v1) AS cov, var_pop(x) AS varx,
         |         avg(x) AS mx, avg(v1) AS my, corr(x, v1) AS r, MAX(x) AS xmax
         |  FROM xs GROUP BY key
         |  HAVING COUNT(*) >= 3 AND var_pop(x) > 0
         |)
         |SELECT key, n,
         |       round(cov / varx, 6) AS slope,
         |       round(my - (cov / varx) * mx, 6) AS intercept,
         |       round(CASE WHEN r IS NOT NULL AND NOT isnan(r) THEN r * r END, 6) AS r2,
         |       round((my - (cov / varx) * mx) + (cov / varx) * (xmax + 7), 6) AS forecast
         |FROM st""".stripMargin,
    "m32_pair_corr" ->
      s"""$seriesCte, pairs AS (
         |  SELECT a.key AS key_a, b.key AS key_b,
         |         corr(a.v1, b.v1) AS correlation, COUNT(*) AS n_overlap
         |  FROM t1 a JOIN t1 b ON a.period = b.period AND a.key < b.key
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= 10
         |)
         |SELECT key_a, key_b, round(correlation, 6) AS correlation, n_overlap
         |FROM pairs
         |WHERE correlation IS NOT NULL AND NOT isnan(correlation)
         |ORDER BY abs(round(correlation, 6)) DESC, key_a ASC, key_b ASC
         |LIMIT 50""".stripMargin,
    // m38: full SAX replay — centi-unit quantization, exact integer
    // window moments, pinned float order, breakpoint CASE (saxCte)
    "m38_sax" ->
      s"""$seriesCte${saxCte(6)}
         |SELECT key, n, word FROM saxwords""".stripMargin,
    // m40: rarest-word keys — the discord screen inverse of m39
    "m40_sax_discord" ->
      s"""$seriesCte${saxCte(6)}, buckets AS (
         |  SELECT word, COUNT(*)::BIGINT AS bucket FROM saxwords GROUP BY 1
         |)
         |SELECT w.key, w.word, b.bucket
         |FROM saxwords w JOIN buckets b ON b.word = w.word
         |ORDER BY b.bucket ASC, w.key ASC
         |LIMIT 25""".stripMargin,
    // m39: the word-bucket screen verified with the exact aligned corr —
    // m32's scoring restricted to same-word candidate pairs
    "m39_sax_screen" ->
      s"""$seriesCte${saxCte(4)}, cands AS (
         |  SELECT x.key AS key_a, y.key AS key_b, x.word
         |  FROM saxwords x JOIN saxwords y ON x.word = y.word AND x.key < y.key
         |), pairs AS (
         |  SELECT c.key_a, c.key_b, c.word,
         |         corr(a.v1, b.v1) AS correlation, COUNT(*) AS n_overlap
         |  FROM cands c
         |  JOIN t1 a ON a.key = c.key_a
         |  JOIN t1 b ON b.key = c.key_b AND b.period = a.period
         |  GROUP BY 1, 2, 3
         |  HAVING COUNT(*) >= 10
         |)
         |SELECT key_a, key_b, word, round(correlation, 6) AS correlation, n_overlap
         |FROM pairs
         |WHERE correlation IS NOT NULL AND NOT isnan(correlation)
         |ORDER BY abs(round(correlation, 6)) DESC, key_a ASC, key_b ASC
         |LIMIT 50""".stripMargin,
    // m41: the m39 chain with the integer bucket-cap filter applied to
    // the word table BEFORE the self-join — hot words never become
    // join keys (the d50 rule), replayed with the same exact counting
    "m41_sax_screen_capped" ->
      s"""$seriesCte${saxCte(4)}, capped AS (
         |  SELECT w.key, w.word FROM saxwords w
         |  JOIN (SELECT word FROM saxwords GROUP BY word
         |        HAVING COUNT(*) <= 8) s ON s.word = w.word
         |), cands AS (
         |  SELECT x.key AS key_a, y.key AS key_b, x.word
         |  FROM capped x JOIN capped y ON x.word = y.word AND x.key < y.key
         |), pairs AS (
         |  SELECT c.key_a, c.key_b, c.word,
         |         corr(a.v1, b.v1) AS correlation, COUNT(*) AS n_overlap
         |  FROM cands c
         |  JOIN t1 a ON a.key = c.key_a
         |  JOIN t1 b ON b.key = c.key_b AND b.period = a.period
         |  GROUP BY 1, 2, 3
         |  HAVING COUNT(*) >= 10
         |)
         |SELECT key_a, key_b, word, round(correlation, 6) AS correlation, n_overlap
         |FROM pairs
         |WHERE correlation IS NOT NULL AND NOT isnan(correlation)
         |ORDER BY abs(round(correlation, 6)) DESC, key_a ASC, key_b ASC
         |LIMIT 50""".stripMargin,
    // The DTW kernel replayed in SQL (shared CTE chain in dtwCte below) —
    // bit-exact at sf0.01 AND sf0.1 (1,134 / 11,770 path rows).
    "m6_dtw_mapping" ->
      s"""${seriesCte.replaceFirst("WITH ", "WITH RECURSIVE ")}$dtwCte
         |SELECT key, time1, value1, time2, value2, method, dtw_cost
         |FROM dtwmap""".stripMargin,
    // Auto mode replayed: keys with best corr >= 0.7 take the m5 mapping
    // (filtered), every other MERGED key (including no-valid-corr keys)
    // takes the DTW path explode — Spark's unionByName(allowMissing)
    // nulls the method-specific columns, mirrored by typed NULLs.
    "m7_auto_mapping" ->
      s"""${seriesCte.replaceFirst("WITH ", "WITH RECURSIVE ")}$dtwCte, simple AS (
         |  SELECT key FROM best1 WHERE correlation >= 0.7
         |), complexk AS (
         |  SELECT DISTINCT m.key FROM merged m LEFT JOIN simple s ON s.key = m.key
         |  WHERE s.key IS NULL
         |)
         |SELECT key, time1, value1, time2, value2, lag_offset, method, correlation,
         |       NULL::DOUBLE AS dtw_cost
         |FROM mapping WHERE correlation >= 0.7
         |UNION ALL
         |SELECT d.key, d.time1, d.value1, d.time2, d.value2,
         |       NULL::BIGINT AS lag_offset, d.method, NULL::DOUBLE AS correlation, d.dtw_cost
         |FROM dtwmap d JOIN complexk c ON c.key = d.key""".stripMargin,
    // The recommendation model replayed: DTW summary (every merged key)
    // left-joined to the best-lag table, missing corr -> the reference
    // UDF's -1 sentinel, then the reference's exact CASE thresholds
    // (04_comparision.py:251-288). total_cost is the DP cost rounded 6
    // BEFORE the threshold comparisons, as in Comparison.
    "m8_recommendations" ->
      s"""${seriesCte.replaceFirst("WITH ", "WITH RECURSIVE ")}$dtwCte, cmp AS (
         |  SELECT t.key,
         |         COALESCE(b.correlation, -1.0) AS correlation,
         |         COALESCE(b.optimal_lag, 0) AS optimal_lag,
         |         t.dtw_cost AS total_cost
         |  FROM total t LEFT JOIN best1 b ON b.key = t.key
         |)
         |SELECT key, correlation, optimal_lag::BIGINT AS optimal_lag, total_cost,
         |  CASE WHEN correlation >= 0.7 AND optimal_lag <= 2 THEN 'Correlation'
         |       WHEN correlation >= 0.5 AND total_cost <= 10 THEN 'Either (prefer Correlation for simplicity)'
         |       WHEN total_cost <= 15 THEN 'DTW'
         |       ELSE 'Complex - Manual Review' END AS recommended_method,
         |  CASE WHEN correlation >= 0.8 OR total_cost <= 5 THEN 'High'
         |       WHEN correlation >= 0.5 OR total_cost <= 15 THEN 'Medium'
         |       ELSE 'Low' END AS confidence,
         |  CASE WHEN correlation >= 0.7 THEN 'High correlation with simple lag pattern'
         |       WHEN total_cost <= 10 THEN 'Low DTW cost indicates good alignment'
         |       WHEN correlation < 0.3 AND total_cost > 20 THEN 'Both methods show poor fit - investigate data quality'
         |       ELSE 'Moderate fit - consider business context' END AS reason
         |FROM cmp""".stripMargin,
    // Pipeline.run replayed: the m8 model's CASE logic routes each input
    // key — Correlation/Either reuse the STORED lag, DTW keys get their
    // merged series' DTW path (dtw_cost dropped), unknown keys (in t1, never
    // merged) default to lag 1; Complex-Manual-Review keys emit nothing.
    "m11_pipeline" ->
      s"""${seriesCte.replaceFirst("WITH ", "WITH RECURSIVE ")}$dtwCte, recsq AS (
         |  SELECT t.key,
         |         COALESCE(b.correlation, -1.0) AS correlation,
         |         COALESCE(b.optimal_lag, 0) AS optimal_lag,
         |         t.dtw_cost AS total_cost
         |  FROM total t LEFT JOIN best1 b ON b.key = t.key
         |), model AS (
         |  SELECT key, optimal_lag,
         |    CASE WHEN correlation >= 0.7 AND optimal_lag <= 2 THEN 'Correlation'
         |         WHEN correlation >= 0.5 AND total_cost <= 10 THEN 'Either (prefer Correlation for simplicity)'
         |         WHEN total_cost <= 15 THEN 'DTW'
         |         ELSE 'Complex - Manual Review' END AS recommended_method
         |  FROM recsq
         |)
         |SELECT t1.key, CAST(t1.period AS VARCHAR) AS time1, round(t1.v1, 6) AS value1,
         |       CAST(t2.period AS VARCHAR) AS time2, round(t2.v2, 6) AS value2,
         |       r.optimal_lag AS lag_offset, 'correlation' AS method
         |FROM t1
         |JOIN model r ON r.key = t1.key
         |  AND r.recommended_method IN ('Correlation', 'Either (prefer Correlation for simplicity)')
         |JOIN t2 ON t2.key = t1.key AND t2.period = t1.period + CAST(r.optimal_lag AS INTEGER)
         |UNION ALL
         |SELECT d.key, d.time1, d.value1, d.time2, d.value2,
         |       NULL::BIGINT AS lag_offset, d.method
         |FROM dtwmap d JOIN model r ON r.key = d.key AND r.recommended_method = 'DTW'
         |UNION ALL
         |SELECT t1.key, CAST(t1.period AS VARCHAR) AS time1, round(t1.v1, 6) AS value1,
         |       CAST(t2.period AS VARCHAR) AS time2, round(t2.v2, 6) AS value2,
         |       1::BIGINT AS lag_offset, 'correlation' AS method
         |FROM t1
         |LEFT JOIN model r ON r.key = t1.key
         |JOIN t2 ON t2.key = t1.key AND t2.period = t1.period + 1
         |WHERE r.key IS NULL""".stripMargin,
    // The recursion anchor is the kernel's seed (level₂ = x₂,
    // trend₂ = x₂ − x₁); each step spells the update in the SAME
    // operation order as Forecast.holt, so doubles agree bit-for-bit.
    "m33_holt" ->
      s"""${seriesCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, obs AS (
         |  SELECT key, row_number() OVER (PARTITION BY key ORDER BY period) AS i, v1::DOUBLE AS x
         |  FROM t1
         |), nk AS (
         |  SELECT key, MAX(i) AS n FROM obs GROUP BY key HAVING MAX(i) >= 2
         |), rec AS (
         |  SELECT o1.key, 2 AS i, o2.x AS level, o2.x - o1.x AS trend
         |  FROM obs o1 JOIN obs o2 ON o2.key = o1.key AND o1.i = 1 AND o2.i = 2
         |  UNION ALL
         |  SELECT r.key, r.i + 1,
         |         0.5 * o.x + 0.5 * (r.level + r.trend) AS level,
         |         0.5 * ((0.5 * o.x + 0.5 * (r.level + r.trend)) - r.level) + 0.5 * r.trend AS trend
         |  FROM rec r JOIN obs o ON o.key = r.key AND o.i = r.i + 1
         |)
         |SELECT r.key, nk.n::BIGINT AS n,
         |       round(r.level, 6) AS level,
         |       round(r.trend, 6) AS trend,
         |       round(r.level + 7 * r.trend, 6) AS forecast
         |FROM rec r JOIN nk ON nk.key = r.key AND r.i = nk.n""".stripMargin,
    "m34_features" ->
      s"""$seriesCte, led AS (
         |  SELECT key, v1 AS v, (period - DATE '2024-01-01')::DOUBLE AS x,
         |         lead(v1) OVER (PARTITION BY key ORDER BY period) AS v_next
         |  FROM t1
         |), ag AS (
         |  SELECT key, COUNT(*) AS n, avg(v) AS mean, stddev_samp(v) AS std,
         |         covar_pop(x, v) / var_pop(x) AS slope,
         |         corr(v, v_next) AS acf1,
         |         COUNT(CASE WHEN v = 0.0 THEN 1 END)::DOUBLE / COUNT(*) AS zero_frac,
         |         MAX(v) AS vmax, var_pop(x) AS varx
         |  FROM led GROUP BY key
         |  HAVING COUNT(*) >= 3 AND var_pop(x) > 0
         |)
         |SELECT key, n, round(mean, 6) AS mean, round(std, 6) AS std,
         |       round(CASE WHEN mean <> 0.0 THEN std / mean END, 6) AS cv,
         |       round(slope, 6) AS slope,
         |       round(CASE WHEN acf1 IS NOT NULL AND NOT isnan(acf1) THEN acf1 END, 6) AS acf1,
         |       round(zero_frac, 6) AS zero_frac,
         |       round(CASE WHEN mean <> 0.0 THEN vmax / mean END, 6) AS peak_over_mean
         |FROM ag""".stripMargin,
    // Both regimes of the auto screen, replayed arithmetically; a
    // boolean computed from the SAME three integer scalars the Spark
    // operator collects (|keys|, day span, COUNT(*)) guards which branch
    // emits rows. Banded branch: the raw bucket starts from all bits set
    // (missing/above-mean slots both center >= 0) and clears the bit of
    // every present slot BELOW the key mean — identical to
    // signBandBuckets over the filled centered vector; canonical fold
    // (LEAST with the complement) and Hamming-1 probes mirror the Spark
    // operator exactly. Geometry is AUTO-SIZED like Temporal.bandSizing:
    // ceil(log2 nKeys) via LENGTH(BIN(nk-1)) — bit length, never
    // floating log2, which can ceil one bit high on exact powers of two.
    "m35_pair_corr_auto" ->
      s"""$seriesCte, pz AS (
         |  SELECT COUNT(DISTINCT key) AS nk,
         |         ((MAX(period) - DATE '2024-01-01') + 1) AS ndays,
         |         COUNT(*) AS present
         |  FROM t1
         |), params AS (
         |  SELECT nbits, GREATEST(2, LEAST(5, ndays // nbits))::INT AS nbands,
         |         (POWER(2.0, nbits)::BIGINT - 1) AS fullb,
         |         (present // nk) >=
         |           nbits * GREATEST(2, LEAST(5, ndays // nbits)) AS use_banded
         |  FROM (SELECT GREATEST(2, LEAST(18, LENGTH(BIN(nk - 1)) + 2))::INT AS nbits,
         |               ndays, present, nk
         |        FROM pz)
         |), slots AS (
         |  SELECT key, (t1.period - DATE '2024-01-01')::INT AS slot, avg(v1) AS sv
         |  FROM t1, params p
         |  WHERE (t1.period - DATE '2024-01-01') >= 0
         |    AND (t1.period - DATE '2024-01-01') < p.nbits * p.nbands
         |  GROUP BY 1, 2
         |), keymean AS (
         |  SELECT key, avg(sv) AS km FROM slots GROUP BY key
         |), neg AS (
         |  SELECT s.key, (s.slot // p.nbits) AS band,
         |         SUM(CASE WHEN s.sv < m.km
         |                  THEN POWER(2.0, s.slot % p.nbits)::BIGINT ELSE 0 END) AS negbits
         |  FROM slots s JOIN keymean m USING (key), params p
         |  GROUP BY 1, 2
         |), allb AS (
         |  SELECT key, UNNEST(generate_series(0, p.nbands - 1)) AS band
         |  FROM keymean, params p
         |), buck AS (
         |  SELECT a.key, a.band,
         |         LEAST(p.fullb - COALESCE(n.negbits, 0), COALESCE(n.negbits, 0)) AS bucket
         |  FROM allb a LEFT JOIN neg n ON n.key = a.key AND n.band = a.band, params p
         |), probes AS (
         |  SELECT key, band,
         |         UNNEST(list_distinct([bucket] || list_transform(
         |           generate_series(0, p.nbits - 1), i ->
         |             LEAST(xor(bucket, POWER(2.0, i)::BIGINT),
         |                   p.fullb - xor(bucket, POWER(2.0, i)::BIGINT))))) AS bucket
         |  FROM buck, params p
         |), cand AS (
         |  SELECT DISTINCT x.key AS key_a, y.key AS key_b
         |  FROM probes x JOIN buck y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.key < y.key
         |), pc AS (
         |  SELECT c.key_a, c.key_b, corr(a.v1, b.v1) AS correlation, COUNT(*) AS n_overlap
         |  FROM cand c
         |  JOIN t1 a ON a.key = c.key_a
         |  JOIN t1 b ON b.key = c.key_b AND b.period = a.period
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 10
         |), pc_exact AS (
         |  SELECT a.key AS key_a, b.key AS key_b,
         |         corr(a.v1, b.v1) AS correlation, COUNT(*) AS n_overlap
         |  FROM t1 a JOIN t1 b ON a.period = b.period AND a.key < b.key
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= 10
         |), unioned AS (
         |  SELECT * FROM pc WHERE (SELECT use_banded FROM params)
         |  UNION ALL
         |  SELECT * FROM pc_exact WHERE NOT (SELECT use_banded FROM params)
         |)
         |SELECT key_a, key_b, round(correlation, 6) AS correlation, n_overlap
         |FROM unioned
         |WHERE correlation IS NOT NULL AND NOT isnan(correlation)
         |ORDER BY abs(round(correlation, 6)) DESC, key_a ASC, key_b ASC
         |LIMIT 50""".stripMargin,
    "m36_config_diff" ->
      s"""$seriesCte, newbest AS (
         |  SELECT key, lag, round(correlation, 6) AS correlation, n_overlap,
         |         row_number() OVER (PARTITION BY key ORDER BY round(correlation, 6) DESC, lag ASC) AS rn
         |  FROM valid_corrs WHERE lag <= 3
         |), new1 AS (
         |  SELECT key, lag AS new_lag, correlation AS new_corr FROM newbest WHERE rn = 1
         |)
         |SELECT COALESCE(o.key, n.key) AS key,
         |       o.optimal_lag AS old_lag, n.new_lag,
         |       o.correlation AS old_corr, n.new_corr,
         |       CASE WHEN o.optimal_lag IS NULL THEN 'added'
         |            WHEN n.new_lag IS NULL THEN 'removed'
         |            WHEN o.optimal_lag = n.new_lag THEN 'unchanged'
         |            ELSE 'lag_changed' END AS status,
         |       round(COALESCE(o.correlation, 0.0) - COALESCE(n.new_corr, 0.0), 6) AS corr_give_up
         |FROM best1 o FULL OUTER JOIN new1 n ON n.key = o.key""".stripMargin,
    // m33's recursion bounded at the train frontier (n - 7 observations
    // per key), then scored against the positional holdout
    "m37_backtest" ->
      s"""${seriesCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, obs AS (
         |  SELECT key, row_number() OVER (PARTITION BY key ORDER BY period) AS i, v1::DOUBLE AS x
         |  FROM t1
         |), nk AS (
         |  SELECT key, MAX(i) AS n FROM obs GROUP BY key HAVING MAX(i) >= 9
         |), rec AS (
         |  SELECT o1.key, 2 AS i, o2.x AS level, o2.x - o1.x AS trend
         |  FROM obs o1 JOIN obs o2 ON o2.key = o1.key AND o1.i = 1 AND o2.i = 2
         |  JOIN nk ON nk.key = o1.key
         |  UNION ALL
         |  SELECT r.key, r.i + 1,
         |         0.5 * o.x + 0.5 * (r.level + r.trend) AS level,
         |         0.5 * ((0.5 * o.x + 0.5 * (r.level + r.trend)) - r.level) + 0.5 * r.trend AS trend
         |  FROM rec r
         |  JOIN obs o ON o.key = r.key AND o.i = r.i + 1
         |  JOIN nk ON nk.key = r.key AND r.i + 1 <= nk.n - 7
         |), fin AS (
         |  SELECT r.key, nk.n - 7 AS n_train, r.level, r.trend
         |  FROM rec r JOIN nk ON nk.key = r.key AND r.i = nk.n - 7
         |), test AS (
         |  SELECT o.key, (o.i - (nk.n - 7))::BIGINT AS h, o.x AS actual
         |  FROM obs o JOIN nk ON nk.key = o.key AND o.i > nk.n - 7
         |)
         |SELECT t.key, f.n_train::BIGINT AS n_train, COUNT(*) AS n_test,
         |       round(SUM(CAST(round(abs(f.level + t.h * f.trend - t.actual), 9) AS DECIMAL(28,9)))::DOUBLE
         |             / COUNT(*), 6) AS mae,
         |       round(sqrt(SUM(CAST(round((f.level + t.h * f.trend - t.actual)
         |                    * (f.level + t.h * f.trend - t.actual), 9) AS DECIMAL(28,9)))::DOUBLE
         |             / COUNT(*)), 6) AS rmse
         |FROM test t JOIN fin f ON f.key = t.key
         |GROUP BY t.key, f.n_train""".stripMargin,
    "m18_rolling_corr" ->
      s"""$seriesCte
         |SELECT key, CAST(period AS VARCHAR) AS period,
         |       CASE WHEN COUNT(*) OVER w < 2 OR isnan(corr(v1, v2) OVER w) THEN NULL
         |            ELSE round(corr(v1, v2) OVER w, 6) END AS roll_corr,
         |       COUNT(*) OVER w AS n_window
         |FROM merged
         |WINDOW w AS (PARTITION BY key ORDER BY period ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin,
    "m1_series_agg" ->
      s"$seriesCte SELECT key, CAST(period AS VARCHAR) AS period, round(v1, 6) AS value1 FROM t1",
    "m2_merged" ->
      s"$seriesCte SELECT key, CAST(period AS VARCHAR) AS period, round(v1, 6) AS v1, round(v2, 6) AS v2 FROM merged",
    "m3_lag_corr" ->
      s"$seriesCte SELECT key, lag, round(correlation, 6) AS correlation, n_overlap FROM valid_corrs",
    "m4_best_lag" ->
      s"$seriesCte SELECT key, optimal_lag, correlation, n_overlap FROM best1",
    "m5_corr_mapping" ->
      s"$seriesCte SELECT key, time1, value1, time2, value2, lag_offset, method, correlation FROM mapping",
    "m9_qa_checks" ->
      s"""$seriesCte, ms AS (
         |  SELECT COUNT(DISTINCT key) AS mapped_keys,
         |         COUNT(*) AS total_mappings,
         |         COUNT(*) - COUNT(DISTINCT (key, time1, time2)) AS duplicate_mappings,
         |         MIN(lag_offset) AS min_lag, MAX(lag_offset) AS max_lag,
         |         round(AVG(lag_offset), 6) AS avg_lag,
         |         round(MIN(CASE WHEN value1 > 0 THEN value2 / value1 END), 6) AS min_ratio,
         |         round(MAX(CASE WHEN value1 > 0 THEN value2 / value1 END), 6) AS max_ratio,
         |         round(AVG(CASE WHEN value1 > 0 THEN value2 / value1 END), 6) AS avg_ratio,
         |         COUNT(CASE WHEN time2 < time1 THEN 1 END) AS temporal_violations
         |  FROM mapping
         |), tot AS (SELECT COUNT(DISTINCT key) AS total_keys FROM t1)
         |SELECT tot.total_keys, ms.mapped_keys,
         |       round(ms.mapped_keys * 100.0 / tot.total_keys, 6) AS coverage_pct,
         |       CASE WHEN round(ms.mapped_keys * 100.0 / tot.total_keys, 6) >= 70 THEN 'PASS' ELSE 'FAIL' END AS coverage_status,
         |       ms.total_mappings, ms.duplicate_mappings,
         |       CASE WHEN ms.duplicate_mappings = 0 THEN 'PASS' ELSE 'WARNING' END AS duplicate_status,
         |       ms.min_lag, ms.max_lag, ms.avg_lag,
         |       CASE WHEN COALESCE(ms.max_lag, 0) <= 12 THEN 'PASS' ELSE 'WARNING' END AS lag_status,
         |       ms.min_ratio, ms.max_ratio, ms.avg_ratio,
         |       CASE WHEN ms.max_ratio <= 1 THEN 'PASS' ELSE 'WARNING' END AS ratio_status,
         |       ms.temporal_violations,
         |       CASE WHEN ms.temporal_violations = 0 THEN 'PASS' ELSE 'FAIL' END AS temporal_status
         |FROM ms CROSS JOIN tot""".stripMargin,
    "m10_monitoring" ->
      s"""$seriesCte SELECT method, COUNT(*) AS total_mappings,
         |       COUNT(DISTINCT key) AS unique_keys,
         |       round(AVG(CASE WHEN value1 <> 0 THEN value2 / value1 END), 6) AS avg_value_ratio
         |FROM mapping GROUP BY method""".stripMargin,
    "m16_znorm" ->
      s"""$seriesCte SELECT key, CAST(period AS VARCHAR) AS period,
         |  round(CASE WHEN stddev_pop(v1) OVER w = 0 OR isnan(stddev_pop(v1) OVER w)
         |             THEN v1 - AVG(v1) OVER w
         |             ELSE (v1 - AVG(v1) OVER w) / (stddev_pop(v1) OVER w) END, 6) AS v1_z
         |FROM merged WINDOW w AS (PARTITION BY key)""".stripMargin,
    "m15_monthly_corr" ->
      """WITH m AS (
        |  SELECT CAST(l_suppkey AS VARCHAR) AS key,
        |         CAST(date_trunc('month', l_shipdate) AS DATE) AS period,
        |         SUM(l_extendedprice) AS v1, SUM(l_quantity) AS v2
        |  FROM lineitem GROUP BY 1, 2
        |), corrs AS (
        |  SELECT m.key, CAST(l.lag AS BIGINT) AS lag, corr(m.v1, r.v2) AS correlation, COUNT(*) AS n_overlap
        |  FROM m CROSS JOIN (SELECT UNNEST(range(0, 4)) AS lag) l
        |  JOIN m r ON r.key = m.key AND r.period = CAST(m.period + INTERVAL (l.lag) MONTH AS DATE)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), valid_corrs AS (
        |  SELECT * FROM corrs WHERE correlation IS NOT NULL AND NOT isnan(correlation)
        |), best AS (
        |  SELECT key, lag, round(correlation, 6) AS correlation, n_overlap,
        |         row_number() OVER (PARTITION BY key ORDER BY round(correlation, 6) DESC, lag ASC) AS rn
        |  FROM valid_corrs
        |)
        |SELECT key, lag AS optimal_lag, correlation, n_overlap FROM best WHERE rn = 1""".stripMargin,
    "m14_alignment_audit" ->
      s"""$seriesCte SELECT
         |  COUNT(CASE WHEN t1.v1 IS NOT NULL AND t2.v2 IS NOT NULL THEN 1 END) AS matched,
         |  COUNT(CASE WHEN t1.v1 IS NOT NULL AND t2.v2 IS NULL THEN 1 END) AS t1_only,
         |  COUNT(CASE WHEN t1.v1 IS NULL AND t2.v2 IS NOT NULL THEN 1 END) AS t2_only
         |FROM t1 FULL OUTER JOIN t2 ON t1.key = t2.key AND t1.period = t2.period""".stripMargin,
    "m13_resample" ->
      s"""$seriesCte, grid AS (
         |  SELECT key, CAST(UNNEST(generate_series(p0, p1, INTERVAL 1 DAY)) AS DATE) AS period
         |  FROM (SELECT key, MIN(period) AS p0, MAX(period) AS p1 FROM t1 GROUP BY key)
         |)
         |SELECT g.key, CAST(g.period AS VARCHAR) AS period,
         |       round(COALESCE(t1.v1, 0.0), 6) AS value
         |FROM grid g LEFT JOIN t1 ON t1.key = g.key AND t1.period = g.period""".stripMargin,
    "m19_seasonal" ->
      s"""$seriesCte, grid AS (
         |  SELECT key, CAST(UNNEST(generate_series(p0, p1, INTERVAL 1 DAY)) AS DATE) AS period
         |  FROM (SELECT key, MIN(period) AS p0, MAX(period) AS p1 FROM t1 GROUP BY key)
         |), dense AS (
         |  SELECT g.key, g.period, COALESCE(t1.v1, 0.0) AS value
         |  FROM grid g LEFT JOIN t1 ON t1.key = g.key AND t1.period = g.period
         |), dec AS (
         |  SELECT key, period, value,
         |         CASE WHEN COUNT(*) OVER w7 = 7 THEN avg(value) OVER w7 END AS trend,
         |         date_part('isodow', period) - 1 AS dow
         |  FROM dense
         |  WINDOW w7 AS (PARTITION BY key ORDER BY period ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |), seas AS (
         |  SELECT key, period, value, trend,
         |         avg(value - trend) OVER (PARTITION BY key, dow) AS seasonal
         |  FROM dec
         |)
         |SELECT key, CAST(period AS VARCHAR) AS period, round(value, 6) AS value,
         |       round(trend, 6) AS trend, round(seasonal, 6) AS seasonal,
         |       round(value - trend - seasonal, 6) AS residual
         |FROM seas""".stripMargin,
    "m20_interp" ->
      s"""$seriesCte, grid AS (
         |  SELECT key, CAST(UNNEST(generate_series(p0, p1, INTERVAL 1 DAY)) AS DATE) AS period
         |  FROM (SELECT key, MIN(period) AS p0, MAX(period) AS p1 FROM t1 GROUP BY key)
         |), j AS (
         |  SELECT g.key, g.period, t1.v1 AS value
         |  FROM grid g LEFT JOIN t1 ON t1.key = g.key AND t1.period = g.period
         |), f AS (
         |  SELECT key, period, value,
         |    last_value(CASE WHEN value IS NOT NULL THEN period END IGNORE NULLS) OVER wp AS pp,
         |    last_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS) OVER wp AS pv,
         |    first_value(CASE WHEN value IS NOT NULL THEN period END IGNORE NULLS) OVER wn AS np,
         |    first_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS) OVER wn AS nv
         |  FROM j
         |  WINDOW wp AS (PARTITION BY key ORDER BY period ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wn AS (PARTITION BY key ORDER BY period ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |)
         |SELECT key, CAST(period AS VARCHAR) AS period,
         |       round(CASE WHEN value IS NOT NULL THEN value
         |             ELSE pv + (nv - pv) * (date_diff('day', pp, period))::DOUBLE
         |                                  / (date_diff('day', pp, np))::DOUBLE END, 6) AS value,
         |       (value IS NULL) AS interpolated
         |FROM f""".stripMargin,
    "m26_seasonal_anomaly" ->
      s"""$seriesCte, grid AS (
         |  SELECT key, CAST(UNNEST(generate_series(p0, p1, INTERVAL 1 DAY)) AS DATE) AS period
         |  FROM (SELECT key, MIN(period) AS p0, MAX(period) AS p1 FROM t1 GROUP BY key)
         |), dense AS (
         |  SELECT g.key, g.period, COALESCE(t1.v1, 0.0) AS value
         |  FROM grid g LEFT JOIN t1 ON t1.key = g.key AND t1.period = g.period
         |), dec AS (
         |  SELECT key, period, value,
         |         CASE WHEN COUNT(*) OVER w7 = 7 THEN avg(value) OVER w7 END AS trend,
         |         date_part('isodow', period) - 1 AS dow
         |  FROM dense
         |  WINDOW w7 AS (PARTITION BY key ORDER BY period ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |), seas AS (
         |  SELECT key, period, value, trend,
         |         value - trend - avg(value - trend) OVER (PARTITION BY key, dow) AS residual
         |  FROM dec
         |), res AS (
         |  SELECT * FROM seas WHERE residual IS NOT NULL
         |), st AS (
         |  SELECT key, period, value, residual,
         |         quantile_cont(residual, 0.5) OVER (PARTITION BY key) AS med
         |  FROM res
         |), st2 AS (
         |  SELECT *, quantile_cont(abs(residual - med), 0.5) OVER (PARTITION BY key) AS mad
         |  FROM st
         |)
         |SELECT key, CAST(period AS VARCHAR) AS period, round(value, 6) AS value,
         |       round(residual, 6) AS residual,
         |       COALESCE(abs(residual - med) > mad * 3.0, FALSE) AS is_anomaly
         |FROM st2""".stripMargin,
    "m25_corr_significance" ->
      s"""$seriesCte, sig AS (
         |  SELECT key, optimal_lag, correlation, n_overlap,
         |         n_overlap > 3 AND abs(correlation) < 1.0 AS ok,
         |         (1.0 + correlation) / (1.0 - correlation) AS bigr,
         |         CASE WHEN n_overlap > 3 THEN 1.0 / sqrt(n_overlap::DOUBLE - 3.0) END AS se
         |  FROM best1
         |)
         |SELECT key, optimal_lag, correlation, n_overlap,
         |       round(CASE WHEN ok THEN ln(bigr) * 0.5 END, 6) AS fisher_z,
         |       round(CASE WHEN ok THEN se END, 6) AS se,
         |       round(CASE WHEN ok THEN (bigr * exp(-3.92 * se) - 1.0) / (bigr * exp(-3.92 * se) + 1.0) END, 6) AS ci_lo,
         |       round(CASE WHEN ok THEN (bigr * exp(3.92 * se) - 1.0) / (bigr * exp(3.92 * se) + 1.0) END, 6) AS ci_hi,
         |       COALESCE(CASE WHEN ok THEN abs(ln(bigr) * 0.5) > 1.96 * se END, FALSE) AS significant
         |FROM sig""".stripMargin,
    "m23_rolling_median" ->
      s"""$seriesCte
         |SELECT key, CAST(period AS VARCHAR) AS period, round(v1, 6) AS value,
         |       round(quantile_cont(v1, 0.5) OVER (
         |         PARTITION BY key ORDER BY period ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_med
         |FROM t1""".stripMargin,
    "m24_acf" ->
      s"""$seriesCte, acorrs AS (
         |  SELECT m.key, CAST(l.lag AS BIGINT) AS lag, corr(m.v1, r.v1) AS acf, COUNT(*) AS n_overlap
         |  FROM t1 m
         |  CROSS JOIN (SELECT UNNEST(range(0, 7)) AS lag) l
         |  JOIN t1 r ON r.key = m.key AND r.period = m.period + CAST(l.lag AS INTEGER)
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |)
         |SELECT key, lag, round(acf, 6) AS acf, n_overlap
         |FROM acorrs WHERE acf IS NOT NULL AND NOT isnan(acf)""".stripMargin,
    "m22_outlier_repair" ->
      s"""$seriesCte, st AS (
         |  SELECT key, period, v1 AS value,
         |         quantile_cont(v1, 0.5) OVER (PARTITION BY key) AS med
         |  FROM t1
         |), st2 AS (
         |  SELECT *, quantile_cont(abs(value - med), 0.5) OVER (PARTITION BY key) AS mad
         |  FROM st
         |), fl AS (
         |  SELECT key, period, value, med, abs(value - med) > 3.0 * mad AS is_outlier
         |  FROM st2
         |), nb AS (
         |  SELECT key, period, value, med, is_outlier,
         |    last_value(CASE WHEN NOT is_outlier THEN period END IGNORE NULLS) OVER wp AS pp,
         |    last_value(CASE WHEN NOT is_outlier THEN value END IGNORE NULLS) OVER wp AS pv,
         |    first_value(CASE WHEN NOT is_outlier THEN period END IGNORE NULLS) OVER wn AS np,
         |    first_value(CASE WHEN NOT is_outlier THEN value END IGNORE NULLS) OVER wn AS nv
         |  FROM fl
         |  WINDOW wp AS (PARTITION BY key ORDER BY period ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |         wn AS (PARTITION BY key ORDER BY period ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |)
         |SELECT key, CAST(period AS VARCHAR) AS period, round(value, 6) AS value, is_outlier,
         |       round(CASE WHEN NOT is_outlier THEN value
         |                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |                    pv + (nv - pv) * (date_diff('day', pp, period))::DOUBLE
         |                                   / (date_diff('day', pp, np))::DOUBLE
         |                  WHEN pv IS NOT NULL THEN pv
         |                  WHEN nv IS NOT NULL THEN nv
         |                  ELSE med END, 6) AS repaired
         |FROM nb""".stripMargin,
    "m21_changepoint" ->
      s"""$seriesCte, grid AS (
         |  SELECT key, CAST(UNNEST(generate_series(p0, p1, INTERVAL 1 DAY)) AS DATE) AS period
         |  FROM (SELECT key, MIN(period) AS p0, MAX(period) AS p1 FROM t1 GROUP BY key)
         |), dense AS (
         |  SELECT g.key, g.period, COALESCE(t1.v1, 0.0) AS value
         |  FROM grid g LEFT JOIN t1 ON t1.key = g.key AND t1.period = g.period
         |), ms AS (
         |  SELECT key, period, value,
         |         avg(value) OVER wr AS recent_mean,
         |         avg(value) OVER wp AS prior_mean,
         |         var_samp(value) OVER wr AS recent_var,
         |         var_samp(value) OVER wp AS prior_var,
         |         COUNT(*) OVER wa AS n_hist
         |  FROM dense
         |  WINDOW wr AS (PARTITION BY key ORDER BY period ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         |         wp AS (PARTITION BY key ORDER BY period ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING),
         |         wa AS (PARTITION BY key ORDER BY period ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |), sz AS (
         |  SELECT *, sqrt((recent_var + prior_var) / 7) AS se FROM ms WHERE n_hist = 14
         |)
         |SELECT key, CAST(period AS VARCHAR) AS period, round(value, 6) AS value,
         |       round(recent_mean, 6) AS recent_mean, round(prior_mean, 6) AS prior_mean,
         |       round(CASE WHEN se > 0 THEN (recent_mean - prior_mean) / se END, 6) AS shift_z,
         |       COALESCE(abs(CASE WHEN se > 0 THEN (recent_mean - prior_mean) / se END) > 3.0, FALSE) AS is_shift
         |FROM sz""".stripMargin,
    "m17_sla" ->
      s"""$seriesCte, ms AS (
         |  SELECT COUNT(DISTINCT key) AS mapped_keys, COUNT(*) AS total_mappings FROM mapping
         |), tot AS (SELECT COUNT(DISTINCT key) AS total_keys FROM t1),
         |cov AS (
         |  SELECT round(ms.mapped_keys * 100.0 / tot.total_keys, 6) AS c, ms.total_mappings AS tm
         |  FROM ms CROSS JOIN tot
         |)
         |SELECT 'coverage_pct' AS "check", c AS metric_value, 80.0 AS threshold,
         |       CASE WHEN c >= 80.0 THEN 'PASS' ELSE 'ALERT' END AS status, 'ERROR' AS severity FROM cov
         |UNION ALL
         |SELECT 'duration_sec', 10.0, 1800.0, 'PASS', 'WARNING'
         |UNION ALL
         |SELECT 'total_mappings', tm::DOUBLE, 0.0,
         |       CASE WHEN tm > 0 THEN 'PASS' ELSE 'ALERT' END, 'CRITICAL' FROM cov
         |UNION ALL
         |SELECT 'sla_met',
         |       CASE WHEN c >= 80.0 AND tm > 0 THEN 1.0 ELSE 0.0 END, 1.0,
         |       CASE WHEN c >= 80.0 AND tm > 0 THEN 'PASS' ELSE 'ALERT' END, 'SUMMARY' FROM cov""".stripMargin,
    "m12_corr_all_lags" ->
      s"""$seriesCte SELECT key,
         |       string_agg(lag::VARCHAR || ':' || CAST(round(correlation * 1000000) AS BIGINT)::VARCHAR,
         |                  ',' ORDER BY lag) AS all_lags,
         |       COUNT(*) AS n_lags
         |FROM valid_corrs GROUP BY key""".stripMargin
  )
}
