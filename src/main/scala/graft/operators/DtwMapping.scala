package graft.operators

import graft.core.{DtwSummary, MappingConfig, MergedPoint}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** DTW mapping as a typed Spark operator: `groupByKey(_.key).mapGroups`
  * running the in-JVM kernel (graft.operators.Dtw), replacing the
  * reference's grouped-map pandas UDF
  * (/root/reference/mapping_engine.py:277-337).
  *
  * Scale notes (100 TB): one shuffle by entity key (exactly what the pandas
  * UDF also forces), but no Arrow serialization and no Python worker. Each
  * group materializes only that entity's series (monthly/daily series are
  * tiny; `cfg.maxSeriesLength` guards pathological keys — a series that
  * exceeds it fails fast with the offending key instead of OOMing the
  * executor). Skew: a single hot key costs O(n·w) with the Sakoe-Chiba
  * band, not O(n²).
  */
object DtwMapping {

  /** Per-entity DTW summary: (key, total_cost, num_mappings, path). */
  def summarize(merged: DataFrame, cfg: MappingConfig): Dataset[DtwSummary] = {
    val spark = merged.sparkSession
    import spark.implicits._
    merged
      .select(col("key").cast("string"), col("period"), col("v1"), col("v2"))
      .as[MergedPoint]
      .groupByKey(_.key)
      .mapGroups { (key, it) =>
        val pts = it.map(p => PeriodPoint(p.period.toString, p.v1, p.v2)).toVector
        if (pts.length > cfg.maxSeriesLength)
          throw new IllegalStateException(
            s"series for key=$key has ${pts.length} points > maxSeriesLength=${cfg.maxSeriesLength}")
        val (cost, steps) = Dtw.align(pts, cfg.dtwWindow, cfg.dtwNormalize)
        DtwSummary(key, cost, steps.length, steps)
      }
  }

  /** Filter DTW summaries to entities whose alignment cost is within the
    * p-th percentile — the reference's quality gate on DTW output
    * (/root/reference/03_dtw_mapping.py:276, 315).
    *
    * Fully LAZY: the threshold is a one-row approx-percentile aggregate
    * (no sort of the summary table) broadcast-crossed back into the
    * filter, so composing this into a larger pipeline does not force an
    * eager driver action the way `df.stat.approxQuantile` (which
    * collects at call time) would. Empty input yields a null threshold
    * and the `<=` comparison drops nothing into the output — same
    * behavior as the reference's no-op on empty. */
  def filterByCostPercentile(summaries: DataFrame, p: Double, relErr: Double = 0.01): DataFrame = {
    val accuracy = math.max(100, math.round(1.0 / math.max(relErr, 1e-6)).toInt)
    val thr = summaries.agg(
      percentile_approx(col("total_cost"), lit(p), lit(accuracy)).as("cost_threshold"))
    summaries
      .crossJoin(org.apache.spark.sql.functions.broadcast(thr))
      .filter(col("total_cost") <= col("cost_threshold"))
      .drop("cost_threshold")
  }

  /** Row-level DTW mapping: explode the warping path, matching the
    * reference's explode-after-UDF shape (mapping_engine.py:662-675).
    * Output schema aligns with the correlation mapping for unionByName. */
  def mapping(merged: DataFrame, cfg: MappingConfig): DataFrame =
    mappingFromSummaries(summarize(merged, cfg).toDF())

  /** Same explode, from ALREADY-COMPUTED summaries (key, total_cost, path)
    * — lets a caller that needed the summaries anyway (recommendation
    * training, the staged auto mode) derive the row-level mapping without
    * running the DTW kernel a second time. */
  def mappingFromSummaries(summaries: DataFrame): DataFrame = {
    summaries
      .select(col("key"), round(col("total_cost"), 6).as("dtw_cost"), explode(col("path")).as("step"))
      .select(
        col("key"),
        col("step.period1").as("time1"),
        col("step.value1").as("value1"),
        col("step.period2").as("time2"),
        col("step.value2").as("value2"),
        lit(null).cast("int").as("lag_offset"),
        lit("dtw").as("method"),
        col("dtw_cost"))
  }
}
