package graft.operators

import graft.core.{DtwSummary, MappingConfig}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** DTW mapping staged over the per-entity kernel's DTW
  * ([[MappingKernel.dtwSummaries]]): the reference's grouped-map pandas
  * UDF and its explode (/root/reference/mapping_engine.py:277-337). A key's
  * merged series is held in one task, bounded by `cfg.maxSeriesLength`; a
  * Sakoe-Chiba band (`dtwWindow`) makes a long key O(n·w), not O(n²).
  */
object DtwMapping {

  /** Per-entity DTW summary: (key, total_cost, num_mappings, path), with
    * the periods read in `cfg.periodUnit`. */
  def summarize(merged: DataFrame, cfg: MappingConfig): Dataset[DtwSummary] =
    MappingKernel.dtwSummaries(merged, cfg)

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
