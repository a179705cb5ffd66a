package graft.operators

import graft.core.MappingConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Method-comparison layer: join per-entity correlation and DTW summaries,
  * derive a recommended method + confidence + reason per entity
  * (/root/reference/04_comparision.py:45-56, 243-288).
  *
  * All logic is CASE WHEN chains over two one-row-per-entity tables — the
  * join is an equi-join of two small aggregates (broadcastable at any
  * scale where entity count << fact count). */
object Comparison {

  /** J8: corr summary ⋈ dtw summary per entity. The DTW summary covers
    * every merged entity; entities with NO valid correlation (constant or
    * too-short series — the relational corr table has no row for them)
    * must still appear, carrying the reference UDF's sentinel corr = -1
    * (mapping_engine.py:131-133) so the CASE logic routes them to DTW /
    * manual review instead of dropping them. */
  def methodComparison(corrSummary: DataFrame, dtwSummary: DataFrame): DataFrame =
    dtwSummary
      .select(col("key"), col("total_cost"), col("num_mappings"))
      .join(
        corrSummary.select(col("key"), col("correlation"), col("optimal_lag")),
        Seq("key"),
        "left")
      .withColumn("correlation", coalesce(col("correlation"), lit(-1.0)))
      .withColumn("optimal_lag", coalesce(col("optimal_lag"), lit(0)))

  /** Recommendation CASE logic with the reference's exact thresholds
    * (04_comparision.py:251-288). */
  def recommendations(comparison: DataFrame): DataFrame =
    comparison.select(
      col("key"),
      col("correlation"),
      col("optimal_lag"),
      col("total_cost"),
      when(col("correlation") >= 0.7 && col("optimal_lag") <= 2, "Correlation")
        .when(col("correlation") >= 0.5 && col("total_cost") <= 10, "Either (prefer Correlation for simplicity)")
        .when(col("total_cost") <= 15, "DTW")
        .otherwise("Complex - Manual Review")
        .as("recommended_method"),
      when(col("correlation") >= 0.8 || col("total_cost") <= 5, "High")
        .when(col("correlation") >= 0.5 || col("total_cost") <= 15, "Medium")
        .otherwise("Low")
        .as("confidence"),
      when(col("correlation") >= 0.7, "High correlation with simple lag pattern")
        .when(col("total_cost") <= 10, "Low DTW cost indicates good alignment")
        .when(col("correlation") < 0.3 && col("total_cost") > 20,
          "Both methods show poor fit - investigate data quality")
        .otherwise("Moderate fit - consider business context")
        .as("reason"))

  /** A4: distribution of recommendations (04_comparision.py:297-299). */
  def recommendationSummary(recs: DataFrame): DataFrame =
    recs
      .groupBy(col("recommended_method"), col("confidence"))
      .agg(count(lit(1)).as("num_entities"))

  /** Convenience: full pipeline from a merged series table. */
  def recommendationsFromMerged(merged: DataFrame, cfg: MappingConfig): DataFrame =
    recommendationsFromSummaries(merged, DtwMapping.summarize(merged, cfg).toDF(), cfg)

  /** Recommendations from ALREADY-COMPUTED DTW summaries (key, total_cost,
    * num_mappings, path) of `merged`, such as a staged
    * `DtwSummary` table that other queries read too. The correlation side
    * is [[LagCorrelation.bestLag]] of the kernel's lag scan; serving the
    * model this trains runs through the kernel ([[MappingKernel.serve]]),
    * which computes its DTW keys' paths itself. */
  def recommendationsFromSummaries(
      merged: DataFrame,
      dtwSummaries: DataFrame,
      cfg: MappingConfig): DataFrame = {
    val corr = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged, cfg))
    val dtw = dtwSummaries
      .select(col("key"), round(col("total_cost"), 6).as("total_cost"), col("num_mappings"))
    recommendations(methodComparison(corr, dtw))
  }
}
