package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Post-mapping quality assurance — the reference's QA layer
  * (/root/reference/05_prod_dev.py:469-621) as ONE distributed plan
  * producing a single metrics row, instead of five driver-side
  * `.collect()` round-trips.
  *
  * Checks: entity coverage (>= 70% PASS), duplicate mappings (== 0 PASS),
  * lag range (max <= 12 PASS), value2/value1 ratio (max <= 1 PASS),
  * temporal violations time2 < time1 (== 0 PASS).
  */
object QualityChecks {

  def check(mapping: DataFrame, t1: DataFrame): DataFrame = {
    val totals = t1.agg(countDistinct(col("key")).as("total_keys"))
    val mapStats = mapping.agg(
      countDistinct(col("key")).as("mapped_keys"),
      count(lit(1)).as("total_mappings"),
      (count(lit(1)) - countDistinct(col("key"), col("time1"), col("time2")))
        .as("duplicate_mappings"),
      min(col("lag_offset")).as("min_lag"),
      max(col("lag_offset")).as("max_lag"),
      round(avg(col("lag_offset")), 6).as("avg_lag"),
      round(min(when(col("value1") > 0, col("value2") / col("value1"))), 6).as("min_ratio"),
      round(max(when(col("value1") > 0, col("value2") / col("value1"))), 6).as("max_ratio"),
      round(avg(when(col("value1") > 0, col("value2") / col("value1"))), 6).as("avg_ratio"),
      count(when(col("time2") < col("time1"), 1)).as("temporal_violations"))
    mapStats
      .crossJoin(totals)
      .withColumn(
        "coverage_pct",
        // null, not a DIVIDE_BY_ZERO under ANSI, when t1 has no keys
        round(try_divide(col("mapped_keys") * lit(100.0), col("total_keys")), 6))
      .select(
        col("total_keys"),
        col("mapped_keys"),
        col("coverage_pct"),
        when(col("coverage_pct") >= 70, "PASS").otherwise("FAIL").as("coverage_status"),
        col("total_mappings"),
        col("duplicate_mappings"),
        when(col("duplicate_mappings") === 0, "PASS").otherwise("WARNING").as("duplicate_status"),
        col("min_lag"),
        col("max_lag"),
        col("avg_lag"),
        when(coalesce(col("max_lag"), lit(0)) <= 12, "PASS").otherwise("WARNING").as("lag_status"),
        col("min_ratio"),
        col("max_ratio"),
        col("avg_ratio"),
        when(col("max_ratio") <= 1, "PASS").otherwise("WARNING").as("ratio_status"),
        col("temporal_violations"),
        when(col("temporal_violations") === 0, "PASS").otherwise("FAIL").as("temporal_status"))
  }

  /** Monitoring aggregate over the mapping output, shaped after the
    * reference's per-method monitoring view
    * (/root/reference/05_prod_dev.py:1252-1266): row counts, entity counts
    * and average value ratio per mapping method. */
  def monitoringSummary(mapping: DataFrame): DataFrame =
    mapping
      .groupBy(col("method"))
      .agg(
        count(lit(1)).as("total_mappings"),
        countDistinct(col("key")).as("unique_keys"),
        round(avg(when(col("value1") =!= 0, col("value2") / col("value1"))), 6)
          .as("avg_value_ratio"))
}
