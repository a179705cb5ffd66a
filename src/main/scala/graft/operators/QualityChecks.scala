package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Post-mapping quality assurance — the reference's QA layer
  * (05_prod_dev.py:469-621) as ONE metrics row, instead of
  * five driver-side `.collect()` round-trips.
  *
  * Checks: entity coverage (>= 70% PASS), duplicate mappings (== 0 PASS),
  * lag range (max <= 12 PASS), value2/value1 ratio (max <= 1 PASS),
  * temporal violations time2 < time1 (== 0 PASS).
  *
  * The row has two sources with one formula for its coverage, statuses
  * and rounding ([[metrics]]): [[check]] aggregates a mapping table and
  * t1, and `Pipeline.productionRun` observes [[servedAggregates]] in its
  * write stage.
  */
object QualityChecks {

  /** The QA row of a mapping table against its input t1: one plan. */
  def check(mapping: DataFrame, t1: DataFrame): DataFrame = {
    val totals = t1.agg(countDistinct(col("key")).as("total_keys"))
    val mapStats = mapping.agg(
      countDistinct(col("key")).as("mapped_keys"),
      (count(lit(1)) - countDistinct(col("key"), col("time1"), col("time2"))).as("duplicate_mappings") +:
        rowAggregates(lit(true)): _*)
    metrics(mapStats.crossJoin(totals))
  }

  /** [[check]]'s aggregates over the rows of `MappingKernel.served`,
    * without a DISTINCT aggregate, so `Dataset.observe` takes them: the
    * key counts and duplicates sum the per-key status rows, the rest
    * aggregate the mapping rows (a status row is null in every column they
    * read). */
  private[operators] def servedAggregates: Seq[Column] = Seq(
      count(col("status")).as("total_keys"),
      count(when(col("status.mapped"), 1)).as("mapped_keys"),
      coalesce(sum(col("status.duplicates")), lit(0L)).as("duplicate_mappings")) ++
    rowAggregates(col("status").isNull)

  /** The aggregates over the mapping rows, those where `isRow` holds. */
  private def rowAggregates(isRow: Column): Seq[Column] = {
    val ratio = when(col("value1") > 0, col("value2") / col("value1"))
    Seq(
      count(when(isRow, 1)).as("total_mappings"),
      min(col("lag_offset")).as("min_lag"),
      max(col("lag_offset")).as("max_lag"),
      round(avg(col("lag_offset")), 6).as("avg_lag"),
      round(min(ratio), 6).as("min_ratio"),
      round(max(ratio), 6).as("max_ratio"),
      round(avg(ratio), 6).as("avg_ratio"),
      count(when(col("time2") < col("time1"), 1)).as("temporal_violations"))
  }

  /** The QA row from one row of these aggregates: coverage and statuses. */
  private[operators] def metrics(aggregates: DataFrame): DataFrame =
    aggregates
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
