package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Production SLA layer — Scala counterpart of the reference monitor's
  * check_sla + send_alert (/root/reference/05_prod_dev.py:670-745):
  * one PASS/ALERT row per SLA with the reference's severities, plus the
  * overall verdict row (its boolean return), so alerting systems consume
  * a table instead of log lines.
  *
  * Scale notes: SLA computes no statistics of its own. It projects the
  * `coverage_pct` and `total_mappings` columns of the
  * [[QualityChecks.check]] metrics row, so the coverage formula lives in
  * one place. Over a lazy QA plan, column pruning drops the QA metrics
  * SLA does not read (duplicates, lags, ratios), leaving the mapping's
  * key count, its row count and the input's key count. Over a local QA
  * row it reads no data, and `Pipeline.productionRun`, which holds its
  * observed QA row locally, builds the rows from [[checks]] without a job.
  * `durationSec` is wall clock measured by the caller (data cannot know it).
  */
object Sla {

  final case class SlaThresholds(
      minCoveragePct: Double = 80.0,  // 05_prod_dev.py:710
      maxDurationSec: Double = 1800.0 // 05_prod_dev.py:722
  )

  /** One row per check: (check, metric_value, threshold, status, severity).
    * status ∈ PASS | ALERT; severity mirrors the reference's alert levels
    * (coverage ERROR, duration WARNING, non-empty CRITICAL). The final
    * `sla_met` row is the conjunction (05_prod_dev.py:745). */
  def report(
      mapping: DataFrame,
      inputKeys: DataFrame,
      durationSec: Double,
      t: SlaThresholds = SlaThresholds()): DataFrame =
    fromQuality(QualityChecks.check(mapping, inputKeys), durationSec, t)

  /** The [[report]] rows from a [[QualityChecks.check]] metrics row. */
  def fromQuality(qa: DataFrame, durationSec: Double, t: SlaThresholds = SlaThresholds()): DataFrame =
    qa.select(inline(checks(durationSec, t)))

  /** The [[report]] rows of a QA row as one array column. Over a local QA
    * table its projection runs on the driver, where an explode would start
    * a Spark job, so `Pipeline.productionRun` collects this and inlines
    * the rows itself. */
  private[operators] def checks(durationSec: Double, t: SlaThresholds): Column = {
    val covOk = col("coverage_pct") >= t.minCoveragePct
    val durOk = lit(durationSec) <= t.maxDurationSec
    val nonEmptyOk = col("total_mappings") > 0
    def status(ok: Column) = when(ok, "PASS").otherwise("ALERT")
    array(
      struct(
        lit("coverage_pct").as("check"),
        col("coverage_pct").cast("double").as("metric_value"),
        lit(t.minCoveragePct).as("threshold"),
        status(covOk).as("status"),
        lit("ERROR").as("severity")),
      struct(
        lit("duration_sec").as("check"),
        lit(durationSec).cast("double").as("metric_value"),
        lit(t.maxDurationSec).as("threshold"),
        status(durOk).as("status"),
        lit("WARNING").as("severity")),
      struct(
        lit("total_mappings").as("check"),
        col("total_mappings").cast("double").as("metric_value"),
        lit(0.0).as("threshold"),
        status(nonEmptyOk).as("status"),
        lit("CRITICAL").as("severity")),
      struct(
        lit("sla_met").as("check"),
        (covOk && durOk && nonEmptyOk).cast("double").as("metric_value"),
        lit(1.0).as("threshold"),
        status(covOk && durOk && nonEmptyOk).as("status"),
        lit("SUMMARY").as("severity")))
  }
}
