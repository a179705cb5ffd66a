package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest adapter: canonicalize any "long" table to (key, period, value).
  *
  * Replaces the reference's rename-only preparation
  * (/root/reference/mapping_engine.py:517-527) and adds real period
  * normalization: string 'yyyy-MM' / 'yyyy-MM-dd', DateType and TimestampType
  * inputs all become a DateType truncated to the configured unit. Column
  * names stay parameters as in the reference (key_col/time_col/value_col).
  */
object SeriesTable {

  /** Schema validation: fail fast with the missing-column list, like
    * DataValidator.validate_schema (/root/reference/mapping_engine.py:356-374). */
  def validateSchema(df: DataFrame, required: Seq[String], tableName: String): Unit = {
    val have = df.columns.toSet
    val missing = required.filterNot(have.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"$tableName is missing required columns: ${missing.mkString(", ")} " +
          s"(available: ${df.columns.mkString(", ")})")
  }

  /** Normalize an arbitrary time column to DateType truncated to `unit`.
    * Accepts 'yyyy-MM' strings (reference's native format,
    * 01_setup.oy:98), ISO date strings, DateType, TimestampType.
    * A string that is no date becomes null under ANSI on and off alike. */
  def normalizePeriod(time: Column, timeType: DataType, unit: PeriodUnit): Column = {
    val asDate: Column = timeType match {
      case StringType =>
        // 'yyyy-MM' needs an explicit day before the parse
        when(time.rlike("^\\d{4}-\\d{2}$"), try_to_date(concat(time, lit("-01"))))
          .otherwise(try_to_date(time))
      case DateType      => time
      case TimestampType => to_date(time)
      case _: NumericType =>
        throw new IllegalArgumentException(s"numeric time column unsupported: $timeType")
      case other =>
        throw new IllegalArgumentException(s"unsupported time column type: $other")
    }
    unit match {
      case PeriodUnit.Day   => asDate
      case PeriodUnit.Month => trunc(asDate, "MM")
    }
  }

  /** The key/period/value projection of any long table: (key string,
    * period date, value double), one row per input row — duplicate
    * periods are still separate rows. The per-entity mapping kernel
    * (graft.operators.MappingKernel) reads this and sums them itself. A
    * malformed period or value is null, not a failed job, whatever
    * `spark.sql.ansi.enabled` says. */
  def project(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      unit: PeriodUnit,
      tableName: String = "table"): DataFrame = {
    validateSchema(df, Seq(keyCol, timeCol, valueCol), tableName)
    val timeType = df.schema(timeCol).dataType
    df.select(
      col(keyCol).cast(StringType).as("key"),
      normalizePeriod(col(timeCol), timeType, unit).as("period"),
      col(valueCol).try_cast(DoubleType).as("value"))
  }

  /** Canonical table: [[project]], then multiple observations in the same
    * period are SUMMED, so the output is guaranteed one row per (key,
    * period) — the invariant the lag scan and the merge join both rely
    * on. (The reference silently mis-slices on duplicate months inside
    * its UDF; aggregating at ingest is the well-defined semantic.) */
  def canonicalize(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      unit: PeriodUnit,
      tableName: String = "table"): DataFrame =
    project(df, keyCol, timeCol, valueCol, unit, tableName)
      .groupBy(col("key"), col("period"))
      .agg(sum(col("value")).as("value"))

  /** Inner-join the two canonical series on (key, period) — the reference's
    * "merge" step (/root/reference/mapping_engine.py:540-550). Equi-join on
    * both keys: Catalyst picks sort-merge or broadcast-hash under AQE. */
  def merge(t1: DataFrame, t2: DataFrame): DataFrame =
    t1.withColumnRenamed("value", "v1")
      .join(t2.withColumnRenamed("value", "v2"), Seq("key", "period"), "inner")

  /** Resample a canonical series to a dense period grid per key: every
    * period from each key's min to max exists afterwards. Gap values are
    * zero-filled or forward-filled (last observation carried forward).
    *
    * Fully relational: the grid is `explode(sequence(min, max, interval))`
    * off a per-key min/max aggregate (no driver loops, no UDF); forward
    * fill is `last(value, ignoreNulls)` over an unbounded-preceding
    * window — one shuffle by key for the aggregate, one for the window.
    * The reference has no gap handling at all (its positional lag slicing
    * silently misaligns on gaps — SURVEY.md §7.4); resampling makes the
    * positional and calendar semantics coincide. */
  def resample(series: DataFrame, unit: PeriodUnit, fill: String = "zero"): DataFrame = {
    require(Set("zero", "forward").contains(fill), s"fill must be zero|forward, got $fill")
    val step = unit match {
      case PeriodUnit.Day   => expr("interval 1 day")
      case PeriodUnit.Month => expr("interval 1 month")
    }
    val grid = series
      .groupBy(col("key"))
      .agg(min(col("period")).as("p0"), max(col("period")).as("p1"))
      .select(col("key"), explode(sequence(col("p0"), col("p1"), step)).as("period"))
      .select(col("key"), col("period").cast(DateType).as("period"))
    val joined = grid.join(series, Seq("key", "period"), "left")
    fill match {
      case "zero" => joined.withColumn("value", coalesce(col("value"), lit(0.0)))
      case "forward" =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"))
          .orderBy(col("period"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        joined.withColumn("value", last(col("value"), ignoreNulls = true).over(w))
    }
  }

  /** Resample to the dense daily grid with LINEAR interpolation of the
    * gaps: each missing day gets prev + (next − prev) · elapsed/span from
    * its nearest observed neighbors. Returns (key, period, value,
    * interpolated) — the flag marks filled rows.
    *
    * Neighbor lookup is two `last/first(_, ignoreNulls)` running windows
    * over (period, value) structs — no self-join, no per-gap scan; the
    * whole operator is the grid aggregate plus ONE window sort per key
    * (both window frames share the partitionBy(key).orderBy(period)
    * sort). Grid endpoints are observed by construction (min/max of the
    * key's own periods), so every gap is interior and both neighbors
    * exist. The reference has no interpolation (gaps silently misalign
    * its positional lag slicing — SURVEY.md §7.4). */
  def interpolate(series: DataFrame): DataFrame = {
    val grid = series
      .groupBy(col("key"))
      .agg(min(col("period")).as("p0"), max(col("period")).as("p1"))
      .select(
        col("key"),
        explode(sequence(col("p0"), col("p1"), expr("interval 1 day"))).as("period"))
      .select(col("key"), col("period").cast(DateType).as("period"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("period"))
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wNext = w.rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val obs = when(col("value").isNotNull, struct(col("period"), col("value")))
    grid
      .join(series, Seq("key", "period"), "left")
      .withColumn("prev", last(obs, ignoreNulls = true).over(wPrev))
      .withColumn("next", first(obs, ignoreNulls = true).over(wNext))
      .select(
        col("key"),
        col("period"),
        when(col("value").isNotNull, col("value"))
          .otherwise(
            col("prev.value") +
              (col("next.value") - col("prev.value")) *
              datediff(col("period"), col("prev.period")).cast(DoubleType) /
              datediff(col("next.period"), col("prev.period")).cast(DoubleType))
          .as("value"),
        col("value").isNull.as("interpolated"))
  }
}
