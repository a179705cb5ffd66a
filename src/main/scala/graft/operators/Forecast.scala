package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Holt linear-trend exponential smoothing as a typed per-key kernel —
  * the forecasting step a user runs after [[Decompose]]/[[Temporal]]
  * screening, and the second in-JVM sequential kernel alongside
  * [[DtwMapping]] (a smoothing recursion, like DTW's DP, cannot be
  * expressed as a window/aggregate: each state depends on the previous
  * one through a non-associative update).
  *
  * Scale notes (100 TB): one shuffle by entity key, groups materialize
  * ONLY that key's series (a `maxSeriesLength` fail-fast guard, as the
  * mapping kernel bounds a key's merged series), output is one short row
  * per key.
  * The recursion is O(n) per key — skew-safe where DTW is O(n·w).
  */
object Forecast {

  /** Final smoothing state + straight-line forecast for one key. */
  case class HoltState(
      key: String,
      n: Long,
      level: Double,
      trend: Double,
      forecast: Double)

  // not private: the row encoder's generated code must reach the class
  case class Obs(key: String, period: java.sql.Date, value: Double)

  /** Additive Holt smoothing over each key's observation SEQUENCE
    * (gap-indifferent, like the reference's positional kernels), seeded
    * at the second observation: level₂ = x₂, trend₂ = x₂ − x₁, then for
    * each later x:
    *   level' = α·x + (1−α)·(level + trend)
    *   trend' = β·(level' − level) + (1−β)·trend
    * Forecast is level + horizon·trend off the final state. Keys with
    * fewer than 2 observations are dropped (no trend is defined).
    *
    * The update is evaluated in a FIXED operation order so an external
    * re-implementation (e.g. a SQL recursive CTE) reproduces it
    * bit-for-bit in IEEE doubles. */
  def holt(
      series: DataFrame,
      alpha: Double,
      beta: Double,
      horizon: Int,
      maxSeriesLength: Int = 100000): Dataset[HoltState] = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta > 0 && beta <= 1, s"beta must be in (0,1], got $beta")
    val spark = series.sparkSession
    import spark.implicits._
    series
      .select(col("key").cast("string"), col("period"), col("value").cast("double"))
      .as[Obs]
      .groupByKey(_.key)
      .flatMapGroups { (key, it) =>
        val pts = it.toArray.sortBy(_.period.getTime)
        if (pts.length > maxSeriesLength)
          throw new IllegalStateException(
            s"series for key=$key has ${pts.length} points > maxSeriesLength=$maxSeriesLength")
        if (pts.length < 2) Iterator.empty
        else {
          val xs = pts.map(_.value)
          var level = xs(1)
          var trend = xs(1) - xs(0)
          var i = 2
          while (i < xs.length) {
            val l1 = alpha * xs(i) + (1 - alpha) * (level + trend)
            trend = beta * (l1 - level) + (1 - beta) * trend
            level = l1
            i += 1
          }
          Iterator.single(
            HoltState(key, xs.length.toLong, level, trend, level + horizon * trend))
        }
      }
  }
}
