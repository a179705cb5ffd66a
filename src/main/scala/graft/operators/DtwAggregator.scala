package graft.operators

import graft.core.PathStep
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.udaf

/** SQL-callable DTW: a typed `Aggregator` wrapping the in-JVM kernel, so
  * DTW is usable from plain SQL —
  *
  * {{{
  *   DtwAggregator.register(spark, window = windowOpt, normalize = normalize)
  *   spark.sql("SELECT key, dtw(CAST(period AS STRING), v1, v2) AS d FROM merged GROUP BY key")
  * }}}
  *
  * This is SURVEY.md §7.1(5)'s optional custom Aggregator: no planner
  * changes. The buffer is the shared [[PointsAggregator]] one; `finish`
  * runs [[Dtw.align]], the same per-entity body as DtwMapping.summarize.
  */
object DtwAggregator {

  /** total cost + warping path, minus the key (GROUP BY carries it). */
  final case class DtwOut(total_cost: Double, num_mappings: Int, path: Seq[PathStep])

  final class DtwAgg(window: Option[Int], normalize: Boolean, maxSeriesLength: Int = 100000)
      extends PointsAggregator[DtwOut]("dtw", maxSeriesLength) {
    override def finish(buf: PointsBuf): DtwOut = {
      val (cost, steps) = Dtw.align(buf.pts, window, normalize)
      DtwOut(cost, steps.length, steps)
    }
    override def outputEncoder: Encoder[DtwOut] = Encoders.product[DtwOut]
  }

  /** Register `dtw(period, v1, v2)` on the session. */
  def register(
      spark: SparkSession,
      name: String = "dtw",
      window: Option[Int] = None,
      normalize: Boolean = true,
      maxSeriesLength: Int = 100000): Unit =
    spark.udf.register(
      name, udaf(new DtwAgg(window, normalize, maxSeriesLength), Encoders.product[PeriodPoint]))
}
