package graft.operators

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.udaf

/** SQL-callable lag-scan correlation: `best_lag(period, v1, v2)` runs the
  * reference's in-memory kernel per group — sort by period, slide v1
  * against v2 by POSITION for lags 0..maxLag, Pearson per lag, strict->
  * argmax keeping the earliest best (mapping_engine.py:117-160).
  *
  * This is the positional (array-slicing) semantics of the reference UDF,
  * complementing the relational calendar-based path (LagCorrelation) —
  * identical on gap-free series with at least one valid lag (the
  * cross-check test locks that). Divergence by design on degenerate
  * series: zero-variance input returns the reference's sentinel
  * correlation -1.0 here (mapping_engine.py:131-133), while the
  * relational path emits no row at all. Use the relational path for
  * large jobs (it partial-aggregates; this one buffers the group).
  */
object BestLagAggregator {

  final case class BestLag(optimal_lag: Int, correlation: Double, num_periods: Int)

  /** The kernel (mapping_engine.py:117-160 semantics). */
  def bestLag(v1: Array[Double], v2: Array[Double], maxLag: Int): BestLag = {
    val n = v1.length
    if (n < 2) return BestLag(0, 0.0, n)
    var best = -1.0
    var bestL = 0
    var lag = 0
    while (lag <= maxLag) {
      val len = n - lag
      if (len >= 2) {
        val b = java.util.Arrays.copyOfRange(v2, lag, lag + len)
        val r = MappingKernel.pearson(v1, b, len)
        if (!r.isNaN && r > best) { best = r; bestL = lag }
      }
      lag += 1
    }
    BestLag(bestL, best, n)
  }

  final class Agg(maxLag: Int, maxSeriesLength: Int)
      extends PointsAggregator[BestLag]("best_lag", maxSeriesLength) {
    override def finish(buf: PointsBuf): BestLag = {
      val sorted = buf.pts.sortBy(_.period).toArray
      bestLag(sorted.map(_.v1), sorted.map(_.v2), maxLag)
    }
    override def outputEncoder: Encoder[BestLag] = Encoders.product[BestLag]
  }

  /** Register `best_lag(period, v1, v2)` on the session. */
  def register(
      spark: SparkSession,
      name: String = "best_lag",
      maxLag: Int = 6,
      maxSeriesLength: Int = 100000): Unit =
    spark.udf.register(name, udaf(new Agg(maxLag, maxSeriesLength), Encoders.product[PeriodPoint]))
}
