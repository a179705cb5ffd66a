package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One point of an entity's merged series: (period ISO string, v1, v2).
  * The input row of the SQL series aggregates and of [[Dtw.align]]. */
final case class PeriodPoint(period: String, v1: Double, v2: Double)

/** Aggregation buffer: the group's points plus a running count, so the
  * size guard is O(1) per row (List.length per reduce would be O(n²)). */
final case class PointsBuf(n: Int, pts: List[PeriodPoint])

/** The buffer shared by the per-entity SQL aggregates (`best_lag`,
  * `dtw`): collect the group's (still unsorted) points, then `finish`
  * runs the kernel. Catalyst sees an ordinary typed aggregate with
  * partial buffers, so it composes with AQE and hash aggregation.
  *
  * Same fail-fast as DtwMapping.summarize's maxSeriesLength check: a
  * pathological hot key errors with its size, never OOMs an executor
  * mid-buffer. `name` labels that error. */
abstract class PointsAggregator[Out](name: String, maxSeriesLength: Int)
    extends Aggregator[PeriodPoint, PointsBuf, Out] {
  private def guard(n: Int): Unit =
    if (n > maxSeriesLength)
      throw new IllegalStateException(
        s"$name group has $n points > maxSeriesLength=$maxSeriesLength")
  override def zero: PointsBuf = PointsBuf(0, Nil)
  override def reduce(b: PointsBuf, a: PeriodPoint): PointsBuf = {
    guard(b.n + 1); PointsBuf(b.n + 1, a :: b.pts)
  }
  override def merge(b1: PointsBuf, b2: PointsBuf): PointsBuf = {
    guard(b1.n + b2.n); PointsBuf(b1.n + b2.n, b1.pts ::: b2.pts)
  }
  override def bufferEncoder: Encoder[PointsBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[PointsBuf]()
}
