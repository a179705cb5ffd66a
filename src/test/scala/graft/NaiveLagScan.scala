package graft

import java.time.LocalDate

import graft.core.PeriodUnit

/** The lag scan written the slow, obvious way, as a test oracle for the
  * engine's scan: for each lag, pair merged periods p and p + lag on the
  * calendar, count the overlap, and take a textbook two-pass Pearson. */
object NaiveLagScan {

  /** One merged row: period and the two (nullable) values. */
  final case class Point(period: LocalDate, v1: Option[Double], v2: Option[Double])

  /** Two-pass Pearson r; None with fewer than 2 pairs or a zero variance. */
  def pearson(pairs: Seq[(Double, Double)]): Option[Double] =
    if (pairs.length < 2) None
    else {
      val mx = pairs.map(_._1).sum / pairs.length
      val my = pairs.map(_._2).sum / pairs.length
      val sxx = pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val syy = pairs.map(p => (p._2 - my) * (p._2 - my)).sum
      val sxy = pairs.map(p => (p._1 - mx) * (p._2 - my)).sum
      if (sxx == 0.0 || syy == 0.0) None else Some(sxy / math.sqrt(sxx * syy))
    }

  /** (lag, r, n_overlap) of one key's merged series for lags 0..maxLag:
    * n_overlap counts the periods p whose p + lag has a v2; r pairs those
    * that also have a v1. A lag is kept when n_overlap >= minOverlap and r
    * is defined. */
  def scan(points: Seq[Point], unit: PeriodUnit, maxLag: Int, minOverlap: Int): Seq[(Int, Double, Long)] = {
    val byPeriod = points.map(p => p.period -> p).toMap
    def shift(p: LocalDate, lag: Int) = unit match {
      case PeriodUnit.Day   => p.plusDays(lag)
      case PeriodUnit.Month => p.plusMonths(lag)
    }
    (0 to maxLag).flatMap { lag =>
      val partners = points.flatMap(p => byPeriod.get(shift(p.period, lag)).flatMap(_.v2).map(y => (p.v1, y)))
      val r = pearson(partners.collect { case (Some(x), y) => (x, y) })
      if (partners.length < minOverlap) None else r.map(c => (lag, c, partners.length.toLong))
    }
  }

  /** The best (lag, round(r, 6)): highest rounded r, then lowest lag. */
  def best(scanned: Seq[(Int, Double, Long)]): Option[(Int, Double)] =
    scanned
      .map { case (lag, r, _) => (lag, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (lag, c) => (-c, lag) }
      .headOption
}
