package graft

import java.time.LocalDate

import graft.core.{MappingConfig, PeriodUnit}

/** The mapping rules after the lag scan and the DTW, written the slow,
  * obvious way on the driver, as a test oracle for the engine's join-back
  * and routing: the lag-shifted pairing, the auto split with its
  * `minCorrelation` gate, and the stored-model serving rules
  * (05_prod_dev.py:329-447). It takes the best lags and the DTW alignments
  * as inputs, so the naive scan and the naive DTW can feed it. */
object NaiveJoinBack {

  /** One canonical row. */
  final case class Obs(key: String, period: LocalDate, value: Option[Double])

  /** One mapping row with every method's columns. */
  final case class Mapped(
      key: String,
      time1: String,
      value1: Option[Double],
      time2: String,
      value2: Option[Double],
      lag_offset: Option[Int],
      method: String,
      correlation: Option[Double],
      dtw_cost: Option[Double])

  /** A key's DTW alignment: the raw cost and the path's
    * (period1, value1, period2, value2) steps. */
  final case class Alignment(cost: Double, steps: Seq[(LocalDate, Double, LocalDate, Double)])

  /** Every t1 row of `key` at p paired with the t2 row at p + lag. */
  def joinBack(t1: Seq[Obs], t2: Seq[Obs], key: String, lag: Int, corr: Option[Double], unit: PeriodUnit): Seq[Mapped] = {
    val t2At = t2.filter(_.key == key).map(o => o.period -> o.value).toMap
    t1.filter(_.key == key).flatMap { o =>
      val target = unit match {
        case PeriodUnit.Day   => o.period.plusDays(lag)
        case PeriodUnit.Month => o.period.plusMonths(lag)
      }
      t2At.get(target).map(v2 =>
        Mapped(key, o.period.toString, o.value, target.toString, v2, Some(lag), "correlation", corr, None))
    }
  }

  /** A key's DTW rows: its path, each step with the cost rounded to 6
    * decimals (HALF_UP). */
  def dtwRows(key: String, a: Alignment): Seq[Mapped] = {
    val cost = BigDecimal(a.cost).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    a.steps.map { case (p1, v1, p2, v2) =>
      Mapped(key, p1.toString, Some(v1), p2.toString, Some(v2), None, "dtw", None, Some(cost))
    }
  }

  /** `cfg.method`'s rows given each key's best (lag, correlation) and DTW
    * alignment; a key absent from `best` has no valid correlation:
    *   - correlation: the keys whose correlation passes `minCorrelation`,
    *     joined back at their lag;
    *   - dtw: every aligned key's path;
    *   - auto: the keys at or over `autoCorrThreshold` form the correlation
    *     segment, of which those passing `minCorrelation` are joined back;
    *     every other key of t1 takes its DTW path. */
  def mapping(
      t1: Seq[Obs],
      t2: Seq[Obs],
      best: Map[String, (Int, Double)],
      dtw: Map[String, Alignment],
      cfg: MappingConfig): Seq[Mapped] = {
    val keys = t1.map(_.key).distinct
    def correlated(segment: Seq[String]) = segment.flatMap { key =>
      val (lag, corr) = best(key)
      if (corr >= cfg.minCorrelation) joinBack(t1, t2, key, lag, Some(corr), cfg.periodUnit) else Nil
    }
    def aligned(segment: Seq[String]) = segment.flatMap(key => dtw.get(key).toSeq.flatMap(dtwRows(key, _)))
    cfg.method match {
      case "correlation" => correlated(keys.filter(best.contains))
      case "dtw"         => aligned(keys)
      case "auto" =>
        val (corrSegment, dtwSegment) = keys.partition(k => best.get(k).exists(_._2 >= cfg.autoCorrThreshold))
        correlated(corrSegment) ++ aligned(dtwSegment)
    }
  }

  /** The stored model's rows, one decision per t1 key from its model row
    * (method, lag): Correlation or Either join back at the stored lag (none
    * when it is null), DTW takes the key's path, no row or a null method
    * joins back at lag 1, and any other method maps nothing. */
  def serve(
      t1: Seq[Obs],
      t2: Seq[Obs],
      model: Map[String, (Option[String], Option[Int])],
      dtw: Map[String, Alignment],
      unit: PeriodUnit): Seq[Mapped] =
    t1.map(_.key).distinct.flatMap { key =>
      model.get(key) match {
        case None | Some((None, _)) => joinBack(t1, t2, key, 1, None, unit)
        case Some((Some("Correlation" | "Either (prefer Correlation for simplicity)"), lag)) =>
          lag.toSeq.flatMap(joinBack(t1, t2, key, _, None, unit))
        case Some((Some("DTW"), _)) => dtw.get(key).toSeq.flatMap(dtwRows(key, _))
        case Some(_)                => Nil
      }
    }
}
