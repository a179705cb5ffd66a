package graft

import graft.core.{MappingConfig, PeriodUnit, SeriesTable}
import graft.operators.LagCorrelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ResampleSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private val gappy = Seq(
    ("K1", "2024-01-01", 10.0),
    ("K1", "2024-01-04", 40.0), // gap: 02, 03
    ("K2", "2024-01-02", 5.0)
  ).toDF("k", "t", "v")

  test("resample zero-fills every gap in each key's range") {
    val s = SeriesTable.canonicalize(gappy, "k", "t", "v", PeriodUnit.Day)
    val out = SeriesTable.resample(s, PeriodUnit.Day, "zero")
      .select($"key", $"period".cast("string"), $"value").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out.size == 5) // K1: 4 days, K2: 1 day
    assert(out(("K1", "2024-01-02")) == 0.0 && out(("K1", "2024-01-03")) == 0.0)
    assert(out(("K1", "2024-01-01")) == 10.0 && out(("K1", "2024-01-04")) == 40.0)
  }

  test("resample forward-fills with last observation") {
    val s = SeriesTable.canonicalize(gappy, "k", "t", "v", PeriodUnit.Day)
    val out = SeriesTable.resample(s, PeriodUnit.Day, "forward")
      .select($"key", $"period".cast("string"), $"value").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out(("K1", "2024-01-02")) == 10.0 && out(("K1", "2024-01-03")) == 10.0)
  }

  test("monthly resample uses month steps") {
    val m = Seq(("K1", "2024-01", 1.0), ("K1", "2024-04", 4.0)).toDF("k", "t", "v")
    val s = SeriesTable.canonicalize(m, "k", "t", "v", PeriodUnit.Month)
    val out = SeriesTable.resample(s, PeriodUnit.Month, "zero")
      .select($"period".cast("string")).as[String].collect().sorted
    assert(out.toSeq == Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01"))
  }

  test("dense series: calendar lag scan equals a positional scan") {
    // dense DAILY series (positional == calendar) with a lag-2 relation:
    // v2(t) = v1(t-2), so corr(v1(t), v2(t+lag)) peaks at lag 2
    val maxLag = 3
    val series = (1 to 4).map(k => s"K$k" -> (0 until 14).map(d => 100.0 + 17 * ((d * 3 + k) % 7)))
    val rows = for ((key, v) <- series; d <- 2 until 14)
      yield (key, java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString, v(d), v(d - 2))
    val merged = rows.toDF("key", "p", "v1", "v2").select($"key", to_date($"p").as("period"), $"v1", $"v2")

    // the reference's positional scan: slide v1 against v2 by index
    val positional = series.map { case (key, v) =>
      val (v1, v2) = (v.drop(2), v.dropRight(2))
      key -> NaiveLagScan.best((0 to maxLag).flatMap { lag =>
        val pairs = v1.zip(v2.drop(lag))
        NaiveLagScan.pearson(pairs).map(r => (lag, r, pairs.length.toLong))
      }).get
    }.toMap

    val calendar = LagCorrelation.bestLag(
      LagCorrelation.lagCorrTable(merged, MappingConfig(periodUnit = PeriodUnit.Day, maxLag = maxLag)))
      .select($"key", $"optimal_lag", $"correlation")
      .as[(String, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    assert(calendar.keySet == positional.keySet)
    assert(positional.values.forall(_._1 == 2), positional)
    positional.foreach { case (k, (l, c)) =>
      assert(l == calendar(k)._1, s"$k lag $l != ${calendar(k)._1}")
      assert(math.abs(c - calendar(k)._2) < 1e-6, s"$k corr")
    }
  }
}
