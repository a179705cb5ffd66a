package graft.tools

import graft.core.{MappingConfig, PeriodUnit}
import graft.operators.{Comparison, MappingEngine}
import graft.core.SeriesTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable walkthrough of the engine's public API on the reference's
  * three advertised use cases (transactions→revenue, sales→profit,
  * ad spend→conversions — /root/reference/README.md:180-239), on
  * generated data. `runMain graft.tools.Demo`. */
object Demo {

  private def genPair(spark: SparkSession, nKeys: Int, lag: Int, rate: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = for (k <- 1 to nKeys; m <- 0 until 18)
      yield (f"E$k%03d", f"2023-${m % 12 + 1}%02d-01".patch(0, (2023 + m / 12).toString, 4),
        200.0 + 15 * ((m * 5 + k) % 13) + rng.nextGaussian())
    val left = rows.toDF("entity", "month", "spend")
    val right = rows
      .groupBy(r => (r._1, r._2)).view.mapValues(_.head._3).toSeq
      .map { case ((k, month), v) =>
        val d = java.time.LocalDate.parse(month).plusMonths(lag)
        (k, d.toString, v * rate)
      }.toDF("entity", "month", "outcome")
    (left, right)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val cases = Seq(
      ("transactions -> revenue", 1, 0.10, "correlation"),
      ("sales -> profit", 0, 0.25, "auto"),
      ("ad spend -> conversions", 2, 0.05, "auto"))

    cases.foreach { case (name, lag, rate, method) =>
      val (t1, t2) = genPair(spark, 50, lag, rate)
      val cfg = MappingConfig(method = method, maxLag = 4, periodUnit = PeriodUnit.Month)
      val t0 = System.nanoTime()
      val lagCounts = MappingEngine.mapTables(t1, t2, "entity", "month", "spend", "outcome", cfg)
        .groupBy("lag_offset").count().orderBy("lag_offset")
        .collect().map(r => (Option(r.get(0)).fold("dtw")(_.toString), r.getLong(1)))
      val sec = (System.nanoTime() - t0) / 1e9
      val total = lagCounts.map(_._2).sum
      val lagDist = lagCounts.map { case (l, n) => s"$l:$n" }.mkString(" ")
      println(s"== $name  method=$method expected_lag=$lag")
      println(f"   mappings=$total  throughput=${total / sec}%.0f rows/s  lag_distribution[$lagDist]")
    }

    // recommendations layer on the first pair
    val (t1, t2) = genPair(spark, 20, 1, 0.1)
    val cfg = MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 4)
    val merged = SeriesTable.merge(
      SeriesTable.canonicalize(t1, "entity", "month", "spend", cfg.periodUnit),
      SeriesTable.canonicalize(t2, "entity", "month", "outcome", cfg.periodUnit))
    Comparison.recommendationSummary(Comparison.recommendationsFromMerged(merged, cfg))
      .orderBy("recommended_method", "confidence")
      .collect()
      .foreach(r => println(s"   rec: ${r.getString(0)} / ${r.getString(1)} -> ${r.getLong(2)}"))
    spark.stop()
  }
}
