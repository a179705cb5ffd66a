package graft

import graft.core.{MappingConfig, PeriodUnit, SeriesTable}
import graft.operators.{Comparison, DtwMapping, LagCorrelation, MappingEngine, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end engine tests on reference-style archetypes
  * (/root/reference/test_mapping_engine.py:18-81): `simple` entities have
  * rev(t) = 0.1 * txn(t-1), so the engine must discover lag=1 with corr≈1. */
class MappingEngineSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private val cfg = MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 3, method = "correlation")

  /** Deterministic archetype generator: nCustomers x nMonths, pure 1-month
    * lag with 10% rate (no noise → exact recovery). */
  private def simpleData(nCustomers: Int, nMonths: Int): (DataFrame, DataFrame) = {
    val rng = new scala.util.Random(42)
    val rows = for {
      c <- 1 to nCustomers
      base = 100.0 + rng.nextInt(900)
      m <- 0 until nMonths
    } yield (f"CUS_$c%04d", f"2024-${m + 1}%02d", base + 37.0 * ((m * 7 + c) % 11))
    val txn = rows.toDF("customer_id", "month", "amount")
    val rev = rows.map { case (cid, month, amt) =>
      // rev in month m+1 = 10% of txn in month m
      val m = month.substring(5).toInt
      (cid, f"2024-${m + 1}%02d", amt * 0.1)
    }.toDF("customer_id", "month", "rev")
    (txn, rev)
  }

  test("canonicalize accepts 'yyyy-MM' strings and renames columns") {
    val (txn, _) = simpleData(2, 4)
    val t = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    assert(t.columns.toSeq == Seq("key", "period", "value"))
    val periods = t.select("period").distinct().as[java.sql.Date].collect().map(_.toString).sorted
    assert(periods.head == "2024-01-01")
  }

  test("missing required column raises with column name") {
    val (txn, _) = simpleData(2, 4)
    val e = intercept[IllegalArgumentException] {
      SeriesTable.canonicalize(txn.drop("month"), "customer_id", "month", "amount", PeriodUnit.Month)
    }
    assert(e.getMessage.contains("month"))
  }

  test("correlation discovers the pure 1-month lag with corr ~ 1") {
    val (txn, rev) = simpleData(5, 8)
    val t1 = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(rev, "customer_id", "month", "rev", PeriodUnit.Month)
    val best = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(SeriesTable.merge(t1, t2), cfg))
    val rows = best.select("key", "optimal_lag", "correlation").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getInt(1) == 1, s"key ${r.getString(0)} lag ${r.getInt(1)} != 1")
      assert(r.getDouble(2) > 0.999999, s"corr ${r.getDouble(2)}")
    }
  }

  test("mapping rows pair month m with month m+lag and carry the score") {
    val (txn, rev) = simpleData(3, 6)
    val result = MappingEngine.mapTables(txn, rev, "customer_id", "month", "amount", "rev", cfg)
    val rows = result.collect()
    assert(rows.nonEmpty)
    result.select("time1", "time2").as[(String, String)].collect().foreach { case (t1m, t2m) =>
      assert(java.time.LocalDate.parse(t1m).plusMonths(1) == java.time.LocalDate.parse(t2m))
    }
    assert(result.filter(col("method") === "correlation").count() == rows.length)
    // value2 = 10% of value1 on every mapped pair
    result.select("value1", "value2").as[(Double, Double)].collect().foreach { case (v1, v2) =>
      assert(math.abs(v2 - 0.1 * v1) < 1e-9)
    }
  }

  test("correlation invariance under affine transform of either series") {
    val (txn, rev) = simpleData(3, 8)
    val t1 = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(rev, "customer_id", "month", "rev", PeriodUnit.Month)
    val t2scaled = t2.withColumn("value", col("value") * 5.0 + 1000.0)
    val a = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(SeriesTable.merge(t1, t2), cfg))
    val b = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(SeriesTable.merge(t1, t2scaled), cfg))
    val got = a.join(b.withColumnRenamed("correlation", "corr2"), Seq("key"))
      .select(abs(col("correlation") - col("corr2")).as[Double]).collect()
    got.foreach(d => assert(d < 1e-6))
  }

  test("dtw mapping: identical series align on the diagonal with zero cost") {
    val (txn, _) = simpleData(2, 6)
    val t1 = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    val m = MappingEngine.mapSeries(t1, t1, cfg.copy(method = "dtw"))
    val rows = m.collect()
    assert(rows.nonEmpty)
    m.select("dtw_cost").as[Double].collect().foreach(c => assert(c == 0.0))
    m.select("time1", "time2").as[(String, String)].collect().foreach { case (a, b) => assert(a == b) }
  }

  test("auto mode routes high-corr entities to correlation") {
    val (txn, rev) = simpleData(4, 8)
    val result = MappingEngine.mapTables(
      txn, rev, "customer_id", "month", "amount", "rev", cfg.copy(method = "auto"))
    val methods = result.select("method").distinct().as[String].collect().toSet
    assert(methods == Set("correlation"), s"expected all correlation, got $methods")
    assert(result.columns.contains("dtw_cost"), "unionByName keeps both method columns")
  }

  test("auto mode sends uncorrelated entities to dtw") {
    // table2 unrelated to table1 → corr far below 0.7 → DTW segment
    val rng = new scala.util.Random(1)
    val t1rows = for (m <- 1 to 9) yield ("K1", f"2024-$m%02d", rng.nextDouble() * 100)
    val t2rows = for (m <- 1 to 9) yield ("K1", f"2024-$m%02d", rng.nextDouble() * 100)
    val result = MappingEngine.mapTables(
      t1rows.toDF("k", "t", "v"), t2rows.toDF("k", "t", "v"),
      "k", "t", "v", "v", cfg.copy(method = "auto"))
    val methods = result.select("method").distinct().as[String].collect().toSet
    assert(methods == Set("dtw"), s"got $methods")
  }

  test("single-entity edge case") {
    val (txn, rev) = simpleData(1, 5)
    val result = MappingEngine.mapTables(txn, rev, "customer_id", "month", "amount", "rev", cfg)
    assert(result.count() > 0)
  }

  test("canonicalize sums duplicate observations per (key, period)") {
    val raw = Seq(
      ("K1", "2024-01", 5.0), ("K1", "2024-01", 7.0), ("K1", "2024-02", 1.0)
    ).toDF("k", "t", "v")
    val t = SeriesTable.canonicalize(raw, "k", "t", "v", PeriodUnit.Month)
    val m = t.select($"period".cast("string"), $"value").as[(String, Double)].collect().toMap
    assert(m.size == 2 && m("2024-01-01") == 12.0 && m("2024-02-01") == 1.0)
  }

  test("entities with no valid correlation still get a recommendation (corr -1 sentinel)") {
    // K_flat has a constant v1 series -> every lag's corr is NaN -> no row
    // in the corr table; it must still appear, routed away from Correlation
    val rows = (1 to 8).flatMap { m =>
      Seq(("K_ok", f"2024-$m%02d", m * 10.0, m * 1.0), ("K_flat", f"2024-$m%02d", 5.0, m * 1.0))
    }
    val merged = rows.toDF("key", "t", "v1", "v2")
      .select($"key", to_date(concat($"t", lit("-01"))).as("period"), $"v1", $"v2")
    val recs = graft.operators.Comparison.recommendationsFromMerged(merged, cfg)
      .select($"key", $"correlation", $"recommended_method").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(recs.contains("K_flat"), "flat entity must not be dropped")
    assert(recs("K_flat")._1 == -1.0)
    assert(recs("K_flat")._2 != "Correlation")
    assert(recs("K_ok")._1 > 0.9)
  }

  test("summary exposes nested all_lags; exploding it round-trips the corr table") {
    val (txn, rev) = simpleData(4, 8)
    val t1 = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(rev, "customer_id", "month", "rev", PeriodUnit.Month)
    val merged = SeriesTable.merge(t1, t2)
    val summary = LagCorrelation.summary(merged, cfg)
    // nested column is an array<struct<lag,correlation,n_overlap>> a user
    // can explode later (the reference's all_lags, 02_corr_mapping.p:25-29)
    val exploded = summary
      .select(col("key"), explode(col("all_lags")).as("x"))
      .select(col("key"), col("x.lag").as("lag"),
        col("x.correlation").as("correlation"), col("x.n_overlap").as("n_overlap"))
    val direct = LagCorrelation.lagCorrTable(merged, cfg)
      .select(col("key"), col("lag"), round(col("correlation"), 6).as("correlation"), col("n_overlap"))
    assert(exploded.count() == direct.count())
    assert(exploded.except(direct).count() == 0 && direct.except(exploded).count() == 0)
    // and the summary's best-lag fields agree with the window-argmax path
    val viaWindow = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged, cfg))
      .select(col("key"), col("optimal_lag"), col("correlation"))
    val viaFold = summary.select(col("key"), col("optimal_lag"), col("correlation"))
    assert(viaFold.except(viaWindow).count() == 0 && viaWindow.except(viaFold).count() == 0)
  }

  test("short series (<2 overlapping points) produce no correlation rows") {
    val t1 = Seq(("K1", "2024-01", 5.0)).toDF("k", "t", "v")
    val t2 = Seq(("K1", "2024-01", 3.0)).toDF("k", "t", "v")
    val result = MappingEngine.mapTables(t1, t2, "k", "t", "v", "v", cfg)
    assert(result.count() == 0)
  }

  test("dtw on a key whose t1 and t2 share no period emits no rows and does not fail") {
    // an empty merged series keeps the reference's fallback, zero cost and
    // an empty path (mapping_engine.py:313-315), so the key maps to nothing
    val t1 = Seq(("K1", "2024-01", 5.0), ("K1", "2024-02", 6.0), ("K2", "2024-01", 1.0), ("K2", "2024-02", 4.0))
    val t2 = Seq(("K1", "2024-03", 3.0), ("K1", "2024-04", 4.0), ("K2", "2024-01", 2.0), ("K2", "2024-02", 1.0))
    val rows = MappingEngine.mapTables(
      t1.toDF("k", "t", "v"), t2.toDF("k", "t", "v"), "k", "t", "v", "v", cfg.copy(method = "dtw"))
    assert(rows.select("key").as[String].collect().toSet == Set("K2"))
  }

  test("auto mode leaves nothing cached") {
    // fresh inputs: a cached plan from another test cannot be reused here
    val (txn, rev) = simpleData(7, 9)
    val before = spark.sparkContext.getPersistentRDDs.size
    val rows = MappingEngine.mapTables(
      txn, rev, "customer_id", "month", "amount", "rev", cfg.copy(method = "auto")).collect()
    assert(rows.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("auto split: each key under one method; no-correlation keys go to DTW") {
    // K_HI: v2 = 2 * v1 (corr 1 at lag 0); K_LO: linear trend vs an
    // alternating series (|corr| < 0.7 at every lag); K_CONST: constant
    // v1, so every lag's corr is NaN and the best-lag table has no row
    val months = 1 to 12
    def month(m: Int) = f"2024-$m%02d"
    val t1Rows = months.flatMap(m => Seq(
      ("K_HI", month(m), 10.0 + 3.0 * ((m * 5) % 7)),
      ("K_LO", month(m), m.toDouble),
      ("K_CONST", month(m), 4.0)))
    val t2Rows = months.flatMap(m => Seq(
      ("K_HI", month(m), 2.0 * (10.0 + 3.0 * ((m * 5) % 7))),
      ("K_LO", month(m), if (m % 2 == 0) 1.0 else 5.0),
      ("K_CONST", month(m), m.toDouble)))
    val auto = cfg.copy(method = "auto")
    val t1 = SeriesTable.canonicalize(t1Rows.toDF("k", "t", "v"), "k", "t", "v", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(t2Rows.toDF("k", "t", "v"), "k", "t", "v", PeriodUnit.Month)
    val best = LagCorrelation.bestLag(LagCorrelation.lagCorrTable(SeriesTable.merge(t1, t2), auto))
      .select($"key", $"correlation").as[(String, Double)].collect().toMap
    // fixture preconditions
    assert(!best.contains("K_CONST"))
    assert(best("K_HI") >= auto.autoCorrThreshold && best("K_LO") < auto.autoCorrThreshold, best)

    val out = MappingEngine.autoMapping(SeriesTable.merge(t1, t2), t1, t2, auto)
    val methods = out.select($"key", $"method").distinct().as[(String, String)].collect()
    assert(methods.toSet == Set("K_HI" -> "correlation", "K_LO" -> "dtw", "K_CONST" -> "dtw"))
    val corrScores = out.filter($"method" === "correlation")
      .select($"key", $"correlation").distinct().as[(String, Double)].collect()
    assert(corrScores.toSeq == Seq("K_HI" -> best("K_HI")))
  }

  test("a best-lag table with two rows for one key fails the staged mappings, naming the key") {
    val (txn, rev) = simpleData(2, 6)
    val t1 = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(rev, "customer_id", "month", "rev", PeriodUnit.Month)
    val best = Seq(("CUS_0001", 1, 0.9), ("CUS_0001", 2, 0.8), ("CUS_0002", 1, 0.9))
      .toDF("key", "optimal_lag", "correlation")
    Seq(
      "mapping" -> (() => LagCorrelation.mapping(t1, t2, best, cfg).collect()),
      "autoMapping" -> (() => MappingEngine.autoMapping(SeriesTable.merge(t1, t2), t1, t2, cfg, bestLag = Some(best))
        .collect())).foreach { case (label, run) =>
      val e = intercept[Exception](run())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("best-lag table has 2 rows for key=CUS_0001")), s"$label: $e")
    }
  }

  test("a best-lag row with a null lag or correlation maps nothing; auto sends its key to DTW") {
    val (txn, rev) = simpleData(3, 8)
    val t1 = SeriesTable.canonicalize(txn, "customer_id", "month", "amount", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(rev, "customer_id", "month", "rev", PeriodUnit.Month)
    val best = Seq[(String, Option[Int], Option[Double])](
      ("CUS_0001", None, Some(0.9)), ("CUS_0002", Some(1), None), ("CUS_0003", Some(1), Some(0.9)))
      .toDF("key", "optimal_lag", "correlation")
    val corr = LagCorrelation.mapping(t1, t2, best, cfg)
    assert(corr.select($"key").distinct().as[String].collect().toSeq == Seq("CUS_0003"))
    val auto = MappingEngine.autoMapping(SeriesTable.merge(t1, t2), t1, t2, cfg, bestLag = Some(best))
    val methods = auto.select($"key", $"method").distinct().as[(String, String)].collect().toSet
    assert(methods == Set("CUS_0001" -> "dtw", "CUS_0002" -> "dtw", "CUS_0003" -> "correlation"), methods)
  }

  /** Raw (k, t, v) tables for the differential test. Periods are
    * dates; under Month they fall on varying days, so the projection's
    * truncation makes more duplicates. Keys: a lag-1 relation, gaps on
    * both sides, duplicate rows, a constant series, 2 periods, a key in
    * each table only, t1 periods outside `merged` that the join-back
    * still maps, a series shorter than maxLag, a moderate (~0.7)
    * correlation and noise. */
  private def kernelFixture(unit: PeriodUnit): (DataFrame, DataFrame) = {
    val rng = new scala.util.Random(11)
    val base = java.time.LocalDate.of(2024, 1, 1)
    def date(p: Int) = java.sql.Date.valueOf(unit match {
      case PeriodUnit.Day   => base.plusDays(p)
      case PeriodUnit.Month => base.plusMonths(p).plusDays((p * 7) % 25)
    })
    val wave = (0 until 24).map(i => 50.0 + 20.0 * math.sin(i * 0.9) + 3.0 * (i % 4))
    val noise = Vector.fill(24)(rng.nextGaussian())
    def series(key: String, periods: Seq[Int], v: Int => Double) = periods.map(p => (key, date(p), v(p)))
    val t1 = Seq(
      series("K_LAG1", 0 until 16, wave),
      series("K_GAPS", (0 until 20).filterNot(Set(3, 7)), wave),
      series("K_DUPS", (0 until 12) ++ Seq(2, 5, 5), p => wave(p) / 2),
      series("K_CONST", 0 until 10, _ => 4.0),
      series("K_TWO", 0 until 2, wave),
      series("K_ONLY1", 0 until 8, wave),
      series("K_OUTSIDE", 0 until 10, wave),
      series("K_SHORT", 0 until 4, wave),
      series("K_MID", 0 until 12, p => p.toDouble),
      series("K_NOISE", 0 until 14, p => noise(p))).flatten
    val t2 = Seq(
      series("K_LAG1", 0 until 16, p => 0.5 * wave(math.max(p - 1, 0)) + 0.1 * noise(p)),
      series("K_GAPS", (0 until 20).filterNot(Set(5, 12)), p => 2.0 * wave(math.max(p - 2, 0)) + noise(p)),
      series("K_DUPS", (0 until 12) ++ Seq(3, 3, 9), p => wave(p)),
      series("K_CONST", 0 until 10, p => p * 1.5),
      series("K_TWO", 0 until 2, p => wave(p + 3)),
      series("K_ONLY2", 0 until 8, wave),
      series("K_OUTSIDE", (0 until 6) ++ (7 until 13), p => 3.0 * wave(math.max(p - 1, 0))),
      series("K_SHORT", 0 until 4, p => wave(p) + noise(p)),
      series("K_MID", 0 until 12, p => p + (if (p % 2 == 0) 3.0 else -3.0)),
      series("K_NOISE", 0 until 14, p => noise(23 - p))).flatten
    (t1.toDF("k", "t", "v"), t2.toDF("k", "t", "v"))
  }

  /** [[NaiveLagScan.scan]] of every key of `merged`, on the driver:
    * (key, lag, r, n_overlap) ordered by key and lag. */
  private def naiveScan(merged: DataFrame, cfg: MappingConfig): Seq[(String, Int, Double, Long)] = {
    def value(r: org.apache.spark.sql.Row, c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
    merged.collect().toSeq.groupBy(_.getAs[String]("key")).toSeq.sortBy(_._1).flatMap { case (key, rows) =>
      val points = rows.map(r =>
        NaiveLagScan.Point(r.getAs[java.sql.Date]("period").toLocalDate, value(r, "v1"), value(r, "v2")))
      NaiveLagScan.scan(points, cfg.periodUnit, cfg.maxLag, cfg.minOverlap).map { case (lag, c, n) => (key, lag, c, n) }
    }
  }

  /** The naive scan's best (lag, correlation) per key. */
  private def naiveBest(merged: DataFrame, cfg: MappingConfig): Map[String, (Int, Double)] =
    naiveScan(merged, cfg).groupBy(_._1).flatMap { case (key, rows) =>
      NaiveLagScan.best(rows.map(r => (r._2, r._3, r._4))).map(key -> _)
    }

  /** A best-lag table (key, optimal_lag, correlation). */
  private def bestTable(best: Map[String, (Int, Double)]): DataFrame =
    best.toSeq.map { case (key, (lag, c)) => (key, lag, c) }.toDF("key", "optimal_lag", "correlation")

  /** [[NaiveDtw]] of every key of `merged` (unbanded), on the driver. A
    * null value fails. */
  private def naiveDtw(merged: DataFrame, cfg: MappingConfig): Map[String, NaiveJoinBack.Alignment] = {
    assert(cfg.dtwWindow.isEmpty, "the naive oracle is unbanded")
    merged.collect().toSeq.groupBy(_.getAs[String]("key")).map { case (key, rows) =>
      val points = rows.map { r =>
        require(!r.isNullAt(r.fieldIndex("v1")) && !r.isNullAt(r.fieldIndex("v2")), s"null value for key=$key")
        (r.getAs[java.sql.Date]("period").toLocalDate, r.getAs[Double]("v1"), r.getAs[Double]("v2"))
      }.sortBy(_._1.toEpochDay)
      val (cost, path) = NaiveDtw.align(points.map(_._2), points.map(_._3), cfg.dtwNormalize)
      key -> NaiveJoinBack.Alignment(cost, path.map { case (i, j) => (points(i)._1, points(i)._2, points(j)._1, points(j)._3) })
    }
  }

  /** A canonical table's rows with a period, collected for the oracle. */
  private def observations(t: DataFrame): Seq[NaiveJoinBack.Obs] =
    t.filter($"period".isNotNull).collect().toSeq.map { r =>
      NaiveJoinBack.Obs(r.getAs[String]("key"), r.getAs[java.sql.Date]("period").toLocalDate,
        if (r.isNullAt(r.fieldIndex("value"))) None else Some(r.getAs[Double]("value")))
    }

  private val rowColumns = Seq("key", "time1", "value1", "time2", "value2", "lag_offset", "method")

  /** The oracle's rows with `columns`. */
  private def oracle(rows: Seq[NaiveJoinBack.Mapped], columns: Seq[String]): DataFrame =
    rows.toDF().select(columns.map(col): _*)

  /** The naive mapping of canonical tables with `cfg.method`: the naive
    * scan's best lags and the naive DTW's paths, through
    * [[NaiveJoinBack.mapping]]. */
  private def naiveMapping(t1: DataFrame, t2: DataFrame, cfg: MappingConfig): DataFrame = {
    val merged = SeriesTable.merge(t1, t2)
    val dtw = if (cfg.method == "correlation") Map.empty[String, NaiveJoinBack.Alignment] else naiveDtw(merged, cfg)
    val methodColumns = cfg.method match {
      case "correlation" => Seq("correlation")
      case "dtw"         => Seq("dtw_cost")
      case "auto"        => Seq("correlation", "dtw_cost")
    }
    oracle(NaiveJoinBack.mapping(observations(t1), observations(t2), naiveBest(merged, cfg), dtw, cfg),
      rowColumns ++ methodColumns)
  }

  /** Same columns; keys, methods, times and lags equal; values,
    * correlation and dtw_cost within 1e-9. */
  private def assertSameRows(got: DataFrame, want: DataFrame, label: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, label)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), label)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(r => (r.take(2) ++ r.slice(3, 4)).mkString("|"))
    val (g, w) = (rows(got), rows(want))
    assert(g.length == w.length, s"$label: ${g.length} rows vs ${w.length}")
    g.zip(w).foreach { case (a, b) =>
      a.zip(b).foreach {
        case (x: Double, y: Double) => assert(math.abs(x - y) <= 1e-9, s"$label: $a vs $b")
        case (x, y)                 => assert(x == y, s"$label: $a vs $b")
      }
    }
  }

  test("every kernel entry gives the naive oracles' rows for every method and unit") {
    for (unit <- Seq(PeriodUnit.Day, PeriodUnit.Month)) {
      val (raw1, raw2) = kernelFixture(unit)
      val t1 = SeriesTable.canonicalize(raw1, "k", "t", "v", unit)
      val t2 = SeriesTable.canonicalize(raw2, "k", "t", "v", unit)
      // lagCorrTable's per-lag rows are the naive scan's: the same lags and
      // overlaps, correlations within 1e-9
      val merged = SeriesTable.merge(t1, t2)
      val scanCfg = MappingConfig(periodUnit = unit)
      val want = naiveScan(merged, scanCfg)
      val got = LagCorrelation.lagCorrTable(merged, scanCfg).as[(String, Int, Double, Long)]
        .collect().toSeq.sortBy(r => (r._1, r._2))
      assert(want.map(_._1).toSet == Set("K_LAG1", "K_GAPS", "K_DUPS", "K_TWO", "K_OUTSIDE", "K_SHORT", "K_MID",
        "K_NOISE"), s"fixture coverage $unit")
      assert(got.map(r => (r._1, r._2, r._4)) == want.map(r => (r._1, r._2, r._4)), s"lags $unit")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) <= 1e-9, s"$unit: $g vs $w") }
      val best = bestTable(naiveBest(merged, scanCfg))
      val configs = Seq("correlation", "dtw", "auto").map(m => MappingConfig(method = m, periodUnit = unit)) :+
        MappingConfig(method = "auto", periodUnit = unit, autoCorrThreshold = 0.5, minCorrelation = 0.9)
      configs.foreach { cfg =>
        val label = s"${cfg.method} $unit threshold=${cfg.autoCorrThreshold} min=${cfg.minCorrelation}"
        val got = MappingEngine.mapTables(raw1, raw2, "k", "t", "v", "v", cfg)
        val want = naiveMapping(t1, t2, cfg)
        assertSameRows(got, want, label)
        // the staged entries run the same kernel at the naive best lags
        cfg.method match {
          case "correlation" => assertSameRows(LagCorrelation.mapping(t1, t2, best, cfg), want, s"$label, staged")
          case "auto" =>
            assertSameRows(MappingEngine.autoMapping(merged, t1, t2, cfg, bestLag = Some(best)), want, s"$label, staged")
          case "dtw" =>
        }
        val byMethod = got.select($"key", $"method").distinct().as[(String, String)].collect().toMap
        // fixture coverage: each case lands where the test needs it
        assert(!byMethod.contains("K_ONLY1") && !byMethod.contains("K_ONLY2"), label)
        if (cfg.method != "dtw") assert(byMethod.get("K_LAG1").contains("correlation"), label)
        if (cfg.method == "auto") assert(byMethod.get("K_CONST").contains("dtw"), label)
        if (cfg.minCorrelation > cfg.autoCorrThreshold) assert(!byMethod.contains("K_MID"), label)
      }
      // K_OUTSIDE maps at lag 1 every t1 period p whose p + 1 is in t2:
      // 0-4 and 6-9, though 6 has no t2 row and so is not in `merged`
      val outside = MappingEngine.mapTables(raw1, raw2, "k", "t", "v", "v",
        MappingConfig(method = "correlation", periodUnit = unit)).filter($"key" === "K_OUTSIDE")
      assert(outside.filter($"lag_offset" === 1).count() == 9, unit)
      // mapSeries on the canonical tables runs the same kernel
      assertSameRows(
        MappingEngine.mapSeries(t1, t2, MappingConfig(periodUnit = unit)),
        naiveMapping(t1, t2, MappingConfig(periodUnit = unit)), s"mapSeries $unit")
      // the stored-model run: every route, a null stored lag, an unknown
      // method, a key only in t2, a model row for a key absent from t1;
      // K_ONLY1, K_SHORT and K_MID have no model row
      val modelRows = Seq[(String, String, Option[Int])](
        ("K_LAG1", "Correlation", Some(1)),
        ("K_GAPS", "Either (prefer Correlation for simplicity)", Some(2)),
        ("K_DUPS", "DTW", Some(0)),
        ("K_NOISE", "DTW", None),
        ("K_CONST", "Complex - Manual Review", Some(0)),
        ("K_TWO", "Unknown", Some(1)),
        ("K_OUTSIDE", "Correlation", None),
        ("K_ONLY2", "Correlation", Some(0)),
        ("K_ABSENT", "Correlation", Some(1)))
      val model = modelRows.toDF("key", "recommended_method", "optimal_lag")
      val serveCfg = MappingConfig(periodUnit = unit)
      val served = Pipeline.run(t1, t2, model, serveCfg, "served")
      assert(served.columns.last == "pipeline_run_id", unit)
      val naiveServed = NaiveJoinBack.serve(observations(t1), observations(t2),
        modelRows.map { case (k, m, lag) => k -> (Some(m), lag) }.toMap, naiveDtw(merged, serveCfg), unit)
      assertSameRows(served.drop("pipeline_run_id"), oracle(naiveServed, rowColumns), s"served $unit")
      val servedBy = served.select($"key", $"method", $"lag_offset").distinct()
        .collect().map(r => r.getString(0) -> (r.getString(1), Option(r.get(2)))).toMap
      assert(servedBy == Map(
        "K_LAG1" -> ("correlation", Some(1)), "K_GAPS" -> ("correlation", Some(2)),
        "K_DUPS" -> ("dtw", None), "K_NOISE" -> ("dtw", None),
        "K_SHORT" -> ("correlation", Some(1)), "K_MID" -> ("correlation", Some(1))), unit)
    }
  }

  test("null values: the kernel matches the correlation path; DTW fails on them as the relational path does") {
    val rows1 = (1 to 10).map(m => ("K", f"2024-$m%02d", if (m == 4) None else Some(m * 3.0 + (m % 3))))
    val rows2 = (1 to 10).map(m => ("K", f"2024-$m%02d", if (m == 7) None else Some(m * 2.0 - (m % 2))))
    val (raw1, raw2) = (rows1.toDF("k", "t", "v"), rows2.toDF("k", "t", "v"))
    val corr = cfg.copy(method = "correlation", maxLag = 2)
    val t1 = SeriesTable.canonicalize(raw1, "k", "t", "v", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(raw2, "k", "t", "v", PeriodUnit.Month)
    val got = MappingEngine.mapTables(raw1, raw2, "k", "t", "v", "v", corr)
    assert(got.filter($"value1".isNull || $"value2".isNull).count() > 0, "fixture maps null values")
    assertSameRows(got, naiveMapping(t1, t2, corr), "nulls, correlation")
    val dtw = corr.copy(method = "dtw")
    // the first null by period is t1's, in April; the error names it
    def failure(run: => Any): String =
      Iterator.iterate[Throwable](intercept[Exception](run))(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    Seq(
      "mapTables" -> failure(MappingEngine.mapTables(raw1, raw2, "k", "t", "v", "v", dtw).collect()),
      "summarize" -> failure(DtwMapping.summarize(SeriesTable.merge(t1, t2), dtw).collect())).foreach {
      case (label, message) =>
        assert(message.contains("DTW needs non-null values: key=K has a null value at 2024-04-01"), s"$label: $message")
    }
  }

  test("ingest is ANSI-safe: a malformed period or value is null with ANSI on and off") {
    val raw = Seq(
      ("A", "2024-01", "1.5"),
      ("A", "2024-13", "2"),
      ("A", "2024-02", "abc"),
      ("A", "not a date", "3"),
      ("A", "2024-03-05", "4"),
      ("B", "2024-02-30", "5"),
      ("B", "2024-04", "1e1")).toDF("k", "t", "v")
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    def rows(ansi: Boolean)(df: => DataFrame) = {
      spark.conf.set(key, ansi.toString)
      val out = df.collect().map(_.toString).sorted.toSeq
      assert(spark.conf.get(key) == ansi.toString)
      out
    }
    def projected = SeriesTable.project(raw, "k", "t", "v", PeriodUnit.Month)
    def canonical = SeriesTable.canonicalize(raw, "k", "t", "v", PeriodUnit.Month)
    try {
      val on = rows(ansi = true)(projected)
      assert(on == rows(ansi = false)(projected))
      assert(on == Seq(
        "[A,2024-01-01,1.5]", "[A,2024-02-01,null]", "[A,2024-03-01,4.0]", "[A,null,2.0]", "[A,null,3.0]",
        "[B,2024-04-01,10.0]", "[B,null,5.0]"))
      assert(rows(ansi = true)(canonical) == rows(ansi = false)(canonical))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(spark.conf.getOption(key) == saved)
  }

  test("mapTables is correct with ANSI on and leaves the caller's session conf alone") {
    // a constant series (every lag's corr undefined) and a 2-period series
    val rows1 = (1 to 8).map(m => ("K_CONST", f"2024-$m%02d", 5.0)) ++
      Seq(("K_TWO", "2024-01", 1.0), ("K_TWO", "2024-02", 3.0))
    val rows2 = (1 to 8).map(m => ("K_CONST", f"2024-$m%02d", m * 1.0)) ++
      Seq(("K_TWO", "2024-01", 2.0), ("K_TWO", "2024-02", 1.0))
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    def run(ansi: Boolean, label: String)(df: => DataFrame) = {
      spark.conf.set(key, ansi.toString)
      val rows = df.collect().map(_.toString).sorted.toSeq
      assert(spark.conf.get(key) == ansi.toString, s"$label changed $key")
      rows
    }
    val (raw1, raw2) = (rows1.toDF("k", "t", "v"), rows2.toDF("k", "t", "v"))
    def merged = SeriesTable.merge(
      SeriesTable.canonicalize(raw1, "k", "t", "v", PeriodUnit.Month),
      SeriesTable.canonicalize(raw2, "k", "t", "v", PeriodUnit.Month))
    def check(label: String)(df: => DataFrame): Unit =
      assert(run(ansi = true, label)(df) == run(ansi = false, label)(df), label)
    try {
      Seq("auto", "correlation").foreach { method =>
        check(method)(MappingEngine.mapTables(raw1, raw2, "k", "t", "v", "v", cfg.copy(method = method)))
      }
      // the staged lag scan and training run the same scan
      check("bestLag(lagCorrTable)")(LagCorrelation.bestLag(LagCorrelation.lagCorrTable(merged, cfg)))
      check("recommendationsFromSummaries")(
        Comparison.recommendationsFromSummaries(merged, DtwMapping.summarize(merged, cfg).toDF(), cfg))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
