package graft

import graft.core.{MappingConfig, PeriodUnit, SeriesTable}
import graft.operators.{Comparison, Pipeline, QualityChecks}
import graft.streaming.EventsStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private val cfg = MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 3)
  private val sfDir = "/root/testdata/sf0.001"

  /** Simple archetype: rev(t) = 10% of txn(t-1). */
  private def seriesPair(nKeys: Int, nMonths: Int): (DataFrame, DataFrame) = {
    val rows = for {
      k <- 1 to nKeys
      m <- 1 to nMonths
    } yield (s"K$k", f"2024-$m%02d", 100.0 + 13 * ((m * 3 + k) % 7))
    val t1 = SeriesTable.canonicalize(
      rows.toDF("k", "t", "v"), "k", "t", "v", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(
      rows.map { case (k, t, v) =>
        (k, f"2024-${t.substring(5).toInt + 1}%02d", v * 0.1)
      }.toDF("k", "t", "v"), "k", "t", "v", PeriodUnit.Month)
    (t1, t2)
  }

  test("pipeline reuses stored lags for correlation-recommended keys") {
    val (t1, t2) = seriesPair(3, 6)
    val recs = Seq(
      ("K1", "Correlation", 1),
      ("K2", "Either (prefer Correlation for simplicity)", 2)
    ).toDF("key", "recommended_method", "optimal_lag")
    val out = Pipeline.run(t1, t2, recs, cfg, "run_1")
    val byKey = out.groupBy("key").agg(
      first("method").as("m"), first("lag_offset").as("lag")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
    assert(byKey("K1") == ("correlation", 1))
    assert(byKey("K2") == ("correlation", 2)) // stored lag 2 reused verbatim
    // K3 has no recommendation -> default lag 1
    assert(byKey("K3") == ("correlation", 1))
    assert(out.columns.contains("pipeline_run_id"))
  }

  test("pipeline routes DTW-recommended keys through dtw") {
    val (t1, t2) = seriesPair(2, 6)
    val recs = Seq(("K1", "DTW", 0)).toDF("key", "recommended_method", "optimal_lag")
    val out = Pipeline.run(t1, t2, recs, cfg, "run_2")
    val methods = out.select("key", "method").distinct().as[(String, String)].collect().toMap
    assert(methods("K1") == "dtw")
    assert(methods("K2") == "correlation") // default path
  }

  test("incremental slice filters the period range") {
    val (t1, _) = seriesPair(2, 6)
    val sliced = Pipeline.incrementalSlice(t1, "2024-02-01", "2024-03-31")
    val periods = sliced.select("period").distinct().as[java.sql.Date].collect().map(_.toString)
    assert(periods.toSet == Set("2024-02-01", "2024-03-01"))
  }

  test("partitioned write + external table + monitoring view") {
    val (t1, t2) = seriesPair(2, 5)
    val recs = Seq(("K1", "Correlation", 1)).toDF("key", "recommended_method", "optimal_lag")
    val out = Pipeline.run(t1, t2, recs, cfg, "run_3")
    withTempDir("graft_sink") { dir =>
      Pipeline.writePartitioned(out, s"$dir/mapping")
      // partition pruning layout: one directory per time1 value
      val parts = new java.io.File(s"$dir/mapping").listFiles().map(_.getName).filter(_.startsWith("time1="))
      assert(parts.nonEmpty)
      Pipeline.registerExternalTable(spark, s"$dir/mapping", "mapping_test")
      val viaSql = spark.sql("SELECT COUNT(*) FROM mapping_test").as[Long].head()
      assert(viaSql == out.count())
      val mon = spark.sql("SELECT * FROM mapping_test_monitor")
      assert(mon.columns.toSeq == Seq("method", "time1", "n_mappings", "n_keys"))
      assert(mon.count() > 0)
      spark.sql("DROP TABLE IF EXISTS mapping_test")
    }
  }

  test("registerExternalTable lists the partitions MSCK REPAIR TABLE finds, none for an empty run") {
    val (t1, t2) = seriesPair(3, 6)
    val recs = Seq(("K1", "Correlation", 1), ("K2", "DTW", 0)).toDF("key", "recommended_method", "optimal_lag")
    def partitions(table: String) = spark.sessionState.catalog
      .listPartitions(TableIdentifier(table)).map(p => (p.spec, p.location)).toSet
    withTempDir("graft_parts") { dir =>
      try {
        val review = Seq("K1", "K2", "K3").map(k => (k, "Complex - Manual Review", 0))
          .toDF("key", "recommended_method", "optimal_lag")
        Seq("full" -> recs, "empty" -> review).foreach { case (name, model) =>
          Pipeline.writePartitioned(Pipeline.run(t1, t2, model, cfg, name), s"$dir/$name")
          Pipeline.registerExternalTable(spark, s"$dir/$name", "parts_test")
          spark.sql(s"CREATE TABLE parts_msck LIKE parts_test LOCATION '$dir/$name'")
          spark.sql("MSCK REPAIR TABLE parts_msck")
          val dirs = new java.io.File(s"$dir/$name").listFiles().count(_.getName.startsWith("time1="))
          assert(partitions("parts_test") == partitions("parts_msck"), name)
          assert(partitions("parts_test").size == dirs, name)
          assert((dirs == 0) == (name == "empty"), name)
          spark.sql("DROP TABLE parts_msck")
        }
      } finally {
        spark.sql("DROP TABLE IF EXISTS parts_test")
        spark.sql("DROP TABLE IF EXISTS parts_msck")
      }
    }
  }

  test("registerExternalTable handles database-qualified names") {
    val (t1, t2) = seriesPair(2, 5)
    val recs = Seq(("K1", "Correlation", 1)).toDF("key", "recommended_method", "optimal_lag")
    val out = Pipeline.run(t1, t2, recs, cfg, "run_q")
    withTempDir("graft_qual") { dir =>
      Pipeline.writePartitioned(out, s"$dir/m")
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_testdb")
      try {
        Pipeline.registerExternalTable(spark, s"$dir/m", "graft_testdb.mapping_q")
        assert(spark.sql("SELECT COUNT(*) FROM graft_testdb.mapping_q").as[Long].head() == out.count())
        // the monitor view carries the full qualified name flattened, so
        // same-named tables in different databases keep distinct views
        assert(spark.sql("SELECT COUNT(*) FROM graft_testdb_mapping_q_monitor").as[Long].head() > 0)
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_testdb.mapping_q")
        spark.sql("DROP DATABASE IF EXISTS graft_testdb")
      }
    }
  }

  test("end-to-end: train recommendations, run pipeline, QA passes") {
    val (t1, t2) = seriesPair(4, 8)
    val merged = SeriesTable.merge(t1, t2)
    val recs = Comparison.recommendationsFromMerged(merged, cfg)
      .select(col("key"), col("recommended_method"), col("optimal_lag"))
    val out = Pipeline.run(t1, t2, recs, cfg, "run_4")
    assert(out.count() > 0)
    val qa = graft.operators.QualityChecks.check(
      out.select(col("key"), col("time1"), col("value1"), col("time2"), col("value2"),
        col("lag_offset")), t1).head()
    assert(qa.getAs[String]("coverage_status") == "PASS")
    assert(qa.getAs[String]("duplicate_status") == "PASS")
    assert(qa.getAs[String]("temporal_status") == "PASS")
  }

  test("sla report after a pipeline run: PASS rows and the summary verdict") {
    val (t1, t2) = seriesPair(3, 6)
    val recs = Seq(("K1", "Correlation", 1)).toDF("key", "recommended_method", "optimal_lag")
    val out = Pipeline.run(t1, t2, recs, cfg, "run_sla")
    val rows = graft.operators.Sla.report(out, t1, durationSec = 12.5)
      .collect().map(r => r.getAs[String]("check") -> r).toMap
    assert(rows.keySet == Set("coverage_pct", "duration_sec", "total_mappings", "sla_met"))
    assert(rows("coverage_pct").getAs[String]("status") == "PASS") // all keys map (default lag)
    assert(rows("duration_sec").getAs[String]("status") == "PASS")
    assert(rows("duration_sec").getAs[Double]("metric_value") == 12.5)
    assert(rows("total_mappings").getAs[String]("severity") == "CRITICAL")
    assert(rows("sla_met").getAs[String]("status") == "PASS")
  }

  test("sla report alerts on low coverage, long duration, empty output") {
    val (t1, t2) = seriesPair(2, 6)
    val empty = Pipeline.run(t1, t2,
      Seq.empty[(String, String, Int)].toDF("key", "recommended_method", "optimal_lag"),
      cfg, "run_sla2").filter(lit(false))
    val rows = graft.operators.Sla.report(empty, t1, durationSec = 3600.0)
      .collect().map(r => r.getAs[String]("check") -> r.getAs[String]("status")).toMap
    assert(rows("coverage_pct") == "ALERT")
    assert(rows("duration_sec") == "ALERT")
    assert(rows("total_mappings") == "ALERT")
    assert(rows("sla_met") == "ALERT")
  }

  test("incremental run: slice -> temp write -> partition-pruned read-back") {
    val (t1, t2) = seriesPair(3, 6)
    val recs = Seq(("K1", "Correlation", 1)).toDF("key", "recommended_method", "optimal_lag")
    withTempDir("graft_incr") { dir =>
      val back = Pipeline.incrementalRun(
        t1, t2, recs, cfg, "run_incr", "2024-02-01", "2024-04-30", s"$dir/tmp")
      // read-back rows are exactly the slice
      val times = back.select("time1").distinct().as[String].collect()
      assert(times.nonEmpty && times.forall(t => t >= "2024-02-01" && t <= "2024-04-30"))
      // and the scan PRUNES partitions: the executed plan carries a
      // partition filter on time1 (no full-table file read)
      val plan = back.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("time1"), plan)
      // prune actually drops partitions: the temp dir has partitions outside
      // the slice window only if the unsliced run would have written them;
      // all written partitions come from the slice, so every directory is in range
      val parts = new java.io.File(s"$dir/tmp").listFiles()
        .map(_.getName).filter(_.startsWith("time1="))
      assert(parts.forall { p => val d = p.stripPrefix("time1="); d >= "2024-02-01" && d <= "2024-04-30" })
    }
  }

  test("productionRun: validate -> map -> save -> QA -> SLA -> metadata, end to end") {
    val (t1, t2) = seriesPair(4, 8)
    val merged = SeriesTable.merge(t1, t2)
    val recs = Comparison.recommendationsFromMerged(merged, cfg)
      .select(col("key"), col("recommended_method"), col("optimal_lag"))
    withTempDir("graft_prod") { dir =>
      val res = Pipeline.productionRun(
        spark, t1, t2, recs, cfg, "r42", dir, "prod_mappings_test")
      assert(res.slaMet, "sla must pass on the archetype data")
      assert(res.mapping.count() > 0)
      // persisted partition layout + registered table agree with the result
      assert(new java.io.File(res.outputPath).listFiles().exists(_.getName.startsWith("time1=")))
      assert(spark.sql("SELECT COUNT(*) FROM prod_mappings_test").as[Long].head() == res.mapping.count())
      // QA on the persisted output passes the same gates as the direct path
      val qa = res.qa.head()
      assert(qa.getAs[String]("coverage_status") == "PASS")
      assert(qa.getAs[String]("temporal_status") == "PASS")
      // metadata JSON exists and carries the run id + SLA verdicts
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/metadata_r42.json")))
      assert(meta.contains("\"run_id\": \"r42\"") && meta.contains("\"sla_met\": \"PASS\""))
      // schema validation fail-fast: a malformed input raises before any work
      val e = intercept[IllegalArgumentException] {
        Pipeline.productionRun(
          spark, t1.drop("value"), t2, recs, cfg, "r43", dir, "prod_mappings_test2")
      }
      assert(e.getMessage.contains("value"))

      // restoreRun: a second run supersedes the table; rolling back
      // re-points it at the first run's immutable snapshot
      val firstCount = res.mapping.count()
      Pipeline.productionRun(
        spark, t1.filter(col("key") =!= "K1"), t2, recs, cfg, "r44", dir, "prod_mappings_test")
      assert(Pipeline.listRuns(spark, dir) == Seq("r42", "r44"))
      assert(spark.sql("SELECT COUNT(*) FROM prod_mappings_test").as[Long].head() < firstCount)
      Pipeline.restoreRun(spark, dir, "prod_mappings_test", "r42")
      assert(spark.sql("SELECT COUNT(*) FROM prod_mappings_test").as[Long].head() == firstCount)
      intercept[IllegalArgumentException](
        Pipeline.restoreRun(spark, dir, "prod_mappings_test", "nope"))
      spark.sql("DROP TABLE IF EXISTS prod_mappings_test")
    }
  }

  /** Spark jobs `body` starts, with its result. The body's jobs carry a
    * job group; a sentinel job run after it flushes the asynchronous
    * listener bus, since job starts arrive in submission order. */
  private def jobsStarted[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val probe = s"probe-${java.util.UUID.randomUUID}"
    val sentinel = s"$probe-sentinel"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "probe")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener-bus flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "the sentinel job start never reached the listener")
      (groups.toArray.count(_ == probe), result)
    } finally sc.removeSparkListener(listener)
  }

  test("a model with two rows for one key fails the run, naming the key") {
    val (t1, t2) = seriesPair(2, 6)
    val recs = Seq(("K1", "Correlation", 1), ("K1", "Correlation", 2))
      .toDF("key", "recommended_method", "optimal_lag")
    val e = intercept[Exception](Pipeline.run(t1, t2, recs, cfg, "run_dup").collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("model has 2 rows for key=K1")), e)
  }

  test("keys that emit no rows are not bounded by maxSeriesLength; null-key model rows are ignored") {
    val (t1, t2) = seriesPair(3, 8)
    val t2Only = t2.union(t2.filter(col("key") === "K1").withColumn("key", lit("K9")))
    val recs = Seq[(String, String, Option[Int])](
      ("K1", "Complex - Manual Review", Some(0)),
      ("K2", "Correlation", None),
      ("K3", "Something else", Some(1)),
      (null, "Correlation", Some(1)),
      (null, "DTW", None)).toDF("key", "recommended_method", "optimal_lag")
    // every series has 8 periods > 4: a key that reached a route reading
    // its series would fail the job
    val out = Pipeline.run(t1, t2Only, recs, cfg.copy(maxSeriesLength = 4), "run_quiet")
    assert(out.count() == 0)
  }

  test("productionRun with an empty mapping reports ALERT instead of failing the read-back") {
    val (t1, t2) = seriesPair(3, 6)
    val recs = Seq("K1", "K2", "K3").map(k => (k, "Complex - Manual Review", 0))
      .toDF("key", "recommended_method", "optimal_lag")
    withTempDir("graft_empty") { dir =>
      try {
        val res = Pipeline.productionRun(spark, t1, t2, recs, cfg, "r0", dir, "prod_empty_test")
        assert(!res.slaMet)
        assert(res.mapping.count() == 0)
        // every key's status row reaches the observation, though none maps
        val qa = res.qa.head()
        assert(qa.getAs[Long]("total_keys") == 3L)
        assert(qa.getAs[Long]("mapped_keys") == 0L)
        assert(res.mapping.columns.toSeq ==
          Seq("key", "value1", "time2", "value2", "lag_offset", "method", "pipeline_run_id", "time1"))
        val status = res.sla.collect().map(r => r.getAs[String]("check") -> r.getAs[String]("status")).toMap
        assert(status("total_mappings") == "ALERT")
        assert(status("sla_met") == "ALERT")
        assert(spark.sql("SELECT COUNT(*) FROM prod_empty_test").as[Long].head() == 0L)
        // every registration declares one schema: the read-back, a run's
        // table and a restored table all type time1 DATE, and a restore
        // to the empty run needs no data file to infer it from
        val full = Seq(("K1", "Correlation", 1)).toDF("key", "recommended_method", "optimal_lag")
        Pipeline.productionRun(spark, t1, t2, full, cfg, "r1", dir, "prod_empty_test")
        def time1Type = spark.table("prod_empty_test").schema("time1").dataType
        assert(res.mapping.schema("time1").dataType == DateType)
        assert(time1Type == DateType)
        Pipeline.restoreRun(spark, dir, "prod_empty_test", "r0")
        assert(spark.sql("SELECT COUNT(*) FROM prod_empty_test").as[Long].head() == 0L)
        assert(time1Type == DateType)
        assert(spark.table("prod_empty_test").schema == res.mapping.schema)
      } finally spark.sql("DROP TABLE IF EXISTS prod_empty_test")
    }
  }

  test("QA and SLA on an empty t1 with ANSI on: coverage is null, FAIL and ALERT") {
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val (t1, t2) = seriesPair(2, 4)
      val noKeys = t1.filter(col("key") === "none")
      val recs = Seq(("K1", "Correlation", 1)).toDF("key", "recommended_method", "optimal_lag")
      val mapping = Pipeline.run(noKeys, t2, recs, cfg, "run_none")
      val qa = graft.operators.QualityChecks.check(mapping, noKeys).head()
      assert(qa.getAs[Long]("total_keys") == 0L)
      assert(qa.isNullAt(qa.fieldIndex("coverage_pct")))
      assert(qa.getAs[String]("coverage_status") == "FAIL")
      val status = graft.operators.Sla.report(mapping, noKeys, durationSec = 1.0)
        .collect().map(r => r.getAs[String]("check") -> r.getAs[String]("status")).toMap
      assert(status("coverage_pct") == "ALERT")
      assert(status("sla_met") == "ALERT")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Every serve route, for QA: Correlation (C), Either (E), DTW (D),
    * Manual Review (M), no model row (N), a null stored lag (L), a t2-only
    * key (T2), a model row whose key t1 lacks (X), and a t1 key whose only
    * periods are null or malformed (P). */
  private def qaFixture(unit: PeriodUnit): (DataFrame, DataFrame, DataFrame) = {
    def period(i: Int) = unit match {
      case PeriodUnit.Month => f"2024-$i%02d"
      case PeriodUnit.Day   => f"2024-03-$i%02d"
    }
    val keys = Seq("C", "E", "D", "M", "N", "L")
    // D's t2 runs one period ahead of its t1, so DTW maps some t1 rows backwards
    def value(k: String, i: Int) = if (k == "D") 10.0 + 5 * (i % 4) else 10.0 + i * (k.head % 7) + i % 3
    val rows1 = (for (k <- keys; i <- 1 to 8) yield (k, period(i), value(k, i))) ++
      Seq(("P", null, 1.0), ("P", "2024-13", 2.0))
    val rows2 = for (k <- keys :+ "T2"; i <- 1 to 9) yield (k, period(i), 0.5 * value(k, i + 1) + (if (k == "D") 0 else i * i % 4))
    def canonical(rows: Seq[(String, String, Double)], name: String) =
      SeriesTable.canonicalize(rows.toDF("k", "t", "v"), "k", "t", "v", unit, name)
    val model = Seq[(String, String, Option[Int])](
      ("C", "Correlation", Some(1)),
      ("E", "Either (prefer Correlation for simplicity)", Some(2)),
      ("D", "DTW", Some(0)),
      ("M", "Complex - Manual Review", Some(0)),
      ("L", "Correlation", None),
      ("X", "Correlation", Some(1))).toDF("key", "recommended_method", "optimal_lag")
    (canonical(rows1, "table1"), canonical(rows2, "table2"), model)
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("productionRun's observed QA row equals QualityChecks.check of its output and t1") {
    for (unit <- Seq(PeriodUnit.Month, PeriodUnit.Day); ansi <- Seq(true, false)) {
      val label = s"$unit, ANSI $ansi"
      val before = spark.conf.getOption("spark.sql.ansi.enabled")
      val (t1, t2, model) = qaFixture(unit)
      val c = cfg.copy(periodUnit = unit)
      withTempDir("graft_qa") { dir =>
        try withAnsi(ansi) {
          val res = Pipeline.productionRun(spark, t1, t2, model, c, "rq", dir, "prod_qa_test")
          val qa = res.qa.head()
          assert(qa == QualityChecks.check(res.mapping, t1).head(), label)
          assert(qa.getAs[Long]("total_keys") == 7L, label) // P counts, T2 and X do not
          assert(qa.getAs[Long]("mapped_keys") == 4L, label) // C, E, D, N
          assert(res.mapping.select("key").distinct().as[String].collect().toSet == Set("C", "E", "D", "N"), label)
          assert(qa.getAs[Long]("temporal_violations") > 0L, s"$label: the DTW path maps backwards somewhere")
        } finally spark.sql("DROP TABLE IF EXISTS prod_qa_test")
      }
      assert(spark.conf.getOption("spark.sql.ansi.enabled") == before, label)
    }
  }

  test("productionRun with empty t1, t2 and model reports total_keys 0, null coverage and ALERT") {
    val empty = Seq.empty[(String, String, Double)].toDF("k", "t", "v")
    def canonical(name: String) = SeriesTable.canonicalize(empty, "k", "t", "v", PeriodUnit.Month, name)
    val model = Seq.empty[(String, String, Int)].toDF("key", "recommended_method", "optimal_lag")
    withTempDir("graft_none") { dir =>
      try {
        val res = Pipeline.productionRun(
          spark, canonical("table1"), canonical("table2"), model, cfg, "rn", dir, "prod_none_test")
        val qa = res.qa.head()
        assert(qa.getAs[Long]("total_keys") == 0L)
        assert(qa.getAs[Long]("mapped_keys") == 0L)
        assert(qa.isNullAt(qa.fieldIndex("coverage_pct")))
        val status = res.sla.collect().map(r => r.getAs[String]("check") -> r.getAs[String]("status")).toMap
        assert(status("coverage_pct") == "ALERT")
        assert(status("sla_met") == "ALERT")
        assert(!res.slaMet)
      } finally spark.sql("DROP TABLE IF EXISTS prod_none_test")
    }
  }

  test("productionRun starts no Spark job after its write but the catalog DDL's") {
    // the same mapping written by writePartitioned and registered: the jobs
    // of a run whose QA reads nothing back
    val (t1, t2, model) = qaFixture(PeriodUnit.Month)
    withTempDir("graft_jobs") { dir =>
      try {
        val (written, _) = jobsStarted {
          Pipeline.writePartitioned(Pipeline.run(t1, t2, model, cfg, "w"), s"$dir/written")
          Pipeline.registerExternalTable(spark, s"$dir/written", "prod_jobs_test")
        }
        val (ran, res) = jobsStarted(Pipeline.productionRun(spark, t1, t2, model, cfg, "rj", dir, "prod_jobs_test"))
        assert(ran == written, s"productionRun started $ran jobs; its write and DDL alone start $written")
        assert(res.qa.head().getAs[Long]("total_keys") == 7L)
      } finally spark.sql("DROP TABLE IF EXISTS prod_jobs_test")
    }
  }

  test("productionRun: the QA row is collected once; qa and sla are local, sla reads qa") {
    val (t1, t2) = seriesPair(4, 8)
    val recs = Seq(("K1", "Correlation", 1), ("K2", "DTW", 0))
      .toDF("key", "recommended_method", "optimal_lag")
    withTempDir("graft_report") { dir =>
      val res = Pipeline.productionRun(spark, t1, t2, recs, cfg, "r1", dir, "prod_report_test")
      try {
        val (jobs, (qa, sla)) = jobsStarted((res.qa.collect(), res.sla.collect()))
        assert(jobs == 0, "reading the report must not re-run the QA aggregate")
        assert(qa.length == 1)
        val checks = sla.map(r => r.getAs[String]("check") -> r).toMap
        assert(checks.keySet == Set("coverage_pct", "duration_sec", "total_mappings", "sla_met"))
        assert(checks("coverage_pct").getAs[Double]("metric_value") == qa.head.getAs[Double]("coverage_pct"))
        assert(checks("total_mappings").getAs[Double]("metric_value") ==
          qa.head.getAs[Long]("total_mappings").toDouble)
        assert(qa.head.getAs[Long]("total_keys") == 4L)
        assert(res.slaMet == (checks("sla_met").getAs[String]("status") == "PASS"))
      } finally spark.sql("DROP TABLE IF EXISTS prod_report_test")
    }
  }

  test("GraftSession.restore puts tuned confs back to the caller's values") {
    val key = "spark.sql.ansi.enabled"
    graft.core.GraftSession.restore(spark) // drop any recording from earlier suites
    spark.conf.set(key, "true")
    graft.core.GraftSession.tune(spark) // records the caller's "true"
    assert(spark.conf.get(key) == "false") // engine semantics while tuned
    graft.core.GraftSession.restore(spark)
    assert(spark.conf.get(key) == "true", "restore must return the caller's ANSI setting")
    // put the suite back into engine mode for the remaining tests
    graft.core.GraftSession.tune(spark)
  }

  test("streaming daily series matches the batch aggregation") {
    withTempDir("graft_stream") { dir =>
      // stage the sf0.001 events as the stream input (nanos-safe load)
      graft.sources.Tables.load(spark, sfDir, "events")
        .write.mode("overwrite").parquet(s"$dir/in")
      val expected = graft.sources.Tables.bothSeries(spark, sfDir)
        .withColumnRenamed("v1", "e1").withColumnRenamed("v2", "e2").cache()

      // complete-mode memory sink: every window present -> full equality
      val stream = EventsStream.dailySeries(EventsStream.readEvents(spark, s"$dir/in"))
      val mq = stream.writeStream.outputMode("complete").format("memory")
        .queryName("series_mem").trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(mq.awaitTermination(120000), "memory-sink stream did not finish in time")
      val got = spark.table("series_mem")
      assert(got.count() == expected.count())
      val diff = got.join(expected, Seq("key", "period"))
        .filter(
          abs(coalesce(col("v1"), lit(0)) - coalesce(col("e1"), lit(0))) > 1e-9 ||
            abs(coalesce(col("v2"), lit(0)) - coalesce(col("e2"), lit(0))) > 1e-9)
      assert(diff.count() == 0)

      // append-mode parquet sink: only watermark-finalized windows appear,
      // but every emitted row must agree with the batch aggregation
      val pq = EventsStream.writer(
        EventsStream.dailySeries(EventsStream.readEvents(spark, s"$dir/in"), "0 seconds"),
        s"$dir/out", s"$dir/ckpt").start()
      assert(pq.awaitTermination(120000), "parquet-sink stream did not finish in time")
      val sunk = spark.read.parquet(s"$dir/out")
      assert(sunk.count() > 0 && sunk.count() <= expected.count())
      assert(sunk.join(expected, Seq("key", "period"), "left_anti").count() == 0)
    }
  }

  test("streaming dedup drops replayed events within the watermark") {
    withTempDir("graft_dedup") { dir =>
      val events = graft.sources.Tables.load(spark, sfDir, "events")
      // at-least-once source: the same events land twice
      events.write.mode("overwrite").parquet(s"$dir/in")
      events.write.mode("append").parquet(s"$dir/in")
      val deduped = EventsStream.dedupedEvents(EventsStream.readEvents(spark, s"$dir/in"))
      val q = deduped.writeStream.outputMode("append").format("memory")
        .queryName("dedup_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "dedup stream did not finish in time")
      val got = spark.table("dedup_mem")
      assert(got.count() == events.count(), "each event exactly once")
      assert(got.select("event_id").distinct().count() == got.count())
    }
  }

  test("model store: versioned snapshots, time-travel reads, O(1) restore") {
    import graft.sources.ModelStore
    withTempDir("graft_models") { tmp =>
      val root = s"$tmp/m"
      val v1df = Seq(("a", 1), ("b", 2)).toDF("key", "optimal_lag")
      val v2df = Seq(("a", 3), ("b", 4), ("c", 5)).toDF("key", "optimal_lag")
      assert(ModelStore.versions(spark, root).isEmpty)
      assert(ModelStore.save(v1df, root) == 1L)
      assert(ModelStore.save(v2df, root) == 2L)
      // latest read follows the pointer
      assert(ModelStore.load(spark, root).count() == 3)
      // VERSION AS OF
      assert(ModelStore.load(spark, root, Some(1L)).count() == 2)
      // RESTORE: pointer-only rollback, history intact
      ModelStore.restore(spark, root, 1L)
      assert(ModelStore.currentVersion(spark, root).contains(1L))
      assert(ModelStore.load(spark, root).count() == 2)
      assert(ModelStore.versions(spark, root) == Seq(1L, 2L))
      // a save after restore appends v3 — never clobbers rolled-over history
      assert(ModelStore.save(v2df, root) == 3L)
      assert(ModelStore.load(spark, root, Some(2L)).count() == 3)
      intercept[IllegalArgumentException](ModelStore.restore(spark, root, 99L))
    }
  }

  test("streaming sessionization (flatMapGroupsWithState) agrees with batch q15") {
    withTempDir("graft_sess") { dir =>
      graft.sources.Tables.load(spark, sfDir, "events")
        .write.mode("overwrite").parquet(s"$dir/in")
      val sessions = EventsStream.sessionize(
        EventsStream.readEvents(spark, s"$dir/in"), watermark = "0 seconds")
      val q = sessions.writeStream.outputMode("append").format("memory")
        .queryName("sess_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "session stream did not finish in time")
      val got = spark.table("sess_mem")
      val expected = SparkEntry.queries("q15_sessions")(spark, sfDir)
        .withColumnRenamed("n_events", "e_n")
        .withColumnRenamed("duration_ms", "e_dur")
        .withColumnRenamed("total_value", "e_tot")
      // append mode: only watermark-finalized sessions appear, but every
      // emitted session must match its batch counterpart bit-for-bit
      assert(got.count() > 0 && got.count() <= expected.count())
      assert(got.join(expected, Seq("key", "session_id"), "left_anti").count() == 0)
      val mismatch = got.join(expected, Seq("key", "session_id"))
        .filter(
          col("n_events") =!= col("e_n") || col("duration_ms") =!= col("e_dur") ||
            abs(col("total_value") - col("e_tot")) > 1e-9)
      assert(mismatch.count() == 0)
    }
  }

  test("streaming interval join: purchase-click attribution with bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val q = EventsStream
      .attributedPurchases(events, watermark = "2 hours", lookback = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("attr").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows = Seq(
      (1L, 1L, ts(9, 59), "click", 0.0), // 31 min before the purchase: out
      (2L, 1L, ts(10, 0), "click", 0.0), // exactly 30 min: inclusive, in
      (3L, 1L, ts(10, 20), "click", 0.0), // in
      (4L, 1L, ts(10, 30), "purchase", 42.0),
      (5L, 2L, ts(10, 0), "click", 0.0), // same user, purchase 60 min later: out
      (6L, 2L, ts(11, 0), "purchase", 7.0),
      (7L, 3L, ts(10, 25), "view", 1.0)) // wrong type: never joins
    rows.foreach(in.addData(_))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr").select($"purchase_id", $"click_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 2L), (4L, 3L)))
    // cross-check vs the equivalent BATCH inequality join on the same rows
    val batch = rows.toDF("event_id", "user_id", "ts", "event_type", "value")
    val p = batch.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("pu"), $"ts".as("p_ts"))
    val c = batch.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("cu"), $"ts".as("c_ts"))
    val want = p.join(c, $"pu" === $"cu" &&
        $"c_ts" >= $"p_ts" - expr("interval 30 minutes") && $"c_ts" <= $"p_ts")
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("sessionize: numbering survives state timeout; out-of-order events fold by min/max") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("event_id", "user_id", "ts", "value")
    val q = EventsStream.sessionize(events, watermark = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("sess_cont").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    var eid = 0L
    def feed(rows: (Long, Int, Int, Double)*): Unit = {
      rows.foreach { case (user, h, m, v) => eid += 1; in.addData((eid, user, ts(h, m), v)) }
      q.processAllAvailable()
    }
    // user 100: session 1 at 10:00, then nothing until 14:30 — the state
    // store's event-time timeout closes session 1 in between (watermark is
    // pushed by user 200), so 14:30 must open session_id 2, NOT restart at 1.
    // user 300: events arrive 12:00, then 11:00 (on-time but out-of-order,
    // in a LATER micro-batch), then 12:20 — one session of 3 events,
    // duration 11:00→12:20, not a negative-duration or split session.
    feed((100L, 10, 0, 1.0))
    feed((300L, 12, 0, 1.0), (200L, 12, 0, 0.0))
    feed((300L, 11, 0, 1.0), (200L, 13, 0, 0.0))
    feed((300L, 12, 20, 1.0), (200L, 14, 0, 0.0))
    feed((100L, 14, 30, 1.0))
    feed((200L, 18, 0, 0.0))
    feed((200L, 19, 0, 0.0))
    q.stop()
    val got = spark.table("sess_cont")
    assert(got.groupBy("key", "session_id").count().filter(col("count") > 1).count() == 0,
      "no duplicate (key, session_id) pairs after a timeout")
    val a = got.filter(col("key") === "100").select("session_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == Seq(1L, 2L), s"user 100 sessions should be numbered 1,2 — got $a")
    val c = got.filter(col("key") === "300").collect()
    assert(c.length == 1, s"user 300 should have ONE folded session, got ${c.length}")
    assert(c.head.getAs[Long]("n_events") == 3L)
    assert(c.head.getAs[Long]("duration_ms") == 80L * 60000L,
      "duration spans min(start) to max(last), never negative")
  }

  test("stream-driven incremental mapping remaps touched entities per batch") {
    withTempDir("graft_stream_map") { dir =>
      graft.sources.Tables.load(spark, sfDir, "events")
        .write.mode("overwrite").parquet(s"$dir/in")
      val series = EventsStream.dailySeries(
        EventsStream.readEvents(spark, s"$dir/in"), watermark = "0 seconds")
      val mapped = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = EventsStream.incrementalMapping(series, s"$dir/store", s"$dir/ckpt") {
        (accumulated, batchId) =>
          val merged = accumulated.filter(col("v1").isNotNull && col("v2").isNotNull)
          val best = graft.operators.LagCorrelation.bestLag(
            graft.operators.LagCorrelation.lagCorrTable(
              merged, MappingConfig(periodUnit = PeriodUnit.Day, maxLag = 6)))
          mapped += best.count()
          best.write.mode("overwrite").parquet(s"$dir/mapping")
      }.start()
      assert(q.awaitTermination(180000), "incremental-mapping stream did not finish in time")
      assert(mapped.nonEmpty && mapped.last > 0)
      assert(spark.read.parquet(s"$dir/mapping").count() == mapped.last)
    }
  }

  test("m11 segments on the STAGED recommendation model, not a live training plan") {
    // The model is trained once and served from its staged table, as the
    // reference serves from its store; a live training plan would re-run
    // the lag scan and DTW for every query that reads it. Lock that
    // building m11 populates the shared staging entry.
    // start from a clean slate so the assertion can't pass vacuously off
    // an earlier test's staging, and probe with contains (no side effect
    // that could poison the shared cache on the failure path)
    graft.sources.StagingCache.remove(spark, s"recommendations:$sfDir")
    SparkEntry.queries("m11_pipeline")(spark, sfDir).count()
    assert(
      graft.sources.StagingCache.contains(spark, s"recommendations:$sfDir"),
      "m11 did not leave the recommendation model staged")
  }
}
