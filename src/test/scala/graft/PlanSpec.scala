package graft

import graft.core.{MappingConfig, PeriodUnit, SeriesTable}
import graft.operators.{Comparison, DtwMapping, LagCorrelation, MappingEngine, Pipeline}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec, CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions.{lit, to_date}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression locks: the scale properties the engine
  * promises (pushdown, pruning, broadcasts, no accidental cartesians)
  * asserted against the executed plans of registered queries. */
class PlanSpec extends AnyFunSuite with SparkSessionTestWrapper with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1: filter pushed to parquet and columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "column pruning lost: reads unneeded columns")
  }

  test("q5: top-k becomes TakeOrderedAndProject, not global sort") {
    val p = plan("q5_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("m5: the best lags ride the kernel's key exchanges: no join, no cartesian product") {
    val out = SparkEntry.queries("m5_corr_mapping")(spark, dir)
    out.collect()
    val plan = out.queryExecution.executedPlan // the final adaptive plan, after the collect
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }
    assert(shuffles.length == 2, plan)
    shuffles.foreach {
      case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == "key", plan)
      case other                                  => fail(s"not a hash of key: $other\n$plan")
    }
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(!plan.toString.contains("CartesianProduct"), plan)
  }

  test("m3: lag scan is one kernel: one key exchange, no window or join") {
    import spark.implicits._
    val merged = (for (k <- Seq("A", "B", "C"); m <- 1 to 8) yield (k, f"2024-$m%02d-01", m.toDouble, (m * m) % 7.0))
      .toDF("key", "p", "v1", "v2").select($"key", to_date($"p").as("period"), $"v1", $"v2")
    val out = LagCorrelation.lagCorrTable(merged, MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 2))
    out.collect()
    val plan = out.queryExecution.executedPlan // the final adaptive plan, after the collect
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }
    shuffles match {
      case Seq(HashPartitioning(Seq(a: Attribute), _)) => assert(a.name == "key", plan)
      case other                                       => fail(s"not one hash of key: $other\n$plan")
    }
    val relational = collect(plan) {
      case w: WindowExec   => w
      case j: BaseJoinExec => j
    }
    assert(relational.isEmpty, plan)
  }

  test("training shuffles merged once: the DTW summaries reuse the lag scan's key exchange") {
    import spark.implicits._
    val merged = (for (k <- Seq("A", "B", "C"); m <- 1 to 8) yield (k, f"2024-$m%02d-01", m.toDouble, (m * m) % 7.0))
      .toDF("key", "p", "v1", "v2").select($"key", to_date($"p").as("period"), $"v1", $"v2")
    val cfg = MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 2)
    val out = Comparison.recommendationsFromSummaries(merged, DtwMapping.summarize(merged, cfg).toDF(), cfg)
    out.collect()
    val plan = out.queryExecution.executedPlan // the final adaptive plan, after the collect
    val appends = collect(plan) {
      case a: AppendColumnsExec           => a
      case a: AppendColumnsWithObjectExec => a
    }
    assert(appends.isEmpty, plan)
    assert(collect(plan) { case r: AQEShuffleReadExec if r.hasCoalescedPartition => r }.isEmpty, plan)
    // one exchange of merged's points by key; the second aggregate reads
    // it again, and the key-partitioned outputs join without another
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }
    shuffles match {
      case Seq(HashPartitioning(Seq(a: Attribute), _)) => assert(a.name == "key", plan)
      case other                                       => fail(s"not one hash of key: $other\n$plan")
    }
    assert(collect(plan) { case r: ReusedExchangeExec => r }.length == 1, plan)
  }

  test("d7: LSH candidates come from an equi-join, not a cross join") {
    val p = plan("d7_embed_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("d14: banded LSH candidates come from an equi-join on (band, bucket)") {
    val p = plan("d14_embed_lsh_bands")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("d62: ANN bitext plans no cross join — unlike the d61 verifier") {
    // the deployable bitext artifact: candidates are a banded equi-join
    // with NEITHER language partition broadcast (both are corpus-sized
    // at real scale), margins ride the candidate set
    val p = plan("d62_bitext_ann")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q23: describe is ONE aggregate pass (no per-column re-scan)") {
    val p = plan("q23_describe")
    // one scan of lineitem feeding one aggregate; a per-column union of
    // aggregates would show three scans
    assert(p.split("Scan parquet").length - 1 == 1, p)
  }

  test("d24: gopher rules are one pruned scan, no shuffle") {
    val p = plan("d24_gopher_quality")
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must prune to (doc_id, text): " + p)
    assert(!p.contains("Exchange"), "per-row metrics must not shuffle: " + p)
  }

  test("d28: vocab stats aggregate partially before the shuffle, pruned scans only") {
    val p = plan("d28_vocab_stats")
    // the distributed rank MATERIALIZES the numbered vocab (GlobalOrder
    // r14: eager localCheckpoint, range cache released — VERDICT r13 #3);
    // any parquet scan still in the final plan must be the PRUNED one,
    // and the rank side reads the checkpointed RDD
    val scans = p.split("Scan parquet").length - 1
    val pruned = p.split("ReadSchema: struct<doc_id:bigint,text:string>").length - 1
    assert(scans == pruned, s"unpruned documents scan present ($scans vs $pruned):\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
    // the global rank must NOT be a single-partition window
    assert(!p.contains("Window [row_number() windowspecdefinition(n_occurrences"), p)
    // token counts combine map-side: HashAggregate below the Exchange
    assert(p.contains("HashAggregate"), p)
  }

  test("temporal family: one exchange each; d51 quantization never shuffles") {
    // m27 OHLC: one partial-aggregated hash agg — no window, no join-back
    val ohlc = plan("m27_ohlc")
    assert(!ohlc.contains("Window"), "OHLC must not window: " + ohlc)
    assert(!ohlc.contains("SortMergeJoin"), ohlc)
    // m31 trend: moment-based OLS is ONE aggregate (partial + final)
    val trend = plan("m31_trend")
    assert(!trend.contains("Window") && !trend.contains("Join"), trend)
    // m32 pair screen: top-k is TakeOrderedAndProject, join is an
    // equi-join on period (never cartesian)
    val pair = plan("m32_pair_corr")
    assert(pair.contains("TakeOrderedAndProject"), pair)
    assert(!pair.contains("CartesianProduct") && !pair.contains("BroadcastNestedLoopJoin"), pair)
    // d51 int8 quantization: pure scan-stage arithmetic, zero Exchange
    val quant = plan("d51_int8_quant")
    assert(!quant.contains("Exchange"), "per-row quantization must not shuffle: " + quant)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the runtime-filter lever for 100 TB fact joins: a selective filter
    // on the dimension side injects a bloom_filter_agg whose result
    // pre-filters the fact scan before the shuffle. Thresholds are
    // sized for clusters; lower them to observe the plan shape locally.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.Tables.load(spark, dir, "lineitem")
      val ord = graft.sources.Tables.load(spark, dir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val p = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg"), s"runtime bloom filter not injected:\n${p.take(1500)}")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("d57: span dedup explodes exactly once (grams); the text rebuild stays in-row") {
    val p = plan("d57_span_dedup_apply")
    // TWO Generates = the gram posexplode once per consumer (the
    // first-occurrence aggregate and the join-back) — recomputing grams
    // is the memory-safe choice at corpus scale. A THIRD would mean the
    // token rebuild regressed to the explode + anti-join + collect_list
    // shape instead of the in-row indexed filter.
    assert(p.split("Generate").length - 1 == 2, p)
    // first-occurrence min(struct) must partial-aggregate map-side
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
  }

  test("q43: the MG sketch runs as a partial-buffered object aggregate") {
    val p = plan("q43_heavy_hitters")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("d59: the vocab-side joins broadcast; pair dots partial-aggregate") {
    val p = plan("d59_dimsum_terms")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("d70: the phrase side broadcasts against positional postings; no nested loop") {
    val p = plan("d70_phrase")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the postings side is never broadcast: the only broadcast
    // exchanges feed from the 5-row phrase table's lineage, so a
    // SortMergeJoin of postings against postings must not appear
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("m39: SAX candidates come from a word equi-join, never a nested loop") {
    val p = plan("m39_sax_screen")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("word"), p)
  }

  test("index serve paths plant the query/phrase vocabulary as a pushed scan filter") {
    // the stored postings are term-clustered so parquet min/max can
    // prune row groups — but only a LITERAL predicate reaches the scan
    // (a broadcast join never does), so the serve paths must plant the
    // driver-collected term set as an In filter
    import graft.functions.Retrieval
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta epsilon zeta"))
      .toDF("doc_id", "text")
    val proot = java.nio.file.Files.createTempDirectory("graft_plan_pidx").toString
    Retrieval.buildPositionalIndex(docs, "text", "doc_id", proot)
    val ph = Seq((1L, "beta delta")).toDF("phrase_id", "phrase")
    val pp = Retrieval.phraseSearchFromIndex(spark, proot, ph, "phrase_id", "phrase")
      .queryExecution.executedPlan.toString
    assert(pp.contains("In(term") && pp.contains("PushedFilters: ["), pp)
    val broot = java.nio.file.Files.createTempDirectory("graft_plan_bidx").toString
    Retrieval.buildIndex(docs, "text", "doc_id", broot)
    val qs = Seq((1L, "beta zeta")).toDF("query_id", "query")
    val bp = Retrieval.bm25FromIndex(spark, broot, qs, "query_id", "query", 5)
      .queryExecution.executedPlan.toString
    assert(bp.contains("In(term") && bp.contains("PushedFilters: ["), bp)
    // index-served snippets split the postings by ROLE: the hit-finding
    // scan takes the phrase-vocabulary pushdown, while the window
    // reassembly needs every term of the hit docs, so at least one
    // postings scan must stay unfiltered
    val sp = Retrieval.snippetsFromIndex(spark, proot, ph, "phrase_id", "phrase", 2)
      .queryExecution.executedPlan.toString
    val snScans = sp.split("Scan parquet").length - 1
    val snPruned = sp.split(java.util.regex.Pattern.quote("In(term")).length - 1
    assert(snScans >= 2 && snPruned >= 1 && snPruned < snScans,
      s"scans=$snScans pruned=$snPruned\n$sp")
  }

  test("m32: pair aggregate runs above a by-pair exchange of RAW rows, not duplicated partials") {
    // the r13 shape: the exchange feeding the pair corr aggregate
    // repartitions the JOINED rows by (key_a, key_b); the partial+final
    // HashAggregate pair sits ABOVE it. The old shape ran the partial
    // aggregate in the join's map stage, duplicating per-pair corr state
    // across every map partition (M x |pairs| partial rows — measured
    // 249 MB shuffled at sf0.1 for a top-50 answer).
    val p = plan("m32_pair_corr")
    assert(p.contains("REPARTITION_BY_COL"), p)
    // no partial_corr may appear BELOW the repartition exchange: the
    // text between the exchange line and the end (deeper plan) must be
    // corr-free
    val below = p.substring(p.indexOf("REPARTITION_BY_COL"))
    assert(!below.contains("partial_corr"), s"partial corr below the pair exchange:\n$p")
  }

  test("no registered query plans a CartesianProduct") {
    // BroadcastNestedLoopJoin is allowed only where intentional (d6 brute
    // force, single-row stat crosses in m9/q8)
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  /** The broadcast relations `body` builds: the distinct job tags of the
    * broadcast exchanges whose jobs it starts. A sentinel job run after it
    * flushes the asynchronous listener bus, since job starts arrive in
    * submission order. */
  private def broadcastsBuilt(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID}"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("spark.job.tags")).foreach(_.split(",").foreach(tags.add))
          Option(p.getProperty("spark.jobGroup.id")).foreach(tags.add)
        }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "listener-bus flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!tags.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains(sentinel), "the sentinel job start never reached the listener")
      tags.toArray(Array.empty[String]).toSeq.filter(_.startsWith("broadcast exchange")).distinct
    } finally sc.removeSparkListener(listener)
  }

  test("auto mode tags the best-lag table onto the kernel: one lag scan, no join, no broadcast") {
    import spark.implicits._
    def joinTypes(p: LogicalPlan): Seq[JoinType] = p.collect { case j: Join => j.joinType }
    val cfg = MappingConfig(method = "auto", periodUnit = PeriodUnit.Month, maxLag = 2)
    val rows = (for (k <- Seq("A", "B"); m <- 1 to 6) yield (k, f"2024-$m%02d", m.toDouble)).toDF("k", "t", "v")
    val t1 = SeriesTable.canonicalize(rows, "k", "t", "v", PeriodUnit.Month)
    val t2 = SeriesTable.canonicalize(rows, "k", "t", "v", PeriodUnit.Month)
    val out = MappingEngine.autoMapping(SeriesTable.merge(t1, t2), t1, t2, cfg)
    // the merge that feeds the lag scan is the plan's only join: no semi,
    // anti or outer join splits the segments
    assert(joinTypes(out.queryExecution.optimizedPlan) == Seq(Inner), out.queryExecution.optimizedPlan)
    assert(!out.queryExecution.analyzed.toString.contains("ResolvedHint"), out.queryExecution.analyzed)
    out.collect()
    val executed = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString // the final plan, without the initial one
      case p => p.toString
    }
    assert(executed.linesIterator.count(_.contains("WindowGroupLimit")) == 1, executed)
    // with size-based broadcasts off, nothing is broadcast at all
    val sizeBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val builds =
      try broadcastsBuilt(MappingEngine.autoMapping(SeriesTable.merge(t1, t2), t1, t2, cfg).collect())
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", sizeBroadcast)
    assert(builds.isEmpty, builds)
    // the correlation join-back at a given best-lag table joins nothing
    val best = Seq(("A", 1, 0.9, 5L)).toDF("key", "optimal_lag", "correlation", "n_overlap")
    val corr = LagCorrelation.mapping(t1, t2, best, cfg).queryExecution.optimizedPlan
    assert(joinTypes(corr).isEmpty, corr)
    assert(!corr.toString.contains("ResolvedHint"), corr)
  }

  test("mapTables runs one per-entity kernel: two exchanges hashing key, no window, no join") {
    import spark.implicits._
    val cfg = MappingConfig(method = "auto", periodUnit = PeriodUnit.Month, maxLag = 2)
    def table(scale: Double) =
      (for (k <- Seq("A", "B", "C"); m <- 1 to 8) yield (k, f"2024-$m%02d", scale * m * (k.head - 'A' + 1)))
        .toDF("k", "t", "v")
    def project(scale: Double, name: String) = SeriesTable.project(table(scale), "k", "t", "v", cfg.periodUnit, name)
    // the stored-model run serves from the same kernel; its model rows ride
    // under t1's exchange
    val model = Seq(("A", "Correlation", 1), ("B", "DTW", 0)).toDF("key", "recommended_method", "optimal_lag")
    Seq(
      MappingEngine.mapTables(table(1.0), table(2.0), "k", "t", "v", "v", cfg),
      Pipeline.run(project(1.0, "table1"), project(2.0, "table2"), model, cfg, "plan")).foreach { out =>
      out.collect()
      val plan = out.queryExecution.executedPlan // the final adaptive plan, after the collect
      val shuffles = collect(plan) { case s: ShuffleExchangeExec => s.outputPartitioning }
      assert(shuffles.length == 2, plan)
      shuffles.foreach {
        case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == "key", plan)
        case other                                  => fail(s"not a hash of key: $other\n$plan")
      }
      val relational = collect(plan) {
        case w: WindowExec           => w
        case w: WindowGroupLimitExec => w
        case j: BaseJoinExec         => j
      }
      assert(relational.isEmpty, plan)
    }
  }

  /** The executed plans of the file writes `body` runs. Query listeners
    * run on the listener bus, so a marked query run after `body` flushes it. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val marker = s"flush-${java.util.UUID.randomUUID}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    @volatile var flushed = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined) plans.add(qe.executedPlan)
        if (qe.analyzed.toString.contains(marker)) flushed = true
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(flushed, "the marked query never reached the listener")
      plans.toArray(Array.empty[SparkPlan]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("productionRun's write: the kernel's two key exchanges, one time1 exchange, QA observed above it") {
    import spark.implicits._
    val cfg = MappingConfig(periodUnit = PeriodUnit.Month, maxLag = 2)
    def project(scale: Double, name: String) = SeriesTable.project(
      (for (k <- Seq("A", "B", "C"); m <- 1 to 8) yield (k, f"2024-$m%02d", scale * m * (k.head - 'A' + 1)))
        .toDF("k", "t", "v"), "k", "t", "v", cfg.periodUnit, name)
    val model = Seq(("A", "Correlation", 1), ("B", "DTW", 0)).toDF("key", "recommended_method", "optimal_lag")
    val plans = withTempDir("graft_write_plan") { dir =>
      try writePlans(Pipeline.productionRun(
        spark, project(1.0, "table1"), project(2.0, "table2"), model, cfg, "plan", dir, "plan_write_test"))
      finally spark.sql("DROP TABLE IF EXISTS plan_write_test")
    }
    assert(plans.length == 1, plans)
    val plan = plans.head
    def hashed(p: SparkPlan): Seq[String] = collect(p) { case s: ShuffleExchangeExec => s.outputPartitioning }.map {
      case HashPartitioning(Seq(a: Attribute), _) => a.name
      case other                                  => fail(s"not a hash of one column: $other\n$plan")
    }
    assert(hashed(plan).sorted == Seq("key", "key", "time1"), plan)
    val observed = collect(plan) { case c: CollectMetricsExec => c }
    assert(observed.length == 1, plan)
    // above the time1 exchange, and in the result stage: under no exchange
    assert(hashed(observed.head).sorted == Seq("key", "key", "time1"), plan)
    assert(collect(plan) { case s: ShuffleExchangeExec => s }
      .forall(s => collect(s) { case c: CollectMetricsExec => c }.isEmpty), plan)
  }

  test("m17: SLA prunes the QA row to its key counts; no (key, time1, time2) distinct count") {
    // SLA projects coverage_pct and total_mappings of the QA metrics row;
    // the duplicate, lag and ratio aggregates must be pruned, leaving the
    // two key counts (mapping, input) and the row count
    val p = SparkEntry.queries("m17_sla")(spark, dir).queryExecution.optimizedPlan
    val distinct = p.collect { case a: Aggregate =>
      a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression if e.isDistinct => e })
    }.flatten
    val args = distinct.map(_.aggregateFunction.children.map {
      case a: Attribute => a.name
      case e => e.sql
    })
    assert(args == Seq(Seq("key"), Seq("key")), p)
    assert(p.collect { case e: Expand => e }.isEmpty, p)
  }
}
